"""Worker daemon: the stat-checked ``zipimporter.invalidate_caches``
re-reads an archive only when it changed, the tests' session starts its
Python workers through it, and the ``spark-submit --py-files`` entry
still finds the daemon when the package lives only in the shipped zip.
"""

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

from resume_parser_service_spark import worker_daemon

PKG = os.path.dirname(worker_daemon.__file__)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_changed_archive_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"rps_zmod_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("rps_zmod_a").X == 1
    importlib.invalidate_caches()  # the importer now holds a stamp
    _write_zip(archive, {"rps_zmod_a": "X = 1\n", "rps_zmod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    try:
        assert importlib.import_module("rps_zmod_b").Y == 2
    finally:
        for name in ("rps_zmod_a", "rps_zmod_b"):
            sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"rps_zmod_c": "Z = 3\n"})
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    imp = zipimport.zipimporter(archive)
    reads.clear()
    worker_daemon.invalidate_caches(imp)  # no stamp yet: reads once
    worker_daemon.invalidate_caches(imp)
    worker_daemon.invalidate_caches(imp)
    assert reads == [archive]
    _write_zip(archive, {"rps_zmod_c": "Z = 3\n", "rps_zmod_d": "W = 4\n"})
    worker_daemon.invalidate_caches(imp)
    worker_daemon.invalidate_caches(imp)
    assert reads == [archive, archive]
    assert imp.find_spec("rps_zmod_d") is not None


def test_session_workers_run_the_engine_daemon(spark):
    if not spark.sparkContext.master.startswith("local"):
        pytest.skip("the engine daemon is only configured for local masters")

    def kernel(batches):
        import zipimport as zi

        import pandas as pd
        for _ in batches:
            yield pd.DataFrame({"f": [
                zi.zipimporter.invalidate_caches.__code__.co_filename]})

    rows = (spark.range(0, 64, numPartitions=4)
            .mapInPandas(kernel, "f string").collect())
    assert rows and {os.path.realpath(r.f) for r in rows} == \
        {os.path.realpath(worker_daemon.__file__)}


JOB = """\
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from resume_parser_service_spark.session import get_spark


@F.pandas_udf(LongType())
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1


spark = get_spark(app_name="rps-submit-test", cores=2)
print("COUNT", spark.range(0, 1000, numPartitions=4)
      .select(plus_one("id").alias("x")).where("x > 500").count())
spark.stop()
"""


def test_spark_submit_py_files_entry(tmp_path):
    """The deployment entry: the package reaches the job only as a
    ``--py-files`` zip, with no PYTHONPATH and a working directory
    outside the repository; the daemon must still import."""
    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not on PATH")
    archive = tmp_path / "rps.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        for dirpath, _dirs, files in os.walk(PKG):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    zf.write(full,
                             os.path.relpath(full, os.path.dirname(PKG)))
    (tmp_path / "job.py").write_text(JOB)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_MASTER")}
    proc = subprocess.run(
        [submit, "--master", "local[2]", "--driver-memory", "1g",
         "--py-files", str(archive), "job.py"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    assert "COUNT 500" in proc.stdout, proc.stdout[-2000:]
