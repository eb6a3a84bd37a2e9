"""Extraction throughput at two levels, sampled interleaved in fresh
processes: alternating samples cancel slow host-load drift, and each
level reports the median of its timed walls (each Spark sample discards
one warm-up run). Modes:

- ``scale`` (default): the extraction job on ``.bench_cache/pages_n{N}``
  (256 partitions) at ``lo`` vs ``hi`` cores -> BENCH/final_scaling.json.
  The north rule asks efficiency >= 0.8 from N to 4N.
- ``skew``: the one-file corpus ``.bench_cache/pages_skewfile_n{N}`` at
  ``hi`` cores, unsalted vs ``salt_partitions=2*hi``
  -> BENCH/final_scaling_skew.json.
- ``kernel``: no Spark; the same doc ids through the extraction kernel
  on a process pool of ``lo`` vs ``hi`` workers, which separates
  hardware limits from Spark overhead -> BENCH/final_scaling_kernel.json.

A missing corpus is built first, in its own process. Each output
records the 1-minute load average at start and end (a run started above
1.5 is contaminated). BENCH/BASELINE.md is curated by hand from these
files; this tool does NOT edit markdown.

Usage: python tools/final_scaling.py [n_docs] [lo] [hi] [reps] [mode]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRELUDE = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from resume_parser_service_spark.session import get_spark
"""

_BUILD = _PRELUDE + r"""
from resume_parser_service_spark.sources.pages import build_pages_df
n_docs, path, one_file = int(sys.argv[1]), sys.argv[2], sys.argv[3] == "1"
spark = get_spark(app_name="scale-gen")
pages = build_pages_df(spark, n_docs, partitions=256)
(pages.coalesce(1) if one_file else pages) \
    .write.mode("overwrite").parquet(path)
print(json.dumps({{"n": 0, "walls": []}}))
spark.stop()
"""

_WORKER = _PRELUDE + r"""
from resume_parser_service_spark.pipeline.extract import extract_pages
cores, path, salt = int(sys.argv[1]), sys.argv[2], sys.argv[3] == "1"
spark = get_spark(cores=cores, shuffle_partitions=cores * 2)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet(path)
walls = []
for i in range(3):  # warm-up + 2 timed
    t0 = time.perf_counter()
    ext, _ = extract_pages(pages, salt_partitions=cores * 2 if salt else None)
    n = ext.count()
    walls.append(time.perf_counter() - t0)
print(json.dumps({{"n": n, "walls": walls[1:]}}))
spark.stop()
"""


def _run(script: str, *args) -> dict:
    """Run ``script`` in a fresh Python process (its own JVM) and return
    the last JSON line it prints: ``{"n": rows, "walls": [s, ...]}``."""
    out = subprocess.run(
        [sys.executable, "-c", script.format(repo=REPO),
         *map(str, args)],
        capture_output=True, text=True, cwd=REPO, timeout=1800)
    json_lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not json_lines:
        # surface the worker's actual failure instead of a bare
        # IndexError that throws away a multi-hour run's diagnostics
        raise RuntimeError(
            f"scaling worker failed (rc={out.returncode}):\n"
            f"{out.stderr[-4000:]}")
    return json.loads(json_lines[-1])


def corpus(n_docs: int, one_file: bool) -> str:
    name = f"pages_skewfile_n{n_docs}" if one_file else f"pages_n{n_docs}"
    path = os.path.join(REPO, ".bench_cache", name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _run(_BUILD, n_docs, path, int(one_file))
    return path


def _kernel_slice(args: tuple[int, int]) -> int:
    """Synthesize doc ids ``[start, start + count)`` and run them through
    the extraction kernel Spark runs (``extract._kernel``), no JVM."""
    import pandas as pd

    from resume_parser_service_spark.pipeline.extract import _kernel
    from resume_parser_service_spark.sources.pages import synth_doc
    start, count = args
    docs = pd.DataFrame([synth_doc(i) for i in range(start, start + count)])
    docs["doc_type"] = ["pdf" if h[:4] == b"%PDF" else "html"
                        for h in docs["html"]]
    return sum(len(out) for out in _kernel(iter([docs])))


def kernel_sample(procs: int, n_docs: int) -> dict:
    """Doc ids ``[0, n_docs)`` in ``procs`` equal slices on a fresh pool
    of ``procs`` processes (imports warmed untimed)."""
    sys.path.insert(0, REPO)
    step = -(-n_docs // procs)
    slices = [(s, min(step, n_docs - s)) for s in range(0, n_docs, step)]
    with mp.Pool(procs) as pool:
        pool.map(_kernel_slice, [(0, 10)] * procs)
        t0 = time.perf_counter()
        n = sum(pool.map(_kernel_slice, slices))
        return {"n": n, "walls": [time.perf_counter() - t0]}


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    mode = sys.argv[5] if len(sys.argv) > 5 else "scale"
    load_start = os.getloadavg()[0]

    if mode == "scale":
        path = corpus(n_docs, one_file=False)
        levels = {str(c): (lambda c=c: _run(_WORKER, c, path, 0))
                  for c in (lo, hi)}
    elif mode == "skew":
        path = corpus(n_docs, one_file=True)
        levels = {"nosalt": lambda: _run(_WORKER, hi, path, 0),
                  "salted": lambda: _run(_WORKER, hi, path, 1)}
    elif mode == "kernel":
        levels = {str(c): (lambda c=c: kernel_sample(c, n_docs))
                  for c in (lo, hi)}
    else:
        sys.exit(f"unknown mode {mode!r}: scale | skew | kernel")

    walls: dict[str, list[float]] = {k: [] for k in levels}
    for rep in range(reps):
        for k, sample in levels.items():
            d = sample()
            walls[k].extend(d["walls"])
            print(f"rep{rep} {mode} {k}: {[round(w, 2) for w in d['walls']]}",
                  flush=True)

    dps = {k: round(d["n"] / statistics.median(w), 1)
           for k, w in walls.items()}
    summary: dict = {"n_docs": n_docs, "lo": lo, "hi": hi}
    if mode == "skew":
        summary["cores"] = hi
        summary.update({f"skewed_file_{k}_docs_per_sec": dps[k]
                        for k in levels})
    else:
        summary.update({f"local{k}_docs_per_sec": dps[k] for k in levels})
        ideal = hi / lo  # efficiency = thr(hi) / (ideal * thr(lo))
        summary["scaling_efficiency"] = round(
            dps[str(hi)] / (ideal * dps[str(lo)]), 3)
        # min-wall estimator: a noisy neighbor hits wide jobs harder
        # (stealing k cores costs a 4N-core job k/4N, an N-core job less
        # when placed away), so medians under-estimate scaling; the
        # fastest wall per level is the least-interference look.
        summary["scaling_efficiency_minwall"] = round(
            min(walls[str(lo)]) / (ideal * min(walls[str(hi)])), 3)
    summary.update({
        "raw_walls": {k: [round(w, 2) for w in ws]
                      for k, ws in walls.items()},
        "load_avg_start": round(load_start, 2),
        "load_avg_end": round(os.getloadavg()[0], 2),
        "generated_at": time.strftime("%Y-%m-%d %H:%M:%S")})
    print(json.dumps(summary))
    name = ("final_scaling.json" if mode == "scale"
            else f"final_scaling_{mode}.json")
    with open(os.path.join(REPO, "BENCH", name), "w") as fh:
        json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
