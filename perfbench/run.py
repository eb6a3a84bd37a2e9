"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_cold --seed 1 --seconds 20 \
        --trace 0

Run from the repository root. Builds the workload's inputs from the
seed (cached under ``.perfbench/``), starts Spark on ``local[nproc]``,
measures the workload for ``--seconds`` and checks its outputs. The
last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is a report
with the host load stamp, every check, sample counts and the
workload-specific metrics. Exits 1 when a check or an engine call
failed, 2 when the engine is not importable from the working directory.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402  (needs HERE on sys.path)

#: a start load above this contaminates a run (ROADMAP's quiet-host
#: line); the end load is mostly the run's own task threads
LOAD_LINE = 1.5


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[*spec.WORKLOADS, *spec.UNLISTED])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, one operation (the smoke test)")
    p.add_argument("--sabotage", action="store_true",
                   help="perturb every check's expectation so each fails")
    return p.parse_args(argv)


def _prepare_env(root: str, work: str) -> None:
    """Everything the run writes stays under ``work``; Python workers
    import the engine from ``root``."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher too: temp files under ``work``
    # and no perf-data file (the JVM would write that under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path.insert(0, root)


def _session_factory(work: str, cores: int, traced: bool):
    from resume_parser_service_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size then does
        # not depend on when the collector ran, so peak_rss_mb moves
        # with the Python workers and off-heap buffers
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "true",
                     "spark.eventLog.compression.codec": "zstd"})

    def start():
        spark = get_spark(app_name="perfbench", cores=cores,
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark
    return start


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        traceback.print_exc()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _metric(v, unit):
    return {"value": float(v), "unit": unit}


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "resume_parser_service_spark",
                                       "pipeline", "run.py")):
        print("perfbench: run from the repository root (the engine package "
              "resume_parser_service_spark is not here)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    _prepare_env(root, work)

    import tracing
    import workloads

    cores = tracing.nproc()
    host_start = tracing.host_stamp()
    sampler = tracing.RssSampler()
    sampler.start()
    ctx = workloads.Ctx(
        start_session=_session_factory(work, cores, bool(args.trace)),
        work=work, seed=args.seed, seconds=args.seconds,
        traced=bool(args.trace), smoke=args.smoke, cores=cores,
        checks=workloads.Checks(sabotage=args.sabotage), rss=sampler)
    engine_ok = True
    t_run = time.perf_counter()
    try:
        workloads.WORKLOADS[args.workload](ctx)
    except Exception:
        traceback.print_exc()
        engine_ok = False
    finally:
        # the Python workers are the JVM's children: note them before
        # it exits, then wait for them too
        started = tracing.descendants(os.getpid())
        _shutdown(ctx.spark)
        left = tracing.wait_gone(started)
        if left:
            print(f"perfbench: processes {left} still running",
                  file=sys.stderr)
        shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    sampler.stop()
    host_end = tracing.host_stamp()

    checks = ctx.checks.results
    c_att = sum(a for a, _ in checks.values())
    c_fail = sum(f for _, f in checks.values())
    attempted = max(1, ctx.ops_attempted + c_att)
    failed = ctx.ops_failed + c_fail + (0 if engine_ok else 1)
    correct = engine_ok and failed == 0 and c_att > 0

    metrics = {}
    if engine_ok and args.trace:
        counters = tracing.span_counters(os.path.join(work, "eventlog"),
                                         ctx.tracer)
        layer = dict(ctx.layer)
        layer["sources.pages.gen_s"] = ctx.gen_s
        for s in spec.TIME_SPANS:
            d = ctx.tracer.durations(s)
            layer[f"{s}_s"] = statistics.median(d) if d else 0.0
        for s in spec.SPARK_SPANS:
            for c, v in counters.get(s, {}).items():
                layer[f"{s}.{c}"] = v
        for name, unit, _better in spec.per_layer():
            v = layer.get(name)
            metrics[name] = _metric(0.0 if v is None else v, unit)
    elif engine_ok:
        values = {"setup_s": statistics.median(ctx.setups),
                  "peak_rss_mb": statistics.median(ctx.win.rss_mb),
                  "op_cpu_s": statistics.median(ctx.win.cpu_s),
                  "op_p50_s": ctx.out["op_p50_s"]}
        for name, unit, _better, _bound in spec.END_TO_END:
            metrics[name] = _metric(values[name], unit)

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"nproc": cores, "load1_start": host_start["load1"],
                 "load1_end": host_end["load1"],
                 "steal_share": tracing.steal_share(host_start, host_end),
                 "contaminated": host_start["load1"] > LOAD_LINE},
        "wall_s": time.perf_counter() - t_run,
        "setups_s": ctx.setups,
        "setup_sessions_s": ctx.setup_sessions,
        "op_walls_s": ctx.win.walls if ctx.win else [],
        "op_cpu_s": ctx.win.cpu_s if ctx.win else [],
        "gen_s": ctx.gen_s,
        "prep_s": ctx.prep_s,
        "ops": {"attempted": ctx.ops_attempted, "failed": ctx.ops_failed},
        "checks": checks,
        "failed_op_ratio": {"value": failed / attempted, "unit": "ratio",
                            "n": attempted},
        "workload_metrics": {
            k: {"value": v, "unit": u, "n": n}
            for k, (v, u, n) in ctx.out.get("workload", {}).items()},
    }
    if report["host"]["contaminated"]:
        print(f"perfbench: host load {host_start['load1']:.2f} above "
              f"{LOAD_LINE} at the start: this run is contaminated",
              file=sys.stderr)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
