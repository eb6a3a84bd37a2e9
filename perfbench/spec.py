"""Metric names, units and directions — the single source of the
``end_to_end`` and ``per_layer`` lists in ``BENCHMARK.json`` (the smoke
test checks that the two agree)."""

from __future__ import annotations

from tracing import COUNTERS

#: workloads listed in BENCHMARK.json (name -> why)
WORKLOADS = {
    "ingest_incremental": "small enrich+neardup batches with replays and "
                          "republications into one root, lookups and CDC "
                          "reads between: per-job cost, the writer and the "
                          "band index dominate",
    "corpus_dedup": "the training-data dedup query family on a seeded "
                    "corpus with planted near-duplicates: no extraction "
                    "kernel, the shingle, cluster and cosine layers work",
}

#: runnable with the same command but left out of BENCHMARK.json: a
#: full benchmark pass (4 + 22 runs per listed workload in 3,420 s) has
#: no room for a third workload, and ingest_incremental already runs
#: every layer this one runs
UNLISTED = {
    "batch_cold": "cold extraction jobs into fresh roots plus their "
                  "no-op re-runs: the kernel and the Arrow crossing "
                  "dominate, the writer and incremental layers do little",
}

#: (name, unit, better, bound) — measured on every workload. See the
#: steadiness section of README.md for the spreads these bounds rest on.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.05),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_cpu_s", "s", "lower", 0.25),
]

#: spans with Spark task counters (Spark-backed layer calls)
SPARK_SPANS = [
    "writer.resume_filter", "extract.validate_pages", "extract.kernel_stage",
    "extract.dedup_latest", "extract.enrich", "writer.commit_extracted",
    "writer.commit_audit", "writer.compact", "writer.point_lookup",
    "writer.read_changes", "incremental.band_signatures",
    "incremental.seen_and_pairs", "catalog.ngram_jaccard_pairs",
    "catalog.band_signatures", "spans.repeated_spans",
    "decontaminate.contaminated_docs", "cluster.dedup_clusters",
    "catalog.embedding_neardup_pairs",
]

#: spans reported only as seconds per call
TIME_SPANS = SPARK_SPANS + [
    "extract.validate_extracted", "writer.commit_bands",
    "writer.expire_snapshots",
]

_COUNTER_UNITS = {"executor_run_ms": "ms", "executor_cpu_ms": "ms",
                  "shuffle_write_bytes": "bytes", "peak_exec_mem_mb": "MB"}

#: (name, unit, better) of the non-span per-layer metrics
OTHER_LAYER = [
    ("kernels.pdf_text.plain_ms", "ms", "lower"),
    ("kernels.pdf_text.encrypted_ms", "ms", "lower"),
    ("kernels.html_text.ms", "ms", "lower"),
    ("kernels.resume_map.ms", "ms", "lower"),
    ("kernels.embed.ms", "ms", "lower"),
    ("extract.crossing_overhead_s", "s", "lower"),
    ("writer.files_written", "count", "lower"),
    ("writer.bytes_written", "bytes", "lower"),
    ("writer.live_snapshots", "count", "lower"),
    ("incremental.neardup_hits", "count", "higher"),
    ("run.self_s", "s", "lower"),
    ("cluster.rounds", "count", "lower"),
    ("catalog.ngram_jaccard_pairs.planted_recall", "ratio", "higher"),
    ("cluster.dedup_clusters.planted_recall", "ratio", "higher"),
    ("catalog.embedding_neardup_pairs.planted_recall", "ratio", "higher"),
    ("sources.pages.gen_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def per_layer() -> list[tuple[str, str, str]]:
    out = [(f"{s}_s", "s", "lower") for s in TIME_SPANS]
    out += [(f"{s}.{c}", _COUNTER_UNITS[c], "lower")
            for s in SPARK_SPANS for c in COUNTERS]
    return out + OTHER_LAYER


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in per_layer()],
    }
