"""Growth probe for the heavy pairwise/iterative queries: each query
runs INTERLEAVED on ``lo`` and ``hi`` copies of sf0.1 (one copy is sf0.1
itself: 5k docs / 2k vectors), and the report shows the wall ratio
against the ``hi / lo`` data ratio, plus rounds-to-converge for the
connected-components fixpoint (``cluster.LAST_ROUNDS``).

The copies are built by ISOMORPHIC RELABELING (``build_copies``) — a
construction that scales the workload without distorting it:

- documents: copy k>0 suffixes every token with "_k". A suffix map is
  a bijection into a DISJOINT per-copy vocabulary, so every
  within-copy similarity (shingle Jaccard, MinHash bands, shingle
  document frequencies vs the df cap) is EXACTLY copy 0's, and
  cross-copy shingle overlap is ZERO — candidate pairs grow exactly
  linearly. (A first attempt rotated tokens within the SHARED 31-token
  vocab; with 50-token docs over 31 shared tokens, cross-copy n-gram
  collisions made pairs grow ~7x above linear and walls tracked the
  pair blowup — that measured the data construction, not the plan.)
- embeddings: copy k multiplies dim i by a hash-derived +-1 sign
  (copy 0 untouched). A diagonal +-1 matrix is orthogonal, so
  within-copy cosines are exactly preserved; the featurizer vectors
  are all-positive (count-like, pairwise-cosine-biased-high), and
  random half-negation kills cross-copy cosines to ~0 — unlike a
  cyclic shift, which left shifted count vectors correlated and made
  pairs grow ~11x above linear.

Usage: python tools/sf_scale_probe.py [lo=1] [hi=10] [reps=3] [query ...]

``1 10`` writes BENCH/sf_scale_probe.json; any other ``hi`` writes
BENCH/sf_scale_probe_{hi}x.json (``10 100 2 dedup_clusters
embedding_neardup_pairs ngram_jaccard_pairs repeated_spans`` is the
recorded second decade).
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from resume_parser_service_spark.operators.catalog import (  # noqa: E402
    _cosine_pairs_sql, _hash60)

SF01 = "/root/testdata/sf0.1"


def _flip(key: str) -> str:
    """SQL +1 / -1 from the parity of hash60(``key``)."""
    return f"(CASE WHEN {_hash60(key, 'spark')} % 2 = 0 THEN 1 ELSE -1 END)"


def build_copies(spark, src_dir: str, cache_root: str,
                 n_copies: int) -> str:
    """``src_dir``'s documents and embeddings relabeled into ``n_copies``
    disjoint copies (see the module docstring); copy k's ids are shifted
    by k times the source row count. One copy is ``src_dir`` itself."""
    if n_copies == 1:
        return src_dir
    root = os.path.join(cache_root,
                        f"{os.path.basename(src_dir.rstrip('/'))}_x{n_copies}")
    emb_path = os.path.join(root, "embeddings.parquet")
    if os.path.exists(os.path.join(emb_path, "_SUCCESS")):
        return root
    copies = spark.range(n_copies).select(F.col("id").alias("k"))
    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    (docs.crossJoin(copies)
     .select((F.col("doc_id") + F.col("k") * docs.count()).alias("doc_id"),
             F.expr("CASE WHEN k = 0 THEN text ELSE "
                    "array_join(transform(split(text, ' '), t -> "
                    "concat(t, '_', cast(k as string))), ' ') "
                    "END").alias("text"),
             "lang",
             F.concat("source", F.lit("_c"), "k").alias("source"))
     .withColumn("n_chars", F.length("text"))
     .repartition(32).write.mode("overwrite")
     .parquet(os.path.join(root, "documents.parquet")))
    emb = spark.read.parquet(f"{src_dir}/embeddings.parquet")
    sign = _flip("concat(cast(k as string), '#', cast(i as string))")
    (emb.crossJoin(copies)
     .select((F.col("vec_id") + F.col("k") * emb.count()).alias("vec_id"),
             F.expr("CASE WHEN k = 0 THEN embedding ELSE zip_with(embedding, "
                    f"sequence(0, 63), (x, i) -> x * {sign}) END")
             .alias("embedding"),
             "label")
     .repartition(8).write.mode("overwrite").parquet(emb_path))
    return root


def probe_table(spark, cache_root: str) -> dict:
    """name -> fn(sf_dir) -> DataFrame. A query's per-corpus inputs (IVF
    index, planted corpus) are built on its first call, the discarded
    warm-up pair, and reused after."""
    from resume_parser_service_spark.operators import ivf, spans
    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    @functools.cache
    def ivf_inputs(sf):
        # prebuilt per-dir index, like bench.py's
        d = os.path.join(cache_root, "scale_ivf",
                         os.path.basename(sf.rstrip("/")))
        if not os.path.exists(os.path.join(d, "centroids")):
            ivf.build_ivf_index(spark, sf, d, n_cells=16)
        q = (spark.read.parquet(f"{sf}/embeddings.parquet")
             .filter("vec_id < 3")
             .selectExpr("vec_id AS query_id",
                         "cast(embedding AS array<double>) AS qvec"))
        return d, spark.createDataFrame(q.collect(), q.schema)

    @functools.cache
    def planted(sf, every=20):
        # Every ``every``-th vector gets a planted partner (10%
        # multiplicative hash-sign jitter -> cosine ~0.995). The base
        # tables have NO pairs above 0.7 at any scale (measured), so the
        # high-threshold regime needs planted positives to find.
        path = os.path.join(cache_root, "planted",
                            os.path.basename(sf.rstrip("/")))
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            emb = spark.read.parquet(f"{sf}/embeddings.parquet")
            sign = _flip("concat('j#', cast(vec_id as string), '#', "
                         "cast(i as string))")
            partners = emb.filter(F.col("vec_id") % every == 0).select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"),
                F.expr("zip_with(embedding, sequence(0, 63), (x, i) -> "
                       f"x * (1.0 + 0.1 * {sign}))").alias("embedding"),
                "label")
            emb.unionByName(partners).repartition(8) \
                .write.mode("overwrite").parquet(path)
        return path

    # scale-regime embedding near-dup: 4 x 16-bit bands (65,536
    # buckets/band, so candidates grow ~linearly into the millions of
    # vectors) at a true near-dup threshold (0.8). The driver-contract
    # query keeps its small-sf 4 x 4-bit bands: its candidate set grows
    # O(N^2), which its own growth row measures (BENCH/BASELINE.md r5).
    scale_sql = re.sub(r"\bembeddings\b", "scale_emb_probe",
                       _cosine_pairs_sql("spark", threshold=0.8,
                                         n_planes=64, band_size=16))

    def neardup_scale(sf):
        spark.read.parquet(planted(sf)) \
            .createOrReplaceTempView("scale_emb_probe")
        return spark.sql(scale_sql)

    return {
        "dedup_clusters": lambda sf: qs["dedup_clusters"](spark, sf),
        "embedding_neardup_pairs":
            lambda sf: qs["embedding_neardup_pairs"](spark, sf),
        "ngram_jaccard_pairs":
            lambda sf: qs["ngram_jaccard_pairs"](spark, sf),
        "repeated_spans": lambda sf: spans.repeated_spans(spark, sf),
        "ivf_topk_indexed": lambda sf: ivf.ivf_topk_indexed(
            spark, *ivf_inputs(sf), k=5, nprobe=4),
        "embedding_neardup_scale": neardup_scale,
    }


def main() -> None:
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    from resume_parser_service_spark.operators import cluster
    from resume_parser_service_spark.session import get_spark

    spark = get_spark(app_name="rps-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    cache_root = os.path.join(REPO, ".bench_cache")
    label = {c: "sf01" if c == 1 else f"x{c}" for c in (lo, hi)}
    dirs = {c: build_copies(spark, SF01, cache_root, c) for c in (lo, hi)}
    probes = probe_table(spark, cache_root)
    names = sys.argv[4:] or list(probes)

    out: dict = {"copies": [lo, hi], "reps": reps,
                 "load_avg_start": round(os.getloadavg()[0], 2),
                 "queries": {}}
    for name in names:
        walls = {c: [] for c in dirs}
        rec: dict = {}
        # one untimed warm-up pair, then interleaved timed pairs
        for rep in range(reps + 1):
            for c, sf in dirs.items():
                t0 = time.perf_counter()
                n = probes[name](sf).count()
                if rep:
                    walls[c].append(round(time.perf_counter() - t0, 3))
                rec[f"{label[c]}_rows"] = n
                if name == "dedup_clusters":
                    rec[f"{label[c]}_rounds"] = cluster.LAST_ROUNDS
        med = {c: sorted(w)[len(w) // 2] for c, w in walls.items()}
        rec.update({f"{label[c]}_sec": med[c] for c in dirs})
        rec["growth"] = round(med[hi] / med[lo], 2) if med[lo] else None
        rec["walls"] = {label[c]: walls[c] for c in dirs}
        out["queries"][name] = rec
        print(f"{name}: {rec}", flush=True)
    out["load_avg_end"] = round(os.getloadavg()[0], 2)

    dest = os.path.join(REPO, "BENCH", "sf_scale_probe.json" if hi == 10
                        else f"sf_scale_probe_{hi}x.json")
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
