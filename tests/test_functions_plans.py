"""DataFrame-API function helpers + physical-plan shape assertions.

The plan tests pin the scale-design invariants: filter/column pushdown
into the parquet scan, broadcast join on small dims, and no shuffle
ahead of the extraction kernel (SURVEY.md §4)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from resume_parser_service_spark import functions as X
from resume_parser_service_spark.plans import (count_exchanges,
                                               formatted_plan,
                                               has_broadcast_join,
                                               pushed_filters,
                                               scan_read_schema)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_hash60_matches_duckdb(spark):
    """The Column hash60, the Python kernels.shingle.hash60 and the
    DuckDB oracle expression agree, incl. empty, non-ASCII UTF-8 and
    double-space inputs."""
    import duckdb

    from resume_parser_service_spark.kernels.shingle import hash60
    strings = ["tok", "", "café über straße", "two  spaces"]
    spark_h = dict(spark.createDataFrame([(s,) for s in strings], "s string")
                   .select("s", X.hash60(F.col("s"))).collect())
    for s in strings:
        duck = duckdb.execute(
            "select cast(concat('0x', substr(md5(?), 1, 15)) as bigint)",
            [s]).fetchall()[0][0]
        assert spark_h[s] == duck, s
        assert hash60(s.encode("utf-8")) == duck, s


def test_minhash_shape(docs):
    row = docs.select(X.minhash("text", 4).alias("sig")).first()
    assert len(row["sig"]) == 4
    assert all(isinstance(v, int) for v in row["sig"])


def test_cosine_sim_self_is_one(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"v": [[1.0, 2.0, 3.0]]}), "v array<float>")
    got = df.select(X.cosine_sim("v", "v").alias("c")).first()["c"]
    assert abs(got - 1.0) < 1e-9


def test_quality_metrics(docs):
    row = docs.select(
        X.stopword_ratio("text").alias("sw"),
        X.punct_ratio("text").alias("pr"),
        X.token_count("text").alias("tc"),
        X.fingerprint("text").alias("fp")).first()
    assert 0.0 <= row["sw"] <= 1.0
    assert 0.0 <= row["pr"] <= 1.0
    assert row["tc"] > 0
    assert len(row["fp"]) == 32


# ------------------------------------------------------------ plan shape --

def test_filter_pushdown_reaches_scan(docs):
    q = docs.filter((F.col("lang") == "en") & (F.col("n_chars") > 200)) \
        .select("doc_id")
    pf = pushed_filters(q)
    assert any("lang" in f for f in pf)
    assert any("n_chars" in f for f in pf)


def test_column_pruning_reaches_scan(docs):
    q = docs.select("doc_id", "lang")
    cols = scan_read_schema(q)
    assert set(cols) == {"doc_id", "lang"}  # text is NOT read


def test_small_dim_join_broadcasts(spark):
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    q = cust.join(nation,
                  cust.c_nationkey == nation.n_nationkey) \
        .groupBy("n_name").count()
    assert has_broadcast_join(q)


def test_kernel_stage_has_no_input_shuffle(spark):
    """The extraction kernel must run as a pure map stage over the scan
    — raw html bytes are never shuffled (extract.py design note)."""
    from resume_parser_service_spark.pipeline.extract import extract_pages
    pages = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .selectExpr("cast(doc_id as string) as url",
                    "current_timestamp() as warc_ts",
                    "cast(text as binary) as html",
                    "text", "lang")
    extracted, _ = extract_pages(pages, dedup=False)
    plan = formatted_plan(extracted)
    # no Exchange between Scan and the python map stage
    scan_pos = plan.find("Scan parquet")
    py_pos = plan.find("MapInPandas")
    assert scan_pos != -1 and py_pos != -1
    assert "Exchange" not in plan[min(scan_pos, py_pos):max(scan_pos, py_pos)]


def test_dedup_shuffles_once(spark):
    from resume_parser_service_spark.pipeline.extract import extract_pages
    pages = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .selectExpr("cast(doc_id as string) as url",
                    "current_timestamp() as warc_ts",
                    "cast(text as binary) as html",
                    "text", "lang")
    extracted, _ = extract_pages(pages, dedup=True)
    assert count_exchanges(extracted) == 1


def test_catalog_join_broadcasts_dims(spark):
    """join_revenue_by_nation must broadcast nation (25 rows)."""
    from resume_parser_service_spark.operators.catalog import build_catalog
    fn, _ = build_catalog()["join_revenue_by_nation"]
    assert has_broadcast_join(fn(spark, SF_DIR))


def test_catalog_pricing_summary_pushes_shipdate(spark):
    from resume_parser_service_spark.operators.catalog import build_catalog
    fn, _ = build_catalog()["pricing_summary"]
    pf = pushed_filters(fn(spark, SF_DIR))
    assert any("l_shipdate" in f for f in pf)
    cols = scan_read_schema(fn(spark, SF_DIR))
    # column pruning: only the 5 needed lineitem columns are read
    assert set(cols) <= {"l_returnflag", "l_linestatus", "l_quantity",
                         "l_extendedprice", "l_discount", "l_shipdate"}


def test_neardup_pairs_plan_shape(spark):
    """embedding_neardup_pairs (r6 numpy runner): banding + exact
    verification run as vectorized batches — no cartesian product, no
    join materializing the O(N^2/cells) candidate set, and exactly ONE
    corpus-sized exchange (the (band, bucket) grouping feeding the
    scoring stage). The retired SQL formulation pushed ~50M candidate
    rows through a DISTINCT exchange plus two embedding joins at sf1.0
    (measured 83.5 s -> 3.6 s)."""
    import re

    from resume_parser_service_spark.operators.catalog import build_catalog
    fn, _ = build_catalog()["embedding_neardup_pairs"]
    plan = formatted_plan(fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "posexplode" not in plan
    # banding is a pure map stage; scoring is grouped-vectorized
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" in plan
    # no join in the candidate path at all — the pair frame never
    # re-attaches the embeddings table
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # one corpus-sized hash exchange: band/bucket grouping; the only
    # other exchanges are over the (tiny) surviving-pair frame
    args = re.findall(r"(?m)^Arguments: hashpartitioning\((\w+)", plan)
    assert args and args[0].split("#")[0] == "band"


def test_neardup_pandas_matches_sql_reference(spark):
    """The numpy runner must reproduce the retired SQL formulation
    row-for-row (same LSH geometry, same rounding contract) — the SQL
    text stays in-tree as the executable reference."""
    from resume_parser_service_spark.operators.catalog import (
        _cosine_pairs_sql, build_catalog, register_views)
    register_views(spark, SF_DIR)
    fn, _ = build_catalog()["embedding_neardup_pairs"]
    got = [tuple(r) for r in fn(spark, SF_DIR).collect()]
    ref = [tuple(r) for r in spark.sql(_cosine_pairs_sql("spark")).collect()]
    assert got == ref and len(got) > 0


def test_enrich_dup_map_shuffles_only_key_pairs(spark, docs):
    """enrich_extracted's content-dup canonical: the only hash shuffle
    in the plan is the (fingerprint, url) aggregation — the full-width
    enriched frame joins the dup map via broadcast, never moves (the r2
    Window.partitionBy(fingerprint) shuffled every column)."""
    import re

    from resume_parser_service_spark.pipeline.extract import (
        enrich_extracted)
    frame = docs.select(F.col("doc_id").cast("string").alias("url"),
                        "text")
    df = enrich_extracted(frame)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    # since the r4 size gate the dup-map agg is computed ONCE during
    # the gate's count on a persisted frame — the returned plan reads
    # the cache (the exchanges formatted below the InMemoryRelation
    # are the cache-populate plan, already executed). The invariant:
    # every hash shuffle anywhere in the tree is keyed on fingerprint
    # (the pruned key-pair agg) — the full-width enriched frame never
    # moves.
    assert "InMemoryTableScan" in plan
    args = re.findall(r"(?m)^Arguments: hashpartitioning\((\w+)", plan)
    assert args and set(a.split("#")[0] for a in args) == \
        {"fingerprint"}, plan


def test_enrich_dup_map_gate_falls_back_to_shuffle_join(spark):
    """Planted all-duplicates corpus past the broadcast gate: the dup
    map must join WITHOUT the broadcast hint (mirror-heavy-crawl
    safety). autoBroadcastJoinThreshold is disabled for the assertion
    so a hint-free plan provably shows no BroadcastHashJoin."""
    from resume_parser_service_spark.pipeline.extract import (
        enrich_extracted)
    # two fingerprint groups (non-constant key, so the join stays an
    # equi-join), every row a content duplicate
    frame = (spark.range(40)
             .selectExpr("cast(id as string) AS url",
                         "concat('same text ', id % 2) AS text"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        gated = enrich_extracted(frame, dup_map_broadcast_max=0)
        plan = formatted_plan(gated)
        assert "BroadcastHashJoin" not in plan and \
            "BroadcastNestedLoopJoin" not in plan
        # values still correct through the shuffle path: canonical per
        # group is its min url ('0' / '1'), everyone else marked a dup
        rows = {r.url: r.content_dup_of for r in gated.collect()}
        assert rows["0"] is None and rows["1"] is None
        assert all(rows[u] == str(int(u) % 2)
                   for u in rows if u not in ("0", "1"))
        hinted = enrich_extracted(frame)  # 2 dup fingerprints <= gate
        assert "BroadcastHashJoin" in formatted_plan(hinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_shingles_build_without_joins(spark):
    """The shingle relation is a pure per-row map (array slicing) — the
    r01 5-way positional self-join (5 token-corpus shuffles) is gone:
    no join and no exchange."""
    from resume_parser_service_spark.operators.catalog import (
        _shingle_rel, register_views)
    register_views(spark, SF_DIR)
    df = spark.sql(f"SELECT doc_id, shingle FROM ({_shingle_rel('spark')})")
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert count_exchanges(df) == 0


def test_aqe_splits_planted_skew_join(spark):
    """Skew defense layer 2 (beyond the salting in extract_pages): AQE's
    OptimizeSkewedJoin splits a hot join key's oversized partition at
    runtime. Thresholds are lowered so the planted 95%-one-key join
    trips the optimizer at test scale; the final adaptive plan must
    carry the skew=true marker on the sort-merge join."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold")}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "64KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        left = spark.range(0, 120_000).select(
            F.when(F.col("id") < 114_000, F.lit(0))
             .otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"))
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"), F.lit("dim").alias("v"))
        joined = left.join(right, "k")
        # action on THIS DataFrame so its queryExecution carries the
        # final adaptive plan (count() would plan a separate query)
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_vector_queries_never_explode_embeddings(spark):
    """Packed-array ratchet (late-r4): the Spark dialects of the
    embedding queries compute projections/norms/dots as
    zip_with+aggregate folds over the packed arrays — a posexplode of
    the embedding column (the O(N x d) element blowup) must never
    reappear in their plans. (The only Generate nodes allowed are the
    tiny plane/dim sequence explodes.)"""
    from resume_parser_service_spark.operators.catalog import (
        _ann_topk_sql, _cosine_pairs_sql, _lsh_bucket_sql, register_views)
    register_views(spark, SF_DIR)
    for sql in (_cosine_pairs_sql("spark"), _ann_topk_sql("spark"),
                _lsh_bucket_sql("spark")):
        plan = spark.sql(sql)._jdf.queryExecution().executedPlan().toString()
        assert "posexplode" not in plan
        assert "zip_with" in plan or "aggregate(" in plan


def test_vector_queries_zero_pad_mixed_length(spark):
    """A corpus vector SHORTER than the table max must not silently
    drop out of buckets/neighbors (review finding: zip_with null-pads
    the short side against the max-d plane vector, and an un-coalesced
    fold returned NULL, eating the row). The packed folds coalesce the
    products to 0 — zero-padding, the exact semantics of the oracle's
    expanded-element sum."""
    import re

    from resume_parser_service_spark.operators.catalog import (
        _ann_topk_sql, _lsh_bucket_sql)
    rows = [(i, [float(i + j) - 1.5 for j in range(4)]) for i in range(4)]
    rows.append((9, [0.5, -1.0, 2.0]))  # one short (3-dim) vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.createOrReplaceTempView("emb_mixed")  # never the catalog name
    lsh = spark.sql(re.sub(r"\bembeddings\b", "emb_mixed",
                           _lsh_bucket_sql("spark"))).collect()
    assert {r["vec_id"] for r in lsh} == {0, 1, 2, 3, 9}
    assert all(r["bucket"] is not None for r in lsh)
    ann = spark.sql(re.sub(r"\bembeddings\b", "emb_mixed",
                           _ann_topk_sql("spark"))).collect()
    assert 9 in {r["neighbor_id"] for r in ann}


def test_spread_gates_on_scan_splits(spark):
    """_spread pays its round-robin exchange ONLY when the planned scan
    yields fewer partitions than the cluster has slots (verdict item:
    at 100 TB the scan has thousands of natural splits and an
    unconditional exchange of text rows would be pure cost)."""
    from resume_parser_service_spark.operators.extract_queries import (
        _spread)
    slots = spark.sparkContext.defaultParallelism
    # one-file small-SF input: under-split -> exchange present
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    assert docs.rdd.getNumPartitions() < slots
    spread = _spread(spark, docs)
    assert count_exchanges(spread) == count_exchanges(docs) + 1
    # well-split input (>= one partition per slot): returned UNCHANGED
    wide = docs.repartition(slots * 2)
    assert _spread(spark, wide) is wide


def test_cosine_sim_zero_pads_mixed_length(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": [[1.0, 2.0, 2.0]], "b": [[1.0, 2.0]]}),
        "a array<float>, b array<float>")
    got = df.select(X.cosine_sim("a", "b").alias("c")).first()["c"]
    # dot = 1*1 + 2*2 + 2*0 = 5; |a| = 3, |b| = sqrt(5)
    assert got == pytest.approx(5.0 / (3.0 * 5.0 ** 0.5))
