"""Operator/query catalog — the driver correctness contract.

One entry per operator from SURVEY.md §2D plus the training-data-pipeline
operators (dedup / similarity / text analysis / multimodal). Each entry
carries a Spark implementation (shared-ANSI SQL over temp views, a
dialect-split SQL pair, or a DataFrame/kernel function) and, where
SQL-expressible, a DuckDB oracle string the driver runs side-by-side.

Portability rules used throughout (verified on pyspark 4.1.2 / duckdb
1.0.0):
- tokenization: ``split(text, ' ')`` (Spark) == ``string_split(text,' ')``
  (DuckDB) on the single-spaced corpus;
- portable 60-bit hash: ``conv(substring(md5(s),1,15),16,10)`` (Spark)
  == ``cast(concat('0x', substr(md5(s),1,15)) as bigint)`` (DuckDB);
- money aggregates go through DECIMAL(18,2) so double summation order
  cannot flip the value-hash; row-level double arithmetic is identical
  IEEE ops on both engines and stays double;
- integer SUMs are wrapped in ``cast(... as bigint)`` in BOTH dialects:
  Spark's sum(int) is BIGINT but DuckDB's is HUGEINT (int128), which
  pandas materializes as float64 and flips the driver's value hash even
  when every value is equal (CORRECTNESS_r01 root cause for
  rollup_metrics / sessionize_events / json_extract_props).

The catalog is kept at <= 42 entries (50 total with the kernel/UDF/
cluster queries, which the entry module orders FIRST): the round-1
driver checked exactly the first 50 ``queries()`` entries, so the
catalog consolidates related function families into single multi-column
queries rather than letting product-core checks fall off the end.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.shingle import hash60, shingles

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Catalog entries past the driver's first-50 correctness window (see
# the rotation note inside build_catalog): __spark_entry__ registers
# these AFTER the extension codec queries so every oracle-paired
# operator added in r4 lands inside the window.
PAST_50 = ("cube_event_counts", "distinct_langs", "paginated_scan",
           "filtered_count", "topk_largest_docs", "string_funcs",
           "math_funcs")

# id(spark) -> (sf_dir, file stamps) of the last registration
_REGISTERED: dict[int, tuple[str, tuple]] = {}


def _stamp(path: str) -> tuple:
    """``(st_mtime_ns, st_size)`` of a table file; for a directory table
    (a Spark-written ``<table>.parquet/``), the sorted stamps of its
    entries, so a rewrite of any part file shows."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return st.st_mtime_ns, st.st_size
    return tuple(sorted((e.name, e.stat().st_mtime_ns, e.stat().st_size)
                        for e in os.scandir(path)))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata parquet tables present in ``sf_dir`` as
    temp views (idempotent).

    A registration reads each file's footer (two schema-inference jobs
    a table), so a repeat call with the same ``sf_dir`` and unchanged
    files registers nothing: the cache holds, per session, the
    ``sf_dir`` and the stamp (``(st_mtime_ns, st_size)``) of every
    table file registered. A rewritten file changes its stamp and is
    re-registered, where a kept view would serve its stale file index.
    The cache key is id(spark), which CPython can RECYCLE for a new
    session after the old one is dropped — so a hit is only trusted if
    the first table registered is a view in THIS session's catalog
    (otherwise every query would fail TABLE_OR_VIEW_NOT_FOUND)."""
    found = [(t, path) for t in TABLES
             if os.path.exists(path := os.path.join(sf_dir, f"{t}.parquet"))]
    state = (sf_dir, tuple(_stamp(path) for _, path in found))
    key = id(spark)
    if (found and _REGISTERED.get(key) == state
            and spark.catalog.tableExists(found[0][0])):
        return
    for t, path in found:
        spark.read.parquet(path).createOrReplaceTempView(t)
    _REGISTERED[key] = state


def _sql(spark_sql: str, duck_sql: str | None = None):
    """Catalog entry from SQL text. ``duck_sql`` defaults to the same
    string (shared ANSI)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(spark_sql)
    return run, (duck_sql if duck_sql is not None else spark_sql)


# --------------------------------------------------------------------------
# Portable hash helpers (emit dialect-specific SQL for the same value).
# --------------------------------------------------------------------------

def _hash60(expr: str, dialect: str) -> str:
    if dialect == "spark":
        return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"
    return f"cast(concat('0x', substr(md5({expr}), 1, 15)) as bigint)"


def _tokens(expr: str, dialect: str) -> str:
    return (f"split({expr}, ' ')" if dialect == "spark"
            else f"string_split({expr}, ' ')")


def _minhash_sql(dialect: str, n_hashes: int = 4) -> str:
    """Per-doc MinHash signature: for seed s, min over distinct tokens of
    hash60(concat(seed,'#',token))."""
    mins = ",\n  ".join(
        "min({h}) AS mh{i}".format(
            h=_hash60("concat('s%d#', tok)" % i, dialect), i=i)
        for i in range(n_hashes))
    return f"""
WITH toks AS (
  SELECT doc_id, {'explode' if dialect == 'spark' else 'unnest'}({_tokens('text', dialect)}) AS tok
  FROM documents
),
dtoks AS (SELECT DISTINCT doc_id, tok FROM toks)
SELECT doc_id,
  {mins}
FROM dtoks GROUP BY doc_id ORDER BY doc_id
"""


def _simhash_sql(dialect: str, bits: int = 16) -> str:
    """16-bit SimHash over token hash60 bits (sign-summed, >0 -> 1)."""
    h = _hash60("tok", dialect)
    if dialect == "spark":
        bit = "CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END"
    else:
        bit = "CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END"
    sums = ", ".join(f"sum({bit.format(i=i)}) AS b{i}" for i in range(bits))
    recombine = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, {'explode' if dialect == 'spark' else 'unnest'}({_tokens('text', dialect)}) AS tok
  FROM documents
),
hashed AS (SELECT DISTINCT doc_id, {h} AS h FROM toks),
bitsums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, cast({recombine} as bigint) AS simhash
FROM bitsums ORDER BY doc_id
"""


def _shingle_rel(dialect: str, n: int = 5, table: str = "documents") -> str:
    """(doc_id, shingle) rows — one per ``n``-gram position — built by
    ARRAY SLICING over the token array: a pure per-row map (explode of a
    transform), ZERO shuffles. The r01 formulation self-joined the
    exploded token table on (doc_id, pos) n times — n full shuffles of
    the corpus' tokens before any aggregation, a scale anti-pattern."""
    toks = _tokens("text", dialect)
    if dialect == "spark":
        return f"""
  SELECT doc_id,
         explode(CASE WHEN size(toks) >= {n}
                 THEN transform(sequence(0, size(toks) - {n}),
                                i -> concat_ws(' ', slice(toks, i + 1, {n})))
                 ELSE array() END) AS shingle
  FROM (SELECT doc_id, {toks} AS toks FROM {table})"""
    return f"""
  SELECT doc_id,
         unnest(list_transform(
             generate_series(1, greatest(len(toks) - {n - 1}, 0)),
             i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS shingle
  FROM (SELECT doc_id, {toks} AS toks FROM {table})"""


def _capped_shingles_cte(dialect: str, max_df: int,
                         table: str = "documents") -> str:
    """Shared sh/cold/shf CTE body: DISTINCT (doc_id, shingle) with
    shingles above the document-frequency cap removed BEFORE any
    self-join. Single source for the df-cap policy — used by both the
    near-dup pair query here and cluster._edges_sql, which must stay
    in lockstep or pairs and clustering edges silently diverge.

    Shingles are HASHED to 60-bit ints at the source: everything
    downstream (the distinct, the df-cap group, the candidate
    self-join) only ever compares shingles for equality, so an 8-byte
    join key replaces the ~40-byte 5-gram string in every shuffle.
    Both dialects hash with the same md5-derived hash60, so
    cross-engine parity is untouched; a collision (~2^-60 per pair)
    would merge two shingles identically in BOTH engines."""
    h = _hash60("shingle", dialect)
    return f"""sh AS (
  SELECT DISTINCT doc_id, {h} AS shingle
  FROM ({_shingle_rel(dialect, table=table)})
),
cold AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {max_df}
),
shf AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN cold USING (shingle)
)"""


def _ngram_jaccard_sql(dialect: str, max_df: int = 100) -> str:
    """Candidate near-dup pairs: docs sharing >=1 identical 5-word
    shingle, with shared-shingle counts + Jaccard over shingle sets
    (MinHash/LSH's exact verification step).

    Scale bound: shingles with document frequency > ``max_df`` are
    excluded from candidate generation (a boilerplate 5-gram shared by
    n docs would otherwise emit ~n^2 pair rows — the standard df-cap
    used by large-scale near-dup pipelines). Jaccard numerator counts
    only non-hot shared shingles; denominators use the full shingle
    sets. The cap is applied identically in both dialects so the oracle
    stays value-exact."""
    return f"""
WITH {_capped_shingles_cte(dialect, max_df)},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
  FROM shf x JOIN shf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT s.doc_a, s.doc_b, s.n_shared,
       round(cast(s.n_shared as double) /
             (sa.n + sb.n - s.n_shared), 6) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
ORDER BY s.doc_a, s.doc_b
"""


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition before a CPU-bound Python kernel —
    GATED on the scan actually being under-split.

    The small-SF ``documents`` parquet is one file under
    ``maxPartitionBytes``, so without the exchange the whole
    mapInPandas stage runs on ONE core (measured: rasterize_pages
    48.9 s serial vs the sub-10 s spread shape at sf0.1). At 100 TB the
    scan has thousands of natural splits that already cover every core
    — there the exchange of (doc_id, text) rows is pure cost, so it is
    only paid when the planned scan yields fewer partitions than the
    cluster has slots (the product pipeline's opt-in counterpart is
    ``salt_partitions=``). ``df.rdd.getNumPartitions()`` is plan-time
    only — no job runs.

    Residual (accepted): the gate counts splits, not balance. A scan
    with >= slots partitions where one holds most ROWS skips the
    exchange and runs lopsided. At scale ``maxPartitionBytes`` bounds
    per-partition BYTES — a fat file surfaces as MORE partitions, not
    fatter ones — so the exposure is the small-corpus case of many
    tiny files plus one mid-size (sub-``maxPartitionBytes``) file,
    whose serial tail is itself bounded by that byte cap. Skewed
    per-row COST (not size) is what the product pipeline's
    ``salt_partitions=`` exists for."""
    slots = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= slots:
        return df
    return df.repartition(slots * 2)


def _doc_rows(docs: DataFrame, rows: Callable, cols: str,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``(id_col, *cols)`` rows from a per-document Python function.
    ``rows(text)`` returns the document's values as one equal-length
    sequence per column of ``cols`` (a DDL list of bigint / int /
    string columns); the id passes through with its own type (bigint
    ``doc_id`` in the catalog, url strings on the index and export
    paths).

    This is how the shingle family (``kernels/shingle.py``) runs: one
    ``mapInPandas`` map stage (optimization guide §4.2). hashlib.md5
    over the UTF-8 shingle beats the per-shingle JVM
    concat_ws -> md5 -> conv -> substring chain ~8x (sf1.0: ~3.4 s vs
    ~0.4 s for 2.5M shingles), and a per-document set IS the global
    DISTINCT (the id is in the key), so the exchange the SQL
    formulations pay for it disappears. Columns are built as typed
    lists, not row tuples: per-row tuples through
    ``DataFrame.from_records`` cost ~35% more kernel CPU. Callers
    spread an under-split scan with ``_spread`` first."""
    import pandas as pd

    fields = [(id_col, dict(docs.dtypes)[id_col])] + [
        tuple(c.split()) for c in cols.split(",")]
    pd_types = {"bigint": "int64", "int": "int32"}
    dtypes = [pd_types.get(t, "object") for _, t in fields]

    def kernel(batches):
        for pdf in batches:
            ids: list = []
            out: list[list] = [[] for _ in fields[1:]]
            for i, text in zip(pdf[id_col], pdf[text_col]):
                vals = rows(text)
                ids += [i] * len(vals[0])
                for col, v in zip(out, vals):
                    col += v
            yield pd.DataFrame({
                name: pd.Series(col, dtype=dt)
                for (name, _), col, dt in zip(fields, [ids, *out], dtypes)})

    return docs.select(id_col, text_col).mapInPandas(
        kernel, schema=", ".join(f"{n} {t}" for n, t in fields))


def _shingle_groups(spark: SparkSession, max_df: int = 100,
                    with_n: bool = False) -> DataFrame:
    """(shingle, ds): the df-capped multi-doc shingle groups of
    ``documents``, ``ds`` the sorted member doc_ids — or, with
    ``with_n``, sorted ``(doc_id, n)`` structs, ``n`` the member's
    distinct-shingle count. The shared substrate of
    ``ngram_jaccard_pairs`` and ``dedup_clusters``; the df-cap policy
    stays in lockstep with ``_capped_shingles_cte`` (the SQL reference
    / oracle source, which must emit identical rows).

    Shape (guide §2.3/§2.4): the kernel (pure map, no DISTINCT
    exchange, spread over the cluster when the scan is under-split)
    emits each document's distinct shingle hashes, every row carrying
    the document's ``n``. Because the rows are already distinct, a
    shingle's document frequency IS the size of its member list, so
    the df cap and the grouping collapse into ONE exchange:
    ``groupBy(shingle) -> sorted member list -> 2 <= size <= max_df``
    (the SQL reference paid three exchanges of the same rows: the
    DISTINCT, the df-count aggregation, and the self-join sides). The
    groups are the kernel's only consumer, so one call runs the kernel
    once: a per-doc size aggregation beside them would re-run it."""
    def rows(text):
        sh = {hash60(s.encode()) for s in shingles(text, 5)}
        return sh, [len(sh)] * len(sh)

    sh = _doc_rows(_spread(spark, spark.table("documents")), rows,
                   "shingle bigint, n int")
    member = F.struct("doc_id", "n") if with_n else F.col("doc_id")
    return (sh.groupBy("shingle")
            .agg(F.sort_array(F.collect_list(member)).alias("ds"))
            .where((F.size("ds") >= 2) & (F.size("ds") <= max_df)))


def _q_ngram_jaccard_pandas(spark: SparkSession, sf_dir: str,
                            max_df: int = 100) -> DataFrame:
    """ngram_jaccard_pairs on the shared group builder —
    result-identical to ``_ngram_jaccard_sql("spark")`` (the in-tree
    reference; DuckDB oracle unchanged). Pairs explode the a<b
    combinations of each (<= ``max_df``) member list in-JVM, each pair
    carrying both members' shingle counts ``na``/``nb`` for the Jaccard
    denominator, and aggregate per pair: one kernel pass, no join."""
    register_views(spark, sf_dir)
    pair = F.explode(F.flatten(F.transform(
        "ds",
        lambda a, i: F.transform(
            F.slice("ds", i + F.lit(2), F.size("ds")),
            lambda b: F.struct(a["doc_id"].alias("doc_a"),
                               b["doc_id"].alias("doc_b"),
                               a["n"].alias("na"), b["n"].alias("nb"))))))
    return (_shingle_groups(spark, max_df, with_n=True)
            .select(pair.alias("p")).select("p.*")
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count("*").alias("n_shared"))
            .select("doc_a", "doc_b", "n_shared",
                    F.round(F.col("n_shared").cast("double") /
                            (F.col("na") + F.col("nb") -
                             F.col("n_shared")), 6).alias("jaccard"))
            .orderBy("doc_a", "doc_b"))


def _vec_expand(dialect: str) -> str:
    """Expand embeddings to (vec_id, i, v-double) rows — the shared
    zero-indexed element view both dialects build cosine math on."""
    if dialect == "spark":
        return ("SELECT vec_id, pos AS i, cast(col as double) AS v "
                "FROM (SELECT vec_id, posexplode(embedding) FROM embeddings)")
    return ("SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i, "
            "cast(unnest(embedding) as double) AS v FROM embeddings")


def _cand_dot(dialect: str) -> str:
    """Exact dot product over candidate pairs. Spark: array math
    (zip_with + aggregate) against two broadcast-sized joins of the
    embeddings table — no candidates x d element-row blowup, stays in
    whole-stage codegen. DuckDB oracle: equivalent element join over the
    expanded view (oracle runs at sf0.01 only; clarity over speed)."""
    if dialect == "spark":
        return """
  SELECT c.vec_a, c.vec_b,
         aggregate(zip_with(ea.embedding, eb.embedding,
                            (x, y) -> coalesce(cast(x as double) *
                                               cast(y as double),
                                               cast(0 as double))),
                   cast(0 as double), (acc, z) -> acc + z) AS dot
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_a
  JOIN embeddings eb ON eb.vec_id = c.vec_b"""
    return """
  SELECT c.vec_a, c.vec_b, sum(x.v * y.v) AS dot
  FROM cand c
  JOIN e x ON x.vec_id = c.vec_a
  JOIN e y ON y.vec_id = c.vec_b AND y.i = x.i
  GROUP BY c.vec_a, c.vec_b"""


def _cosine_pairs_sql(dialect: str, threshold: float = 0.45,
                      n_planes: int = 16, band_size: int = 4) -> str:
    """Embedding near-dup pairs: banded random-hyperplane LSH candidate
    generation + exact cosine verification — the scale-safe shape (an
    all-pairs element self-join is O(N^2 d); here only pairs colliding
    in at least one band of sign bits are scored). Planes are
    hash-derived ((hash60(p#i) % 1001) - 500) so both engines see
    identical geometry with no stored randomness; math is double-cast
    and 4-decimal-rounded so the engines agree bit-for-bit.

    4 bands x 4 bits: 16 buckets per band keeps the candidate set
    ~bucket-balanced (vs 2-bit bands, where 4 buckets made nearly every
    pair a candidate); true near-dups (sim >= 0.9) still collide in
    >= 1 band with ~88% probability per band math. Exact verification
    runs as an array dot product against the (broadcastable) embeddings
    table on the Spark side — no candidates x d element-join blowup.

    Threshold 0.45 is calibrated to the synthetic embeddings fixture
    (max pair sim ~0.51 at sf0.01) so the driver check compares
    NON-EMPTY results — r01's 0.92 threshold passed vacuously.

    The Spark dialect never expands vectors to element rows: plane
    weights are packed into {n_planes} broadcast plane VECTORS and every
    projection / norm / verify dot runs as a zip_with+aggregate fold
    over the packed embedding array inside whole-stage codegen — the
    only shuffles left are the (vec_id, band, bucket) frame and the
    band self-join, both O(N), never O(N x d). Mixed-length corpora are
    safe: zip_with null-pads the shorter side to the max-d plane vector
    (or the longer pair member), and every fold coalesces the products
    to 0 — ZERO-padding, the exact semantics of the oracle's
    expanded-element sum, instead of a NULL fold silently dropping the
    vector (review finding). (Measured identical
    output and ~40% lower wall vs the expanded-element formulation at
    sf0.1, interleaved A/B; the element products are exact in double
    — float32 x small-int needs < 53 mantissa bits — so fold order
    cannot flip a sign.) The DuckDB oracle keeps the expanded-element
    formulation (clarity over speed; it runs at sf0.01 only)."""
    cast_s = "string" if dialect == "spark" else "varchar"
    h = _hash60(f"concat(cast(p as {cast_s}), '#', cast(i as {cast_s}))",
                dialect)
    bit_val = " ".join(
        f"WHEN p % {band_size} = {j} THEN {1 << j}"
        for j in range(band_size))
    tail = f"""
SELECT d.vec_a, d.vec_b,
       round(d.dot / (na.nrm * nb.nrm), 4) AS cos_sim
FROM dots d
JOIN norms na ON na.vec_id = d.vec_a
JOIN norms nb ON nb.vec_id = d.vec_b
WHERE round(d.dot / (na.nrm * nb.nrm), 4) > {threshold}
ORDER BY d.vec_a, d.vec_b
"""
    cand = """
cand AS (
  -- upfront DISTINCT wins: measured 4.2 s vs 5.8 s (sf0.1, interleaved
  -- A/B) against deferring dedup past the verify — duplicate
  -- candidates (<=1 per extra colliding band) inflate the verify joins
  -- more than the candidate-level shuffle costs
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM bb x JOIN bb y
    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
),"""
    if dialect == "spark":
        return f"""
WITH d AS (SELECT max(size(embedding)) AS d FROM embeddings),
pw AS (
  SELECT p, i, ({h} % 1001 - 500) AS w
  FROM (SELECT explode(sequence(0, {n_planes - 1})) AS p)
  CROSS JOIN (SELECT explode(sequence(0, (SELECT d - 1 FROM d))) AS i)
),
pwv AS (
  -- the n_planes plane vectors, packed: transform(array_sort(...))
  -- orders the hash-derived weights by dimension index so the fold
  -- below pairs weight i with element i
  SELECT p, transform(array_sort(collect_list(struct(i, w))),
                      x -> cast(x.w as double)) AS wvec
  FROM pw GROUP BY p
),
pdots AS (
  SELECT e.vec_id, pwv.p,
         aggregate(zip_with(e.embedding, pwv.wvec,
                            (x, y) -> coalesce(cast(x as double) * y,
                                               cast(0 as double))),
                   cast(0 as double), (acc, z) -> acc + z) AS dot
  FROM embeddings e CROSS JOIN pwv
),
bb AS (
  SELECT vec_id, cast(floor(p / {band_size}.0) as int) AS band,
         sum(CASE WHEN dot > 0 THEN (CASE {bit_val} END) ELSE 0 END) AS bucket
  FROM pdots GROUP BY vec_id, cast(floor(p / {band_size}.0) as int)
),
{cand}
norms AS (
  SELECT vec_id, sqrt(aggregate(zip_with(embedding, embedding,
                                         (x, y) -> cast(x as double) *
                                                   cast(y as double)),
                                cast(0 as double),
                                (acc, z) -> acc + z)) AS nrm
  FROM embeddings
),
dots AS ({_cand_dot(dialect)})
{tail}"""
    return f"""
WITH e AS ({_vec_expand(dialect)}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
planes AS (SELECT unnest(range(0, {n_planes})) AS p),
pw AS (
  -- plane weights materialized once per (plane, dim): n_planes x d tiny
  SELECT p, i, ({h} % 1001 - 500) AS w
  FROM planes CROSS JOIN (SELECT DISTINCT i FROM e) dims
),
pdots AS (
  SELECT e.vec_id, pw.p, sum(e.v * pw.w) AS dot
  FROM e JOIN pw ON pw.i = e.i
  GROUP BY e.vec_id, pw.p
),
bb AS (
  SELECT vec_id, cast(floor(p / {band_size}.0) as int) AS band,
         sum(CASE WHEN dot > 0 THEN (CASE {bit_val} END) ELSE 0 END) AS bucket
  FROM pdots GROUP BY vec_id, cast(floor(p / {band_size}.0) as int)
),
{cand}
dots AS ({_cand_dot(dialect)})
{tail}"""


def _q_embedding_neardup_pandas(spark: SparkSession, sf_dir: str,
                                threshold: float = 0.45,
                                n_planes: int = 16,
                                band_size: int = 4) -> DataFrame:
    """embedding_neardup_pairs, numpy-vectorized — same result contract
    as ``_cosine_pairs_sql("spark")`` (which remains the executable
    reference; the DuckDB oracle is untouched), restructured per the
    optimization guide §4.2: the LSH banding and the exact-verify dot
    products are handed to vectorized native code in whole batches
    instead of interpreted per-element ``zip_with``/``aggregate`` folds.

    Why: the SQL formulation materializes every colliding (vec_a,
    vec_b) candidate through a DISTINCT exchange and then runs one
    interpreted 64-element fold per candidate against two joins of the
    embeddings table — at 20k vectors that is ~50M candidate rows and
    ~3G lambda evaluations (measured 83.5 s at sf1.0). Here each
    (band, bucket) cell scores its members with one BLAS matmul, so the
    candidate set never crosses a shuffle: the only corpus-sized
    exchange left is the ``n_bands`` x N (band, bucket, embedding)
    frame feeding ``applyInPandas`` (measured plan: 1 big Exchange vs
    3, wall 83.5 s -> ~4 s at sf1.0).

    Numeric contract: plane weights reproduce hash60 exactly (md5-
    derived integers); dots/norms are float64 sums of exact
    float32-pair products, so they agree with the SQL folds to the
    final ulp-level rounding the cross-engine oracle already tolerates
    (Spark's left fold and DuckDB's hash-agg sum order differ the same
    way). The final ``round(dot/(na*nb), 4) > threshold`` is evaluated
    IN SPARK SQL on the emitted (dot, na, nb) triples — identical
    semantics, including NaN ordering for zero-norm pairs (the pandas
    stage pre-filters with a small margin and keeps non-finite ratios,
    so no qualifying pair is dropped)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    n_bands = n_planes // band_size
    emb = spark.table("embeddings").select("vec_id", "embedding")

    def _weights(dmax: int) -> "np.ndarray":
        # hash60(concat(p,'#',i)) % 1001 - 500 — identical to the SQL
        w = np.empty((dmax, n_planes), dtype=np.float64)
        for p in range(n_planes):
            for i in range(dmax):
                w[i, p] = hash60(f"{p}#{i}".encode()) % 1001 - 500
        return w

    def _matrix(col, dmax: int) -> "np.ndarray":
        m = np.zeros((len(col), dmax), dtype=np.float64)
        for r, v in enumerate(col):
            if v is None or len(v) == 0:
                continue
            a = np.asarray(v, dtype=np.float64)
            m[r, :len(a)] = a
        return m

    def bucketize(batches):
        w_cache: dict[int, np.ndarray] = {}
        bits = (1 << np.arange(band_size))  # within-band bit values
        for pdf in batches:
            col = pdf["embedding"]
            dmax = max((len(v) for v in col if v is not None), default=0)
            if dmax not in w_cache:
                w_cache[dmax] = _weights(dmax) if dmax else \
                    np.zeros((0, n_planes))
            m = _matrix(col, dmax)
            dots = m @ w_cache[dmax]                   # (n, n_planes)
            signs = (dots > 0).astype(np.int64)
            out = []
            for b in range(n_bands):
                seg = signs[:, b * band_size:(b + 1) * band_size]
                out.append(pd.DataFrame({
                    "vec_id": pdf["vec_id"],
                    "band": np.int32(b),
                    "bucket": seg @ bits,
                    "embedding": col,
                }))
            yield pd.concat(out, ignore_index=True)

    margin = threshold - 2e-4  # covers the 4-decimal round-up band

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        empty = pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                              "vec_b": pd.Series(dtype="int64"),
                              "dot": pd.Series(dtype="float64"),
                              "na": pd.Series(dtype="float64"),
                              "nb": pd.Series(dtype="float64")})
        if n < 2:
            return empty
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        ids = pdf["vec_id"].to_numpy()
        col = pdf["embedding"]
        dmax = max((len(v) for v in col if v is not None), default=0)
        m = _matrix(col, dmax)
        norms = np.sqrt(np.einsum("ij,ij->i", m, m))
        frames = [empty]
        # row-blocked upper-triangle matmul bounds memory on hot cells
        blk = 2048
        with np.errstate(divide="ignore", invalid="ignore"):
            for s in range(0, n, blk):
                e = min(s + blk, n)
                g = m[s:e] @ m.T                     # (blk, n)
                c = g / np.outer(norms[s:e], norms)
                ii, jj = np.nonzero((c > margin) | ~np.isfinite(c))
                keep = jj > (ii + s)                 # strict upper triangle
                ii, jj = ii[keep], jj[keep]
                if len(ii):
                    frames.append(pd.DataFrame({
                        "vec_a": ids[ii + s], "vec_b": ids[jj],
                        "dot": g[ii, jj],
                        "na": norms[ii + s], "nb": norms[jj]}))
        return pd.concat(frames, ignore_index=True)

    bb = emb.mapInPandas(
        bucketize,
        schema="vec_id long, band int, bucket long, embedding array<float>")
    cand = bb.groupBy("band", "bucket").applyInPandas(
        score,
        schema="vec_a long, vec_b long, dot double, na double, nb double")
    # one row per pair (a pair can collide in several bands; dot/na/nb
    # agree across bands to the ulp, max() picks one deterministically),
    # then the EXACT SQL-side contract: round + threshold + order
    return (cand.groupBy("vec_a", "vec_b")
            .agg(F.max("dot").alias("dot"), F.max("na").alias("na"),
                 F.max("nb").alias("nb"))
            .select("vec_a", "vec_b",
                    F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4)
                    .alias("cos_sim"))
            .where(F.col("cos_sim") > threshold)
            .orderBy("vec_a", "vec_b"))


def _ann_topk_sql(dialect: str, k: int = 5, n_queries: int = 3) -> str:
    """Brute-force cosine top-k neighbors for the first ``n_queries``
    vectors (the ANN baseline; ann_lsh_buckets is the scale path).

    Spark dialect: the query vectors are a broadcast ``n_queries``-row
    side of a cross join and each (query, corpus) dot is one
    zip_with+aggregate fold over the packed arrays in codegen — the
    corpus is scanned once, never exploded to O(N x d) element rows.
    DuckDB oracle keeps the expanded-element join (sf0.01 only)."""
    if dialect == "spark":
        head = f"""
WITH norms AS (
  SELECT vec_id, sqrt(aggregate(zip_with(embedding, embedding,
                                         (x, y) -> cast(x as double) *
                                                   cast(y as double)),
                                cast(0 as double),
                                (acc, z) -> acc + z)) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {n_queries}),
dots AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         aggregate(zip_with(q.embedding, e.embedding,
                            (x, y) -> coalesce(cast(x as double) *
                                               cast(y as double),
                                               cast(0 as double))),
                   cast(0 as double), (acc, z) -> acc + z) AS dot
  FROM embeddings e CROSS JOIN q
  WHERE q.vec_id <> e.vec_id
),"""
    else:
        head = f"""
WITH e AS ({_vec_expand(dialect)}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
q AS (SELECT * FROM e WHERE vec_id < {n_queries}),
dots AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, sum(q.v * e.v) AS dot
  FROM q JOIN e ON q.i = e.i AND q.vec_id <> e.vec_id
  GROUP BY q.vec_id, e.vec_id
),"""
    return head + f"""
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (na.nrm * nb.nrm), 4) AS cos_sim
  FROM dots d
  JOIN norms na ON na.vec_id = d.query_id
  JOIN norms nb ON nb.vec_id = d.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= {k}
ORDER BY query_id, rk
"""


def _lsh_bucket_sql(dialect: str, n_planes: int = 8) -> str:
    """Random-hyperplane LSH bucketing over embeddings — the ANN scale
    path: bucket = sign pattern of dot(v, plane_p); plane components are
    hash-derived ((hash60(p#i) % 1001) - 500), so both engines see
    identical planes with no stored randomness.

    Spark dialect: packed plane vectors + zip_with/aggregate folds (one
    corpus scan, no O(N x d) element explosion — see _cosine_pairs_sql);
    DuckDB oracle keeps the expanded-element join."""
    cast_s = "string" if dialect == "spark" else "varchar"
    h = _hash60(f"concat(cast(p as {cast_s}), '#', cast(i as {cast_s}))",
                dialect)
    signs = " + ".join(
        f"(CASE WHEN max(CASE WHEN p = {i} THEN dot END) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes))
    if dialect == "spark":
        return f"""
WITH d AS (SELECT max(size(embedding)) AS d FROM embeddings),
pw AS (
  SELECT p, i, ({h} % 1001 - 500) AS w
  FROM (SELECT explode(sequence(0, {n_planes - 1})) AS p)
  CROSS JOIN (SELECT explode(sequence(0, (SELECT d - 1 FROM d))) AS i)
),
pwv AS (
  SELECT p, transform(array_sort(collect_list(struct(i, w))),
                      x -> cast(x.w as double)) AS wvec
  FROM pw GROUP BY p
),
dots AS (
  SELECT e.vec_id, pwv.p,
         aggregate(zip_with(e.embedding, pwv.wvec,
                            (x, y) -> coalesce(cast(x as double) * y,
                                               cast(0 as double))),
                   cast(0 as double), (acc, z) -> acc + z) AS dot
  FROM embeddings e CROSS JOIN pwv
)
SELECT vec_id, cast({signs} as bigint) AS bucket
FROM dots GROUP BY vec_id ORDER BY vec_id
"""
    return f"""
WITH e AS ({_vec_expand(dialect)}),
planes AS (SELECT unnest(range(0, {n_planes})) AS p),
pw AS (
  SELECT p, i, ({h} % 1001 - 500) AS w
  FROM planes CROSS JOIN (SELECT DISTINCT i FROM e) dims
),
dots AS (
  SELECT e.vec_id, pw.p, sum(e.v * pw.w) AS dot
  FROM e JOIN pw ON pw.i = e.i
  GROUP BY e.vec_id, pw.p
)
SELECT vec_id, cast({signs} as bigint) AS bucket
FROM dots GROUP BY vec_id ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# The catalog. name -> (spark_callable, duck_oracle_sql_or_None)
# --------------------------------------------------------------------------

def build_catalog() -> dict[str, tuple[Callable, str | None]]:
    c: dict[str, tuple[Callable, str | None]] = {}

    # --- scan / filter / projection (A1, B1, B2) ---
    c["scan_filter_project"] = _sql("""
SELECT doc_id, source, n_chars FROM documents
WHERE lang = 'en' AND n_chars > 200
ORDER BY doc_id""")

    c["point_lookup"] = _sql("""
SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42""")

    # --- aggregation: partial+final hash agg (TPC-H Q1 shape) ---
    c["pricing_summary"] = _sql("""
SELECT l_returnflag, l_linestatus,
       round(cast(sum(cast(l_quantity as decimal(18,2))) as double), 2)
         AS sum_qty,
       round(cast(sum(cast(l_extendedprice as decimal(18,2))) as double), 2)
         AS sum_base_price,
       round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
           cast(1 - l_discount as decimal(18,2))) as double), 2)
         AS sum_disc_price,
       round(cast(avg(cast(l_quantity as decimal(18,2))) as double), 4)
         AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""")

    # --- joins ---
    c["join_revenue_by_nation"] = _sql("""
SELECT n.n_name AS nation,
       round(cast(sum(cast(l.l_extendedprice as decimal(18,2)) *
           cast(1 - l.l_discount as decimal(18,2))) as double), 2) AS revenue,
       count(*) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY revenue DESC, nation""")

    c["broadcast_dim_join"] = _sql("""
SELECT r.r_name AS region, count(*) AS n_customers,
       round(cast(sum(cast(c.c_acctbal as decimal(18,2))) as double), 2)
         AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name ORDER BY r.r_name""")

    c["semi_join_exists"] = _sql("""
SELECT c_mktsegment, count(*) AS n_with_orders
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment ORDER BY c_mktsegment""")

    c["anti_join_missing"] = _sql("""
SELECT c.c_custkey, c.c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c.c_custkey""")

    c["shipping_priority"] = _sql("""
SELECT o.o_orderkey,
       round(cast(sum(cast(l.l_extendedprice as decimal(18,2)) *
           cast(1 - l.l_discount as decimal(18,2))) as double), 2) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND l.l_shipdate > timestamp '1995-03-15 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey LIMIT 20""")

    c["parts_by_brand"] = _sql("""
SELECT p.p_brand, p.p_type, count(*) AS n_parts,
       round(cast(sum(cast(p.p_retailprice as decimal(18,2))) as double), 2)
         AS total_price,
       max(p.p_size) AS max_size
FROM part p
WHERE p.p_size BETWEEN 1 AND 25
GROUP BY p.p_brand, p.p_type
ORDER BY p_brand, p_type""")

    c["supplier_lineitem_volume"] = _sql("""
SELECT s.s_name, n.n_name AS nation, count(*) AS n_items,
       round(cast(sum(cast(l.l_quantity as decimal(18,2))) as double), 2)
         AS total_qty
FROM supplier s
JOIN lineitem l ON l.l_suppkey = s.s_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY s.s_name, n.n_name
ORDER BY total_qty DESC, s_name LIMIT 25""")

    # --- window functions ---
    c["window_rank_per_source"] = _sql("""
SELECT source, doc_id, n_chars, rk FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents) t
WHERE rk <= 3 ORDER BY source, rk""")

    # analytic (lag) + sliding frame over one shared WINDOW clause
    c["window_analytic_frame"] = _sql("""
SELECT event_id, user_id,
       round(value - lag(value) OVER w, 6) AS delta,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS sliding_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id""")

    c["dedup_latest_event"] = _sql("""
SELECT user_id, event_id AS last_event_id, value AS last_value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1 ORDER BY user_id""")

    c["sessionize_events"] = _sql("""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN unix_timestamp(cast(ts as timestamp)) -
                   unix_timestamp(cast(lag(ts) OVER w as timestamp)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id,
         cast(sum(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) as bigint) AS session_no
  FROM flagged
)
SELECT user_id, session_no, count(*) AS n_events
FROM sess GROUP BY user_id, session_no
ORDER BY user_id, session_no""",
        duck_sql="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id,
         cast(sum(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) as bigint) AS session_no
  FROM flagged
)
SELECT user_id, session_no, count(*) AS n_events
FROM sess GROUP BY user_id, session_no
ORDER BY user_id, session_no""")

    # --- set operations (UNION / INTERSECT / EXCEPT), tagged per op ---
    c["set_ops"] = _sql("""
SELECT 'union' AS op, doc_id FROM (
  SELECT doc_id FROM documents WHERE lang = 'en'
  UNION
  SELECT doc_id FROM documents WHERE n_chars > 400) u
UNION ALL
SELECT 'intersect' AS op, doc_id FROM (
  SELECT doc_id FROM documents WHERE lang = 'en'
  INTERSECT
  SELECT doc_id FROM documents WHERE n_chars > 300) i
UNION ALL
SELECT 'except' AS op, doc_id FROM (
  SELECT doc_id FROM documents WHERE n_chars > 300
  EXCEPT
  SELECT doc_id FROM documents WHERE lang = 'en') x
ORDER BY op, doc_id""")

    # --- rollup / cube / grouping sets ---
    # grouping sets superset of ROLLUP(lang, source): adds the (source)
    # slice; integer SUM cast to bigint in both dialects (HUGEINT rule).
    c["rollup_metrics"] = _sql("""
SELECT lang, source, count(*) AS n_docs,
       cast(sum(n_chars) as bigint) AS total_chars
FROM documents
GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
ORDER BY lang NULLS FIRST, source NULLS FIRST""")

    # --- date/time functions (date_trunc day + hour bucketing) ---
    c["date_funcs"] = _sql("""
SELECT cast(cast(date_trunc('day', ts) as date) as string) AS day,
       hour(ts) AS hr,
       count(*) AS n, round(sum(value), 4) AS total_value
FROM events
GROUP BY cast(cast(date_trunc('day', ts) as date) as string), hour(ts)
ORDER BY day, hr""")

    # --- array functions: size/distinct + higher-order filter/transform ---
    c["array_funcs"] = _sql("""
SELECT doc_id,
       size(split(text, ' ')) AS n_tokens,
       size(array_distinct(split(text, ' '))) AS n_unique_tokens,
       size(filter(split(text, ' '), x -> length(x) > 5)) AS n_long_tokens,
       aggregate(transform(split(text, ' '), x -> length(x)), 0,
                 (acc, v) -> acc + v) AS total_token_chars
FROM documents ORDER BY doc_id""",
        duck_sql="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
       len(list_filter(string_split(text, ' '),
                       x -> length(x) > 5)) AS n_long_tokens,
       cast(list_sum(list_transform(string_split(text, ' '),
                     x -> length(x))) as int) AS total_token_chars
FROM documents ORDER BY doc_id""")

    c["explode_top_tokens"] = _sql("""
SELECT tok, count(*) AS n FROM (
  SELECT explode(split(text, ' ')) AS tok FROM documents) t
GROUP BY tok ORDER BY n DESC, tok LIMIT 20""",
        duck_sql="""
SELECT tok, count(*) AS n FROM (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
GROUP BY tok ORDER BY n DESC, tok LIMIT 20""")

    # --- map functions (exam map<string,string> shape, SURVEY.md §2D) ---
    # Spark side builds, explodes, and key/value-lists a real MapType
    # column; the oracle only reproduces the same rows.
    c["map_funcs"] = _sql("""
SELECT doc_id, key, value, keys_csv, values_csv FROM (
  SELECT doc_id,
         explode(map('lang', lang, 'source', source)) AS (key, value),
         concat_ws(',', map_keys(map('lang', lang, 'source', source)))
           AS keys_csv,
         concat_ws(',', map_values(map('lang', lang, 'source', source)))
           AS values_csv
  FROM documents) t
ORDER BY doc_id, key""",
        duck_sql="""
SELECT doc_id, 'lang' AS key, lang AS value,
       'lang,source' AS keys_csv, concat(lang, ',', source) AS values_csv
FROM documents
UNION ALL
SELECT doc_id, 'source' AS key, source AS value,
       'lang,source' AS keys_csv, concat(lang, ',', source) AS values_csv
FROM documents
ORDER BY doc_id, key""")

    # --- collect aggregation (deterministic via sort) ---
    c["collect_sources_per_lang"] = _sql("""
SELECT lang,
       concat_ws(',', sort_array(collect_set(source))) AS sources_csv,
       count(*) AS n_docs
FROM documents GROUP BY lang ORDER BY lang""",
        duck_sql="""
SELECT lang,
       array_to_string(list_sort(list(DISTINCT source)), ',') AS sources_csv,
       count(*) AS n_docs
FROM documents GROUP BY lang ORDER BY lang""")

    # --- approximate aggregation. HLL impls differ across engines, so
    # the oracle checks (a) the exact companion value-exactly and (b)
    # that the Spark-side HLL estimate (rsd=0.01) lands within a 5%
    # band of exact — encoded as a boolean the oracle asserts true.
    c["approx_count_distinct"] = _sql("""
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       CASE WHEN abs(approx_count_distinct(user_id, 0.01)
                     - count(DISTINCT user_id))
                 <= ceil(0.05 * count(DISTINCT user_id))
            THEN 1 ELSE 0 END AS approx_within_5pct
FROM events GROUP BY event_type ORDER BY event_type""",
        duck_sql="""
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       1 AS approx_within_5pct
FROM events GROUP BY event_type ORDER BY event_type""")

    # --- json functions (events.props; A8 defensive ingest) ---
    # from_json with an explicit schema beats get_json_object (regex
    # path-eval per row) and exercises the PERMISSIVE ingest mode
    c["json_extract_props"] = _sql("""
SELECT event_type,
       cast(sum(from_json(props, 'k BIGINT').k) as bigint) AS k_sum,
       count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type""",
        duck_sql="""
SELECT event_type,
       cast(sum(cast(json_extract_string(props, '$.k') as bigint))
            as bigint) AS k_sum,
       count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type""")

    # ---------------------------------------------------------------
    # Training-data pipeline operators
    # ---------------------------------------------------------------

    # exact dedup (hash-groupBy)
    c["dedup_exact"] = _sql("""
SELECT md5(text) AS fingerprint, count(*) AS n_copies,
       min(doc_id) AS keeper_doc_id
FROM documents GROUP BY md5(text)
ORDER BY keeper_doc_id""")

    # IVF ANN (operators/ivf.py) at full probe — nprobe = n_cells
    # reproduces brute-force cosine top-k EXACTLY (the approximation is
    # only the probe set), so the brute-force SQL is a value-exact
    # oracle; pruned-probe recall contracts live in tests/test_ivf.py.
    # (Replaced doc_fingerprint, which was redundant with dedup_exact.)
    def _run_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .ivf import ivf_topk
        return ivf_topk(spark, sf_dir, n_queries=3, k=5, n_cells=16,
                        nprobe=16, dim=64)
    c["ivf_topk"] = (_run_ivf, _ann_topk_sql("duck"))

    # MinHash signatures
    c["minhash_signatures"] = _sql(_minhash_sql("spark"),
                                   duck_sql=_minhash_sql("duck"))

    # SimHash
    c["simhash"] = _sql(_simhash_sql("spark"), duck_sql=_simhash_sql("duck"))

    # incremental-dedup band index (operators/incremental.py): per-doc
    # MinHash band signatures, the append-only index row format of the
    # batch-vs-corpus near-dup workflow. (Replaced shingle_stats, which
    # ngram_jaccard_pairs subsumes; the zero-join, zero-exchange shape of
    # _shingle_rel is asserted in tests/test_functions_plans.py.)
    def _run_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .incremental import band_signatures
        register_views(spark, sf_dir)
        return (band_signatures(spark, spark.table("documents"))
                .orderBy("doc_id", "band_id"))
    from .incremental import band_signatures_sql as _bands_sql
    c["band_signatures"] = (_run_bands, _bands_sql("duck"))

    # n-gram Jaccard near-dup pairs — fast shared builder (guide
    # §2.3/§4.2); _ngram_jaccard_sql("spark") stays as the executable
    # reference, the DuckDB oracle is unchanged
    c["ngram_jaccard_pairs"] = (_q_ngram_jaccard_pandas,
                                _ngram_jaccard_sql("duck"))

    # embedding cosine near-dup — numpy-vectorized runner (guide §4.2);
    # _cosine_pairs_sql("spark") stays as the executable reference the
    # plan/parity tests cross-check, the DuckDB oracle is unchanged
    c["embedding_neardup_pairs"] = (_q_embedding_neardup_pandas,
                                    _cosine_pairs_sql("duck"))

    # ANN top-k (brute-force baseline)
    c["ann_topk_bruteforce"] = _sql(_ann_topk_sql("spark"),
                                    duck_sql=_ann_topk_sql("duck"))

    # ANN scale path: LSH buckets
    c["ann_lsh_buckets"] = _sql(_lsh_bucket_sql("spark"),
                                duck_sql=_lsh_bucket_sql("duck"))

    # int8 embedding quantization (faiss-SQ8 recipe, zero-shuffle map).
    # (Replaced paginated_scan, subsumed by shipping_priority's
    # sort+limit and scan_filter_project's pushdown row.)
    def _run_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .quantize import quantize_sql
        register_views(spark, sf_dir)
        return spark.sql(quantize_sql("spark", as_csv=True))
    from .quantize import quantize_sql as _quant_sql
    c["quantize_int8"] = (_run_quantize, _quant_sql("duck", as_csv=True))

    # corpus-unigram LM scoring (CCNet-style quality signal).
    # (Replaced filtered_count, subsumed by pricing_summary /
    # approx_count_distinct's agg coverage.)
    def _run_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .lm_score import unigram_logprob
        return unigram_logprob(spark, sf_dir)
    from .lm_score import unigram_logprob_sql as _unigram_sql
    c["unigram_logprob"] = (_run_unigram, _unigram_sql("duck"))

    # cross-document repeated-span detection (exact-substring dedup
    # family). (Replaced distinct_langs, subsumed by
    # collect_sources_per_lang's grouping row.)
    def _run_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .spans import repeated_spans
        return repeated_spans(spark, sf_dir)
    from .spans import repeated_spans_sql as _spans_sql
    c["repeated_spans"] = (_run_spans, _spans_sql("duck"))

    # token counting (whitespace + BPE-ish subword estimate)
    c["token_count"] = _sql("""
SELECT doc_id,
       size(split(text, ' ')) AS ws_tokens,
       cast(ceil(length(replace(text, ' ', '')) / 4.0) as bigint)
         AS bpe_est_tokens
FROM documents ORDER BY doc_id""",
        duck_sql="""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       cast(ceil(length(replace(text, ' ', '')) / 4.0) as bigint)
         AS bpe_est_tokens
FROM documents ORDER BY doc_id""")

    # quality scoring (length / punct / stopword ratios)
    c["quality_score"] = _sql("""
SELECT doc_id,
       round(cast(size(filter(split(text, ' '),
             x -> x IN ('the','and','of','to','a','in'))) as double)
             / size(split(text, ' ')), 6) AS stopword_ratio,
       round(cast(length(regexp_replace(text, '[a-z0-9 ]', '')) as double)
             / length(text), 6) AS punct_ratio,
       round(cast(length(text) as double)
             / size(split(text, ' ')), 6) AS mean_token_len
FROM documents ORDER BY doc_id""",
        duck_sql="""
SELECT doc_id,
       round(cast(len(list_filter(string_split(text, ' '),
             x -> x IN ('the','and','of','to','a','in'))) as double)
             / len(string_split(text, ' ')), 6) AS stopword_ratio,
       round(cast(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) as double)
             / length(text), 6) AS punct_ratio,
       round(cast(length(text) as double)
             / len(string_split(text, ' ')), 6) AS mean_token_len
FROM documents ORDER BY doc_id""")

    # language-ID heuristic (stopword votes)
    _langid = """
SELECT doc_id,
       CASE greatest(en_hits, it_hits, de_hits, es_hits)
         WHEN 0 THEN 'und'
         WHEN en_hits THEN 'en'
         WHEN it_hits THEN 'it'
         WHEN de_hits THEN 'de'
         ELSE 'es' END AS predicted_lang
FROM (
  SELECT doc_id,
    {LEN}({FILTER}({SPLIT}, x -> x IN ('the','and','of','is','that'))) AS en_hits,
    {LEN}({FILTER}({SPLIT}, x -> x IN ('il','di','che','la','non'))) AS it_hits,
    {LEN}({FILTER}({SPLIT}, x -> x IN ('der','und','die','ist','das'))) AS de_hits,
    {LEN}({FILTER}({SPLIT}, x -> x IN ('el','de','la','que','es'))) AS es_hits
  FROM documents) t
ORDER BY doc_id"""
    c["lang_id_heuristic"] = _sql(
        _langid.format(LEN="size", FILTER="filter", SPLIT="split(text, ' ')"),
        duck_sql=_langid.format(LEN="len", FILTER="list_filter",
                                SPLIT="string_split(text, ' ')"))

    # ---------------------------------------------------------------
    # Past the driver's first-50 window (r4 rotations): still part of
    # the public catalog and pytest-parity-checked, but their driver
    # slots went to quantize_int8 / unigram_logprob / repeated_spans;
    # cube_event_counts' slot went to rasterize_pages (A3) — the
    # grouping-sets machinery it exercises stays driver-covered by
    # rollup_metrics (GROUPING SETS superset). The second r4 rotation
    # demoted topk_largest_docs (sort+limit subsumed by
    # shipping_priority / supplier_lineitem_volume), string_funcs
    # (regexp/substr/concat exercised by lang_id_heuristic /
    # quality_score / pii in-window), and math_funcs (round/sqrt/mod
    # arithmetic exercised by pricing_summary / embed_checksum /
    # quantize_int8) to make room for the oracle-paired codec queries
    # pdf_image_metadata / mp3_metadata / h264_metadata.
    # ---------------------------------------------------------------
    c["cube_event_counts"] = _sql("""
SELECT event_type,
       cast(cast(date_trunc('day', ts) as date) as string) AS day,
       count(*) AS n_events
FROM events
GROUP BY CUBE (event_type, cast(cast(date_trunc('day', ts) as date) as string))
ORDER BY event_type NULLS FIRST, day NULLS FIRST""")

    c["distinct_langs"] = _sql("""
SELECT DISTINCT lang, source FROM documents ORDER BY lang, source""")

    # pagination (B3)
    c["paginated_scan"] = _sql("""
SELECT doc_id, source, n_chars FROM documents
ORDER BY doc_id LIMIT 50 OFFSET 100""")

    # counts (B9)
    c["filtered_count"] = _sql("""
SELECT lang, count(*) AS n_docs,
       count(DISTINCT source) AS n_sources
FROM documents WHERE n_chars > 100 GROUP BY lang ORDER BY lang""")

    # sort / limit / top-k
    c["topk_largest_docs"] = _sql("""
SELECT doc_id, source, n_chars FROM documents
ORDER BY n_chars DESC, doc_id LIMIT 10""")

    # string functions incl. regexp (A7' mapper building blocks)
    c["string_funcs"] = _sql("""
SELECT doc_id,
       length(text) AS text_len,
       upper(substring(text, 1, 8)) AS head_upper,
       trim(concat_ws('|', lang, source)) AS lang_source,
       replace(substring(text, 1, 20), ' ', '_') AS head_snake,
       regexp_extract(text, '([a-z]+)', 1) AS first_word
FROM documents ORDER BY doc_id""")

    # math functions
    c["math_funcs"] = _sql("""
SELECT o_orderkey,
       round(o_totalprice, 1) AS rounded_price,
       round(sqrt(abs(o_totalprice)), 6) AS sqrt_price,
       mod(o_orderkey, 7) AS key_mod
FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""")

    return c
