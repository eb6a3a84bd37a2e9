"""Incremental near-dup dedup: new batch vs a persisted band index.

The realistic 100 TB workflow is NOT "re-cluster the world" — it is
"does tonight's crawl contain near-duplicates of anything already in
the corpus?". The standard answer (MinHash + LSH banding, as in the
batch pair generators in ``catalog.py``) becomes incremental by
persisting each document's band signatures as an append-only index:

1. ``band_signatures`` — per doc: ``n_hashes`` shingle-MinHash values
   folded into ``n_hashes / rows_per_band`` band hashes. One row per
   (doc, band). Pure map + one per-doc aggregation, no joins.
2. ``match_against_index`` — candidate pairs (new doc, indexed doc)
   that collide in >= 1 band. The new batch is tiny next to the index,
   so the BATCH side is broadcast and the index only streams through a
   map-side hash join: zero shuffle of the index, ever.
3. Novel docs = batch anti-join candidates; their bands are appended to
   the index for the next batch. The index never rewrites.

Probability of catching a true near-dup pair with Jaccard similarity s:
``1 - (1 - s^rows_per_band) ^ n_bands`` — the defaults (8 hashes, 2
rows/band -> 4 bands) catch s=0.8 pairs w.p. ~0.98. Collisions are
*candidates*; exact verification (shingle Jaccard, as in
``ngram_jaccard_pairs``) runs on the candidate set only.

Cross-engine parity: the signature SQL is emitted for both Spark and
DuckDB from the same builder (tests/test_incremental.py), so the
classification is engine-portable like every other catalog operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.shingle import hash60, minhash, shingles
from .catalog import _doc_rows, _hash60, _shingle_rel, _spread

__all__ = ["band_signatures_sql", "band_signatures",
           "match_against_index", "split_batch"]


def band_signatures_sql(dialect: str, table: str = "documents",
                        n_hashes: int = 8, rows_per_band: int = 2) -> str:
    """(doc_id, band_id, band_hash) — one row per document band."""
    if n_hashes % rows_per_band:
        raise ValueError("n_hashes must divide into bands evenly")
    cast_t = "string" if dialect == "spark" else "varchar"
    mins = ",\n    ".join(
        "min({h}) AS mh{i}".format(
            h=_hash60(f"concat('s{i}#', shingle)", dialect), i=i)
        for i in range(n_hashes))
    bands = []
    for b in range(n_hashes // rows_per_band):
        parts = ", '#', ".join(
            f"cast(mh{b * rows_per_band + r} as {cast_t})"
            for r in range(rows_per_band))
        bh = _hash60(f"concat('b{b}#', {parts})", dialect)
        bands.append(f"SELECT doc_id, {b} AS band_id, {bh} AS band_hash "
                     f"FROM sig")
    union = "\nUNION ALL\n".join(bands)
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM ({_shingle_rel(dialect, table=table)})
),
sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
)
{union}
ORDER BY doc_id, band_id
"""


def band_signatures(spark: SparkSession, docs: DataFrame,
                    n_hashes: int = 8, rows_per_band: int = 2) -> DataFrame:
    """Band signatures for an arbitrary (doc_id, text) DataFrame, in no
    particular order.

    One map stage (``catalog._doc_rows``): per doc the distinct
    shingle set, its ``n_hashes`` seeded MinHash minima
    (``kernels.shingle.minhash``) folded into band hashes. The SQL
    formulation (``band_signatures_sql``, kept as the executable
    reference and DuckDB oracle source) paid a DISTINCT exchange, a
    per-doc aggregation exchange, and ~n_hashes JVM md5-expression
    evaluations per shingle fanned out across ``n_bands`` inlined union
    branches; this pays one exchange, of the band rows (measured
    4.3 s -> sub-second at sf1.0).

    The rows come back unordered, hash-partitioned by ``doc_id``. The
    exchange is what lets adaptive execution coalesce a small batch's
    bands into few partitions, so an index commit writes few files
    (without it, one file per kernel task).
    It also keeps a sort off the kernel: an ``orderBy`` right above
    it re-ran the kernel for its range-partition sample, while above
    the exchange the sample reads the shuffled band rows. The index
    commit, the collision join and the streaming consumer need no
    order; the catalog entry sorts."""
    if n_hashes % rows_per_band:
        raise ValueError("n_hashes must divide into bands evenly")
    seeds = [f"s{i}#".encode() for i in range(n_hashes)]

    def rows(text):
        sh = {s.encode() for s in shingles(text, 5)}
        if not sh:
            return (), ()
        mins = [str(m) for m in minhash(sh, seeds)]
        bands = ["#".join(mins[lo:lo + rows_per_band])
                 for lo in range(0, n_hashes, rows_per_band)]
        return (range(len(bands)),
                [hash60(f"b{b}#{parts}".encode())
                 for b, parts in enumerate(bands)])

    return (_doc_rows(_spread(spark, docs), rows,
                      "band_id int, band_hash bigint")
            .repartition("doc_id"))


def _collisions(new_bands: DataFrame,
                index_bands: DataFrame) -> DataFrame:
    """Raw band collisions (doc_id, dup_of) incl. self-matches. The
    batch side is explicitly broadcast — the index streams map-side and
    is NEVER shuffled; everything downstream (pairs, replay detection)
    derives from this one join so no second index pass exists."""
    idx = index_bands.select(
        F.col("doc_id").alias("dup_of"), "band_id", "band_hash")
    return (idx.join(F.broadcast(new_bands), ["band_id", "band_hash"])
            .select("doc_id", "dup_of").distinct())


def seen_and_pairs(new_bands: DataFrame, index_bands: DataFrame
                   ) -> tuple[DataFrame, DataFrame]:
    """(seen, pairs) from one broadcast collision join:

    - ``seen``: batch doc_ids ALREADY in the index under the same id —
      a replayed batch (crash between the bands commit and the
      processed-keys commit). Detected as exact self-matches
      (identical id -> identical deterministic bands), zero extra
      index scans.
    - ``pairs``: near-dup candidates against a DIFFERENT indexed doc,
      with replayed docs excluded entirely — a replayed doc was
      already classified by its original run; re-flagging it against
      its own batch siblings (now in the index) would let a
      drop-near-dups export delete EVERY copy of a family."""
    hits = _collisions(new_bands, index_bands)
    seen = (hits.filter(F.col("doc_id") == F.col("dup_of"))
            .select("doc_id"))
    pairs = (hits.filter(F.col("doc_id") != F.col("dup_of"))
             .join(seen, "doc_id", "left_anti"))
    return seen, pairs


def match_against_index(new_bands: DataFrame,
                        index_bands: DataFrame) -> DataFrame:
    """Candidate near-dup pairs (doc_id, dup_of): batch docs colliding
    with a DIFFERENT indexed doc in >= 1 band; replayed (already
    indexed) batch docs are excluded — see ``seen_and_pairs``."""
    return seen_and_pairs(new_bands, index_bands)[1]


def split_batch(new_docs: DataFrame, new_bands: DataFrame,
                index_bands: DataFrame) -> tuple[DataFrame, DataFrame,
                                                 DataFrame]:
    """(novel_docs, dup_pairs, updated_index): classify the batch and
    grow the index by the novel docs' bands — append-only, no rewrite.

    Non-novel = near-dup of a DIFFERENT indexed doc (in ``dup_pairs``)
    OR already indexed under the same id (a replayed batch — e.g. a
    crash between the index commit and the processed-keys commit).
    Replayed ids are neither flagged nor re-appended, so replays cannot
    poison the index or the dup policy; replay detection comes from the
    SAME broadcast collision join as the pairs (no extra index scan)."""
    seen, pairs = seen_and_pairs(new_bands, index_bands)
    non_novel = pairs.select("doc_id").unionByName(seen).distinct()
    novel = new_docs.join(non_novel, "doc_id", "left_anti")
    novel_bands = new_bands.join(non_novel, "doc_id", "left_anti")
    return novel, pairs, index_bands.unionByName(novel_bands)
