"""Cross-document repeated-SPAN detection and removal — the exact
substring family of dedup (Lee et al. 2021 "Deduplicating Training
Data", RefinedWeb's exact-substring pass), distinct from the document-
level near-dup operators: boilerplate sentences repeat ACROSS documents
that are not duplicates of each other, and span removal is what
shrinks the memorized-text tail.

Suffix arrays don't distribute; the standard scalable stand-in is
n-gram anchoring: a ``span_ngram``-token window whose hash occurs in
>= ``min_df`` documents marks a repeated span; overlapping marks merge
into maximal intervals (gaps-and-islands with a running-max window —
per-doc windows over position-sorted rows, partial-aggregated
upstream).

Scale shape: shingle construction is the zero-shuffle array-slicing
map from the catalog; the df aggregation shuffles HASHES only
(map-side partials over Zipf-skewed keys); flagged hashes join back to
the position stream keyed on the hash. The interval merge windows
partition by doc_id — rows per doc are bounded by doc length.

Span DETECTION is dialect-paired (Spark == DuckDB, value-exact,
tests/test_spans.py). Span REMOVAL rebuilds the text with flagged
token ranges dropped via JVM higher-order functions (filter +
exists over the merged span array) — Spark-side only, checked against
planted documents with hand-computed surviving text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.shingle import hash60, shingles
from .catalog import _doc_rows, _hash60, _spread, _tokens, register_views

__all__ = ["repeated_spans_sql", "repeated_spans", "drop_repeated_spans"]


def repeated_spans_sql(dialect: str, table: str = "documents",
                       span_ngram: int = 16, min_df: int = 2,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    """(doc_id, span_start, span_end) — merged maximal token intervals
    covered by ``span_ngram``-grams occurring in >= ``min_df`` docs.
    Token positions are 0-based, ``span_end`` inclusive."""
    toks = _tokens(text_col, dialect)
    n = span_ngram
    if dialect == "spark":
        pos_sh = f"""
  SELECT {id_col}, pos,
         {_hash60("concat_ws(' ', slice(toks, pos + 1, " + str(n) + "))",
                  dialect)} AS h
  FROM (SELECT {id_col}, {toks} AS toks FROM {table})
  LATERAL VIEW explode(CASE WHEN size(toks) >= {n}
      THEN sequence(0, size(toks) - {n}) ELSE array() END) t AS pos"""
    else:
        pos_sh = f"""
  SELECT {id_col}, pos,
         {_hash60(f"array_to_string(toks[pos + 1:pos + {n}], ' ')",
                  dialect)} AS h
  FROM (SELECT {id_col}, {toks} AS toks FROM {table}),
       unnest(CASE WHEN len(toks) >= {n}
              THEN range(0, len(toks) - {n} + 1) ELSE [] END) AS u(pos)"""
    return f"""
WITH pos_sh AS ({pos_sh}),
df AS (
  SELECT h FROM (
    SELECT h, count(DISTINCT {id_col}) AS docs FROM pos_sh GROUP BY h
  ) WHERE docs >= {min_df}
),
flagged AS (
  SELECT p.{id_col}, p.pos, p.pos + {n - 1} AS pend
  FROM pos_sh p JOIN df ON p.h = df.h
),
islands AS (
  SELECT {id_col}, pos, pend,
         CASE WHEN max(pend) OVER (
                PARTITION BY {id_col} ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              >= pos - 1
              THEN 0 ELSE 1 END AS is_start
  FROM flagged
),
grouped AS (
  SELECT {id_col}, pos, pend,
         sum(is_start) OVER (PARTITION BY {id_col} ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS island
  FROM islands
)
SELECT {id_col},
       cast(min(pos) as bigint) AS span_start,
       cast(max(pend) as bigint) AS span_end
FROM grouped GROUP BY {id_col}, island
ORDER BY {id_col}, span_start
"""


def _spans_frame(docs: DataFrame, n: int, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Merged repeated-span intervals for ``min_df=2`` — identical rows
    to ``repeated_spans_sql`` (the executable reference / oracle
    source). Restructured per guide §2.3/§2.4: the df flag
    ``count(DISTINCT doc) >= 2`` is exactly ``min(doc) != max(doc)``
    over the hash partition, so one window pass replaces the SQL's
    groupBy(h) + join back (which re-shuffled the position stream);
    the (id, pos, hash60) rows come from ``catalog._doc_rows``."""
    from pyspark.sql.window import Window

    def rows(text):
        hs = [hash60(s.encode()) for s in shingles(text, n)]
        return range(len(hs)), hs

    pos = _doc_rows(_spread(docs.sparkSession, docs), rows,
                    "pos bigint, h bigint", id_col, text_col)
    wh = Window.partitionBy("h")
    flagged = (pos
               .withColumn("_mn", F.min(id_col).over(wh))
               .withColumn("_mx", F.max(id_col).over(wh))
               .where(F.col("_mn") != F.col("_mx"))
               .select(id_col, "pos",
                       (F.col("pos") + (n - 1)).alias("pend")))
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("pend").over(
        wd.rowsBetween(Window.unboundedPreceding, -1))
    islands = flagged.withColumn(
        "is_start", F.when(prev_max >= F.col("pos") - 1, 0).otherwise(1))
    grouped = islands.withColumn(
        "island",
        F.sum("is_start").over(wd.rowsBetween(Window.unboundedPreceding, 0)))
    return (grouped.groupBy(id_col, "island")
            .agg(F.min("pos").cast("bigint").alias("span_start"),
                 F.max("pend").cast("bigint").alias("span_end"))
            .select(id_col, "span_start", "span_end")
            .orderBy(id_col, "span_start"))


def repeated_spans(spark: SparkSession, sf_dir: str,
                   span_ngram: int = 16, min_df: int = 2) -> DataFrame:
    register_views(spark, sf_dir)
    if min_df == 2:
        return _spans_frame(spark.table("documents"), span_ngram)
    # general min_df needs a true distinct-doc count per hash — keep
    # the SQL formulation for that (outside the default contract)
    return spark.sql(repeated_spans_sql("spark", span_ngram=span_ngram,
                                        min_df=min_df))


def drop_repeated_spans(docs: DataFrame, span_ngram: int = 16,
                        min_df: int = 2,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Rebuild ``text_col`` with every repeated span's tokens removed
    (``clean_text``, plus ``n_dropped_tokens``). Pure JVM array ops:
    the span list per doc is collected to an array column
    (doc-bounded), and tokens are filtered by an ``exists`` over it —
    no Python in the hot path, no extra shuffle beyond the span
    detection itself."""
    import uuid

    spark = docs.sparkSession
    if min_df == 2:
        spans = _spans_frame(docs, span_ngram, id_col=id_col,
                             text_col=text_col)
    else:
        view = f"_spans_docs_{uuid.uuid4().hex[:12]}"
        docs.createOrReplaceTempView(view)
        spans = spark.sql(repeated_spans_sql("spark", table=view,
                                             span_ngram=span_ngram,
                                             min_df=min_df, id_col=id_col,
                                             text_col=text_col))
    per_doc = (spans.groupBy(id_col)
               .agg(F.collect_list(F.struct("span_start", "span_end"))
                    .alias("_spans")))
    toks = F.split(F.col(text_col), " ")
    kept = F.filter(
        F.zip_with(toks,
                   F.sequence(F.lit(0), F.size(toks) - 1),
                   lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            "_spans",
            lambda sp: (s["i"] >= sp["span_start"]) &
                       (s["i"] <= sp["span_end"])))
    return (docs.join(per_doc, id_col, "left")
            .withColumn("_spans",
                        F.coalesce(F.col("_spans"), F.array()))
            .withColumn("clean_text",
                        F.concat_ws(" ", F.transform(kept,
                                                     lambda s: s["t"])))
            .withColumn("n_dropped_tokens",
                        F.size(toks) - F.size(kept))
            .drop("_spans"))
