"""Benchmark decontamination: flag corpus documents that share an
n-gram with an evaluation set.

The standard LLM-training hygiene step (n-gram collision
decontamination, as published for GPT-3/PaLM-class training runs):
before training, any document containing a long-enough n-gram from a
held-out benchmark is flagged (and usually dropped) so eval numbers
stay meaningful.

Scale shape: the EVAL side is tiny (thousands of documents) next to the
100 TB corpus — its distinct shingle set is broadcast, the corpus side
streams through a map-side hash join, and NO corpus shuffle happens
before the distinct-doc aggregation of the (rare) collisions. Both
shingle sets come from the dedup operators' per-document map
(``kernels/shingle.py`` through ``catalog._doc_rows``): the per-doc set
is the DISTINCT, so no exchange is paid for it. ``_shingle_rel`` builds
the same shingles for the SQL reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.shingle import shingles
from .catalog import _doc_rows, _shingle_rel, _spread

__all__ = ["contaminated_docs_sql", "contaminated_docs"]


def contaminated_docs_sql(dialect: str, n: int = 8,
                          table: str = "documents",
                          eval_table: str = "eval_docs") -> str:
    """doc_ids of ``table`` rows sharing any ``n``-gram with
    ``eval_table`` (both need doc_id + text), with the collision count
    as evidence. Emitted for Spark and DuckDB from one builder."""
    return f"""
WITH corpus_sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM ({_shingle_rel(dialect, n=n, table=table)})
),
eval_sh AS (
  SELECT DISTINCT shingle
  FROM ({_shingle_rel(dialect, n=n, table=eval_table)})
)
SELECT c.doc_id,
       cast(count(*) as bigint) AS n_hits
FROM corpus_sh c JOIN eval_sh e ON c.shingle = e.shingle
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


def contaminated_docs(spark: SparkSession, corpus: DataFrame,
                      eval_docs: DataFrame, n: int = 8) -> DataFrame:
    """(doc_id, n_hits) for corpus docs colliding with the eval set.
    The eval shingle set is explicitly broadcast — the corpus never
    shuffles and pays no DISTINCT exchange (its shingle rows are
    per-doc sets). Shingles stay STRINGS, so the join has no
    hash-collision exposure."""
    def rows(text):
        return (set(shingles(text, n)),)

    corpus_sh = _doc_rows(_spread(spark, corpus), rows, "shingle string")
    eval_sh = _doc_rows(eval_docs, rows, "shingle string") \
        .select("shingle").distinct()
    return (corpus_sh.join(F.broadcast(eval_sh), "shingle")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_hits"))
            .orderBy("doc_id"))
