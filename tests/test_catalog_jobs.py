"""Warm Spark job counts of the catalog's dedup entries and the view
cache under them: a repeat ``register_views`` on unchanged files runs
no job on any corpus, a rewritten table file is re-registered, and the
band signatures keep their ``ORDER BY doc_id, band_id`` contract."""

import os
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from resume_parser_service_spark.operators.catalog import (  # noqa: E402
    _REGISTERED, build_catalog, register_views)

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.exists(SF_DIR),
                                reason="driver testdata not present")


def _jobs(spark, group, fn) -> int:
    """Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_view_cache_hits_on_documents_only_corpus(spark, tmp_path):
    """A corpus without the TPC-H tables (a real documents-only corpus)
    still hits the cache; rewriting documents.parquet re-registers it
    and the view serves the new rows."""
    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    sf_dir = str(tmp_path)
    pq.write_table(docs.slice(0, 20), f"{sf_dir}/documents.parquet")
    pq.write_table(pq.read_table(f"{SF_DIR}/embeddings.parquet").slice(0, 20),
                   f"{sf_dir}/embeddings.parquet")
    _REGISTERED.pop(id(spark), None)
    try:
        register_views(spark, sf_dir)
        assert _jobs(spark, "view_cache_hit",
                     lambda: register_views(spark, sf_dir)) == 0
        pq.write_table(docs.slice(0, 7), f"{sf_dir}/documents.parquet")
        assert _jobs(spark, "view_cache_rewrite",
                     lambda: register_views(spark, sf_dir)) > 0
        assert spark.table("documents").count() == 7
    finally:
        _REGISTERED.pop(id(spark), None)


@pytest.mark.parametrize("name,max_jobs", [
    # the shingle kernel's stage feeds only the group exchange: 8 jobs
    # when per-doc sizes were a second consumer of the kernel
    ("ngram_jaccard_pairs", 6),
    # hash exchange, range sample over its output, range exchange,
    # result: the kernel runs in the first only
    ("band_signatures", 5),
])
def test_dedup_query_job_count(spark, name, max_jobs):
    """One warm call of a dedup entry at sf0.001 runs at most
    ``max_jobs`` Spark jobs."""
    fn = build_catalog()[name][0]
    fn(spark, SF_DIR).collect()  # views registered, classes compiled
    assert _jobs(spark, f"test_{name}_job_count",
                 lambda: fn(spark, SF_DIR).collect()) <= max_jobs


def test_band_signatures_rows_in_doc_band_order(spark):
    """The catalog entry returns the band rows ordered by (doc_id,
    band_id), equal row for row to the DuckDB oracle's ordered list."""
    fn, oracle = build_catalog()["band_signatures"]
    got = [tuple(r) for r in fn(spark, SF_DIR).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * "
                f"FROM '{SF_DIR}/documents.parquet'")
    assert got == con.execute(oracle).fetchall()
    assert got == sorted(got)
