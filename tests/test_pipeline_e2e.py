"""Spark-local E2E: synthetic pages -> pipeline -> byte-identical text,
audit completeness, error taxonomy, idempotent resume (SURVEY.md §5
plan item 3)."""

import pytest
from pyspark.sql import functions as F

from resume_parser_service_spark.pipeline.run import run_extraction_job
from resume_parser_service_spark.pipeline.writer import SnapshotTable
from resume_parser_service_spark.sources.pages import EDGE_URLS, build_pages_df

N_DOCS = 120


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("e2e")
    pages_path = str(root / "pages")
    build_pages_df(spark, N_DOCS).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    stats = run_extraction_job(spark, pages, str(root / "out"),
                               salt_partitions=8)
    return {"root": root, "pages": pages, "stats": stats}


def test_extraction_counts(corpus):
    stats = corpus["stats"]
    assert stats["extracted"] > N_DOCS  # base docs + dups + edge fixtures
    assert stats["rejected"] == 2  # oversize + bad magic
    assert stats["snapshot_id"] == 1


def test_byte_identity_per_url(spark, corpus):
    ext = SnapshotTable(str(corpus["root"] / "out/resumes_extracted")) \
        .read(spark)
    golden = corpus["pages"].groupBy("url") \
        .agg(F.max_by("text", "warc_ts").alias("golden"))
    joined = ext.join(golden, "url")
    n_total = joined.count()
    n_match = joined.filter(F.col("text") == F.col("golden")).count()
    assert n_total > 0
    assert n_match == n_total


def test_dedup_latest_wins(spark, corpus):
    ext = SnapshotTable(str(corpus["root"] / "out/resumes_extracted")) \
        .read(spark)
    # duplicated urls (doc_id % 50 == 1) must appear exactly once
    dup_counts = ext.groupBy("url").count().filter(F.col("count") > 1).count()
    assert dup_counts == 0


def test_audit_complete_and_taxonomy(spark, corpus):
    audit = SnapshotTable(str(corpus["root"] / "out/extraction_audit")) \
        .read(spark)
    by_status = {(r["status"], r["error_class"]): r["n"]
                 for r in audit.groupBy("status", "error_class")
                 .agg(F.count("*").alias("n")).collect()}
    assert by_status.get(("rejected", "FileTooLargeError")) == 1
    assert by_status.get(("rejected", "InvalidFileTypeError")) == 1
    # truncated + locked (real-user-password) encrypted fixture
    assert by_status.get(("error", "FileProcessingError")) == 2
    assert ("ok", None) in by_status
    # every input url appears in the audit exactly once
    n_urls = corpus["pages"].select("url").distinct().count()
    assert audit.select("url").distinct().count() == n_urls
    # lineage columns are populated for kernel rows
    ok = audit.filter(F.col("status") == "ok")
    assert ok.filter(F.col("kernel_version").isNull()).count() == 0
    assert ok.filter(F.col("partition_id").isNull()).count() == 0
    assert ok.filter(F.col("extract_ms") <= 0).count() == 0


def test_edge_fixture_metrics(spark, corpus):
    ext = SnapshotTable(str(corpus["root"] / "out/resumes_extracted")) \
        .read(spark)
    rows = {r["url"]: r for r in ext.filter(
        F.col("url").startswith("urn:fixture:")).collect()}
    assert rows[EDGE_URLS["minimal"]]["text"] == ""
    assert rows[EDGE_URLS["six_pages"]]["n_pages"] == 6
    assert rows[EDGE_URLS["links"]]["links"] == [
        "https://github.com/fixture", "https://linkedin.com/in/fixture"]
    # owner-locked (empty user password) PDF decrypts byte-identically
    assert rows[EDGE_URLS["encrypted"]]["text"] == "Encrypted page body"
    assert EDGE_URLS["locked"] not in rows  # error rows never commit


def test_resume_struct_populated(spark, corpus):
    from resume_parser_service_spark.schema import RESUME_SCHEMA
    ext = SnapshotTable(str(corpus["root"] / "out/resumes_extracted")) \
        .read(spark)
    pdfs = ext.filter((F.col("doc_type") == "pdf") & (F.col("n_chars") > 0)
                      & ~F.col("url").startswith("urn:fixture:")) \
        .withColumn("resume", F.from_json("resume_json", RESUME_SCHEMA))
    n = pdfs.count()
    assert n > 0
    with_email = pdfs.filter(
        F.col("resume.personal_information.email").isNotNull()).count()
    assert with_email == n
    # vector populated and 64-dim
    assert pdfs.filter(F.size("vector") != 64).count() == 0


def test_idempotent_resume(spark, corpus):
    stats2 = run_extraction_job(spark, corpus["pages"],
                                str(corpus["root"] / "out"),
                                salt_partitions=8)
    assert stats2["resumed_noop"] is True
    assert stats2["extracted"] == 0


def test_salted_extraction_matches_unsalted(corpus):
    """``salt_partitions`` alone turns salting on: the salted plan
    repartitions by xxhash64(url) ahead of the kernel (the unsalted one
    has no such exchange), and both return the same rows."""
    import re

    from resume_parser_service_spark.pipeline.extract import extract_pages
    from resume_parser_service_spark.plans import formatted_plan
    salt = re.compile(r"hashpartitioning\(xxhash64\(url#\d+, [^)]*\), 4\)")
    salted, _ = extract_pages(corpus["pages"], salt_partitions=4)
    plain, _ = extract_pages(corpus["pages"])
    plan = formatted_plan(salted)
    assert salt.search(plan)
    assert not re.search(r"xxhash64\(url", formatted_plan(plain))
    # the tree lists the salt exchange between the kernel and the scan
    tree = plan[:plan.find("\n\n")]
    assert "Exchange" in tree[tree.find("MapInPandas"):tree.find("Scan")]

    def rows(df):
        return sorted(df.drop("extract_ms").collect())
    assert rows(salted) == rows(plain)


def _incremental_stats(spark, corpus):
    """Run the incremental resume (snapshot 2) EXACTLY ONCE per corpus,
    memoized, so every test that needs snapshot 2 is self-sufficient
    and order-independent (review finding: the downstream tests died
    with AttributeError when run in isolation via -k)."""
    if "incr_stats" not in corpus:
        new_pages = build_pages_df(spark, N_DOCS + 20, with_fixtures=False)
        corpus["incr_stats"] = run_extraction_job(
            spark, new_pages, str(corpus["root"] / "out"),
            salt_partitions=8)
    return corpus["incr_stats"]


def test_incremental_resume_processes_only_new(spark, corpus):
    stats3 = _incremental_stats(spark, corpus)
    assert stats3["resumed_noop"] is False
    # only the 20 new docs (plus any new dups) are processed
    assert 20 <= stats3["extracted"] <= 22
    assert stats3["rejected"] == 0


def test_time_travel_read(spark, corpus):
    _incremental_stats(spark, corpus)
    tbl = SnapshotTable(str(corpus["root"] / "out/resumes_extracted"))
    v1 = tbl.read(spark, version=1).count()
    latest = tbl.read(spark).count()
    assert latest > v1  # snapshot 2 appended the incremental docs


def test_changelog_serves_incremental_batch_only(spark, corpus):
    """CDC consumption of the extraction table: a downstream consumer
    checkpointed at snapshot 1 reads exactly the rows the incremental
    resume committed as snapshot 2 — never the pre-checkpoint bulk."""
    _incremental_stats(spark, corpus)
    tbl = SnapshotTable(str(corpus["root"] / "out/resumes_extracted"))
    v1 = tbl.read(spark, version=1).count()
    latest = tbl.read(spark).count()
    delta = tbl.read_changes(spark, 1)
    rows = delta.collect()
    assert len(rows) == latest - v1
    assert {r["_change_type"] for r in rows} == {"insert"}
    assert {r["_commit_version"] for r in rows} == {2}
    # delta rows carry the full extraction payload
    assert all(r["text"] is not None for r in rows)


def test_validate_extracted_flags(spark):
    """A9 residual validation: zip_code length, email/URL shape
    (/root/reference/app/schemas/resume.py:13,16-18) as JVM-side
    validation columns."""
    import json

    from pyspark.sql import functions as F

    from resume_parser_service_spark.pipeline.extract import \
        validate_extracted

    def rj(pi):
        return json.dumps({"personal_information": pi})

    rows = [
        ("ok", rj({"email": "a@b.com", "zip_code": "16165"})),
        ("bad_zip", rj({"zip_code": "123456789012"})),
        ("bad_email", rj({"email": "someone@host.c"})),
        ("bad_github", rj({"github": "not a url"})),
        ("no_resume", None),
    ]
    df = spark.createDataFrame(rows, "url string, resume_json string")
    got = {r["url"]: r["validation_errors"]
           for r in validate_extracted(df).collect()}
    assert got["ok"] == []
    assert got["bad_zip"] == ["zip_code_too_long"]
    assert got["bad_email"] == ["invalid_email"]
    assert got["bad_github"] == ["invalid_github_url"]
    assert got["no_resume"] == []


def test_invalid_resume_routed_to_audit(spark, tmp_path):
    """E2E: a page whose mapped email fails the shape check lands in
    the audit as status='invalid' / InvalidResumeDataError and is NOT
    committed to resumes_extracted (the reference's HTTP-400 path)."""
    import datetime

    from resume_parser_service_spark.pipeline.run import run_extraction_job
    from resume_parser_service_spark.schema import PAGES_SCHEMA

    # the lenient email fallback captures the column-truncated TLD,
    # which then fails the strict A9 shape check
    html = ("<html><body><p>Jane Roe</p>"
            "<p>contact me at jane.roe@example.c plus more prose here "
            "so the extractor keeps the block</p></body></html>").encode()
    pages = spark.createDataFrame(
        [("https://x.example/bad-email", datetime.datetime(2025, 1, 1),
          bytearray(html), None, "en")], PAGES_SCHEMA)
    out = str(tmp_path / "t")
    stats = run_extraction_job(spark, pages, out)
    assert stats["extracted"] == 1

    from resume_parser_service_spark.pipeline.writer import SnapshotTable
    audit = SnapshotTable(out + "/extraction_audit").read(spark).collect()
    assert len(audit) == 1
    assert audit[0]["status"] == "invalid"
    assert audit[0]["error_class"] == "InvalidResumeDataError"
    tbl = SnapshotTable(out + "/resumes_extracted").read(spark)
    assert tbl is None or tbl.count() == 0


def test_enrich_extracted_matches_catalog_formulas(spark):
    """enrich_extracted mirrors the catalog's token/quality/lang-id SQL
    (same formulas, JVM expressions) and marks content duplicates by
    canonical-min-url per fingerprint."""
    from pyspark.sql import functions as F

    from resume_parser_service_spark.operators.catalog import (
        build_catalog, register_views)
    from resume_parser_service_spark.pipeline.extract import enrich_extracted

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    docs = spark.table("documents").select(
        F.col("doc_id").cast("string").alias("url"), "text")
    # plant one content duplicate: url "zz-dup" copies doc 0's text
    first_text = docs.filter("url = '0'").collect()[0]["text"]
    dup = spark.createDataFrame([("zz-dup", first_text)], "url string, text string")
    enriched = enrich_extracted(docs.unionByName(dup)).cache()

    cat = build_catalog()
    for q, cols in [("token_count", ["ws_tokens", "bpe_est_tokens"]),
                    ("quality_score", ["stopword_ratio", "punct_ratio",
                                       "mean_token_len"]),
                    ("lang_id_heuristic", ["predicted_lang"])]:
        want = {str(r["doc_id"]): tuple(r[c] for c in cols)
                for r in cat[q][0](spark, sf).collect()}
        got_cols = ["lang_guess"] if q == "lang_id_heuristic" else cols
        got = {r["url"]: tuple(r[c] for c in got_cols)
               for r in enriched.collect()}
        for k, v in want.items():
            assert got[k] == v, (q, k)

    dups = {r["url"]: r["content_dup_of"] for r in enriched.collect()}
    assert dups["zz-dup"] == "0"
    assert dups["0"] is None
    assert sum(v is not None for v in dups.values()) >= 1


def test_run_extraction_job_enrich(spark, tmp_path):
    from resume_parser_service_spark.pipeline.run import run_extraction_job
    from resume_parser_service_spark.pipeline.writer import SnapshotTable
    from resume_parser_service_spark.sources.pages import build_pages_df

    out = str(tmp_path / "out")
    stats = run_extraction_job(spark, build_pages_df(spark, 30), out,
                               enrich=True)
    assert stats["extracted"] > 0
    cur = SnapshotTable(out + "/resumes_extracted").read_current(spark)
    for col in ["fingerprint", "content_dup_of", "ws_tokens",
                "stopword_ratio", "lang_guess"]:
        assert col in cur.columns, col
    row = cur.filter("status = 'ok'").limit(1).collect()[0]
    assert row["fingerprint"] is not None and row["ws_tokens"] > 0


def test_run_extraction_job_releases_its_caches(spark, tmp_path):
    """Every frame a job persists, the enrich dup map included, is
    released when it returns: batch after batch, no persisted RDD the
    call made is left. (Ids, not a count: the context cleaner may drop
    other tests' checkpoints in the meantime.)"""
    out = str(tmp_path / "out")
    jsc = spark.sparkContext._jsc
    for n_docs in (20, 40, 60):  # each batch adds 20 new docs
        before = set(jsc.getPersistentRDDs().keys())
        stats = run_extraction_job(spark, build_pages_df(spark, n_docs),
                                   out, enrich=True, neardup_index=True)
        assert stats["extracted"] > 0
        assert set(jsc.getPersistentRDDs().keys()) <= before


def test_ingest_batch_job_count(spark, tmp_path):
    """Ratchet on the Spark jobs of one steady ingest batch: the third
    enrich + neardup-index batch into one root, 20 new docs, no
    compaction. Table reads scan under the manifests' recorded schemas
    and infer none."""
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    for n_docs in (20, 40):
        run_extraction_job(spark, build_pages_df(spark, n_docs), out,
                           enrich=True, neardup_index=True)
    group = "test_ingest_batch_job_count"
    sc.setJobGroup(group, group)
    try:
        stats = run_extraction_job(spark, build_pages_df(spark, 60), out,
                                   enrich=True, neardup_index=True)
    finally:
        sc._jsc.clearJobGroup()
    assert stats["extracted"] == 20
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 29


def test_canonicalize_urls_collapses_variants(spark, tmp_path):
    """canonicalize_urls=True: tracking-param/case variants of one page
    collapse to a single committed row under the canonical key, and a
    re-run presenting another variant resumes as a no-op."""
    from pyspark.sql import functions as F

    from resume_parser_service_spark.pipeline.run import run_extraction_job
    from resume_parser_service_spark.pipeline.writer import SnapshotTable
    from resume_parser_service_spark.sources.pages import build_pages_df

    out = str(tmp_path / "canon")
    pages = build_pages_df(spark, 10, with_fixtures=False)
    # add a tracking-param variant of every url
    variants = pages.withColumn(
        "url", F.concat(F.col("url"), F.lit("?utm_source=feed"))) \
        .withColumn("warc_ts",
                    F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))
    both = pages.unionByName(variants)
    r1 = run_extraction_job(spark, both, out, canonicalize_urls=True)
    ext = SnapshotTable(out + "/resumes_extracted").read(spark)
    urls = [r.url for r in ext.select("url").collect()]
    assert len(urls) == len(set(urls))
    assert not any("utm_" in u for u in urls)
    assert r1["extracted"] == len(urls)  # one row per canonical url

    # re-run with ONLY the variant spelling: resume filter sees the
    # canonical key as already processed -> no-op
    r2 = run_extraction_job(spark, variants, out, canonicalize_urls=True)
    assert r2["resumed_noop"]
