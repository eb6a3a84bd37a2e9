"""Decontamination (eval-set n-gram collisions) and PII scrubbing:
planted cases caught, clean docs untouched, DuckDB parity, and the
broadcast/no-corpus-shuffle plan shape."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from resume_parser_service_spark.operators import decontaminate, pii  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.exists(SF_DIR),
                                reason="driver testdata not present")


@pytest.fixture(scope="module")
def corpus_and_eval(spark):
    corpus = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    # eval set: one benchmark question that verbatim-quotes an 8-gram
    # from doc 7, plus a fully novel question
    doc7 = corpus.filter("doc_id = 7").first().text
    quoted = " ".join(doc7.split()[3:14])
    eval_docs = spark.createDataFrame(
        [(9000, f"Q: complete the passage: {quoted}"),
         (9001, "Q: what is the boiling point of molybdenum alloys")],
        "doc_id long, text string")
    return corpus, eval_docs, quoted


def test_contamination_catches_planted_overlap(spark, corpus_and_eval):
    corpus, eval_docs, _ = corpus_and_eval
    hits = decontaminate.contaminated_docs(spark, corpus, eval_docs, n=8)
    got = {r.doc_id: r.n_hits for r in hits.collect()}
    assert 7 in got and got[7] >= 1
    # the synthetic docs are generated from a shared vocabulary — other
    # docs may legitimately collide, but doc 7 must carry the most hits
    assert got[7] == max(got.values())


def test_contamination_plan_broadcasts_eval(spark, corpus_and_eval):
    corpus, eval_docs, _ = corpus_and_eval
    plan = (decontaminate.contaminated_docs(spark, corpus, eval_docs, n=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles


def test_contamination_duckdb_parity(spark, corpus_and_eval):
    # NB: keep distinct view names — overriding the shared "documents"
    # temp view would leak a 2-column shadow into the other suites via
    # register_views' per-session cache
    corpus, eval_docs, _ = corpus_and_eval
    spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text").createOrReplaceTempView("_decon_docs")
    eval_docs.createOrReplaceTempView("_decon_eval")
    sdf = spark.sql(decontaminate.contaminated_docs_sql(
        "spark", table="_decon_docs", eval_table="_decon_eval")).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW _decon_docs AS SELECT doc_id, text FROM "
                f"'{SF_DIR}/documents.parquet'")
    con.register("_decon_eval", eval_docs.toPandas())
    odf = con.execute(decontaminate.contaminated_docs_sql(
        "duck", table="_decon_docs", eval_table="_decon_eval")).df()
    assert list(sdf["doc_id"]) == list(odf["doc_id"])
    assert list(sdf["n_hits"].astype("int64")) == \
        list(odf["n_hits"].astype("int64"))
    # the per-document shingle path (what bench.py and the benchmark run)
    pdf = decontaminate.contaminated_docs(spark, corpus, eval_docs,
                                          n=8).toPandas()
    assert list(pdf["doc_id"]) == list(odf["doc_id"])
    assert list(pdf["n_hits"].astype("int64")) == \
        list(odf["n_hits"].astype("int64"))


def test_pii_scrub_column_and_sql_parity(spark):
    rows = [
        (1, "reach me at jane.doe+spam@example.co.uk or +353 87 123 4567"),
        (2, "server 192.168.10.250 answered"),
        (3, "no pii here, just 42 words and v1.2 versions"),
        (4, "call (089) 555-123 456 today"),
        (5, "appelez le 01.42.68.53.00 ce soir"),
        (6, "snmp oid 1.3.6.1.4.1.2021 and patch 10.2.0.4.1 intact"),
        (7, "office (212) 555-1234 or cell +1 (917) 555-0199"),
        (8, "two ips 1.2.3.4 5.6.7.8 and more 9.8.7.6 5.4.3.2 done"),
        (9, "lignes 01.42.68.53.00 02.43.69.54.01 svp"),
        (10, "see J. Phys. 12 (2019) 4567-4578 and Rev. B (2021) 12-345"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r.clean for r in
           df.select("id", pii.scrub_pii_col("text").alias("clean"))
           .collect()}
    assert "<EMAIL>" in out[1] and "@" not in out[1]
    assert "<PHONE>" in out[1]
    assert out[2] == "server <IP> answered"
    assert out[3] == rows[2][1]          # untouched
    assert "<PHONE>" in out[4]
    # dotted 5-group French number is ONE phone, not an <IP> + leak
    assert out[5] == "appelez le <PHONE> ce soir"
    # technical dotted chains (OIDs, patch levels) are NOT phones
    assert out[6] == rows[5][1]
    # US two-group shapes with '(area)' / '+CC (area)' prefixes scrub
    assert out[7] == "office <PHONE> or cell <PHONE>"
    # adjacent guard-rule tokens one delimiter apart: BOTH scrub (the
    # consumed-context guard eats the separator, so a single pass
    # alternate-matches; the chain double-applies those rules)
    assert out[8] == "two ips <IP> <IP> and more <IP> <IP> done"
    assert out[9] == "lignes <PHONE> <PHONE> svp"
    # journal "(year) pages" citations are NOT phones (the 4-digit
    # paren alternation excludes 19xx/20xx)
    assert out[10] == rows[9][1]

    # SQL emission matches the Column API on Spark, and DuckDB matches
    df.createOrReplaceTempView("_pii_rows")
    sql_out = {r.id: r.clean for r in spark.sql(
        f"SELECT id, {pii.scrub_pii_sql('text', 'spark')} AS clean "
        f"FROM _pii_rows").collect()}
    assert sql_out == out
    con = duckdb.connect()
    con.register("_pii_rows", df.toPandas())
    duck_out = dict(con.execute(
        f"SELECT id, {pii.scrub_pii_sql('text', 'duck')} AS clean "
        f"FROM _pii_rows").fetchall())
    assert duck_out == out


URL_CASES = [
    ("HTTPS://Example.COM:443/KeepCase/Path?b=2&utm_source=x#frag",
     "https://example.com/KeepCase/Path?b=2"),
    ("http://X.org:80/", "http://x.org/"),
    ("http://a.b/p?utm_a=1&utm_b=2", "http://a.b/p"),
    ("https://a.b/p?gclid=99&q=1", "https://a.b/p?q=1"),
    ("https://a.b/p?q=1&fbclid=zz", "https://a.b/p?q=1"),
    ("http://plain.example/doc/7", "http://plain.example/doc/7"),
    ("no-scheme.example/Path#x", "no-scheme.example/Path"),
    ("http://host:8080/keep-nondefault-port", 
     "http://host:8080/keep-nondefault-port"),
    # param names that merely CONTAIN a tracking name must survive
    ("https://h/p?xgclid=1&q=2", "https://h/p?xgclid=1&q=2"),
    ("https://h/p?medium_utm_x=1&q=2", "https://h/p?medium_utm_x=1&q=2"),
    # consecutive tracking params all go
    ("https://h/p?utm_a=1&utm_b=2&q=3", "https://h/p?q=3"),
]


def test_url_canonicalization_three_way_parity(spark):
    """Column API == Spark SQL == DuckDB on the canonicalization table;
    host case folds, path case kept, default ports and tracking params
    dropped, non-default ports kept."""
    from resume_parser_service_spark.operators import urlnorm

    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(URL_CASES)],
        "id long, url string")
    expected = [e for _, e in URL_CASES]
    col_out = [r.c for r in df.select(
        urlnorm.canonical_url_col("url").alias("c")).orderBy("id")
        .collect()]
    assert col_out == expected
    df.createOrReplaceTempView("_urls")
    sql_out = [r.c for r in spark.sql(
        f"SELECT id, {urlnorm.canonical_url_sql('url', 'spark')} AS c "
        f"FROM _urls ORDER BY id").collect()]
    assert sql_out == expected
    con = duckdb.connect()
    con.register("_urls", df.toPandas())
    duck_out = [r[0] for r in con.execute(
        f"SELECT {urlnorm.canonical_url_sql('url', 'duck')} AS c "
        f"FROM _urls ORDER BY id").fetchall()]
    assert duck_out == expected


def test_repetition_signals_parity_and_planted_spam(spark):
    """Gopher-style repetition signals: DuckDB parity on the testdata
    documents plus a planted spam doc with known exact fractions."""
    import pandas as pd

    from resume_parser_service_spark.operators.catalog import register_views
    from resume_parser_service_spark.operators import quality

    register_views(spark, SF_DIR)
    sdf = spark.sql(quality.repetition_signals_sql("spark")).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{SF_DIR}/documents.parquet'")
    odf = con.execute(quality.repetition_signals_sql("duck")).df()
    for df in (sdf, odf):
        for c in df.columns:
            if pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
    pd.testing.assert_frame_equal(sdf.reset_index(drop=True),
                                  odf.reset_index(drop=True),
                                  check_dtype=False)

    # planted spam: 4 lines, 2 dup ("buy now"); bigrams of
    # "buy now buy now buy now" -> 5 occurrences, top=("buy now" 3x...)
    spam = spark.createDataFrame(
        [(1, "buy now buy now buy now\nunique line\nbuy now buy now buy now\nother")],
        "doc_id long, text string")
    spam.createOrReplaceTempView("_spam_docs")
    row = spark.sql(quality.repetition_signals_sql(
        "spark", table="_spam_docs")).collect()[0]
    assert row.dup_line_fraction == 0.25          # 1 of 4 lines repeated
    assert row.top_bigram_fraction > 0.3          # dominated by one bigram
    assert row.dup_bigram_fraction > 0.3
