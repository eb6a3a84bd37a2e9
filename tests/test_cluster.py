"""Connected-components dedup clustering: convergence + guardrails.

Planted chains of shared-shingle docs exercise the iteration depth
of large-star/small-star (the path past the size gate) directly; its
non-convergence guard (VERDICT.md r1 item 4) and the agreement of
both paths with the DuckDB oracle are covered here.
"""

import os
import random

import pytest

from resume_parser_service_spark.operators import cluster as cl


def _chain_docs(n: int, ids: list[int] | None = None
                ) -> list[tuple[int, str]]:
    """Doc ids[i] shares exactly one 5-gram with doc ids[i+1] (a chain
    graph); doc ids[n] is isolated. ``ids`` defaults to 0..n."""
    ids = list(range(n + 1)) if ids is None else ids
    rows = []
    for i in range(n):
        left = f"link{i} alpha beta gamma delta"
        right = f"link{i + 1} alpha beta gamma delta"
        rows.append((ids[i], left + " " + right))
    # one isolated doc
    rows.append((ids[n], "lonely words that match nothing else at all here"))
    return rows


def _write_docs(spark, tmp_path, rows) -> str:
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def test_chain_converges_to_one_cluster(spark, tmp_path):
    sf_dir = _write_docs(spark, tmp_path, _chain_docs(8))
    # force a fresh view registration for this sf_dir
    from resume_parser_service_spark.operators.catalog import _REGISTERED
    _REGISTERED.pop(id(spark), None)
    labels = {r["doc_id"]: r["cluster_id"]
              for r in cl._q_dedup_clusters(spark, sf_dir).collect()}
    assert all(labels[i] == 0 for i in range(8)), labels
    assert labels[8] == 8  # isolated doc keeps its own label


def test_lsss_unconverged_chain_raises(spark):
    """A 300-node path cannot reach its fixpoint (and confirm it) in
    two rounds: the round cap raises instead of returning partial
    labels."""
    n = 300
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "src long, dst long")
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    with pytest.raises(RuntimeError, match="did not converge"):
        cl.connected_components_lsss(spark, edges, nodes, max_rounds=2)


def test_hot_shingle_df_cap_bounds_edges(spark, tmp_path):
    """A boilerplate shingle shared by MANY docs must not produce the
    quadratic pair explosion: with the df cap, docs connected ONLY via
    the hot shingle stay in their own clusters."""
    hot = "copyright footer all rights reserved"  # a 5-token shingle
    rows = [(i, f"unique{i} words here {hot}") for i in range(12)]
    sf_dir = _write_docs(spark, tmp_path, rows)
    from resume_parser_service_spark.operators.catalog import (_REGISTERED,
                                                               register_views)
    _REGISTERED.pop(id(spark), None)
    register_views(spark, sf_dir)
    edges = spark.sql(cl._edges_sql("spark", max_df=5))
    assert edges.count() == 0  # hot shingle (df=12 > 5) contributes none
    _REGISTERED.pop(id(spark), None)


def test_lsss_long_chain_converges_in_log_rounds(spark):
    """A 300-node path graph: min-label propagation would need ~300
    rounds; large-star/small-star finishes in O(log n)."""
    from resume_parser_service_spark.operators.cluster import (
        connected_components_lsss)

    n = 300
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "src long, dst long")
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    labels = connected_components_lsss(spark, edges, nodes, max_rounds=12)
    rows = labels.collect()
    assert len(rows) == n
    assert all(r["cluster_id"] == 0 for r in rows)


def test_lsss_multi_component_and_isolated(spark):
    from resume_parser_service_spark.operators.cluster import (
        connected_components_lsss)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 11), (20, 21)],
        "src long, dst long")
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 12, 20, 21, 99]], "doc_id long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components_lsss(spark, edges, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20, 99: 99}


def test_lsss_agrees_with_label_propagation(spark):
    """The query's labels equal LSSS run on the SQL reference's pair
    edges (``_edges_sql``) on the real shared-shingle graph at
    sf0.001."""
    from resume_parser_service_spark.operators.cluster import (
        _edges_sql, _q_dedup_clusters, connected_components_lsss)
    from resume_parser_service_spark.operators.catalog import register_views

    sf = "/root/testdata/sf0.001"
    lp = {r["doc_id"]: r["cluster_id"]
          for r in _q_dedup_clusters(spark, sf).collect()}
    register_views(spark, sf)
    edges = spark.sql(_edges_sql("spark"))
    nodes = spark.table("documents").select("doc_id")
    ls = {r["doc_id"]: r["cluster_id"]
          for r in connected_components_lsss(spark, edges, nodes).collect()}
    assert lp == ls


def test_shuffled_chain_converges_past_the_gate(spark, tmp_path,
                                               monkeypatch):
    """A 200-doc chain whose ids are shuffled along it, gate forced
    off: min-label propagation with pointer jumping needs hundreds of
    rounds on this shape, large-star/small-star a handful."""
    monkeypatch.setattr(cl, "LOCAL_CC_MAX_MEMBERS", -1)
    n = 200
    ids = list(range(n + 1))
    random.Random(8).shuffle(ids)
    sf_dir = _write_docs(spark, tmp_path, _chain_docs(n, ids))
    from resume_parser_service_spark.operators.catalog import _REGISTERED
    _REGISTERED.pop(id(spark), None)
    try:
        labels = {r["doc_id"]: r["cluster_id"]
                  for r in cl._q_dedup_clusters(spark, sf_dir).collect()}
    finally:
        _REGISTERED.pop(id(spark), None)
    chain_min = min(ids[:n])
    assert all(labels[d] == chain_min for d in ids[:n]), labels
    assert labels[ids[n]] == ids[n]  # isolated doc keeps its own label
    assert cl.LAST_ROUNDS is not None and cl.LAST_ROUNDS <= 12


def test_local_union_find_agrees_with_lsss_and_oracle(spark, monkeypatch):
    """Both paths of the size gate — the single-task union-find and
    large-star/small-star on the group stars — label exactly like the
    DuckDB recursive-CTE oracle at sf0.001."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    local = {r["doc_id"]: r["cluster_id"]
             for r in cl._q_dedup_clusters(spark, sf).collect()}
    assert cl.LAST_ROUNDS == 0  # small corpus rides the local path
    monkeypatch.setattr(cl, "LOCAL_CC_MAX_MEMBERS", -1)
    lsss = {r["doc_id"]: r["cluster_id"]
            for r in cl._q_dedup_clusters(spark, sf).collect()}
    assert cl.LAST_ROUNDS and cl.LAST_ROUNDS > 0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * "
                f"FROM '{sf}/documents.parquet'")
    oracle = dict(con.execute(cl._CLUSTER_ORACLE).fetchall())
    assert len(set(oracle.values())) < len(oracle)  # some docs cluster
    assert local == lsss == oracle


def test_shingle_groups_apply_their_df_cap(spark, tmp_path):
    """The df cap a group list is built with is the one its pairs
    reflect: the three shingles all 12 docs share form no group under a
    cap of 5 and every pair under a cap of 20, each group member and
    each pair carrying the docs' distinct-shingle counts."""
    from resume_parser_service_spark.operators.catalog import (
        _REGISTERED, _q_ngram_jaccard_pandas, _shingle_groups,
        register_views)
    hot = "copyright footer all rights reserved"  # df = 12
    rows = [(i, f"unique{i} words here {hot}") for i in range(12)]
    sf_dir = _write_docs(spark, tmp_path, rows)
    _REGISTERED.pop(id(spark), None)
    register_views(spark, sf_dir)
    try:
        assert _shingle_groups(spark, max_df=5).count() == 0
        assert _q_ngram_jaccard_pandas(spark, sf_dir, max_df=5).count() == 0
        groups = _shingle_groups(spark, max_df=20, with_n=True).collect()
        assert [[(m.doc_id, m.n) for m in g.ds] for g in groups] == [
            [(i, 4) for i in range(12)]] * 3
        pairs = _q_ngram_jaccard_pandas(spark, sf_dir, max_df=20).collect()
        assert len(pairs) == 12 * 11 // 2
        # 3 shared of 4 + 4 distinct shingles: 3 / 5
        assert {(p.n_shared, p.jaccard) for p in pairs} == {(3, 0.6)}
    finally:
        _REGISTERED.pop(id(spark), None)


def test_dedup_clusters_job_count(spark, tmp_path):
    """One union-find dedup_clusters call runs at most 9 Spark jobs:
    the shingle kernel, the grouping and the size gate's member count
    share the group lists' one eager checkpoint job."""
    from resume_parser_service_spark.operators.catalog import _REGISTERED
    sf_dir = _write_docs(spark, tmp_path, _chain_docs(8))
    sc = spark.sparkContext
    group = "test_dedup_clusters_job_count"
    _REGISTERED.pop(id(spark), None)
    try:
        cl._q_dedup_clusters(spark, sf_dir).collect()  # views registered
        sc.setJobGroup(group, "one dedup_clusters call")
        try:
            cl._q_dedup_clusters(spark, sf_dir).collect()
        finally:
            sc._jsc.clearJobGroup()
    finally:
        _REGISTERED.pop(id(spark), None)
    assert cl.LAST_ROUNDS == 0  # the union-find path
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 9
