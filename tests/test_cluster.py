"""Connected-components dedup clustering: convergence + guardrails.

Min-label propagation with pointer jumping moves a label ~2^round
chain hops per round, so planted chains of shared-shingle docs
exercise the iteration depth directly; the non-convergence guard
(VERDICT.md r1 item 4) and the LSSS fallback are covered here.
"""

import os

import pytest

from resume_parser_service_spark.operators import cluster as cl


def _chain_docs(n: int) -> list[tuple[int, str]]:
    """Doc i shares exactly one 5-gram with doc i+1 (a chain graph)."""
    rows = []
    for i in range(n):
        left = f"link{i} alpha beta gamma delta"
        right = f"link{i + 1} alpha beta gamma delta"
        rows.append((i, left + " " + right))
    # one isolated doc
    rows.append((n, "lonely words that match nothing else at all here"))
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


def test_unconverged_chain_raises_when_strict(spark, tmp_path, monkeypatch):
    # pointer jumping covers ~2^rounds chain hops: a 10-link chain
    # cannot converge in 3 rounds even with the jump (gate forced past
    # the r6 local union-find path: this test pins LOOP diagnostics)
    monkeypatch.setattr(cl, "LOCAL_CC_MAX_MEMBERS", -1)
    monkeypatch.setattr(cl, "MAX_ROUNDS", 3)
    sf_dir = _write_docs(spark, tmp_path, _chain_docs(10))
    from resume_parser_service_spark.operators.catalog import _REGISTERED
    _REGISTERED.pop(id(spark), None)
    with pytest.raises(RuntimeError, match="did not converge"):
        cl._q_dedup_clusters(spark, sf_dir, strict=True).collect()
    _REGISTERED.pop(id(spark), None)


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
    """A 300-node path graph: label propagation would need ~300 rounds
    (over MAX_ROUNDS); large-star/small-star finishes in O(log n)."""
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
    """Both CC implementations produce identical labels on the real
    shared-shingle graph at sf0.001."""
    from resume_parser_service_spark.operators.cluster import (
        _edges_sql, _q_dedup_clusters, connected_components_lsss)
    from resume_parser_service_spark.operators.catalog import register_views

    sf = "/root/testdata/sf0.001"
    lp = {r["doc_id"]: r["cluster_id"]
          for r in _q_dedup_clusters(spark, sf, strict=True).collect()}
    register_views(spark, sf)
    edges = spark.sql(_edges_sql("spark"))
    nodes = spark.table("documents").select("doc_id")
    ls = {r["doc_id"]: r["cluster_id"]
          for r in connected_components_lsss(spark, edges, nodes).collect()}
    assert lp == ls


def test_label_prop_fallback_to_lsss(spark, monkeypatch):
    """With the round cap forced below the graph diameter, the query
    falls back to large-star/small-star instead of returning partial
    labels — final labels identical to a fully-converged run."""
    import resume_parser_service_spark.operators.cluster as C

    sf = "/root/testdata/sf0.001"
    want = {r["doc_id"]: r["cluster_id"]
            for r in C._q_dedup_clusters(spark, sf, strict=True).collect()}
    monkeypatch.setattr(C, "LOCAL_CC_MAX_MEMBERS", -1)
    monkeypatch.setattr(C, "MAX_ROUNDS", 1)
    got = {r["doc_id"]: r["cluster_id"]
           for r in C._q_dedup_clusters(spark, sf).collect()}
    assert got == want


def test_pointer_jumping_converges_past_round_count(spark, tmp_path,
                                                    monkeypatch):
    """A 20-doc chain (diameter 19) converges within 6 rounds: each
    round chases a neighbor hop AND a pointer hop, so depth is
    O(log diameter) — one-hop-per-round propagation would need 19
    rounds and trip the strict guard."""
    monkeypatch.setattr(cl, "LOCAL_CC_MAX_MEMBERS", -1)
    monkeypatch.setattr(cl, "MAX_ROUNDS", 6)
    sf_dir = _write_docs(spark, tmp_path, _chain_docs(20))
    from resume_parser_service_spark.operators.catalog import _REGISTERED
    _REGISTERED.pop(id(spark), None)
    labels = {r["doc_id"]: r["cluster_id"]
              for r in cl._q_dedup_clusters(spark, sf_dir,
                                            strict=True).collect()}
    assert all(labels[i] == 0 for i in range(20)), labels
    assert labels[20] == 20  # isolated doc self-labels outside the loop
    _REGISTERED.pop(id(spark), None)


def test_local_union_find_agrees_with_loop(spark, monkeypatch):
    """The r6 size-gated single-task union-find must label exactly like
    the distributed pointer-jump loop (and transitively like the
    recursive-CTE oracle that checks the loop)."""
    sf = "/root/testdata/sf0.001"
    local = {r["doc_id"]: r["cluster_id"]
             for r in cl._q_dedup_clusters(spark, sf).collect()}
    assert cl.LAST_ROUNDS == 0  # small corpus rides the local path
    monkeypatch.setattr(cl, "LOCAL_CC_MAX_MEMBERS", -1)
    looped = {r["doc_id"]: r["cluster_id"]
              for r in cl._q_dedup_clusters(spark, sf, strict=True).collect()}
    assert cl.LAST_ROUNDS and cl.LAST_ROUNDS > 0
    assert local == looped


def test_capped_pairs_base_carries_its_df_cap(spark, tmp_path):
    """A prebuilt base fixes the df cap: asking its pairs for another
    cap fails loudly instead of silently keeping the base's."""
    from resume_parser_service_spark.operators.catalog import (
        _REGISTERED, _capped_pairs, _shingle_base, register_views)
    hot = "copyright footer all rights reserved"  # df = 12
    rows = [(i, f"unique{i} words here {hot}") for i in range(12)]
    sf_dir = _write_docs(spark, tmp_path, rows)
    _REGISTERED.pop(id(spark), None)
    register_views(spark, sf_dir)
    try:
        base = _shingle_base(spark, sf_dir, max_df=5, checkpoint=False)
        assert base.max_df == 5
        with pytest.raises(ValueError, match="max_df=5"):
            _capped_pairs(spark, sf_dir, max_df=100, base=base)
        pairs, _sizes, _seeds = _capped_pairs(spark, sf_dir, max_df=5,
                                              base=base)
        assert pairs.count() == 0  # the hot shingle is over the cap
        pairs, _sizes, _seeds = _capped_pairs(spark, sf_dir, max_df=20)
        assert pairs.count() == 12 * 11 // 2
    finally:
        _REGISTERED.pop(id(spark), None)
