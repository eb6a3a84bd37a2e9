"""Near-duplicate clustering: connected components over the
shared-shingle graph (iterative label propagation).

The one operator class Spark's SQL surface genuinely lacks — an
iterative fixpoint — implemented as a driver-side loop of DataFrame
joins over the candidate-pair graph only (isolated docs never enter
the loop), with pointer jumping so labels converge in O(log diameter)
rounds, each round truncated by an eager localCheckpoint. Cluster
id = min(doc_id) of the component, which is canonical, so a DuckDB
recursive CTE can serve as the oracle.

At 10^12-document scale the same loop runs with reliable
checkpoint() (survives executor loss) and, for adversarial shapes,
the large-star/small-star fallback below (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014).
"""

from __future__ import annotations

import logging
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import _capped_shingles_cte, register_views

__all__ = ["cluster_queries", "cluster_oracles",
           "connected_components_lsss"]


def _edges_sql(dialect: str, max_df: int = 100) -> str:
    """Symmetric candidate-pair edges: docs sharing a 5-word shingle.

    Shingles with document frequency > ``max_df`` are dropped before the
    self-join (applied identically in both dialects): one boilerplate
    shingle shared by n docs would otherwise emit ~n^2 edge rows. The
    cap only prunes edges *within* an already-huge near-dup clique, so
    component membership for realistic near-dup clusters (df << cap) is
    unchanged; pathological boilerplate cliques degrade to whatever
    connectivity their rarer shingles provide — the standard trade in
    web-scale dedup."""
    return f"""
WITH {_capped_shingles_cte(dialect, max_df)}
SELECT DISTINCT x.doc_id AS src, y.doc_id AS dst
FROM shf x JOIN shf y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
"""


MAX_ROUNDS = 20

#: When the df-capped multi-doc shingle groups hold at most this many
#: member rows, connected components run as ONE vectorized union-find
#: task fed by the group lists (Σ(k-1) unions, no pair
#: materialization, no iterative rounds) — the same measured-gate
#: pattern as the enrich dup-map broadcast. Past the gate (a dup graph
#: too big for one task) the distributed pointer-jumping loop below is
#: the path, with LSSS behind it. 5M member rows is ~1-2 s of
#: single-task unions — well under what the loop costs at that size.
LOCAL_CC_MAX_MEMBERS = 5_000_000

# rounds the last label-propagation call took to converge (scale
# diagnostics: BENCH growth-curve probes report rounds alongside wall)
LAST_ROUNDS: int | None = None

log = logging.getLogger(__name__)


def _cc_local_kernel(batches):
    """Single-task union-find over df-capped shingle-group doc lists.
    Linking each member to its group head captures the group's full
    connectivity with k-1 unions; union-by-min keeps every root at the
    component minimum, so emitted labels equal the loop's fixpoint."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for pdf in batches:
        for ds in pdf["ds"]:
            head = int(ds[0])
            if head not in parent:
                parent[head] = head
            for b in ds[1:]:
                b = int(b)
                if b not in parent:
                    parent[b] = b
                ra, rb = find(head), find(b)
                if ra != rb:
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
    nodes = list(parent)
    yield pd.DataFrame({
        "doc_id": pd.Series(nodes, dtype="int64"),
        "cluster_id": pd.Series([find(x) for x in nodes],
                                dtype="int64")})


def _ensure_checkpoint_dir(spark: SparkSession) -> None:
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(
            os.path.join(tempfile.gettempdir(),
                         f"rpss-checkpoints-{os.getpid()}"))


def _q_dedup_clusters(spark: SparkSession, sf_dir: str,
                      strict: bool = False) -> DataFrame:
    """Label propagation with pointer jumping, to fixpoint.

    Two structural choices make this the plan that survives 100 TB:

    - The loop runs only over EDGE-TOUCHED docs. Isolated docs (the
      overwhelming majority of a deduped web corpus) never enter the
      iteration — they self-label in one final left join — so every
      per-round shuffle is proportional to the candidate-pair graph,
      not the corpus.
    - Each round chases one neighbor hop AND one pointer hop
      (``label <- min(min_neighbor_label, label(label))``), so labels
      reach the component minimum in O(log diameter) rounds instead of
      O(diameter) — shingle-chain components (measured diameter ~7 at
      sf0.1; unbounded in a crawl) would otherwise cost one shuffle
      per hop. Both hops only ever replace a label with a smaller
      label from the same component, so the fixpoint is unchanged and
      the monotone sum convergence check below stays valid.

    Every round is truncated with an eager localCheckpoint — persist
    alone does not truncate the logical plan, and the jump join
    references the label frame twice, so an untruncated plan tree grows
    exponentially (measured: the analyzer, not the executors, became
    the bottleneck). On a real cluster swap localCheckpoint for
    reliable checkpoint() to also survive executor loss. Hitting
    MAX_ROUNDS unconverged logs an error (or raises when strict)
    instead of silently returning partial labels."""
    register_views(spark, sf_dir)
    _ensure_checkpoint_dir(spark)
    # edges via the shared fast pair builder (catalog._capped_pairs —
    # pandas shingle kernel, single-exchange df-cap + pair grouping);
    # its (doc_a < doc_b) pairs symmetrized here reproduce
    # _edges_sql("spark") exactly (the SQL stays as the executable
    # reference and the oracle's edge definition). persist before
    # fanning out — labels, sym, and the LSSS fallback all reference
    # it, and an unpersisted subtree would re-run the build per
    # consumer.
    from .catalog import _capped_pairs, _shingle_base
    global LAST_ROUNDS
    base = _shingle_base(spark, sf_dir)
    grp = base.grp
    n_members = int(grp.agg(F.sum(F.size("ds"))).collect()[0][0] or 0)
    if n_members <= LOCAL_CC_MAX_MEMBERS:
        # Small-graph fast path: one union-find task over the group
        # lists. Connectivity within a cold shingle group is fully
        # captured by linking every member to the group head (k-1
        # unions vs k(k-1)/2 pairs), and union-by-min makes each root
        # the component minimum — identical labels to the loop and to
        # the recursive-CTE oracle (cross-checked both ways in
        # tests/test_cluster.py).
        LAST_ROUNDS = 0
        labels = (grp.select("ds").repartition(1)
                  .mapInPandas(_cc_local_kernel,
                               schema="doc_id long, cluster_id long"))
        docs = spark.table("documents").select("doc_id")
        return (docs.join(labels, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("cluster_id", "doc_id")
                        .alias("cluster_id"))
                .orderBy("doc_id"))
    pairs, _sizes, seeds = _capped_pairs(spark, sf_dir, base=base)
    half = pairs.select(F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"))
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"),
                    F.col("src").alias("dst"))).persist()
    docs = spark.table("documents").select("doc_id")
    # Seeded start: label(doc) = min doc sharing any cold shingle —
    # already computed by the pair builder, a 2-hop head start that
    # collapses star-shaped clusters before the first round. Valid for
    # the same reason as the two per-round hops: every seed is a
    # smaller label from the SAME component, so the fixpoint (and the
    # monotone sum convergence check) is unchanged. The seed frame's
    # doc set IS the edge-touched node set (every edge comes out of a
    # multi-doc shingle group), so no separate nodes-distinct pass.
    # The eager checkpoint below is the action that materializes the
    # persisted edges; sym then reads the cache.
    labels = seeds.localCheckpoint(eager=True)
    # Self-loops (derived from the checkpointed labels — zero extra
    # edge-scan) keep every participating node present as a src each
    # round — without them min-propagation loses monotonicity (a node
    # can lose its own minimum and oscillate; measured non-convergence).
    # The edge table is the BIG side and is static across rounds:
    # pre-hash-partition it on the join key before persisting —
    # InMemoryTableScan preserves outputPartitioning, so every round's
    # join shuffles only the small mutable label frame, not the edges.
    # No explicit partition count: a keyed repartition without one is
    # AQE-coalescible, so the runtime sizes it to the edge volume
    # (64-MB advisory targets at 100 TB, a handful of partitions on a
    # small graph) instead of paying a fixed
    # spark.sql.shuffle.partitions fan-out every round.
    sym = (edges.unionByName(
               labels.select(F.col("doc_id").alias("src"),
                             F.col("doc_id").alias("dst")))
           .repartition("dst").persist())

    def label_sum(frame: DataFrame) -> int:
        # decimal(38,0): immune to bigint overflow at 10^12-scale ids;
        # "or 0": SUM over an empty frame is NULL (no candidate pairs)
        return int(frame.agg(F.sum(F.col("cluster_id")
                                   .cast("decimal(38,0)")))
                   .collect()[0][0] or 0)

    LAST_ROUNDS = None
    prev_sum = label_sum(labels)
    # Tried and REJECTED (r6): broadcasting the label frame into both
    # per-round joins (guide §2.4) — measured 11-23 s vs 6.8-8.3 s for
    # the shuffle joins at sf1.0, interleaved A/B. Two broadcast
    # builds + driver round-trips per round cost more than shuffling
    # the ~node-sized frame into the edge table's persisted
    # partitioning; the shuffle formulation stays.
    try:
        converged = False
        for rnd in range(1, MAX_ROUNDS + 1):
            neigh = (sym.join(labels, sym.dst == labels.doc_id)
                     .groupBy(F.col("src").alias("doc_id"))
                     .agg(F.min("cluster_id").alias("cluster_id")))
            # pointer jump through the previous (already-truncated)
            # label frame: label(label) — one extra join per round, no
            # extra materialization
            jump = labels.select(F.col("doc_id").alias("_pid"),
                                 F.col("cluster_id").alias("_pcid"))
            new_labels = (neigh.join(jump,
                                     neigh.cluster_id == jump._pid,
                                     "left")
                          .select("doc_id",
                                  F.coalesce(
                                      F.least("_pcid", "cluster_id"),
                                      F.col("cluster_id"))
                                  .alias("cluster_id"))
                          .localCheckpoint(eager=True))
            # Convergence check without a labels-vs-labels join: labels
            # only ever decrease, so an unchanged sum(cluster_id) IS
            # the fixpoint. One cheap agg over the frame the round
            # materializes anyway.
            new_sum = label_sum(new_labels)
            # NOTE: abandoned round frames are localCheckpoint RDD
            # blocks — Dataset.unpersist() cannot free those (it only
            # uncaches plans); they are reclaimed by the ContextCleaner
            # once this loop drops the reference. Bounded exposure:
            # O(log diameter) frames, each node-set-sized. On a real
            # cluster swap for reliable checkpoint() + explicit
            # cleanup of superseded checkpoint dirs.
            labels = new_labels
            if new_sum == prev_sum:
                converged = True
                LAST_ROUNDS = rnd
                break
            prev_sum = new_sum
        if not converged:
            msg = (f"dedup_clusters: label propagation did not converge "
                   f"in {MAX_ROUNDS} rounds (component diameter > "
                   f"2^rounds)")
            if strict:
                raise RuntimeError(msg)
            # never return partial labels: fall back to large-star/
            # small-star, whose potential-function convergence proof
            # doesn't lean on this loop's structure (edges is still
            # persisted here — the fallback reads the cache, and the
            # finally below frees it once the fallback's eager rounds
            # have run).
            log.error("%s; falling back to large-star/small-star", msg)
            return connected_components_lsss(spark, edges, docs)
        # isolated docs (no candidate pair) self-label outside the loop
        return (docs.join(labels, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("cluster_id", "doc_id")
                        .alias("cluster_id"))
                .orderBy("doc_id"))
    finally:
        sym.unpersist()
        edges.unpersist()


def connected_components_lsss(spark: SparkSession, edges: DataFrame,
                              nodes: DataFrame,
                              max_rounds: int = 30) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    adversarial-shape path: converges in O(log n) rounds regardless of
    component DIAMETER, where plain label propagation
    (_q_dedup_clusters) needs O(diameter) rounds (a 10^6-doc chain =
    10^6 shuffles). Returns (doc_id, cluster_id = component min).

    Maintains a parent forest as an edge list (child, parent):
      large-star: for each node u, hang every neighbor v > u off
        m = min(N(u) ∪ {u});
      small-star: hang every neighbor v <= u (and u) off m.
    Both stars strictly shrink the potential function; fixpoint =
    edge multiset stable (checked via a cheap order-free checksum).
    """
    _ensure_checkpoint_dir(spark)
    e = (edges.selectExpr("src AS a", "dst AS b")
         .filter("a != b").distinct())

    def large_star(frame: DataFrame) -> DataFrame:
        """Hang every larger neighbor of u off min(Γ(u) ∪ {u})."""
        sym = frame.unionByName(
            frame.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (sym.groupBy("a")
                .agg(F.least(F.min("b"), F.first("a")).alias("m")))
        return (sym.filter("b > a").join(mins, "a")
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .filter("a != b").distinct())

    def small_star(frame: DataFrame) -> DataFrame:
        """Orient each edge toward its larger endpoint; hang that
        endpoint and all its smaller neighbors off their min."""
        oriented = frame.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
        children = (oriented.join(mins, "a")
                    .select(F.col("b").alias("a"), F.col("m").alias("b")))
        selfs = mins.select(F.col("a"), F.col("m").alias("b"))
        return (children.unionByName(selfs)
                .filter("a != b").distinct().repartition("a"))

    def checksum(frame: DataFrame) -> int:
        return int(frame.agg(F.sum(F.xxhash64("a", "b")
                                   .cast("decimal(38,0)"))
                             ).collect()[0][0] or 0)

    prev = None
    # Each star references the previous round's frame ~4x (symmetrize,
    # mins, join), so the LOGICAL plan grows ~4^rounds — persist alone
    # leaves the analyzer re-walking an exponentially deep tree (it
    # visibly hangs around round 8). An EAGER per-round localCheckpoint
    # truncates plan + lineage; on a real cluster swap for reliable
    # checkpoint() to also survive executor loss.
    e = e.localCheckpoint(eager=True)
    for rnd in range(1, max_rounds + 1):
        nxt = small_star(large_star(e)).localCheckpoint(eager=True)
        cs = checksum(nxt)
        e.unpersist()
        e = nxt
        if cs == prev:
            break
        prev = cs
    else:
        raise RuntimeError("large-star/small-star did not converge "
                           f"in {max_rounds} rounds")
    # fixpoint = stars rooted at component minima: (child, root) edges;
    # roots and isolated docs label themselves
    child_labels = (e.groupBy(F.col("a").alias("doc_id"))
                    .agg(F.min("b").alias("cluster_id")))
    labels = (nodes.selectExpr("doc_id")
              .join(child_labels, "doc_id", "left")
              .select("doc_id",
                      F.coalesce("cluster_id", "doc_id")
                      .alias("cluster_id")))
    return labels.orderBy("doc_id")


_CLUSTER_ORACLE = f"""
WITH RECURSIVE edges AS ({_edges_sql('duck')}),
reach (src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)
SELECT src AS doc_id, min(dst) AS cluster_id
FROM reach GROUP BY src ORDER BY doc_id
"""


def cluster_queries() -> dict:
    return {"dedup_clusters": _q_dedup_clusters}


def cluster_oracles() -> dict:
    return {"dedup_clusters": _CLUSTER_ORACLE}
