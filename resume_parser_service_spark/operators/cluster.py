"""Near-duplicate clustering: connected components over the
shared-shingle graph.

The one operator class Spark's SQL surface genuinely lacks — an
iterative fixpoint. Two algorithms share one input, the df-capped
shingle groups: a single-task union-find while the groups fit one task
(``LOCAL_CC_MAX_MEMBERS``), and past that gate large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC 2014) as a driver-side loop of DataFrame rounds, each truncated by
an eager localCheckpoint. Its round count grows with log n whatever the
component diameter or id order. Cluster id = min(doc_id) of the
component, which is canonical, so a DuckDB recursive CTE can serve as
the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .catalog import _capped_shingles_cte, _shingle_groups, register_views

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


#: When the df-capped multi-doc shingle groups hold at most this many
#: member rows, connected components run as ONE vectorized union-find
#: task fed by the group lists (Σ(k-1) unions, no iterative rounds) —
#: the same measured-gate pattern as the enrich dup-map broadcast. Past
#: the gate (a dup graph too big for one task) large-star/small-star
#: runs distributed. 5M member rows is ~1-2 s of single-task unions.
LOCAL_CC_MAX_MEMBERS = 5_000_000

# rounds the last connected-components call took: 0 on the union-find
# path, the large-star/small-star round count past the gate (scale
# diagnostics: BENCH growth-curve probes report rounds alongside wall)
LAST_ROUNDS: int | None = None


def _cc_local_kernel(batches):
    """Single-task union-find over df-capped shingle-group doc lists.
    Linking each member to its group head captures the group's full
    connectivity with k-1 unions; union-by-min keeps every root at the
    component minimum, so emitted labels equal the oracle's."""
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


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the shared-shingle graph, one path
    picked by size: at most ``LOCAL_CC_MAX_MEMBERS`` df-capped group
    members run as one union-find task, more run large-star/small-star.

    Both paths read the same input — each multi-doc shingle group
    linked as a star on its minimum member (k-1 links, never the
    k(k-1)/2 pairs) — and both label a doc with its component's
    minimum doc_id. Isolated docs (the overwhelming majority of a
    deduped web corpus) never enter either path: they self-label in
    one final left join."""
    global LAST_ROUNDS
    register_views(spark, sf_dir)
    # both paths read grp: one eager checkpoint runs the kernel and the
    # grouping once, and the size gate's member count rides its job.
    # "or 0": SUM of no rows is NULL
    obs = Observation()
    grp = (_shingle_groups(spark)
           .observe(obs, F.sum(F.size("ds")).alias("n"))
           .localCheckpoint(eager=True))
    n_members = int(obs.get["n"] or 0)
    docs = spark.table("documents").select("doc_id")
    if n_members > LOCAL_CC_MAX_MEMBERS:
        # ds is sorted, so ds[0] is the group minimum
        stars = grp.select(F.col("ds")[0].alias("src"),
                           F.explode(F.slice("ds", 2, F.size("ds")))
                           .alias("dst"))
        return connected_components_lsss(spark, stars, docs)
    LAST_ROUNDS = 0
    labels = (grp.select("ds").repartition(1)
              .mapInPandas(_cc_local_kernel,
                           schema="doc_id long, cluster_id long"))
    return (docs.join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
            .orderBy("doc_id"))


def connected_components_lsss(spark: SparkSession, edges: DataFrame,
                              nodes: DataFrame,
                              max_rounds: int = 30) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014): the
    rounds grow with log n whatever the component's diameter or the
    order of its ids, where min-label propagation needs one round per
    hop. Returns (doc_id, cluster_id = component min) for every row of
    ``nodes`` and sets ``LAST_ROUNDS``; raises ``RuntimeError`` rather
    than return partial labels when ``max_rounds`` is not enough.

    Maintains a parent forest as an edge list (child, parent):
      large-star: for each node u, hang every neighbor v > u off
        m = min(N(u) ∪ {u});
      small-star: hang every neighbor v <= u (and u) off m.
    Both stars strictly shrink the potential function; fixpoint =
    edge multiset stable (checked via a cheap order-free checksum).
    """
    global LAST_ROUNDS
    LAST_ROUNDS = None
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
        return children.unionByName(selfs).filter("a != b").distinct()

    prev = None
    # Each star references the previous round's frame ~4x (symmetrize,
    # mins, join), so the LOGICAL plan grows ~4^rounds — persist alone
    # leaves the analyzer re-walking an exponentially deep tree (it
    # visibly hangs around round 8). An EAGER per-round localCheckpoint
    # truncates plan + lineage; on a real cluster reliable checkpointing
    # (which needs a checkpoint dir) would also survive executor loss.
    e = e.localCheckpoint(eager=True)
    for rnd in range(1, max_rounds + 1):
        # the checksum rides the checkpoint's own job: one job a round.
        # decimal(38,0) cannot overflow; "or 0": SUM of no rows is NULL
        obs = Observation()
        nxt = (small_star(large_star(e))
               .observe(obs, F.sum(F.xxhash64("a", "b")
                                   .cast("decimal(38,0)")).alias("cs"))
               .localCheckpoint(eager=True))
        cs = int(obs.get["cs"] or 0)
        e.unpersist()
        e = nxt
        if cs == prev:
            break
        prev = cs
    else:
        raise RuntimeError("large-star/small-star did not converge "
                           f"in {max_rounds} rounds")
    LAST_ROUNDS = rnd
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
