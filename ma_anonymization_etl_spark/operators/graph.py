"""Iterative graph analytics over relational-derived graphs (group P).

The co-purchase graph — parts that appear in the same order, edges
deduplicated to a simple undirected graph — is the corpus's natural
graph (≈2k nodes / ≈116k undirected edges at sf0.01).  Two classic
whole-graph algorithms run on it:

- p1: PageRank, the canonical iterative fixpoint.  All arithmetic is
  INTEGER (ranks in parts-per-billion, integer division for both the
  per-edge contribution and the damping), so every iteration is
  bit-identical across engines and the DuckDB oracle replays the
  5-iteration unrolled recursion exactly — no float-summation
  order-dependence anywhere (the same discipline as j30's micro-nats).
- p2: triangle counting / global clustering coefficient via the
  ordered-edge join (u < v < w) on the MIN-SUPPORT graph (see the
  _EDGES_SUP2_SQL comment for the measured reason).
- p3: bounded BFS (k-hop reachability profile).

Scale: PageRank is Spark's original showcase — each iteration is one
edge-keyed shuffle join + one groupBy, state is O(nodes), and the edge
list is checkpointed once and reused (like j23's connected
components).  At 100 TB, partition edges by source and co-partition
the rank table so iterations reuse one partitioning end-to-end.
Triangle counting's wedge intermediate is Σ deg_above(v)²; on skewed
graphs degree-orientation bounds it, but on NEAR-REGULAR graphs (this
corpus — measured in the _EDGES_SUP2_SQL comment) only thinning the
edge set helps, hence p2's min-support definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ma_anonymization_etl_spark.registry import register
from ma_anonymization_etl_spark.sources.io import load, session_reuse

_PPB = 1_000_000_000
_ITER = 5
_DAMP_NUM, _DAMP_DEN = 85, 100  # 0.85 damping as an exact rational

_EDGES_SQL = """
pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS MATERIALIZED (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
),
deg AS (SELECT u AS node, COUNT(*) AS deg FROM edges GROUP BY u),
n AS (SELECT COUNT(*) AS n FROM deg)
"""


def _copurchase_pairs(spark: SparkSession, sf_dir: str, min_support: int | None = None) -> DataFrame:
    """Ordered co-purchase pairs (u < v) from lineitem — the Spark twin
    of the shared SQL edge CTEs (_EDGES_SQL / _EDGES_SUP2_SQL).  With
    ``min_support``, keep only pairs sharing that many distinct orders."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    j = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    )
    if min_support is not None:
        return (
            j.groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
            .agg(F.countDistinct("a.l_orderkey").alias("support"))
            .filter(F.col("support") >= min_support)
            .select("u", "v")
        )
    return j.select(
        F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
    ).distinct()


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (both-direction) edge list, checkpointed once for reuse
    across iterative rounds (the j23 connected-components discipline).

    Storage is DISK_ONLY (serialized), not the default deserialized
    MEMORY_AND_DISK: the UNFILTERED co-purchase list is the largest
    object in the P family (~Σ C(order_size, 2) rows — order of the
    fact table itself), and the round-9 sf10 sweep measured the
    deserialized form OOM-ing a 24 GB heap via GCLocker-pinned 512 MB
    partition arrays while every per-round consumer streams it
    exactly once anyway.  On a real cluster this is `checkpoint()` to
    reliable storage — same shape.

    Reused per (applicationId, sf_dir) through ``session_reuse`` (round
    10): the whole P family shares one edge list, so one checkpoint
    build serves p1/p1b/p5/p7/p7b/p8 instead of each query rebuilding
    the family's largest object — the production shape, where the graph
    is materialized once per snapshot and every algorithm reads it."""
    from pyspark import StorageLevel

    def build():
        pairs = _copurchase_pairs(spark, sf_dir)
        sym = pairs.unionByName(
            pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # Round 13 (guide §2.4/§3.3, and this module's own 100 TB note):
        # hash-partition the checkpoint by the join key.  localCheckpoint
        # preserves the plan's output partitioning on the LogicalRDD, so
        # every iterative consumer (p1/p1b rank joins, p3 frontier joins,
        # the per-round degree groupBy) co-partitions against it and each
        # round pays ONE exchange (the v-keyed transpose) instead of
        # three.  Partition count comes from the session's shuffle
        # setting (env-driven, AQE-coalescible) — never a local constant.
        # Skew note: a hot node's edges share a partition; this corpus is
        # near-regular (module header), and at 100 TB the salting split
        # in guide §2.5 applies before this checkpoint.
        return sym.repartition("u").localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )

    return session_reuse(spark, sf_dir, "copurchase_edges", build)


def _copurchase_pairs_sup2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The min-support (>=2 distinct orders) co-purchase pair list,
    checkpointed once per (applicationId, sf_dir) and shared by the
    whole min-support family (p2/p4/p5/p7/p7b/p8) — the same
    one-graph-build-per-snapshot discipline as ``_copurchase_edges``.
    Measured motivation (round 12, sf0.1): the build — lineitem
    self-join + countDistinct groupBy — costs ~4.4 s per invocation
    while p7's propagation rounds cost ~0.5 s each, so every family
    member was paying the family's dominant cost again.  Unlike the
    unfiltered list this table is support-filtered and tiny (~3.9k
    rows at sf0.1), so the default deserialized storage is fine."""
    return session_reuse(
        spark,
        sf_dir,
        "copurchase_pairs_sup2",
        lambda: _copurchase_pairs(spark, sf_dir, min_support=2).localCheckpoint(
            eager=True
        ),
    )


def _p1_oracle() -> str:
    iters = []
    prev = "pr0"
    for it in range(1, _ITER + 1):
        iters.append(f"""
s{it} AS (
  SELECT e.v AS node, SUM(p.r // d.deg) AS s
  FROM edges e
  JOIN {prev} p ON p.node = e.u
  JOIN deg d ON d.node = e.u
  GROUP BY e.v
),
pr{it} AS (
  SELECT d.node,
         ({_PPB * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN} // n.n)
         + ({_DAMP_NUM} * COALESCE(s.s, 0)) // {_DAMP_DEN} AS r
  FROM deg d CROSS JOIN n LEFT JOIN s{it} s ON s.node = d.node
)""")
        prev = f"pr{it}"
    chain = ",".join(iters)
    return f"""WITH {_EDGES_SQL},
pr0 AS (SELECT node, {_PPB} // n.n AS r FROM deg CROSS JOIN n),
{chain}
SELECT node AS part_id, CAST(r AS BIGINT) AS rank_ppb
FROM {prev}
ORDER BY r DESC, node
LIMIT 20
"""


def _pagerank_init(deg: DataFrame, n: int) -> DataFrame:
    """Uniform initial ranks (ppb) joined onto the degree table."""
    return deg.select("u", F.col("deg"), F.lit(_PPB // n).cast("long").alias("r"))


def _pagerank_round(
    edges: DataFrame, deg: DataFrame, ranks: DataFrame, teleport: int
) -> DataFrame:
    """ONE damped-PageRank iteration in exact integer arithmetic —
    shared verbatim by p1 (fixed 5 rounds, oracle-unrolled) and p1b
    (convergence-detected), so the 'production twin' claim is enforced
    by construction rather than by keeping two copies in sync."""
    contrib = edges.join(ranks, edges.u == ranks.u).select(
        F.col("v").alias("node"), F.expr("r div deg").alias("c")
    )
    s = contrib.groupBy("node").agg(F.sum("c").alias("s"))
    return deg.join(s, deg.u == s.node, "left").select(
        "u",
        "deg",
        (
            F.lit(teleport)
            + F.expr(f"{_DAMP_NUM} * coalesce(s, 0L) div {_DAMP_DEN}")
        ).cast("long").alias("r"),
    )


@register("p1_pagerank", oracle=_p1_oracle())
def p1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p1: 5-iteration damped PageRank over the co-purchase graph, in
    exact integer arithmetic (ranks in parts-per-billion; contribution
    = r div deg, damping = 85·s div 100, teleport = 0.15·1e9 div N).
    The floor-truncated mass is a deterministic, documented variant —
    what it buys is an oracle that replays every iteration exactly.
    Top-20 parts by rank.  The undirected graph has no dangling nodes
    by construction (every node in the edge list has out-edges)."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()  # bounded driver scalar (node count), like i18's ladder pick
    teleport = _PPB * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN // n
    ranks = _pagerank_init(deg, n)
    for _ in range(_ITER):
        ranks = _pagerank_round(edges, deg, ranks, teleport)
    return (
        ranks.select(F.col("u").alias("part_id"), F.col("r").alias("rank_ppb"))
        .orderBy(F.col("rank_ppb").desc(), "part_id")
        .limit(20)
    )


# p2 runs on the SUPPORT-FILTERED co-purchase graph (pairs co-bought in
# ≥2 distinct orders).  Measured motivation (sf0.1, DuckDB): the full
# graph is near-REGULAR (1.20M edges over 20k parts, every part in ~6
# orders), so the wedge intermediate of the triangle join is 49M rows
# under id-orientation and 83M under degree-orientation — orientation
# tricks do nothing for regular graphs, and 49M rows OOMs a vanilla
# 1 GB / 8-partition session (found by the sf0.1 sweep, round 4).  The
# support≥2 graph has 3.9k edges and a 725-row wedge intermediate — and
# is also the analytically honest graph: one shared order between
# high-frequency parts is noise, repeated co-purchase is signal
# (standard min-support from frequent-itemset mining).
_EDGES_SUP2_SQL = """
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.l_orderkey) >= 2
),
deg AS (
  SELECT x AS node, COUNT(*) AS deg
  FROM (SELECT u AS x FROM pairs UNION ALL SELECT v FROM pairs)
  GROUP BY x
),
n AS (SELECT COUNT(*) AS n FROM deg)
"""


@register(
    "p2_triangle_count",
    oracle=f"""
WITH {_EDGES_SUP2_SQL},
tri AS (
  SELECT COUNT(*) AS n_triangles FROM pairs e1
  JOIN pairs e2 ON e2.u = e1.v
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
),
wed AS (SELECT SUM(deg * (deg - 1) // 2) AS n_wedges FROM deg)
SELECT (SELECT n FROM n) AS n_nodes,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       CAST(n_wedges AS BIGINT) AS n_wedges,
       ROUND(3.0 * n_triangles / n_wedges, 6) AS clustering_coeff
FROM tri CROSS JOIN wed
""",
)
def p2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p2: triangle count + global clustering coefficient on the
    min-support co-purchase graph (pairs sharing ≥2 distinct orders —
    see the _EDGES_SUP2_SQL comment for the measured scale argument)
    via the ordered-edge join (each triangle counted exactly once as
    u < v < w).  Wedge count comes from degrees (integer), clustering
    = 3·triangles / wedges."""
    pairs = _copurchase_pairs_sup2(spark, sf_dir)
    deg = (
        pairs.select(F.col("u").alias("x"))
        .unionByName(pairs.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    wed = deg.agg(F.expr("sum(deg * (deg - 1) div 2)").alias("n_wedges"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
    ).crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_edges")))
    return (
        stats.crossJoin(tri)
        .crossJoin(wed)
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "clustering_coeff"
            ),
        )
    )


@register(
    "p3_khop_reachability",
    oracle=f"""
WITH RECURSIVE {_EDGES_SQL},
src AS (SELECT MIN(u) AS s FROM edges),
reach AS (
  SELECT (SELECT s FROM src) AS node, 0 AS dist
  UNION
  SELECT e.v, r.dist + 1 FROM reach r JOIN edges e ON e.u = r.node
  WHERE r.dist < 4
),
md AS (SELECT node, MIN(dist) AS d FROM reach GROUP BY node)
SELECT CAST(d AS INT) AS dist, COUNT(*) AS n_nodes FROM md GROUP BY d
UNION ALL
SELECT -1, (SELECT n FROM n) - (SELECT COUNT(*) FROM md)
""",
)
def p3_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p3: bounded BFS — the k-hop reachability profile from the
    smallest part id: how many nodes sit at each hop distance 0..4,
    plus a dist = -1 row counting nodes farther than 4 hops or
    unreachable.  The hop bound is part of the SEMANTICS (not a
    convergence hope), so the operator is correct at every SF — the
    honest contract for traversals on graphs whose diameter you do not
    know.  Each round is one edge join + one min-aggregate with
    O(nodes) state (frontier expansion via min-distance label
    propagation, the j23 pattern with distances instead of labels)."""
    edges = _copurchase_edges(spark, sf_dir)
    nodes = edges.select("u").distinct()
    src = nodes.agg(F.min("u")).collect()[0][0]  # bounded driver scalar
    dist = nodes.select(
        "u", F.when(F.col("u") == src, 0).otherwise(F.lit(None).cast("int")).alias("d")
    )
    for _ in range(4):
        cand = (
            edges.join(
                dist.filter(F.col("d").isNotNull()).select(
                    F.col("u").alias("n0"), "d"
                ),
                edges.u == F.col("n0"),
            )
            .groupBy(F.col("v").alias("n1"))
            .agg((F.min("d") + 1).alias("nd"))
        )
        dist = dist.join(cand, dist.u == cand.n1, "left").select(
            "u", F.least("d", "nd").alias("d")
        )
    hist = (
        dist.filter(F.col("d").isNotNull())
        .groupBy(F.col("d").cast("int").alias("dist"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    far = dist.agg(
        F.lit(-1).alias("dist"),
        F.sum(F.col("d").isNull().cast("long")).alias("n_nodes"),
    )
    return hist.unionByName(far)


@register(
    "p4_community_stats",
    oracle=f"""
WITH RECURSIVE {_EDGES_SUP2_SQL},
edges AS MATERIALIZED (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
),
reach AS (
  SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS node, reach.r FROM reach JOIN edges e ON e.u = reach.node
),
comp AS (SELECT node, MIN(r) AS c FROM reach GROUP BY node),
sizes AS (SELECT c, COUNT(*) AS sz FROM comp GROUP BY c)
SELECT CAST(sz AS BIGINT) AS component_size, COUNT(*) AS n_components
FROM sizes GROUP BY sz
""",
)
def p4_community_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p4: community structure of the min-support co-purchase graph —
    connected components (j23's min-label propagation, reused verbatim)
    over the ≥2-shared-orders edge set, reported as the component-size
    histogram: how many product communities exist at each size.  The
    support filter is what makes communities MEANINGFUL (the full graph
    is one near-complete blob — see the p2 measurement); the oracle is
    an exact recursive-CTE transitive closure.

    Scale: the component loop is O(diameter) rounds of edge-join +
    groupBy-min over the (small) support edge set; the histogram is two
    tiny aggregates on top."""
    pairs = _copurchase_pairs_sup2(spark, sf_dir).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    from ma_anonymization_etl_spark.operators.llm import connected_components

    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").cast("long").alias("component_size")).agg(
        F.count(F.lit(1)).alias("n_components")
    )


@register(
    "p1b_pagerank_converged",
    # Release-invariant oracle (the d4/i18 exact-value + boolean-claim
    # pattern): the iteration count is data-dependent, so the oracle
    # cannot replay the recursion; instead it pins the exact graph
    # dimensions and the claims the release must satisfy — the run
    # CONVERGED under the cap and conserved rank mass.  A run that hits
    # the cap unconverged, or leaks mass, mismatches the oracle.
    oracle=f"""
WITH {_EDGES_SQL}
SELECT (SELECT n FROM n) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       TRUE AS converged,
       TRUE AS mass_conserved
""",
)
def p1b_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p1b: p1's PRODUCTION TWIN — same exact-integer damped PageRank,
    but iterating to an L1-residual fixpoint instead of a fixed 5
    rounds (NEXT.md item e / judge r4 item 5).  Iterations run in lazy
    blocks of 5 between materializations (one localCheckpoint + one
    bounded driver-side residual scalar per block — j23's change-count
    loop shape), stopping when the block residual Σ|r_t − r_{t−5}| drops
    to ≤ 1% of total mass, cap 60 iterations.  With damping 0.85 the
    residual contracts ≥ 0.85× per round, so the cap is ~4× the
    analytic need — hitting it means the graph broke the contraction
    assumption, and the release honestly reports converged=false (an
    oracle mismatch, which is the point).

    Mass invariant: each round truncates < 1 ppb per directed edge
    (contribution floor-div) and < 2 per node (damping + teleport
    floors), and the damped fixpoint amplifies per-round loss by
    0.85/0.15 ≈ 5.7×, so total rank stays within 10·(E+2n) ppb of 1e9.

    Scale: identical per-iteration profile to p1 (one edge-keyed join +
    one groupBy, O(nodes) state, edges checkpointed once); convergence
    detection adds one O(nodes) join + scalar agg per 5 rounds.  At
    100 TB co-partition edges and ranks on the join key so every block
    reuses one partitioning."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    n = deg.count()  # bounded driver scalars, as in p1
    n_edges = edges.count()
    teleport = _PPB * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN // n
    tol = _PPB // 100
    block, max_blocks = 5, 12
    ranks = _pagerank_init(deg, n).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_blocks):
        prev = ranks
        for _ in range(block):
            ranks = _pagerank_round(edges, deg, ranks, teleport)
        # Lazy: the residual aggregate below joins every rank partition,
        # so ONE job materializes the block's checkpoint and computes
        # the residual (the connected_components round-merge).
        ranks = ranks.localCheckpoint(eager=False)
        resid = (
            prev.select("u", F.col("r").alias("r0"))
            .join(ranks.select("u", "r"), "u")
            .agg(F.sum(F.abs(F.col("r") - F.col("r0"))).alias("d"))
            .collect()[0]["d"]
        )
        if resid <= tol:
            converged = True
            break
    total = ranks.agg(F.sum("r").alias("t")).collect()[0]["t"]
    mass_ok = _PPB - 10 * (n_edges + 2 * n) <= total <= _PPB
    return spark.range(1).select(
        F.lit(n).cast("long").alias("n_nodes"),
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(converged).alias("converged"),
        F.lit(bool(mass_ok)).alias("mass_conserved"),
    )


def _p5_oracle() -> str:
    rounds = []
    prev = "l0"
    for it in (1, 2):
        rounds.append(f"""
r{it} AS (
  SELECT e.u AS node, l.lbl, COUNT(*) AS c
  FROM edges e JOIN {prev} l ON l.node = e.v
  GROUP BY e.u, l.lbl
),
l{it} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM r{it}) WHERE rn = 1
)""")
        prev = f"l{it}"
    return f"""
WITH {_EDGES_SUP2_SQL},
edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
l0 AS (SELECT node, node AS lbl FROM deg),
{",".join(rounds)}
SELECT lbl AS community, COUNT(*) AS n_members
FROM l2 GROUP BY lbl
"""


@register("p5_label_propagation", oracle=_p5_oracle())
def p5_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p5: community detection via SYNCHRONOUS label propagation on the
    min-support co-purchase graph — each round every node adopts the
    MODE of its neighbors' labels (ties to the smallest label), two
    unrolled rounds, seeded with self-labels.  Distinct from j23's
    connected components (which converges to one label per component
    regardless of density): LPA's mode update finds dense subgroups
    inside a connected graph, and the count-desc/label-asc argmax makes
    every round bit-deterministic, so the oracle replays both rounds.

    Scale: one round = one edge-keyed join against the O(nodes) label
    table + two groupBys — the same shuffle profile as a PageRank
    iteration; labels stay co-partitioned with edge sources across
    rounds, and rounds are a bounded driver loop (asynchronous LPA
    converges faster but is order-dependent; synchronous is chosen
    BECAUSE it replays)."""
    from pyspark.sql import Window

    pairs = _copurchase_pairs_sup2(spark, sf_dir)
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    labels = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl"))
    for _ in range(2):
        counted = (
            edges.join(labels.select(F.col("node").alias("v"), "lbl"), "v")
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


def _p6_oracle() -> str:
    rounds = []
    prev = "d0"
    for r in (1, 2, 3):
        rounds.append(f"""
d{r} AS (
  SELECT node, MIN(val) AS dist FROM (
    SELECT node, dist AS val FROM {prev}
    UNION ALL
    SELECT e.v AS node, p.dist + e.w AS val
    FROM wedges e JOIN {prev} p ON p.node = e.u
  ) GROUP BY node
)""")
        prev = f"d{r}"
    return f"""
WITH spairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         COUNT(DISTINCT a.l_orderkey) AS support
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.l_orderkey) >= 2
),
wedges AS (
  SELECT u, v, GREATEST(1, 1000 // support) AS w FROM spairs
  UNION ALL
  SELECT v, u, GREATEST(1, 1000 // support) FROM spairs
),
src AS (SELECT MIN(u) AS s FROM wedges),
d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src),
{",".join(rounds)}
SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
"""


@register("p6_sssp_bounded", oracle=_p6_oracle())
def p6_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p6: BOUNDED weighted shortest paths (Bellman-Ford, 3 relaxation
    rounds) from the smallest node of the min-support co-purchase
    graph — edge weight max(1, 1000 // support) (integer: frequently
    co-purchased parts are 'closer'), so every relaxation is exact
    integer min-plus with no float-path-sum ambiguity, and the oracle
    replays all three rounds.  Like p3, the hop bound is part of the
    SEMANTICS (cheapest path using <= 3 edges), not a convergence
    hope — the honest contract when the diameter is unknown.  Nodes
    not reachable within 3 edges are absent.

    Scale: each round is one edge-keyed join against the O(reached)
    distance table + one min-aggregate — PageRank's shuffle profile;
    rounds are a bounded driver loop over a checkpointed edge list."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    spairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.countDistinct("a.l_orderkey").alias("support"))
        .filter(F.col("support") >= 2)
    )
    # floor at 1: support > 1000 must not mint zero-weight edges that
    # collapse path distances (plausible on real co-purchase graphs).
    w = F.expr("greatest(1L, 1000 div support)")
    wedges = (
        spairs.select("u", "v", w.alias("w"))
        .unionByName(
            spairs.select(F.col("v").alias("u"), F.col("u").alias("v"), w.alias("w"))
        )
        .localCheckpoint(eager=True)
    )
    src = wedges.agg(F.min("u").alias("node")).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    dist = src
    for _ in range(3):
        relaxed = wedges.join(
            dist.select(F.col("node").alias("u"), F.col("dist").alias("du")), "u"
        ).select(F.col("v").alias("node"), (F.col("du") + F.col("w")).alias("val"))
        dist = (
            dist.select("node", F.col("dist").alias("val"))
            .unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("val").alias("dist"))
        )
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


@register(
    "p7_connected_components",
    # Independent oracle: exact transitive closure by recursive CTE,
    # PRUNED to labels smaller than the receiving node — the component
    # min always survives the pruning (it is smaller than every other
    # member, so it propagates along any path), while the closure row
    # count drops from Σ|comp|² toward Σ|comp|·(smaller labels seen).
    # The min-support graph is size-bounded at every SF (~2-4k edges),
    # so the recursion is cheap for DuckDB despite the giant component.
    oracle=f"""
WITH RECURSIVE {_EDGES_SUP2_SQL},
sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
cc AS (
  SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT s.u, cc.lbl FROM sym s JOIN cc ON cc.node = s.v WHERE cc.lbl < s.u
),
comp AS (SELECT node, MIN(lbl) AS component FROM cc GROUP BY node)
SELECT component, COUNT(*) AS n_nodes FROM comp GROUP BY 1
""",
)
def p7_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p7 (extension): CONNECTED COMPONENTS of the support≥2
    co-purchase graph — "which products sell together, transitively"
    (the product-affinity clusters a recommender or assortment
    planner starts from).  Releases (component, n_nodes) per
    component; component id = min part id, so the release is
    deterministic.  This graph has ONE giant component (1.8k of 1.9k
    nodes at sf0.01) plus a tail of 2-5-node islets — a deep
    multi-round propagation stress, unlike j23's shallow dedup
    clusters (diameter ~2), so it exercises the iterative engine's
    convergence path, not just its plumbing.

    Engine: the shared min-label ``connected_components`` loop
    (llm.py) — per round one edge-list self-join + groupBy-min with
    per-round localCheckpoint lineage cuts, early exit on fixpoint.
    Rounds = eccentricity of each component's min node (graph
    diameter bound), NOT corpus size; the edge list is the
    min-support graph, which the support filter keeps negligible
    relative to lineitem at every SF.  Scale: at 100 TB the edge
    list shuffles on node id per round — the standard
    hash-min/large-star shape; swap localCheckpoint for reliable
    checkpoint on a real cluster."""
    from ma_anonymization_etl_spark.operators.llm import connected_components

    pairs = _copurchase_pairs_sup2(spark, sf_dir).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    comp = connected_components(pairs)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


@register(
    "p7b_cc_altstar",
    # Same release and same recursive-CTE closure oracle as p7: the two
    # engines differ only in ROUND STRUCTURE (diameter-bound min-label
    # propagation vs log-round alternating stars), never in the label
    # function, so one oracle adjudicates both.
    oracle=f"""
WITH RECURSIVE {_EDGES_SUP2_SQL},
sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
cc AS (
  SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT s.u, cc.lbl FROM sym s JOIN cc ON cc.node = s.v WHERE cc.lbl < s.u
),
comp AS (SELECT node, MIN(lbl) AS component FROM cc GROUP BY node)
SELECT component, COUNT(*) AS n_nodes FROM comp GROUP BY 1
""",
)
def p7b_cc_altstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p7b (extension): the SAME connected-components release as p7
    computed by the alternating large-star / small-star engine
    (``connected_components_altstar``, Kiveris et al. SoCC 2014) —
    O(log² n) rounds instead of p7's rounds = component diameter.
    This is the 100×-scale answer to p7's one caveat: min-label
    propagation on a high-diameter graph (long chains, road-network
    shapes) spends a shuffle per diameter step, while the star
    operations halve every hooking tree's height per round.  On THIS
    corpus's shallow giant component both engines are a handful of
    rounds (measured side by side in BASELINE.md round 8); the payoff
    is structural, not local.

    Releases (component, n_nodes), component = min node id — identical
    to p7 by construction, which the shared oracle re-attests every
    gate run (and a property test asserts label-for-label equality of
    the two engines on adversarial graphs, long chains included)."""
    from ma_anonymization_etl_spark.operators.llm import connected_components_altstar

    pairs = _copurchase_pairs_sup2(spark, sf_dir).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    comp = connected_components_altstar(pairs)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


def kcore(
    edges: DataFrame, k: int, max_iter: int = 50, stats: dict | None = None
) -> DataFrame:
    """k-CORE decomposition (fixed k): the maximal subgraph in which
    every node keeps degree >= k, by iterative peeling — drop all
    nodes under degree k, recompute degrees (removals cascade),
    repeat to fixpoint.  The standard dense-substructure primitive
    (Seidman 1983; spam/bot subgraph mining, community cores,
    interaction-graph curation).

    Per round: one groupBy-count on the symmetric edge list + two
    semi-joins — edge-list-shaped shuffles only, state never exceeds
    the edge list, localCheckpoint cuts lineage per round (reliable
    checkpoint on a real cluster).  Rounds = peeling depth, which is
    bounded by degeneracy in the worst case but 2-4 on real graphs
    (measured at all three SFs in tests); raises on round exhaustion
    (the connected_components convention — a partially-peeled graph
    is NOT a k-core, some node still violates the degree bound).

    ``edges``: (a, b) undirected; returns (node, deg_in_core) for
    k-core members — empty result if the core is empty."""
    e = (
        edges.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur, n_cur = e, e.count()
    converged, rounds = False, 0
    for _ in range(max_iter):
        sym = cur.select(F.col("u").alias("n")).unionByName(
            cur.select(F.col("v").alias("n"))
        )
        keep = (
            sym.groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("n")
        )
        nxt = (
            cur.join(keep.select(F.col("n").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("n").alias("v")), "v", "left_semi")
            .select("u", "v")
            # Lazy: the count() below materializes every partition in
            # the same job (the connected_components round-merge) —
            # one scheduler round-trip per peel instead of two.
            .localCheckpoint(eager=False)
        )
        rounds += 1
        n_nxt = nxt.count()
        # Peeling only ever REMOVES edges, so equal count ⇔ no node
        # fell under k this round ⇔ fixpoint.
        if n_nxt == n_cur:
            converged = True
            cur = nxt
            break
        cur, n_cur = nxt, n_nxt
        if n_nxt == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"kcore(k={k}) did not reach the peeling fixpoint in {max_iter} "
            "rounds; raise max_iter"
        )
    return (
        cur.select(F.col("u").alias("node"))
        .unionByName(cur.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg_in_core"))
    )


# k and the oracle unroll are PAIRED to the corpus (measured in
# DuckDB, round 8): on the support≥2 graph the 2-core peels in
# 1/4/6 rounds at sf0.001/0.01/0.1 with non-empty cores (200/1535/3
# nodes); k=3 empties the sf0.1 core and cascades 11 rounds at
# sf0.01, and the UNFILTERED co-purchase graph is near-regular with
# min degree 42 — nothing peels below k≈90.  The unroll carries a
# 4-round margin over the worst measured depth; peeling is idempotent
# past the fixpoint so extra stages are no-ops, and the property test
# re-measures the depth margin at every shipped SF.
_P8_K = 2
_P8_ORACLE_ROUNDS = 10


def _p8_oracle() -> str:
    # Every stage MUST be MATERIALIZED: e{i} references e{i-1} twice
    # (degree count + edge filter), so inlined CTEs re-evaluate the
    # whole prior chain per reference — 2^rounds copies of the
    # lineitem self-join (the j43b expression-doubling lesson, SQL
    # edition; the un-materialized form ran minutes at sf0.01, this
    # one milliseconds).
    stages = []
    prev = "e0"
    for i in range(1, _P8_ORACLE_ROUNDS + 1):
        stages.append(f"""
n{i} AS MATERIALIZED (
  SELECT x AS node
  FROM (SELECT u AS x FROM {prev} UNION ALL SELECT v FROM {prev})
  GROUP BY x HAVING COUNT(*) >= {_P8_K}),
e{i} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT node FROM n{i})
    AND v IN (SELECT node FROM n{i}))""")
        prev = f"e{i}"
    chain = ",".join(stages)
    return f"""WITH {_EDGES_SUP2_SQL},
e0 AS MATERIALIZED (SELECT u, v FROM pairs),
{chain}
SELECT node, CAST(COUNT(*) AS BIGINT) AS deg_in_core
FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
GROUP BY node
"""


@register("p8_kcore", oracle=_p8_oracle())
def p8_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p8 (extension): the 2-core of the support≥2 co-purchase graph —
    the cyclically-supported affinity backbone: every released part
    keeps >= 2 co-purchase partners AFTER the acyclic fringe
    (pendants, trees hanging off one link) cascades away.  Completes
    the P-family's iterative repertoire: fixpoint propagation
    (p7/p7b), random walks (p1), and now cascading deletion, whose
    rounds are bounded by peeling depth rather than diameter.

    Oracle: the SAME peeling unrolled 10 MATERIALIZED stages in
    chained CTEs (the j42-BPE/j43b precedent: a fixed unroll both
    engines share, with the engine's measured fixpoint well inside it
    — 1/4/6 rounds at the shipped SFs — and peeling idempotent past
    the fixpoint).

    Delegates to ``kcore``."""
    pairs = _copurchase_pairs_sup2(spark, sf_dir).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    stats: dict = {}
    out = kcore(pairs, _P8_K, stats=stats)
    # The oracle is a FIXED 10-stage unroll; a corpus peeling deeper
    # would release an under-peeled graph from the ORACLE side and the
    # gate mismatch would implicate the correct engine.  Name the stale
    # unroll instead (ADVICE r8) — kcore() runs its rounds eagerly, so
    # stats is populated here.
    if stats.get("rounds", 0) > _P8_ORACLE_ROUNDS:
        raise RuntimeError(
            f"p8_kcore: peeling took {stats['rounds']} rounds but the DuckDB "
            f"oracle unrolls only {_P8_ORACLE_ROUNDS} stages — regenerate "
            "_P8_ORACLE_ROUNDS before gating this corpus"
        )
    return out
