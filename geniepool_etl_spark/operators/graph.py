"""Iterative graph analytics on DataFrames — the Pregel-shaped
workload (repeated join + aggregate over an edge list) expressed so
Catalyst plans each superstep as ONE keyed shuffle join plus one
keyed aggregation.

Reference scope note: the reference engine (a single Spark batch job,
see SURVEY.md) has no graph operators; this module extends the
LLM-pipeline surface — link-graph quality priors (PageRank-style
centrality over a citation/hyperlink graph) are a standard
training-data curation signal.

Cross-engine determinism is the design constraint: float PageRank
sums differ in their last ulp across shuffle merge orders, so scores
here are EXACT fixed-point integers (``scale`` units per unit of
probability mass) and every per-edge contribution is an integer
division — any engine that repeats the arithmetic reproduces every
score bit-for-bit, at any scale, under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """Bipartite-projection edge list: an undirected edge ``(a, b)``
    (``a < b``) for every pair of distinct items that co-occur in the
    same group — the co-purchase / co-citation graph builder behind
    link-based quality priors.

    Plan shape: de-duplicate (group, item) incidence once, self-join
    keyed on the group (one shuffle, reused for both sides), emit
    ordered pairs, global distinct. Pair fan-out is quadratic in the
    GROUP size, not the table size — fine when groups are small and
    bounded (orders hold a handful of lines; shopping baskets,
    citation lists likewise). For heavy-tailed group sizes cap or
    sample items per group FIRST (per-group top-k is one window) —
    same hot-key discipline as dedup's banded buckets.
    """
    inc = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("_i")
    ).distinct()
    a, b = inc.alias("l"), inc.alias("r")
    return (
        a.join(b, "_g")
        .where(F.col("l._i") < F.col("r._i"))
        .select(F.col("l._i").alias("src"), F.col("r._i").alias("dst"))
        .distinct()
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts — the clustering/community-density
    signal — via the degree-ordered orientation algorithm, so the
    wedge join is bounded by Σ C(outdeg, 2) with outdeg = O(√m)
    instead of the hub-degree blowup a naive wedge join suffers on
    skewed graphs.

    Steps (all keyed equi-joins and aggregations — no cartesian, no
    driver loop): canonicalize to undirected ``a < b`` edges; compute
    degrees; orient every edge from the (degree, id)-smaller endpoint
    to the larger; join oriented edges head-to-tail to form wedges;
    close each wedge against the oriented edge set. Each triangle is
    produced exactly once (its vertices are totally ordered by
    (degree, id)), then credited to all three corners. Output: one
    row per node that belongs to at least one triangle —
    ``(node, triangles BIGINT)`` with ``node`` keeping the input id
    type (longs, strings — any orderable equi-joinable type); exact
    integer counts, shuffle-order-independent.
    """
    und = (
        # no cast: ids keep their native orderable type — a long cast
        # would crash string ids under ANSI and, with ANSI off,
        # NULL them into a silently empty census
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        # The edge set feeds FIVE plan sites (degree union ×2, both
        # wedge sides, the closing join); without a checkpoint Spark
        # replays the whole upstream projection per site — the same
        # lineage-replay trap dedup's signature frame hits. Lazy
        # localCheckpoint materializes it once at first action.
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        und.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("db")),
            "b",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # The oriented list feeds three join sites (both wedge sides and
    # the closing probe) — checkpoint it too, or the degree join
    # pipeline above replays per site.
    o = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).localCheckpoint(eager=False)
    wedges = (
        o.alias("e1")
        .join(
            o.select(
                F.col("lo").alias("hi"), F.col("hi").alias("z")
            ).alias("e2"),
            "hi",
        )
        .select(F.col("lo").alias("x"), F.col("hi").alias("y"), "z")
    )
    tri = wedges.join(
        o.select(F.col("lo").alias("x"), F.col("hi").alias("z")),
        ["x", "z"],
    )
    return (
        tri.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def common_neighbor_links(
    edges: DataFrame,
    k: int = 20,
    min_common: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Link prediction by neighborhood overlap: for every NON-edge
    pair sharing ≥ ``min_common`` neighbors, the common-neighbor
    count and neighborhood Jaccard ``cn / (deg_a + deg_b − cn)`` —
    the related-items / friend-suggestion primitive. Returns the
    top-``k`` pairs by (common neighbors DESC, ids) as
    ``(a, b, cn, deg_a, deg_b, jaccard)``.

    Shape: the wedge join keys on the SHARED NEIGHBOR (adjacency
    self-join — the same keyed-equi-join discipline as the triangle
    census; ``a < b`` halves the pair space), existing edges leave by
    LEFT ANTI join, degrees attach from the adjacency aggregate.
    Hub hazard: a degree-d node contributes C(d, 2) wedges — on
    power-law graphs cap or sample hub adjacency FIRST (one window),
    the dedup hot-bucket rule; the fixture's graph is degree-bounded
    by construction. Jaccard rounds to 4 (ratio rule); everything
    else is exact integers.
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        # feeds adjacency (twice), the anti join, and degree counts
        .localCheckpoint(eager=False)
    )
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    cn = (
        adj.select(F.col("node").alias("a"), "nb")
        .join(adj.select(F.col("node").alias("b"), "nb"), "nb")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
        .where(F.col("cn") >= min_common)
    )
    non_edges = cn.join(und, ["a", "b"], "left_anti")
    scored = (
        non_edges.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
        .select(
            "a",
            "b",
            "cn",
            "deg_a",
            "deg_b",
            F.round(
                F.col("cn")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")),
                4,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.col("cn").desc(), "a", "b").limit(k)


def pagerank_fixedpoint(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank in exact integer fixed-point.

    Per superstep: ``score' = base + Σ_{u→v} (score_u·d) div
    (100·deg_u)`` with ``base = ((100−d)·scale) div (100·N)`` — all
    BIGINT arithmetic (``div`` = integral division, matching DuckDB's
    ``//`` for the nonnegative values here), so the result is
    engine- and shuffle-order-independent. The integer divisions
    floor away sub-unit mass (bounded by one ``scale`` unit per edge
    per step) — the standard fixed-point trade, documented rather
    than hidden; scores are comparable, reproducible ranks, not
    float probabilities.

    Dangling nodes would leak mass; pass a SYMMETRIZED edge list
    (both directions) when the input graph may have sinks — the
    contract entry does.

    Plan shape per superstep: edge-list join on ``src`` (one keyed
    exchange, reusable across supersteps since the key never
    changes), aggregate on ``dst``, left join back to the node set;
    the node count rides a broadcast 1-row frame. The driver-side
    ``for`` loop builds ONE plan of ``iterations`` supersteps — no
    per-step action, no collect.

    r16 (guide §3.3 "materialising an intermediate truncates the
    plan" / §5 localCheckpoint): the degree-annotated edge list and
    the node set are lazily localCheckpoint'ed before the superstep
    loop. Without it every superstep's plan REPLICATES the whole
    upstream edge-derivation subtree (the contract lane's
    orders⋈lineitem→distinct appeared 88× as parquet scans in the
    unrolled 5-superstep plan, and Catalyst's per-branch pruning
    defeats exchange reuse), so the corpus-scale derivation executed
    once per superstep reference instead of once. Checkpointing is
    exactly what GraphX does with its edge RDD across Pregel
    supersteps; lazy (eager=False) keeps the materialization inside
    the first execution — consumers are sequenced through the
    superstep chain, the case lazy checkpoints dedupe (SCALE.md
    consumer-topology rule). On a multi-executor cluster swap for
    persist(MEMORY_AND_DISK) if executor loss matters.
    """
    if iterations <= 0:
        raise ValueError("pagerank_fixedpoint: iterations must be > 0")
    if not 0 < damping_pct < 100:
        raise ValueError("pagerank_fixedpoint: damping_pct in (0,100)")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    e = e.localCheckpoint(eager=False)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    tot = nodes.agg(F.count(F.lit(1)).alias("_n"))
    base = F.expr(f"CAST({(100 - damping_pct) * scale} AS BIGINT) div (100 * _n)")
    scores = nodes.crossJoin(F.broadcast(tot)).select(
        "node", F.expr(f"CAST({scale} AS BIGINT) div _n").alias("score")
    )
    for _ in range(iterations):
        contribs = (
            ed.join(
                scores.select(F.col("node").alias("src"), "score"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.expr(f"(score * {damping_pct}) div (100 * deg)")
                ).alias("_c")
            )
        )
        scores = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                (base + F.coalesce(F.col("_c"), F.lit(0)))
                .alias("score"),
            )
        )
    return scores
