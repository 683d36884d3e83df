"""Iterative graph algorithms as fixed-point DataFrame loops.

``connected_components`` (analytics/dedup.py) covers the label-propagation
family; this module adds PageRank — the canonical "score flows along
edges" iteration (Brin & Page, WWW 1998) used in corpus curation for
link-quality weighting (CommonCrawl harmonic-centrality filtering is the
same shape).

Design for 100 TB:

- Each iteration is ONE shuffle: join the score frame to the edge list on
  the source key, then aggregate contributions by destination.  That is
  the Pregel message-passing step expressed as join+groupBy, which Spark
  executes with map-side partial aggregation.
- The edge list is materialized once (eager ``localCheckpoint``) and
  reused across iterations; scores are a (node, score) frame that never
  leaves the cluster. localCheckpoint over persist is a measured call
  (round 10, interleaved A/B at sf0.1: pagerank −17 %, triangles −25 %,
  LPA flat-to-better; same win class as the kcore rewrite): the frame
  skips InMemoryRelation's columnar materialization, its blocks die
  with the returned DataFrame (ContextCleaner) instead of stranding in
  a release ledger, and real sizes reach AQE. The trade is
  replication: on a cluster, an executor loss fails-and-reruns the
  query — acceptable for fixed-round analytics reports.
- All arithmetic is exact BIGINT in parts-per-10^12 units, so results are
  bit-identical in any engine (the repo's portable-math contract;
  ROUND_NOTES.md "hard-won portability lessons").  Divisions only ever
  see non-negative operands — DuckDB ``//`` (floor) and Spark ``DIV``
  (truncate) agree there.
- Iteration count is FIXED (a hyperparameter, not a convergence test), so
  the whole computation is one lazy plan: no driver actions, no
  per-round collect, plan depth linear in ``n_iter`` (small: 3-5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Total score mass in integer units: parts-per-10^12 keeps 6+ significant
# digits after 10^6-node graphs divide it up.
MASS = 10**12


def co_group_pairs(
    df: DataFrame,
    group_col: str | list[str],
    item_col: str,
    a_col: str = "pa",
    b_col: str = "pb",
) -> DataFrame:
    """Ordered item pairs co-occurring under the same group key — the
    co-order / co-purchase edge builder, emitted IN-ROW.

    Instead of the textbook self-join (``a JOIN b ON a.grp = b.grp AND
    a.item < b.item`` — a second shuffle of the whole fact plus a join
    whose per-key work the optimizer can't bound), group once, sort the
    distinct item set inside the row, and enumerate its ordered pairs
    with nested ``transform``/``slice`` — the repo's shingle_rows shape.
    One shuffle (the groupBy), zero joins; pair fan-out is bounded by
    the per-group basket size exactly as the self-join's per-key output
    is, but the quadratic work now runs as a JVM array loop inside one
    row instead of a join probe per pair.

    Output: one row per (group, a < b) pair occurrence — duplicates
    across groups preserved (callers ``groupBy(pa, pb).count()`` for
    market-basket support or ``.distinct()`` for an edge list).
    """
    group_cols = [group_col] if isinstance(group_col, str) else list(group_col)
    g = df.groupBy(*group_cols).agg(
        F.sort_array(F.collect_set(item_col)).alias("_items")
    )
    return g.select(
        F.explode(item_pairs_expr("_items", a_col, b_col)).alias("_p")
    ).select(f"_p.{a_col}", f"_p.{b_col}")


def item_pairs_expr(items_col: str, a_col: str = "pa", b_col: str = "pb"):
    """Column of all ordered (a < b) pairs from a SORTED array column —
    the in-row pair enumerator behind co_group_pairs, exposed for callers
    that already hold the grouped item arrays (one groupBy instead of a
    distinct + regroup). Explode the result to get one row per pair."""
    return F.expr(
        f"""flatten(transform({items_col}, (x, i) ->
              transform(slice({items_col}, i + 2, size({items_col}) - i - 1),
                        y -> struct(x AS {a_col}, y AS {b_col}))))"""
    )


def triangle_counts(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Per-node triangle participation over an undirected edge list —
    the clustering-structure probe (community density, link-spam
    detection in corpus curation) and the classic "curse of the last
    reducer" workload.

    Degree orientation (Suri & Vassilvitskii, WWW 2011): orient every
    undirected edge from its (degree, id)-smaller endpoint to the larger
    one. Every triangle then has exactly ONE node with two out-edges, so
    listing wedges among OUT-neighbors and closing them against the
    oriented edge list counts each triangle exactly once — and the wedge
    count is bounded by sum(out_deg^2) with out_deg = O(sqrt(m)), not by
    sum(deg^2), which is what a hub node would otherwise explode (a
    celebrity node of degree 10^6 contributes zero wedges if all its
    edges point IN).

    Plan: canonical-edge distinct (one shuffle), degree aggregate (one),
    two degree joins, the wedge self-join on the spoke node, the closing
    equi-join on the (v, w) pair — every join a key-partitioned
    equi-join, nothing driver-side, no cartesian.

    Returns (node, triangles) for nodes in >= 1 triangle.
    """
    lo = F.least(F.col(a_col), F.col(b_col))
    hi = F.greatest(F.col(a_col), F.col(b_col))
    canon = (
        edges.filter(F.col(a_col) != F.col(b_col))
        .select(lo.alias("lo"), hi.alias("hi"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        canon.select(F.col("lo").alias("node"))
        .union(canon.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        canon.join(deg.withColumnRenamed("node", "lo"), "lo")
        .withColumnRenamed("deg", "lo_deg")
        .join(
            deg.select(F.col("node").alias("hi"), F.col("deg").alias("hi_deg")),
            "hi",
        )
    )
    lo_first = (F.col("lo_deg") < F.col("hi_deg")) | (
        (F.col("lo_deg") == F.col("hi_deg")) & (F.col("lo") < F.col("hi"))
    )
    oriented = with_deg.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("src"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
        F.when(lo_first, F.col("hi_deg")).otherwise(F.col("lo_deg")).alias(
            "dst_deg"
        ),
    ).localCheckpoint()
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedge_order = (F.col("o1.dst_deg") < F.col("o2.dst_deg")) | (
        (F.col("o1.dst_deg") == F.col("o2.dst_deg"))
        & (F.col("o1.dst") < F.col("o2.dst"))
    )
    wedges = o1.join(
        o2, (F.col("o1.src") == F.col("o2.src")) & wedge_order
    ).select(
        F.col("o1.src").alias("u"),
        F.col("o1.dst").alias("v"),
        F.col("o2.dst").alias("w"),
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"])
    return (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )


def label_propagation(
    edges: DataFrame,
    n_rounds: int = 3,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al., Phys. Rev. E
    2007) for community detection — each round every node adopts the
    MOST FREQUENT label among its neighbors (ties → smallest label),
    all nodes updating from the previous round's labels simultaneously.
    Deterministic by construction (no random visit order), so the
    result is exactly reproducible in any engine.

    Where connected_components finds reachability (min-label to
    fixpoint), LPA finds DENSITY — a bridge edge between two dense
    clusters leaves them in different communities.

    Plan: a FIXED round count keeps the whole computation one lazy
    plan (the pagerank stance — no driver actions, no convergence
    collect); each round is one join + one (node, label) count
    aggregate + one per-node argmax, all keyed on the node — three
    node-keyed shuffles per round, nothing data-squared, plan depth
    linear in n_rounds (small: 2-4). The argmax is
    ``min(struct(-count, label))`` — a partial-aggregating extremum
    (struct buffer => SortAggregate on skinny rows) with map-side
    partial combine — rather than a row_number window, which would
    sort every (node, label) partition per round for a single
    max-of-each-group answer.

    Returns (node, label); nodes sharing a label are one community.
    """
    fwd = edges.filter(F.col(a_col) != F.col(b_col)).select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    e = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(n_rounds):
        counts = (
            e.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy("src", "nl")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (c desc, nl asc) == min of struct(-c, nl); struct
        # comparison is field-ordered, so this is exact for any
        # orderable label type and partial-aggregates map-side.
        labels = (
            counts.groupBy("src")
            .agg(F.min(F.struct((-F.col("c")).alias("_nc"), F.col("nl"))).alias("_m"))
            .select(F.col("src").alias("node"), F.col("_m.nl").alias("label"))
        )
    return labels


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed edge list.

    ``edges`` must be deduplicated (src, dst) pairs; undirected graphs
    pass both directions.  Every node appearing as a source or a
    destination participates.  Dangling nodes (no out-edges) keep their
    teleport share only — callers who need mass conservation should
    symmetrize the graph (both directions), which this repo's queries do.

    score_0   = MASS // N                        (uniform)
    score_t+1 = ((100 - d) * (MASS // N)
                 + d * sum_{(u,v) in E} score_t(u) // deg(u)) // 100

    with d = ``damping_pct`` (integer percent).  All operands are
    non-negative BIGINTs, so floor/truncate division agree across
    engines and the result is exact and portable.

    Returns (node, score) — one row per node, undeclared order.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # N and the out-degree frame are computed once; deg joins the edge
    # list a single time so iterations reuse one (src, dst, deg) frame.
    n_nodes = nodes.count()  # one scalar to the driver (control-sized)
    base = MASS // n_nodes
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    e_deg = e.join(deg, "src").localCheckpoint()

    scores = nodes.select("node", F.lit(base).cast("bigint").alias("score"))
    teleport = F.lit((100 - damping_pct) * base).cast("bigint")
    for _ in range(n_iter):
        contrib = (
            e_deg.join(
                scores.withColumnRenamed("node", "src"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("score DIV deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("incoming"))
        )
        scores = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping_pct)
                    * F.coalesce(F.col("incoming"), F.lit(0).cast("bigint"))
                ).alias("_num"),
            )
            .select(
                "node", F.expr("_num DIV 100").cast("bigint").alias("score")
            )
        )
    return scores
