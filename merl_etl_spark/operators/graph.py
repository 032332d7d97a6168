"""Graph operators: fixed-iteration PageRank over an edge list derived
from the relational data.

The reference has no graph tier, but its holder/transfer tables are an
edge list in disguise (wallet→wallet transfers, merlin_etl.py's tokentx
ingestion) and "rank the important wallets" is the natural next query a
user of it would ask.  Here the demonstration graph is the bipartite
customer↔supplier trade graph (orders ⨝ lineitem), symmetrized so the
random walk is well-defined (no sinks), with edge weight = line count.

Spark-first shape: each PageRank iteration is two keyed shuffles —
an equi-join of the rank vector with the edge list on ``src`` (edges
pre-aggregated per (src, dst); rank vector is |V| rows, broadcastable
when small, hash-join otherwise) and a groupBy ``dst`` with map-side
partial sums.  No driver-side state, no collect; |E|-sized data only
ever moves through equi-joins.  The edge list is lineage-cut once
before the iterate (see :func:`pagerank`) — a composed plan re-executes
the edge-derivation substrate per unrolled reference, which the r14
plan audit measured at 120 scans for the 3-iteration TextRank
composition; the |V|-row rank frames themselves compose fine at 3
iterations without further cuts.

Cross-engine determinism (the oracle must hash-match): floating-point
rounding of arbitrary quotients is NOT portable — a first cut that
quantized double quotients to 12 dp diverged by one ulp on ~0.1% of
nodes (quotients that land within double-epsilon of a round-half
boundary go different ways in Spark's HALF_UP-on-shortest-repr and
DuckDB's binary rounding).  So ranks are **scaled BIGINTs** (×10^12)
and every step is integer arithmetic: ``(r * w) DIV ow`` floor
division, exact BIGINT sums (order-insensitive), and the damping step
``(85 * s) DIV 100``.  Identical integers in any engine; the single
float op is the final ``r / 1e12`` display cast.  Overflow headroom:
r ≤ 10^12 and the products stay < 2^63 while edge weight < ~9·10^6 and
|V| ≥ damping·Σw/ow ratios keep r bounded by 10^12 — far past any
realistic per-pair line count; a production variant would widen to
DECIMAL(38,0) if weights approach that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from merl_etl_spark.lineage import cut_lineage
from merl_etl_spark.registry import register
from merl_etl_spark.sources.tables import load_table

DAMPING_PCT = 85      # damping factor as an integer percentage
ITERATIONS = 3
SCALE = 10**12        # fixed-point scale for integer rank arithmetic


def pagerank(edges: DataFrame, iterations: int = ITERATIONS) -> DataFrame:
    """Fixed-iteration weighted PageRank over a directed edge list
    ``(src, dst, w)``.  Returns ``(node, pagerank)`` where pagerank is
    the ×10^12 fixed-point rank divided back to double at the output
    boundary.

    Nodes are taken from the src side (symmetrize the edge list first
    if the graph has sinks — a node with no out-edges would leak rank
    mass).  All joins are equi-joins keyed by src/dst; the rank vector
    is |V| rows against |E| edges, the classic iterate-shape that
    scales by partitioning edges on the join key.

    The edge list and its out-weight rollup are lineage-cut ONCE before
    the iterate (r14 optimization, guide §2.4/§5): every unrolled
    iteration references ``edges`` twice (contrib + outw) and ``nodes``
    once, so a composed plan re-executes the caller's edge-derivation
    pipeline O(iterations²) times — text-textrank-keywords measured 120
    parquet scans / 115 Exchanges in one 849-node plan (the whole
    tokenize→vocab→adjacency substrate re-run per reference).  At 100 TB
    the substrate is a corpus-scale aggregate; recomputing it per round
    is the difference between one pass and a dozen.  After the cut the
    iterations compose over the materialized |E|-row frame only."""
    edges = edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    # eager=False (r15, ADVICE r14 #2): the nodes.count() below forces
    # materialization of edges AND outw in one job anyway — an eager cut
    # here only added a second blocking job per pagerank construction
    # (and made merely BUILDING the DataFrame run Spark jobs twice).
    edges = cut_lineage(edges, eager=False)
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    outw = cut_lineage(outw, eager=False)  # consumers: nodes + every iteration
    nodes = outw.select(F.col("src").alias("node"))
    n_nodes = nodes.count()  # one tiny job; |V| is a plan constant here

    rank = nodes.select(
        "node", F.lit(SCALE // n_nodes).cast("long").alias("r")
    )
    base = ((100 - DAMPING_PCT) * SCALE) // (100 * n_nodes)
    for _ in range(iterations):
        contrib = (
            edges.join(rank, edges["src"] == rank["node"])
            .join(outw, "src")
            .select("dst", F.expr("(r * w) DIV ow").alias("c"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("sc"))
        rank = (
            nodes.join(sums, nodes["node"] == sums["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({DAMPING_PCT} * coalesce(sc, 0)) DIV 100")
                ).alias("r"),
            )
        )
    return rank.select(
        "node", (F.col("r").cast("double") / F.lit(float(SCALE))).alias("pagerank")
    )


def _iter_sql(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
    c{i} AS (
      SELECT e.dst, (r.r * e.w) // ow.ow AS c
      FROM edges e JOIN {prev} r ON r.node = e.src JOIN outw ow ON ow.src = e.src
    ),
    s{i} AS (SELECT dst, sum(c) AS sc FROM c{i} GROUP BY dst),
    r{i} AS (
      SELECT n.node,
             (15 * {SCALE}) // (100 * (SELECT n FROM nn))
               + ({DAMPING_PCT} * COALESCE(s.sc, 0)) // 100 AS r
      FROM nodes n LEFT JOIN s{i} s ON s.dst = n.node
    )"""


_PAGERANK_ORACLE = f"""
WITH edges0 AS (
  SELECT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst,
         count(*) AS w
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT src, dst, w FROM edges0
  UNION ALL
  SELECT dst AS src, src AS dst, w FROM edges0
),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM outw),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (
  SELECT node, CAST({SCALE} // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes
),{",".join(_iter_sql(i) for i in range(1, ITERATIONS + 1))}
SELECT node, CAST(r AS DOUBLE) / {float(SCALE)} AS pagerank FROM r{ITERATIONS}
"""


@register("graph-pagerank", oracle=_PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration weighted PageRank over the symmetrized
    customer↔supplier trade graph (edge weight = lineitem count).
    The oracle unrolls the identical integer-arithmetic iterations as
    chained CTEs (``//`` is DuckDB's floor division ≡ Spark ``DIV``
    for the all-positive operands here)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    e0 = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = e0.unionByName(
        e0.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    return pagerank(edges)


# ---------------------------------------------------------------------------
# graph-triangles — triangle census over a top-K co-occurrence graph
# ---------------------------------------------------------------------------

# Edge budget for the demonstration graph: the top-K supplier pairs by
# shared-part count (deterministic tie-break on the pair ids).  A fixed
# top-K — rather than a "shared >= t" threshold — because the TPC-H
# co-supply graph is near-complete at every fixture SF (every supplier
# pair shares some part), so any absolute threshold either keeps the
# complete graph or empties it as SF changes.  Top-K is the shape a
# production "strongest relationships" graph uses anyway, and Spark
# evaluates it as a map-side-capped TakeOrdered, never a global window.
TRI_EDGE_TOP = 2000


def cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared co-supply edge census (top-TRI_EDGE_TOP supplier pairs
    by shared-part count) consumed by graph-triangles,
    graph-jaccard-links and graph-bfs-hops — one definition so the three
    queries census the same graph by construction.

    r15 optimization (guide §2.4 "remove shuffles outright" + the
    spread_pairs bytes-underestimate-work rule): the census used to pay
    THREE exchanges — distinct on (l_partkey, l_suppkey), the
    capped_bucket_pairs window on l_partkey, and the pair groupBy — and
    AQE coalesced the small-bytes distinct exchange onto few cores right
    before the 8.7M-row pair explode.  One explicit keyed repartition on
    l_partkey now feeds BOTH the distinct and the window (hash
    partitioning on l_partkey clusters every (l_partkey, l_suppkey)
    group and every window partition), removing two exchanges and
    pinning the explode's parallelism.  Measured at sf0.1: 5 -> 3
    exchanges, census noop time 2.4 -> 1.1 s, byte-identical edge list.

    The ≤TRI_EDGE_TOP-row result is eager-cut once: every consumer
    references it 2-4 times (union arms, triangle closure, anti-join)
    and a TakeOrdered has no exchange for runtime reuse to dedup."""
    from merl_etl_spark.operators.dedup import capped_bucket_pairs, pin_parallelism

    lineitem = load_table(spark, sf_dir, "lineitem")
    su = pin_parallelism(
        lineitem.select("l_partkey", "l_suppkey"), "l_partkey"
    ).distinct()
    # pack the pair into ONE long before the count exchange (guide §2.3
    # "narrower types / shuffle fewer bytes"): the co-supply pair mass is
    # quadratic in suppliers-per-part (900M rows at the 100× stress star)
    # and its distinct-pair cardinality defeats map-side partial
    # aggregation, so the exchange carries every emission — halving the
    # key bytes measured 144 -> 113 s on the 100× census (warm
    # interleaved A/B; edge list byte-identical).  assert_true keeps the
    # pack LOUD: an id outside the pack domain fails the job instead of
    # silently aliasing pairs.  id_b fills the low 32 bits; id_a * 2^32
    # must stay below 2^63, so id_a < 2^31 (supplier keys are ints in any
    # TPC-H-shaped corpus; 2^31 suppliers is far past the fixture contract).
    pack = 1 << 32
    guard = (
        f"assert_true(id_a >= 0 AND id_a < {1 << 31} AND "
        f"id_b >= 0 AND id_b < {pack}, "
        f"'cosupply_edges: supplier id outside the 32-bit pack domain')"
    )
    edges = (
        capped_bucket_pairs(su, ["l_partkey"], "l_suppkey")
        .select(F.expr(f"ifnull({guard}, id_a * {pack}L + id_b)").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("shared"))
        .select(
            F.expr(f"p DIV {pack}L").alias("id_a"),
            F.expr(f"p % {pack}L").alias("id_b"),
            "shared",
        )
        .orderBy(F.desc("shared"), F.asc("id_a"), F.asc("id_b"))
        .limit(TRI_EDGE_TOP)
        .select("id_a", "id_b")
    )
    return cut_lineage(edges, eager=True)


@register(
    "graph-triangles",
    oracle=f"""
    WITH su AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    pairs AS (
      SELECT a.l_suppkey AS id_a, b.l_suppkey AS id_b, count(*) AS shared
      FROM su a JOIN su b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b FROM pairs
      ORDER BY shared DESC, id_a, id_b LIMIT {TRI_EDGE_TOP}
    ),
    tri AS (
      SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
      FROM edges e1
      JOIN edges e2 ON e2.id_a = e1.id_b
      JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    node_tris AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node, count(*) AS n_triangles
    FROM node_tris GROUP BY node
    ORDER BY n_triangles DESC, node LIMIT 20
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the supplier co-supply graph: nodes are
    suppliers, edges the TRI_EDGE_TOP strongest pairs by shared-part
    count, output the 20 most triangle-embedded suppliers — the classic
    cohesion/community signal (a supplier in many triangles sits inside
    a densely interlocked supply cluster, not a hub-and-spoke).

    Spark-first shape: the pair expansion rides ``capped_bucket_pairs``
    (parts are the buckets, suppliers the items — the same bounded
    expansion the LSH tiers use, so one degenerate part that half the
    suppliers touch cannot quadratically blow up an executor); edge
    selection is a TakeOrdered top-K; the triangle enumeration is the
    standard two equi-joins over the oriented edge list (id_a < id_b
    everywhere, so each triangle is materialized exactly once as
    x < y < z).  At scale the edge list is K rows — broadcastable —
    and every join is an equi-join.

    The fixture cap (1024) is far above the max suppliers-per-part at
    any test SF (41 at sf0.1), so no star-routing fires and the plain
    all-pairs SQL oracle sees the identical pair set.

    The edge list is referenced three times below (e1/e2/e3); without a
    materialization barrier Spark re-runs the full pair-mining pipeline
    once per reference (no Exchange to reuse above a TakeOrdered) — the
    shared census helper cuts it once (see cosupply_edges)."""
    edges = cosupply_edges(spark, sf_dir)
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.id_b") == F.col("e2.id_a"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
        .select(
            F.col("e1.id_a").alias("x"),
            F.col("e1.id_b").alias("y"),
            F.col("e2.id_b").alias("z"),
        )
    )
    # r14 optimization (guide §2.4): credit all three corners via one
    # explode instead of a 3-way self-union — the union form re-executed
    # the two triangle-closure joins once per corner (3× the dominant
    # join work; 12 BroadcastHashJoins in the before-plan, 4 after).
    # Same multiset of (node) rows, so the census is unchanged.
    node_tris = tri.select(
        F.explode(F.array("x", "y", "z")).alias("node")
    )
    return (
        node_tris.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("node"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# graph-components — fixed-iteration connected components (min-label)
# ---------------------------------------------------------------------------

# Edge threshold: customer↔supplier pairs with >= CC_MIN_W shared line
# items — repeat business, the meaningful relationship (the raw trade
# graph is denser still).
CC_MIN_W = 2
# Rounds: each round is neighbor-min THEN one pointer jump
# (lbl' = nm(nm(v)) — Shiloach-Vishkin shortcutting), so the min label
# spreads one hop along edges and label chains compress geometrically.
# Plain neighbor-min alone needs ~eccentricity rounds (measured 10+ at
# sf0.1); with the jump the fixture graphs converge in <= 8 — 10 gives
# margin, and non-convergence is OBSERVED (converged=false, identical
# in both engines), never divergence.
CC_ITERS = 10


# AS MATERIALIZED is load-bearing: nm{i} is SELF-JOINED (the pointer
# jump) and l{i} feeds two next-round CTEs, so an inlining planner
# doubles the tree per round — 2^CC_ITERS scans of lineitem ("too many
# open files" was the observed failure mode at CC_ITERS=10).
def _cc_iter_sql(i: int) -> str:
    prev = f"l{i - 1}"
    return f"""
    nb{i} AS MATERIALIZED (
      SELECT e.dst AS node, min(l.lbl) AS nl
      FROM cc_edges e JOIN {prev} l ON l.node = e.src
      GROUP BY e.dst
    ),
    nm{i} AS MATERIALIZED (
      SELECT l.node, least(l.lbl, COALESCE(nb.nl, l.lbl)) AS lbl
      FROM {prev} l LEFT JOIN nb{i} nb ON nb.node = l.node
    ),
    l{i} AS MATERIALIZED (
      SELECT a.node, COALESCE(b.lbl, a.lbl) AS lbl
      FROM nm{i} a LEFT JOIN nm{i} b ON b.node = a.lbl
    )"""


_CC_ORACLE = f"""
WITH e0 AS MATERIALIZED (
  SELECT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2 HAVING count(*) >= {CC_MIN_W}
),
cc_edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM e0
),
l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM cc_edges),{
    ",".join(_cc_iter_sql(i) for i in range(1, CC_ITERS + 1))},
chg AS (
  SELECT count(*) AS n_changed
  FROM l{CC_ITERS} a JOIN l{CC_ITERS - 1} b ON a.node = b.node
  WHERE a.lbl <> b.lbl
)
SELECT CAST(lbl AS BIGINT) AS component,
       count(*) AS n_nodes,
       (SELECT n_changed = 0 FROM chg) AS converged
FROM l{CC_ITERS} GROUP BY lbl
"""


def min_label_propagation(edges: DataFrame, iters: int) -> tuple:
    """``iters`` rounds of neighbor-min label propagation + one pointer
    jump per round over a symmetric integer edge list ``(src, dst)``.
    Returns ``(last, second_last)`` — the ``(node, lbl)`` frames after
    rounds ``iters`` and ``iters-1``, so the caller can both read the
    labels and OBSERVE convergence (equality of the two frames).

    Relationship to dedup.py's ``connected_components`` (which the
    ER/dedup tiers use): that loop iterates ADAPTIVELY to a fixpoint
    with driver-side convergence checks and eager cuts — the right
    call when correctness requires full convergence and no SQL oracle
    must replay the exact round count.  This one runs a FIXED round
    count with a lazy plan (oracle-replayable as unrolled CTEs) and
    adds the pointer jump; they serve different contracts and are kept
    separate deliberately.  The loop shape also serves any
    min/max-semilattice propagation (reachability flags, earliest
    timestamps)."""
    edges = cut_lineage(edges, eager=False)
    prev = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    last = second_last = prev
    for i in range(1, iters + 1):
        nb = (
            edges.join(prev.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nl"))
        )
        # (r14 note: a union + keyed-min merge was measured here and
        # REVERTED — the left join lets AQE broadcast the small
        # neighbor-min delta and stream the |V| frame without an
        # exchange, which beat the full |V| re-shuffle the union form
        # pays; see OPTIMIZATION_r14.md)
        nm = (
            prev.join(nb, "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nl", F.col("lbl"))).alias("lbl"),
            )
        )
        # pointer jump: follow my label to ITS label (nm(nm(v))); the nm
        # frame is referenced twice so cut it — without the cut each
        # round's subtree doubles and the plan is 2^K nodes deep (the
        # exact blowup the oracle's AS MATERIALIZED guards against).
        # (r15: a cut-every-2-rounds variant was measured and REVERTED —
        # +0.8 s on graph-components in paired noop A/Bs; the duplicated
        # uncut round body re-executes its broadcast-join work, which
        # runtime exchange reuse does not dedup.)
        nm = cut_lineage(nm, eager=False)
        cur = (
            nm.alias("a")
            .join(
                nm.select(
                    F.col("node").alias("jnode"), F.col("lbl").alias("jlbl")
                ),
                F.col("a.lbl") == F.col("jnode"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.coalesce("jlbl", F.col("a.lbl")).alias("lbl"),
            )
        )
        if i == iters:
            last, second_last = cur, prev
        prev = cur
    # `last` typically feeds BOTH a change counter and a census — cut it
    # so the tail rounds aren't re-executed per consumer
    return cut_lineage(last, eager=False), second_last


@register("graph-components", oracle=_CC_ORACLE)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the repeat-business trade graph
    (customer↔supplier edges with >= CC_MIN_W shared line items) by
    CC_ITERS rounds of min-label propagation WITH pointer jumping
    (each round: neighbor-min, then lbl' = nm(nm(v)) — the
    Shiloach-Vishkin shortcut that compresses label chains
    geometrically), emitting the component census plus a ``converged``
    flag (did the last round change any label).  At a fixpoint the
    labels provably equal each component's minimum node id (labels are
    monotone non-increasing, stay within the component's id set, and a
    neighbor-min fixpoint is edge-wise constant).  Components are the
    backbone primitive the ER tier uses internally (linkage.py golden
    records, dedup.py cluster ids); this registers the standalone graph
    operator with a driver oracle.

    Determinism: node ids are integers (custkey*2 / suppkey*2+1), every
    step is an integer min — bit-stable in any engine; the oracle
    unrolls the identical rounds as chained CTEs.  Convergence is
    OBSERVED, not assumed: if CC_ITERS rounds don't reach a fixpoint on
    some corpus, both engines emit the same labels with
    converged=false rather than diverging.

    Scale (100 TB): each round is the pagerank shape — a |V|-row label
    frame equi-joined to the edge list on src, min-aggregated on dst
    (map-side combinable) — plus one |V|⋈|V| self-join for the jump,
    so rounds cost three keyed shuffles on label-sized frames and the
    edge list can stay hash-partitioned on src across all rounds.
    A lineage cut halfway keeps the composed plan shallow; at
    production round counts, checkpoint each round (the
    spark.merl.checkpoint.reliable knob)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    e0 = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= CC_MIN_W)
    )
    edges = e0.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        e0.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    last, second_last = min_label_propagation(edges, CC_ITERS)
    changed = (
        last.withColumnRenamed("lbl", "a")
        .join(second_last.withColumnRenamed("lbl", "b"), "node")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("a") != F.col("b"), 1).otherwise(0)), F.lit(0)
            ).alias("n_changed")
        )
    )
    return (
        last.groupBy(F.col("lbl").alias("component"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(F.broadcast(changed))
        .select("component", "n_nodes", (F.col("n_changed") == 0).alias("converged"))
    )


# ---------------------------------------------------------------------------
# graph-jaccard-links — common-neighbor link prediction over the edge census
# ---------------------------------------------------------------------------

LP_TOP = 20


@register(
    "graph-jaccard-links",
    oracle=f"""
    WITH su AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    pairs AS (
      SELECT a.l_suppkey AS id_a, b.l_suppkey AS id_b, count(*) AS shared
      FROM su a JOIN su b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b FROM pairs
      ORDER BY shared DESC, id_a, id_b LIMIT {TRI_EDGE_TOP}
    ),
    und AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION ALL SELECT id_b, id_a FROM edges
    ),
    deg AS (SELECT u, count(*) AS deg FROM und GROUP BY 1),
    cn AS (
      SELECT x.u AS id_a, y.v AS id_b, count(*) AS cn
      FROM und x JOIN und y ON x.v = y.u AND x.u < y.v
      GROUP BY 1, 2
    ),
    nonadj AS (
      SELECT c.id_a, c.id_b, c.cn
      FROM cn c LEFT JOIN edges e ON e.id_a = c.id_a AND e.id_b = c.id_b
      WHERE e.id_a IS NULL
    )
    SELECT n.id_a, n.id_b, n.cn, da.deg AS deg_a, db.deg AS deg_b,
           n.cn * 1000000 // (da.deg + db.deg - n.cn) AS jaccard_ppm
    FROM nonadj n
    JOIN deg da ON da.u = n.id_a
    JOIN deg db ON db.u = n.id_b
    ORDER BY jaccard_ppm DESC, n.id_a, n.id_b LIMIT {LP_TOP}
    """,
)
def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg, CIKM
    2003) over the supplier co-supply graph: for every NON-adjacent
    supplier pair with at least one common neighbor, the Jaccard
    coefficient of their neighbor sets — |N(u)∩N(v)| / |N(u)∪N(v)| —
    emitted as an exact integer ppm (the union comes from the
    inclusion–exclusion identity deg(u)+deg(v)−cn, so no set
    materialization), top-LP_TOP (20) strongest predicted links.  The
    "who should be connected but isn't" primitive behind
    recommendation candidates and data-integration blocking.

    Scale shape: the edge census is the graph-triangles pipeline
    (capped_bucket_pairs pair mining → TakeOrdered top-K), so the
    whole prediction runs on a ≤TRI_EDGE_TOP-row edge list: the
    common-neighbor join is two equi-joins through the shared middle
    node (worst case Σ deg² over the BOUNDED edge budget), degrees are
    a keyed count, adjacency exclusion is a hash anti-join, and the
    final ranking is a map-side-capped TakeOrdered — never a window
    over unbounded rows.  At production graph sizes the edge budget is
    the dial; the plan shape is constant.

    Determinism: common-neighbor counts and degrees are exact integers,
    the score an integer floor division, ties broken on (id_a, id_b);
    the edge list itself is tie-broken (shared DESC, id_a, id_b) so
    both engines census the same graph.

    Oracle-parity assumption (same as graph-triangles, which shares
    this census): the oracle pair-expands every part bucket
    unconditionally, valid because the fixture cap (1024) is far above
    the max suppliers-per-part at any test SF (41 at sf0.1); on a
    corpus with a hot >cap bucket the Spark side would star-route that
    bucket (by design — the oracle, not the plan, is what stops
    scaling there).  The capped star path itself is covered by the
    degenerate-corpus pytest of capped_bucket_pairs."""
    # four consumers (both union arms feed und which feeds deg + cn twice,
    # plus the anti-join) — the shared census helper cuts the
    # ≤TRI_EDGE_TOP-row list once (see cosupply_edges)
    edges = cosupply_edges(spark, sf_dir)
    und = edges.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionAll(edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    und = cut_lineage(und, eager=False)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    cn = (
        und.alias("x")
        .join(
            und.alias("y"),
            (F.col("x.v") == F.col("y.u")) & (F.col("x.u") < F.col("y.v")),
        )
        .groupBy(F.col("x.u").alias("id_a"), F.col("y.v").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonadj = cn.join(edges, ["id_a", "id_b"], "left_anti")
    da = deg.select(F.col("u").alias("id_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("id_b"), F.col("deg").alias("deg_b"))
    return (
        nonadj.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .select(
            "id_a",
            "id_b",
            "cn",
            "deg_a",
            "deg_b",
            F.expr("cn * 1000000 DIV (deg_a + deg_b - cn)").alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), F.asc("id_a"), F.asc("id_b"))
        .limit(LP_TOP)
    )


# ---------------------------------------------------------------------------
# graph-bfs-hops — BFS distances over the censused co-supply graph
# ---------------------------------------------------------------------------

# fixed BFS round budget: far above the censused graph's diameter at any
# fixture SF (≤4 observed); the emitted max(hops) + the oracle's hard
# recursion bound make an undershoot VISIBLE, not silent (the
# graph-components fixed-iteration contract)
BFS_ROUNDS = 8


@register(
    "graph-bfs-hops",
    oracle=f"""
    WITH RECURSIVE su AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    pairs AS (
      SELECT a.l_suppkey AS id_a, b.l_suppkey AS id_b, count(*) AS shared
      FROM su a JOIN su b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b FROM pairs
      ORDER BY shared DESC, id_a, id_b LIMIT {TRI_EDGE_TOP}
    ),
    und AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION ALL SELECT id_b, id_a FROM edges
    ),
    src AS (SELECT min(u) AS s FROM und),
    walk(node, hops) AS (
      SELECT s, 0 FROM src
      UNION
      SELECT e.v, w.hops + 1
      FROM walk w JOIN und e ON e.u = w.node
      WHERE w.hops < {BFS_ROUNDS}
    ),
    d AS (SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM walk GROUP BY 1)
    SELECT hops, count(*) AS n_nodes,
           min(node) AS min_node, max(node) AS max_node
    FROM d GROUP BY 1
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances from a deterministic source (the smallest node
    id) over the censused co-supply graph, emitted as the per-level
    frontier census (hop → node count + id range) — the reachability /
    blast-radius primitive next to graph-components (membership),
    graph-pagerank (influence) and graph-jaccard-links (prediction).

    Spark-first shape: the min-distance semilattice propagated for
    BFS_ROUNDS fixed rounds — each round one equi-join + keyed min over
    the ≤2·TRI_EDGE_TOP-row undirected edge list, lineage-cut per round
    (the min_label_propagation physics with distance+1 instead of
    label-min; distances can only decrease, so a fixed round budget ≥
    diameter is exact).  The oracle replays it as a hard-bounded
    recursive CTE with min-aggregation, so both engines run the SAME
    truncated-BFS contract: nodes farther than BFS_ROUNDS are absent
    from BOTH (none exist at fixture SFs — the emitted max level makes
    an undershoot visible).

    Determinism: hops are exact integers; the level census collapses
    node sets order-independently (count/min/max)."""
    edges = cosupply_edges(spark, sf_dir)
    und = cut_lineage(
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionAll(
            edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        ),
        eager=False,
    )
    src = F.broadcast(und.agg(F.min("u").alias("s")))
    dist = (
        und.select("u").distinct()
        .crossJoin(src)
        .select(
            F.col("u").alias("node"),
            F.when(F.col("u") == F.col("s"), F.lit(0)).alias("d"),
        )
    )
    for _ in range(BFS_ROUNDS):
        nbr = (
            und.join(
                dist.where(F.col("d").isNotNull()).withColumnRenamed("node", "u"),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg((F.min("d") + 1).alias("nd"))
        )
        # (r14 note: a union + keyed-min merge was measured here and
        # REVERTED — the left join broadcasts the small frontier delta
        # and streams the distance frame without an exchange; see
        # OPTIMIZATION_r14.md)
        # eager=False (r15, guide §2.6 "stragglers and idle capacity" /
        # §1 job-latency): an eager cut per round is a BLOCKING driver
        # job — 8 sequential job dispatches for this loop alone.  The
        # lazy cut still truncates the logical plan at build time (the
        # round frame is referenced twice next round) but materializes
        # as part of the single covering job, so the whole loop runs as
        # one job's stage chain instead of 8 barriers.
        dist = cut_lineage(
            dist.join(nbr, "node", "left").select(
                "node",
                F.least(
                    F.coalesce("d", "nd"), F.coalesce("nd", "d")
                ).alias("d"),
            ),
            eager=False,
        )
    return (
        dist.where(F.col("d").isNotNull())
        .groupBy(F.col("d").cast("long").alias("hops"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
    )


# ---------------------------------------------------------------------------
# graph-label-propagation — synchronous LPA communities, fixed rounds
# ---------------------------------------------------------------------------

# fixed synchronous label-propagation rounds.  Deterministic by
# construction (majority vote with a (count DESC, label ASC) tie-break
# and a self-vote), so a fixed budget is exact for BOTH engines even if
# the labels have not stabilized — the oracle unrolls the SAME rounds.
# The self-vote also damps the 2-cycle oscillation synchronous LPA is
# known for on bipartite-ish regions.
LPA_ROUNDS = 4

def _lpa_oracle() -> str:
    """Unroll LPA_ROUNDS synchronous vote rounds as chained CTEs — the
    SQL twin of the Spark loop below (recursive CTEs cannot express a
    synchronous all-nodes relabel with a per-node argmax).  The edge
    substrate is the sim-knn-graph oracle embedded verbatim, so the
    community structure is pinned against the SAME kNN edges the
    similarity tier ships."""
    from merl_etl_spark.operators.similarity import _knn_graph_oracle

    census = f"""
    WITH knn AS ({_knn_graph_oracle()}),
    und AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM knn
        UNION ALL SELECT dst, src FROM knn
      )
    ),
    nodes AS (SELECT DISTINCT u FROM und),
    undx AS (SELECT u, v FROM und UNION ALL SELECT u, u FROM nodes),
    l0 AS (SELECT u AS node, u AS label FROM nodes)
"""
    rounds = []
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
    l{i} AS (
      SELECT node, label FROM (
        SELECT e.u AS node, l.label, count(*) AS c,
               row_number() OVER (PARTITION BY e.u
                                  ORDER BY count(*) DESC, l.label) AS rn
        FROM undx e JOIN l{i - 1} l ON l.node = e.v
        GROUP BY 1, 2
      ) WHERE rn = 1
    )""")
    return (
        census
        + ","
        + ",".join(rounds)
        + f"""
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
           min(node) AS min_node, max(node) AS max_node
    FROM l{LPA_ROUNDS} GROUP BY 1
    """
    )


@register("graph-label-propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    2007) over the kNN similarity graph: every node starts as its own
    label, then for LPA_ROUNDS rounds simultaneously adopts the most
    frequent label among its neighbors-plus-self (ties to the smallest
    label), emitted as the community census.  Over a kNN substrate this
    is the semantic-clustering step of a curation pipeline (SemDeDup's
    "cluster then keep representatives" without a k-means fit) — and
    the clustering complement to graph-components (connectivity ignores
    density; LPA splits a connected blob into its dense cores; the
    co-supply census graph is near-complete at fixture scale, which is
    exactly the regime where components/LPA degenerate to one blob, so
    the sparse kNN graph is the honest substrate).

    Determinism: plain LPA is notoriously nondeterministic (random
    visit order, random tie-breaks); this variant pins BOTH — fully
    synchronous rounds and a total (count DESC, label ASC) vote order —
    so labels are exact integers and the oracle can unroll the
    identical rounds over the SAME kNN edge oracle sim-knn-graph ships.
    The census collapses order-independently.

    Scale (100 TB): edge generation is sim-knn-graph's capped LSH
    bucket expansion (equi-joins only) + per-source WindowGroupLimit;
    each LPA round is one equi-join of the |V|-row label frame with the
    ≤k·|V|-row edge list (co-partitioned on the vote target) + one
    keyed count + a per-node argmax — the graph-pagerank physics with
    argmax instead of sum; lineage is cut per round.  The round count
    is fixed and nothing collects to the driver."""
    from merl_etl_spark.operators.similarity import knn_und_edges

    und = cut_lineage(
        knn_und_edges(load_table(spark, sf_dir, "embeddings")), eager=True
    )
    nodes = und.select("u").distinct()
    undx = cut_lineage(
        und.unionAll(nodes.select("u", F.col("u").alias("v"))), eager=False
    )
    lab = nodes.select(F.col("u").alias("node"), F.col("u").alias("label"))
    for _ in range(LPA_ROUNDS):
        votes = (
            undx.join(lab.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # r14 optimization (guide §2.3): the (count DESC, label ASC)
        # argmax as max_by over struct(c, -label) — a hash aggregate
        # with map-side partials — instead of a row_number window
        # (exchange + full in-partition sort) per round.  Labels are
        # node ids (BIGINT ≥ 0), so max(-label) = min(label) breaks
        # count ties toward the smallest label, exactly the window's
        # rn=1 pick; (c, -label) pairs are unique per node, so the
        # winner is total-ordered in both forms.
        # eager=False (r15): the lazy cut still truncates the per-round
        # plan (lab feeds next round's join) but materializes inside the
        # single covering job — no per-round blocking driver job (same
        # change as the BFS loop; guide §1 job-latency)
        lab = cut_lineage(
            votes.groupBy("node").agg(
                F.expr("max_by(label, struct(c, -label))").alias("label")
            ),
            eager=False,
        )
    return lab.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


# ---------------------------------------------------------------------------
# graph-kcore — iterative peeling to the k-core of the kNN graph
# ---------------------------------------------------------------------------

# core order and fixed peel-round budget.  Peeling is monotone (nodes
# only ever leave), so R rounds ≥ the true peel depth make the fixpoint
# exact; like BFS_ROUNDS the oracle unrolls the SAME budget, so both
# engines run the identical truncated contract and an undershoot would
# diverge visibly, not silently.
KCORE_K = 2
KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    from merl_etl_spark.operators.similarity import _knn_graph_oracle

    rounds = []
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
    d{i} AS MATERIALIZED (
      SELECT e.u AS node, count(*) AS deg
      FROM und e
      JOIN s{i - 1} a ON e.u = a.node
      JOIN s{i - 1} b ON e.v = b.node
      GROUP BY 1
    ),
    s{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {KCORE_K})""")
    return f"""
    WITH knn AS MATERIALIZED ({_knn_graph_oracle()}),
    und AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM knn
        UNION ALL SELECT dst, src FROM knn
      )
    ),
    s0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM und),
    {",".join(rounds)},
    core_deg AS (
      SELECT e.u AS node, CAST(count(*) AS BIGINT) AS deg
      FROM und e
      JOIN s{KCORE_ROUNDS} a ON e.u = a.node
      JOIN s{KCORE_ROUNDS} b ON e.v = b.node
      GROUP BY 1
    )
    SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes,
           min(node) AS min_node, max(node) AS max_node
    FROM core_deg GROUP BY 1
    """


@register("graph-kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {KCORE_K}-core of the kNN similarity graph — iteratively peel
    nodes of degree < k until none remain, emit the survivors' degree
    census.  The density filter the rest of the graph tier lacks:
    components/LPA keep every hair and pendant, pagerank scores them,
    the k-core DELETES them — leaving the mutually-similar kernels that
    mark boilerplate families and template clusters in a dedup pipeline
    (and, in fraud graphs, collusion rings).

    Spark-first shape: each peel round is one membership semi-filter of
    the edge list (two equi-joins against the surviving-node frame) +
    one keyed degree count + a filter — the graph-components physics
    with a threshold instead of a min; lineage cut per round, fixed
    KCORE_ROUNDS budget unrolled identically in the oracle.  Peeling is
    monotone so the budget only needs to cover the peel depth (≤3
    observed at fixture SFs; survivors' degrees make an undershoot
    visible).

    Determinism: degrees are exact integers over the pinned
    sim-knn-graph edge substrate; the census collapses
    order-independently."""
    from merl_etl_spark.operators.similarity import knn_und_edges

    und = cut_lineage(
        knn_und_edges(load_table(spark, sf_dir, "embeddings")), eager=True
    )
    surv = und.select(F.col("u").alias("node")).distinct()
    for _ in range(KCORE_ROUNDS):
        deg = (
            und.join(surv.withColumnRenamed("node", "u"), "u")
            .join(surv.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # eager=False (r15): same per-round-job-latency fix as the BFS
        # and LPA loops — the lazy cut truncates the plan identically
        # but drops 8 blocking driver jobs; measured -0.5 s in paired
        # bench samples (3.2/3.5 vs 3.8/3.9 s)
        surv = cut_lineage(
            deg.where(F.col("deg") >= KCORE_K).select("node"), eager=False
        )
    core_deg = (
        und.join(surv.withColumnRenamed("node", "u"), "u")
        .join(surv.withColumnRenamed("node", "v"), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return core_deg.groupBy("deg").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


# ---------------------------------------------------------------------------
# graph-assortativity — degree correlation of the kNN graph
# ---------------------------------------------------------------------------


def _assortativity_oracle() -> str:
    from merl_etl_spark.operators.aggregates import corr_from_moments
    from merl_etl_spark.operators.similarity import _knn_graph_oracle

    corr = corr_from_moments("n_edges", "sx", "sy", "sxx", "syy", "sxy")
    return f"""
    WITH knn AS MATERIALIZED ({_knn_graph_oracle()}),
    und AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM knn
        UNION ALL SELECT dst, src FROM knn
      )
    ),
    degs AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1
    ),
    pairs AS (
      SELECT du.deg AS x, dv.deg AS y
      FROM und e JOIN degs du ON du.node = e.u JOIN degs dv ON dv.node = e.v
    ),
    m AS (
      -- moment sums / per-row degree products widened past int64
      -- (HUGEINT here, DECIMAL in Spark — see agg-variance-exact):
      -- hub in-degrees are corpus-bounded, not k-bounded, so deg² rows
      -- can pass int64 on a near-dup-core graph
      SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM pairs
    ),
    dd AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             min(deg) AS min_deg, max(deg) AS max_deg
      FROM degs
    )
    SELECT m.n_edges, dd.n_nodes, dd.min_deg, dd.max_deg,
           round({corr}, 6) AS assortativity
    FROM m, dd
    """


@register("graph-assortativity", oracle=_assortativity_oracle())
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the kNN similarity graph (Newman 2002):
    the Pearson correlation of endpoint degrees over every directed
    edge — positive means hubs link to hubs (a dense near-dup core
    recruiting more members), negative means hub-and-spoke (one
    template document with many unique-ish satellites).  The one-number
    topology summary that tells a dedup pipeline which clustering
    regime it is in, computed on the SAME pinned edge substrate as
    graph-kcore / graph-label-propagation.

    Determinism: degrees and the six moments are exact integers over
    the pinned kNN edges; the coefficient is corr_from_moments — the
    shared divisions-first formula with the degenerate-variance NULL
    guard — rounded once.

    Scale (100 TB): degree is one keyed count; the endpoint join is two
    equi-joins of the edge list against the |V|-row degree frame
    (broadcastable); the moments reduce map-side-combinably to ONE row.
    No window, no pair expansion beyond the edges themselves."""
    from merl_etl_spark.operators.aggregates import corr_from_moments
    from merl_etl_spark.operators.similarity import knn_und_edges

    corr = corr_from_moments("n_edges", "sx", "sy", "sxx", "syy", "sxy")
    und = cut_lineage(
        knn_und_edges(load_table(spark, sf_dir, "embeddings")), eager=True
    )
    degs = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    degs = cut_lineage(degs, eager=False)  # three consumers: 2 joins + census
    pairs = (
        und.join(degs.selectExpr("node AS u", "deg AS x"), "u")
        .join(degs.selectExpr("node AS v", "deg AS y"), "v")
        # widened moments (DECIMAL here, HUGEINT in the oracle — hub
        # in-degrees are corpus-bounded, so deg products can pass int64)
        .select(
            F.col("x").cast("decimal(19,0)").alias("x"),
            F.col("y").cast("decimal(19,0)").alias("y"),
        )
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    dd = degs.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
    )
    return m.crossJoin(F.broadcast(dd)).selectExpr(
        "n_edges",
        "n_nodes",
        "min_deg",
        "max_deg",
        f"round({corr}, 6) AS assortativity",
    )


# ---------------------------------------------------------------------------
# graph-clustering-coefficient — local CC census of the kNN graph
# ---------------------------------------------------------------------------


def _clustering_oracle() -> str:
    from merl_etl_spark.operators.similarity import _knn_graph_oracle

    return f"""
    WITH knn AS MATERIALIZED ({_knn_graph_oracle()}),
    und AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM knn
        UNION ALL SELECT dst, src FROM knn
      )
    ),
    degs AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1
    ),
    tri AS (
      SELECT e1.u AS node, CAST(count(*) AS BIGINT) AS n_tri
      FROM und e1
      JOIN und e2 ON e2.u = e1.u AND e1.v < e2.v
      JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v
      GROUP BY 1
    ),
    node_cc AS (
      SELECT d.node, d.deg, COALESCE(t.n_tri, CAST(0 AS BIGINT)) AS n_tri
      FROM degs d LEFT JOIN tri t ON t.node = d.node
    )
    SELECT deg,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(SUM(n_tri) AS BIGINT) AS n_closed,
           CAST(count(*) * deg * (deg - 1) // 2 AS BIGINT) AS n_wedges,
           CASE WHEN deg >= 2
                THEN round(CAST(2 AS DOUBLE) * CAST(SUM(n_tri) AS DOUBLE)
                           / (CAST(count(*) AS DOUBLE) * CAST(deg AS DOUBLE)
                              * CAST(deg - 1 AS DOUBLE)), 6)
                ELSE NULL END AS mean_cc
    FROM node_cc GROUP BY deg
    """


def clustering_census(und: DataFrame) -> DataFrame:
    """The oriented-wedge census engine behind
    graph-clustering-coefficient, factored so tests can drive it on
    synthetic edge sets (review r12: the triangle regression must
    exercise THIS orientation/closure chain, not a Python replica —
    the coalesce_islands rule).  Input: symmetric, distinct (u, v)
    undirected edges.  Output: the per-degree census."""
    und = cut_lineage(und, eager=True)  # consumers: degs + orientation
    degs = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    degs = cut_lineage(degs, eager=False)  # consumers: orient ×2 + output
    oriented = (
        und.join(degs.selectExpr("node AS u", "deg AS du"), "u")
        .join(degs.selectExpr("node AS v", "deg AS dv"), "v")
        .where(F.expr("struct(du, u) < struct(dv, v)"))
        .select("u", "v", "dv")
    )
    oriented = cut_lineage(oriented, eager=True)  # wedge legs + closure probe
    wedges = (
        oriented.selectExpr("u", "v AS p", "dv AS dp")
        .join(oriented.selectExpr("u", "v AS q", "dv AS dq"), "u")
        .where(F.expr("struct(dp, p) < struct(dq, q)"))
        .select("u", "p", "q")
    )
    closed = wedges.join(
        oriented.selectExpr("u AS p", "v AS q"), ["p", "q"]
    )
    tri = (
        closed.select(
            F.explode(F.array("u", "p", "q")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    node_cc = degs.join(tri, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
    )
    return node_cc.groupBy("deg").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("n_tri").alias("n_closed"),
        F.expr("CAST(count(1) * deg * (deg - 1) DIV 2 AS BIGINT)").alias(
            "n_wedges"
        ),
        F.expr(
            "CASE WHEN deg >= 2"
            " THEN round(CAST(2 AS DOUBLE) * CAST(SUM(n_tri) AS DOUBLE)"
            "            / (CAST(count(1) AS DOUBLE) * CAST(deg AS DOUBLE)"
            "               * CAST(deg - 1 AS DOUBLE)), 6)"
            " ELSE NULL END"
        ).alias("mean_cc"),
    )


@register("graph-clustering-coefficient", oracle=_clustering_oracle())
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient census of the kNN similarity graph
    (Watts & Strogatz 1998): per node, the fraction of its neighbor
    pairs that are themselves connected, rolled up by degree class.
    High mean CC at high degree = cliquish near-dup cores (the SemDeDup
    "template family" signature); low CC = star-shaped hubs (one
    canonical doc with many satellites that are NOT mutual near-dups) —
    the micro-structure dial that assortativity (a single global number)
    cannot see.  Runs on the SAME pinned sim-knn-graph edge substrate as
    kcore / LPA / assortativity.

    Spark-first shape — DEGREE-ORIENTED (compact-forward) triangle
    mining: every undirected edge is oriented from its (deg, id)-lower
    endpoint, wedges are built only from ORIENTED out-adjacency, and
    each triangle is found exactly ONCE at its minimal vertex, then
    exploded to credit all three corners.  This caps the wedge mass at
    Σ d⁺(u)² ≈ O(|E|^1.5) instead of the unoriented Σ deg(u)², which a
    hub node's in-degree makes quadratic — the r12 stress measured the
    unoriented form at 305 s on the 500k-vector graph precisely because
    every hub generated its full deg² wedge set from BOTH directions;
    orientation sends hub-incident wedges to the low-degree endpoints.
    All equi-joins, no window; the exact wedge mass is still emitted as
    n_wedges so a hub-skewed regime stays VISIBLE in the output.

    Determinism: triangle counts are exact integers over the pinned
    edge list (orientation changes where a triangle is FOUND, never
    how many times each node is credited — pinned against the
    unoriented oracle); within a degree class every node has the same
    wedge count deg·(deg−1)/2, so the mean of per-node ratios
    collapses to the exact integer ratio 2·Σtri / (n·deg·(deg−1)) —
    ONE IEEE division per output row, rounded once."""
    from merl_etl_spark.operators.similarity import knn_und_edges

    # clustering_census cuts the edge frame itself (it fans out to
    # degrees + orientation), so the substrate arrives uncut here
    return clustering_census(
        knn_und_edges(load_table(spark, sf_dir, "embeddings"))
    )
