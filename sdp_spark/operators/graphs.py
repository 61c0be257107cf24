"""Graph operators over the trade network — SURVEY.md §2 superset.

The reference's surveillance platform (CDCgov/SDP, README.md:2) feeds
case/contact networks into downstream analysis; the deployed MySQL 5.6
engine (mysql-persistent-template.json:68) can only express joins, so
users run iterative graph metrics OUTSIDE the database. Here they are
first-class: the supplier↔customer bipartite graph is derived from
lineitem→orders (an edge = "supplier shipped to customer at least once")
and the operators run as declarative DataFrame iterations — the same
per-round join+aggregate shape as `llm_dedup_near_resolve`'s label
propagation (llm.py), which is this engine's third iterative exhibit
alongside the recursive CTE (subqueries.py).

Scale notes: edges materialize ONCE as a distinct pair set (one shuffle);
each PageRank round is edges⋈ranks (hash join on src, ranks side is
|V| rows — at 100 TB still orders smaller than edges) + one groupBy(dst)
partial-agg. localCheckpoint per round truncates lineage so the 5-round
plan doesn't exponentiate. No collect() in any loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sdp_spark.functions.num import dround
from sdp_spark.plans.registry import register
from sdp_spark.sources.fixtures import table

_SEC = "2.15 graph"


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier→customer edges via lineitem⋈orders. One
    orderkey shuffle + one distinct shuffle; at 100 TB the distinct is
    the dominant exchange and is exactly the dedup any edge-list build
    pays."""
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("supp"), F.col("o_custkey").alias("cust"))
        .distinct()
    )


@register(
    "graph_degree",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT l.l_suppkey AS supp, o.o_custkey AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (
      SELECT supp, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY supp
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM deg GROUP BY degree ORDER BY degree
    """,
    section=_SEC,
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier side of the trade graph — the
    first question asked of any network (hub detection, skew audit
    before an iterative algorithm: a power-law hub is exactly the key
    that needs salting in the join below). Pure relational lowering:
    edge distinct → per-node count → histogram; three partial-agg
    exchanges, each output orders smaller than its input."""
    deg = (
        _trade_edges(spark, sf_dir)
        .groupBy("supp")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").cast("bigint").alias("n_suppliers"))
        .orderBy("degree")
    )


_PR_ITERS = 5
_PR_DAMP = 0.85
# Broadcast-hint gate for the per-round rank join: past this many nodes the
# hinted broadcast would OOM the driver instead of degrading gracefully
# (ADVICE r5) — fall back to an un-hinted (shuffle) join above it.
_PR_BCAST_MAX_NODES = 2_000_000


# DuckDB replay of the 5 PageRank rounds as unrolled CTEs (same packed
# node ids, same damping math). Float sums associate differently across
# engines, but ranks land ~1e-13 relative error apart while dround's 6dp
# grid is 5e-7 wide — a boundary collision needs a rank within one ulp of
# a grid edge, verified absent empirically at every fixture scale.
_PR_ROUNDS_SQL = ",\n    ".join(
    f"""r{i} AS (
      SELECT e.dst AS node, 0.15 + 0.85 * SUM(r.rank / e.odeg) AS rank
      FROM edges e JOIN r{i - 1} r ON e.src = r.node
      GROUP BY e.dst
    )"""
    for i in range(1, _PR_ITERS + 1)
)

_PR_ORACLE = f"""
    WITH pairs AS (
      SELECT DISTINCT l.l_suppkey AS supp, o.o_custkey AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    bi AS (
      SELECT supp * 2 AS src, cust * 2 + 1 AS dst FROM pairs
      UNION ALL
      SELECT cust * 2 + 1 AS src, supp * 2 AS dst FROM pairs
    ),
    odeg AS (SELECT src, COUNT(*) AS odeg FROM bi GROUP BY src),
    edges AS (SELECT b.src, b.dst, d.odeg FROM bi b JOIN odeg d ON b.src = d.src),
    r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM odeg),
    {_PR_ROUNDS_SQL}
    SELECT CASE WHEN node % 2 = 0 THEN 's:' || CAST(node // 2 AS VARCHAR)
                ELSE 'c:' || CAST(node // 2 AS VARCHAR) END AS node,
           FLOOR(rank * 1000000 + 0.5) / 1000000 AS rank
    FROM r{_PR_ITERS}
"""


@register("graph_pagerank", oracle=_PR_ORACLE, section=_SEC)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected bipartite trade graph, _PR_ITERS
    fixed rounds, damping {0.85} — the canonical iterative graph metric,
    expressed as pure DataFrame rounds (no RDD, no GraphX): contribs =
    ranks ⋈ edges on src (rank/out_degree), new rank = (1-d) +
    d·Σ contribs per dst, missing-inbound nodes fall back to (1-d) via
    a left join. localCheckpoint per round keeps the plan depth
    constant. Node ids run packed as BIGINTs (even=supplier,
    odd=customer — disjoint by parity) and render as the public
    's:'/'c:' labels only in the final projection.

    Oracle (promoted from rows-only, round 7): the 5 rounds unroll as
    chained DuckDB CTEs over the same packed node ids — dround(6) absorbs
    the cross-engine float-sum association difference (see _PR_ORACLE
    note). Pytest keeps the structural invariants too: determinism at
    6 dp across runs, total rank mass = |V| within 1e-6, and hub
    monotonicity (higher degree ⇒ rank not lower on the fixture's
    near-uniform graph)."""
    e = _trade_edges(spark, sf_dir)
    # undirected: both directions. Node ids are PACKED BIGINTs
    # (2·suppkey even / 2·custkey+1 odd — the same interleave as
    # _week_edges_packed): fixed-width join/agg keys instead of
    # concatenated strings was half of connected-components' measured
    # 2.1× win (SCALING.md), and every per-round hash join and per-dst
    # aggregate here hashes these keys 5 times. The namespaced 's:'/'c:'
    # string renders ONLY in the final projection, so the output contract
    # is unchanged.
    fwd = e.select(
        (F.col("supp") * 2).cast("bigint").alias("src"),
        (F.col("cust") * 2 + 1).cast("bigint").alias("dst"),
    )
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    edges = fwd.unionAll(rev)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("odeg"))
    edges = edges.join(outdeg, "src").localCheckpoint(eager=False)
    ranks = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("rank")
    )
    # Broadcast only while |V| is broadcast-safe (~16 bytes/row of rank
    # state, so 2M nodes ≈ tens of MB). Above the gate, fall back to an
    # un-hinted join: AQE/stats pick shuffle-hash, and the eager
    # checkpoint means edges re-shuffle per round — correct, just the
    # web-scale price (pre-bucketing edges by src would amortize it).
    use_bcast = ranks.count() <= _PR_BCAST_MAX_NODES
    for _ in range(_PR_ITERS):
        # ranks is |V| rows — broadcast (gated above) so the edge list
        # NEVER shuffles: each round is one map-side hash join over
        # edges + one partial-agg exchange of per-dst sums. Undirected
        # graph ⇒ every node has an inbound edge, so contribs covers
        # ALL nodes and no dangling-node left join is needed. Eager
        # localCheckpoint cuts the round's lineage (a lazy one would
        # nest 5 broadcasts into one action).
        rhs = F.broadcast(ranks) if use_bcast else ranks
        ranks = (
            edges.join(rhs, edges.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("odeg")).alias("c"))
            .groupBy("dst")
            .agg(
                (
                    F.lit(1.0 - _PR_DAMP) + F.lit(_PR_DAMP) * F.sum("c")
                ).alias("rank")
            )
            .select(F.col("dst").alias("node"), "rank")
            .localCheckpoint(eager=True)
        )
    # Unpack to the public 's:<suppkey>'/'c:<custkey>' node labels only
    # here, after all 5 iterative rounds ran on fixed-width BIGINTs.
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("s:"), F.shiftright("node", 1).cast("string")),
    ).otherwise(
        F.concat(F.lit("c:"), F.shiftright("node", 1).cast("string"))
    )
    return ranks.select(
        label.alias("node"), dround("rank", 6).alias("rank")
    ).orderBy(F.col("rank").desc(), "node")


# ---------------------------------------------------------------------------
# Connected components (min-label propagation) + triangle counting
# ---------------------------------------------------------------------------

# One calendar week of trade keeps the graph sparse enough that its
# component structure is non-trivial (the full-history bipartite graph is
# a single giant component at every fixture scale — a useless answer).
_CC_LO, _CC_HI = "1995-03-01", "1995-03-08"
_CC_MAX_ROUNDS = 50


def _week_edges_packed(spark: SparkSession, sf_dir: str):
    """Shared one-week trade edge list with BIGINT-packed node ids
    (2·suppkey even / 2·custkey+1 odd — the bipartite key spaces
    interleave without collision), both directions, lazily checkpointed.
    Used by graph_connected_components AND graph_shortest_path_bfs so the
    date window and the packing can never drift apart; fixed-width keys
    are half of CC's measured 2.1× probe win (SCALING.md)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        l.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit(_CC_LO))
                & (F.col("o_orderdate") < F.lit(_CC_HI))
            ),
            l.l_orderkey == o.o_orderkey,
        )
        .select(
            (F.col("l_suppkey") * 2).cast("bigint").alias("src"),
            (F.col("o_custkey") * 2 + 1).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)


@register(
    "graph_connected_components",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT DISTINCT 's:' || l.l_suppkey AS src, 'c:' || o.o_custkey AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= DATE '{_CC_LO}' AND o.o_orderdate < DATE '{_CC_HI}'
    ), e2 AS (
      SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e
    ), nodes AS (SELECT DISTINCT src AS node FROM e2),
    walk(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e2.dst, walk.lab FROM walk JOIN e2 ON e2.src = walk.node
    ),
    comp AS (SELECT node, MIN(lab) AS comp FROM walk GROUP BY node),
    sizes AS (
      SELECT comp, CAST(COUNT(*) AS BIGINT) AS comp_size FROM comp GROUP BY comp
    )
    SELECT comp_size, CAST(COUNT(*) AS BIGINT) AS n_components
    FROM sizes GROUP BY comp_size ORDER BY comp_size
    """,
    section=_SEC,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of one week's trade graph — the contact-tracing
    primitive of the reference's surveillance mission (CDCgov/SDP README.md:2:
    which cases/suppliers form one transmission cluster?) and the same
    fixpoint this engine's near-dup keeper resolution runs (llm.py
    `llm_dedup_near_resolve`): label = min reachable node id, propagated
    until no label changes, then a component-size histogram.

    Plan per round: comp (|V| rows, orders smaller than edges) hash-joins
    onto the edge list, one partial-agg MIN per node, eager localCheckpoint
    to pin lineage depth. Node ids are packed to BIGINT (2·suppkey /
    2·custkey+1 — the bipartite key spaces interleave without collision)
    so every shuffle carries fixed-width keys, and the convergence probe
    exploits monotonicity: min-label propagation only ever DECREASES a
    label, so Σ(labels) is strictly decreasing until the fixpoint — one
    cheap global agg over the just-checkpointed state replaces a
    |V|-row join + diff count per round. Rounds = component eccentricity
    (graph diameter bound). At 100 TB the round count — not the per-round
    cost — is the risk; the published fix is large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce", SoCC'14) which
    converges in O(log n) rounds with the same join+min building blocks;
    the fixture graphs converge in < 15 rounds, so the straightforward
    propagation is the better plan here (fewer shuffles per round, no
    re-orientation pass).

    The DuckDB oracle replays the fixpoint as a recursive CTE (transitive
    min-label closure) over string-namespaced nodes — the labelings are
    bijective relabelings of each other, so the component-size histogram
    is identical; components are certified exactly, not just their
    count. Tractable because the one-week graph is sparse."""
    e2 = _week_edges_packed(spark, sf_dir)
    comp = (
        e2.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # Σ(labels) as decimal(38,0): a BIGINT sum of ids near 2^63 overflows
    mass = comp.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(_CC_MAX_ROUNDS):
        # propagate each node's label across its out-edges, keep the min of
        # (own label, every inbound neighbour label); comp is the small side.
        prop = e2.join(comp, e2.src == comp.node).select(
            F.col("dst").alias("node"), "comp"
        )
        comp1 = (
            comp.unionByName(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer-jump compression (r14 optimization, guide §1.2): follow
        # each label one hop — comp2(n) = min(comp1(n), comp1(comp1(n))).
        # Every label IS a node id present in comp1 (labels only ever come
        # from reachable nodes' ids), so the hop stays inside n's component
        # and labels remain decrease-only; the fixpoint — and the histogram
        # — are unchanged, but effective label-tree depth halves per round,
        # cutting rounds from O(diameter) to O(log diameter) (the Kiveris
        # SoCC'14 round-contraction idea with the same join+min blocks).
        # Cost: one extra node-grain self-join per round — |V| rows vs the
        # |E|-row propagate join, and it saves whole ROUNDS, each of which
        # pays the full propagate. The convergence probe is unchanged:
        # labels still only decrease, so Σ(labels) stalls exactly at the
        # propagate fixpoint (an unchanged round means NEITHER step moved).
        lab = comp1.select(
            F.col("node").alias("lnode"), F.col("comp").alias("lcomp")
        )
        comp = (
            comp1.join(lab, comp1.comp == lab.lnode, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("lcomp", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        # lazy checkpoint: the probe's agg materializes it, so each round
        # is ONE job (the old eager ckpt + separate probe ran two).
        new_mass = comp.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]
        if new_mass == mass:
            break
        mass = new_mass
    else:
        # falling through without the mass stabilizing means labels are
        # still moving — emitting the histogram would be silently WRONG
        # (unlike BFS, no bounded-radius contract exists here)
        raise RuntimeError(
            f"graph_connected_components: no fixpoint in {_CC_MAX_ROUNDS} "
            "rounds — graph diameter exceeds the bound; raise "
            "_CC_MAX_ROUNDS or switch to large-star/small-star"
        )
    sizes = comp.groupBy("comp").agg(F.count("*").cast("bigint").alias("comp_size"))
    return (
        sizes.groupBy("comp_size")
        .agg(F.count("*").cast("bigint").alias("n_components"))
        .orderBy("comp_size")
    )


# One month bounds the co-supply graph's density: the full-history graph is
# near-complete at every fixture scale (every supplier eventually co-ships
# with every other), which makes wedge enumeration quadratic-in-|V| AND the
# answer trivially ~C(|V|,3).
_TRI_LO, _TRI_HI = "1995-03-01", "1995-04-01"


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      JOIN orders o ON a.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= DATE '{_TRI_LO}' AND o.o_orderdate < DATE '{_TRI_HI}'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges
    FROM pairs ab
    JOIN pairs bc ON ab.s2 = bc.s1
    JOIN pairs ac ON ac.s1 = ab.s1 AND ac.s2 = bc.s2
    """,
    section=_SEC,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the one-month supplier co-shipment graph (edge =
    two suppliers on the same order) — the clustering/cohesion metric
    outbreak analysts read as "how interlocked is this supply cluster".
    Classic two-join wedge-close enumeration on an oriented edge list:
    orienting every edge s1 < s2 counts each triangle exactly once and
    halves the wedge space for free.

    Plan: the pair build is a self-join co-located on l_orderkey (one
    shuffle both sides share) + a distinct; the close is pairs⋈pairs on
    s2=s1 (wedges) then a hash semi-lookup of the closing edge. At 100 TB
    the published refinement is degree-ordering the orientation (highest-
    degree node last, Schank & Wagner 2005) so hub wedges collapse —
    same plan shape, different orientation key; the calendar bound already
    caps density here. No broadcast hints: the sides are same-order-of-
    magnitude, AQE picks the strategy."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    month = o.filter(
        (F.col("o_orderdate") >= F.lit(_TRI_LO)) & (F.col("o_orderdate") < F.lit(_TRI_HI))
    )
    lm = li.join(month, li.l_orderkey == month.o_orderkey).select(
        "l_orderkey", "l_suppkey"
    )
    a, b = lm.alias("a"), lm.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ab, bc, ac = pairs.alias("ab"), pairs.alias("bc"), pairs.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.s2") == F.col("bc.s1"))
        .join(
            ac,
            (F.col("ac.s1") == F.col("ab.s1")) & (F.col("ac.s2") == F.col("bc.s2")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    edges = pairs.agg(F.count("*").cast("bigint").alias("n_edges"))
    return tri.crossJoin(edges)


_BFS_MAX_HOPS = 12


@register(
    "graph_shortest_path_bfs",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT DISTINCT 's:' || l.l_suppkey AS src, 'c:' || o.o_custkey AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= DATE '{_CC_LO}' AND o.o_orderdate < DATE '{_CC_HI}'
    ), e2 AS (
      SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e
    ), s0 AS (
      SELECT 's:' || MIN(l.l_suppkey) AS source
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= DATE '{_CC_LO}' AND o.o_orderdate < DATE '{_CC_HI}'
    ),
    walk(node, d) AS (
      SELECT source, 0 FROM s0
      UNION
      SELECT e2.dst, walk.d + 1
      FROM walk JOIN e2 ON e2.src = walk.node
      WHERE walk.d < {_BFS_MAX_HOPS}
    ),
    dist AS (SELECT node, CAST(MIN(d) AS INTEGER) AS hops FROM walk GROUP BY node)
    SELECT hops, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM dist GROUP BY hops ORDER BY hops
    """,
    section=_SEC,
)
def graph_shortest_path_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted single-source shortest paths (BFS radius ≤
    {_BFS_MAX_HOPS}) from the lowest-numbered supplier of the one-week
    trade graph — "how many intermediaries between this source and each
    counterparty", the reachability question contact tracing asks around
    an index case. Output is the distance histogram (hops → node count);
    nodes beyond the radius are out of scope BY CONTRACT in both engines,
    so the bound is part of the semantics, not an approximation.

    Plan per round: the frontier (new nodes at distance d, strictly
    shrinking after the graph's effective diameter) hash-joins the edge
    list, an anti-join against visited keeps first-discovery only, eager
    localCheckpoint pins lineage; rounds stop early when the frontier
    empties. visited is |V|-bounded — at 100 TB it's the same
    orders-smaller-than-edges rank table PageRank carries; the oracle
    replays the fixpoint as a depth-bounded recursive closure with MIN(d)
    (same exactness argument as graph_connected_components)."""
    e2 = _week_edges_packed(spark, sf_dir)
    # source = numerically-smallest supplier: even packed ids are the
    # supplier namespace, so min(even src) = 2 * min suppkey (the oracle's
    # s0 picks MIN(l_suppkey) over the same week-filtered population)
    source = e2.filter(F.col("src") % 2 == 0).agg(F.min("src").alias("node"))
    visited = source.withColumn("hops", F.lit(0)).localCheckpoint(eager=True)
    frontier = visited
    for d in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            e2.join(frontier, e2.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(d))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return (
        visited.groupBy(F.col("hops").cast("int").alias("hops"))
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("hops")
    )


@register(
    "graph_bipartite_projection",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT l.l_suppkey AS supp, o.o_custkey AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT a.supp AS supp_a, b.supp AS supp_b,
           CAST(COUNT(*) AS BIGINT) AS shared_customers
    FROM edges a JOIN edges b ON a.cust = b.cust AND a.supp < b.supp
    GROUP BY a.supp, b.supp
    HAVING COUNT(*) >= 2
    """,
    section=_SEC,
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite→unipartite projection: the supplier co-purchase graph
    (edge weight = number of shared customers, kept at weight ≥ 2 — the
    co-occurrence graph community detection and recommendation run on).
    Pure relational lowering: distinct edge list, self-equi-join on the
    customer side with supp_a < supp_b dedup, partial-agg count.

    Scale note: projection is inherently quadratic in per-customer degree
    (a customer with d suppliers contributes d·(d−1)/2 pairs), and hub
    customers are THE blowup risk at 100 TB. The mitigation is standard
    and composable here: cap or drop hub keys before the self-join (the
    graph-semantic analogue of skew salting — a customer with thousands
    of suppliers carries no co-purchase signal anyway), exactly as
    llm_dedup_near bounds its LSH bucket self-join."""
    e = _trade_edges(spark, sf_dir)
    a = e.select(F.col("supp").alias("supp_a"), "cust")
    b = e.select(F.col("supp").alias("supp_b"), "cust")
    return (
        a.join(b, "cust")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count("*").cast("bigint").alias("shared_customers"))
        .filter(F.col("shared_customers") >= 2)
    )


# k-core decomposition: peel nodes of degree < K until the remainder is
# stable. K=3 over the ONE-MONTH graph (the triangle window: the week
# graph's 3-core is empty at every fixture scale — a useless answer —
# while the month graph keeps a non-trivial core and still converges in
# <= 5 peel rounds); _KCORE_ROUNDS bounds both the Spark loop and the
# unrolled oracle — the fixtures converge well inside it (pytest pins
# the fixpoint), and the operator raises rather than emit an
# unconverged core.
_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    """Unrolled peel rounds as chained CTEs (the graph_pagerank idiom —
    DuckDB's recursive CTE cannot re-aggregate degrees over the working
    table each round): u0 = the undirected week edge list; round i keeps
    nodes with degree >= K and the edges between them."""
    # every CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and each
    # round references its predecessor three times (degree agg + both
    # endpoint joins) — inlined, the unroll expands 3^R copies of the
    # base scan and dies on file handles; materialized, it is R linear
    # passes, the exact shape of the Spark loop.
    rounds = []
    for i in range(1, _KCORE_ROUNDS + 1):
        p = i - 1
        rounds.append(
            f"d{i} AS MATERIALIZED"
            f" (SELECT src AS node, COUNT(*) AS deg FROM u{p} GROUP BY src),\n"
            f"    k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {_KCORE_K}),\n"
            f"    u{i} AS MATERIALIZED (SELECT u.src, u.dst FROM u{p} u"
            f" JOIN k{i} a ON u.src = a.node JOIN k{i} b ON u.dst = b.node)"
        )
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= DATE '{_TRI_LO}' AND o.o_orderdate < DATE '{_TRI_HI}'
    ), u0 AS MATERIALIZED (
      SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
    ), {", ".join(rounds)}
    SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
          FROM u{_KCORE_ROUNDS} GROUP BY src) t
    GROUP BY deg ORDER BY deg
    """


@register("graph_k_core", oracle=_kcore_oracle(), section=_SEC)
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (K=3) of the one-month trade graph — the
    standard cohesion filter surveillance and fraud analytics run before
    any expensive per-node metric: iteratively peel nodes with degree
    < K; what survives is the maximal subgraph where EVERY node keeps >=
    K neighbors (hubs that only look central because of leaf fans are
    stripped — degree alone cannot tell a 100-leaf star from a dense
    cluster). Output: the degree histogram inside the core.

    Plan per round (the connected-components idiom): degrees are one
    partial-agg over the current edge set; the survivor set (|V| rows,
    orders smaller than edges) semi-joins the edge list on BOTH
    endpoints; eager localCheckpoint pins lineage depth. Peeling is
    MONOTONE — the edge set only shrinks — so the edge count is the
    convergence probe (one cheap count vs a diff join), convergence
    takes <= core-number rounds on any graph, and extra rounds are
    no-ops, which is what makes the fixed-round oracle unroll exact
    once the fixture converges (pytest pins round R == fixpoint). At
    100 TB each round is one agg + one semi-join shuffle over a
    shrinking edge list; the round bound is the graph's degeneracy,
    which for week-windowed trade graphs is small by construction."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        l.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit(_TRI_LO))
                & (F.col("o_orderdate") < F.lit(_TRI_HI))
            ),
            l.l_orderkey == o.o_orderkey,
        )
        .select(
            (F.col("l_suppkey") * 2).cast("bigint").alias("src"),
            (F.col("o_custkey") * 2 + 1).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    # lazy checkpoints + the count-as-materializer (r14, the CC probe-fold
    # idiom): an EAGER checkpoint ran one job and the convergence count ran
    # a second over the cached partitions — per round. Lazy + count folds
    # them into ONE job per round; the count doubles as the materializer,
    # so lineage depth stays pinned exactly as before.
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    n_edges = edges.count()
    converged = False
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("src")
        edges = (
            edges.join(keep, "src", "semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "semi")
            .localCheckpoint(eager=False)
        )
        n_now = edges.count()
        if n_now == n_edges:
            converged = True
            break
        n_edges = n_now
    if not converged:
        # emitting an unconverged core would be silently wrong — the
        # oracle's fixed unroll matches ONLY at the fixpoint
        raise RuntimeError(
            f"graph_k_core: no fixpoint in {_KCORE_ROUNDS} rounds — raise "
            "_KCORE_ROUNDS (graph degeneracy exceeds the bound)"
        )
    return (
        edges.groupBy("src")
        .agg(F.count("*").cast("bigint").alias("deg"))
        .groupBy("deg")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("deg")
    )


_LPA_ITERS = 3
_LPA_TOPK = 50

_LPA_ROUNDS_SQL = ",\n    ".join(
    f"""l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT e.dst AS node, l.label,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM bi e JOIN l{i - 1} l ON e.src = l.node
        GROUP BY e.dst, l.label
      ) t WHERE rn = 1
    )"""
    for i in range(1, _LPA_ITERS + 1)
)

_LPA_ORACLE = f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT l.l_suppkey AS supp, o.o_custkey AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    bi AS MATERIALIZED (
      SELECT supp * 2 AS src, cust * 2 + 1 AS dst FROM pairs
      UNION ALL
      SELECT cust * 2 + 1 AS src, supp * 2 AS dst FROM pairs
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS label FROM bi
    ),
    {_LPA_ROUNDS_SQL}
    SELECT CASE WHEN label % 2 = 0 THEN 's:' || CAST(label // 2 AS VARCHAR)
                ELSE 'c:' || CAST(label // 2 AS VARCHAR) END AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l{_LPA_ITERS}
    GROUP BY label
    ORDER BY n_members DESC, community
    LIMIT {_LPA_TOPK}
"""


@register("graph_label_propagation", oracle=_LPA_ORACLE, section=_SEC)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (LPA, Raghavan 2007) community
    detection over the undirected bipartite trade graph: every node
    starts as its own community, then for {_LPA_ITERS} fixed rounds
    simultaneously adopts the most frequent label among its neighbors.
    The contact-network community question surveillance asks after
    connected components ('which groups trade/transmit among
    themselves?') — components finds reachability islands, LPA finds
    dense cores INSIDE one island. Emits the top-{_LPA_TOPK}
    communities by size.

    Determinism (classic LPA is run-order dependent; this one is not):
    rounds are SYNCHRONOUS (all nodes update from the same previous
    labeling) and the frequency tie breaks by SMALLEST label — both
    engines replay the identical argmin-of-(count DESC, label) via
    ROW_NUMBER, so every round is exact integer relational algebra.

    Scale: same shape as graph_pagerank — per round one hash join of
    edges against the |V|-row label frame (broadcast-gated by the
    pagerank threshold) + one (dst, label) partial-agg + one per-dst
    window top-1; eager localCheckpoint keeps plan depth constant.
    Packed BIGINT node ids throughout; labels render 's:'/'c:' only in
    the final projection. Oracle CTEs are MATERIALIZED — each round
    references its predecessor once per branch and DuckDB would inline
    exponentially otherwise."""
    e = _trade_edges(spark, sf_dir)
    fwd = e.select(
        (F.col("supp") * 2).cast("bigint").alias("src"),
        (F.col("cust") * 2 + 1).cast("bigint").alias("dst"),
    )
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    use_bcast = labels.count() <= _PR_BCAST_MAX_NODES
    w_dst = Window.partitionBy("dst")
    for _ in range(_LPA_ITERS):
        rhs = F.broadcast(labels) if use_bcast else labels
        labels = (
            edges.join(rhs, edges.src == labels.node)
            # one exchange per round, not two: hash(dst) satisfies BOTH
            # the (dst,label) aggregation's clustering (subset rule) and
            # the per-dst ranking window — without it the plan exchanged
            # on (dst,label) for the groupBy and AGAIN on dst for the
            # window (guide §2.4)
            .repartition("dst")
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
            .withColumn(
                "rn",
                F.row_number().over(
                    w_dst.orderBy(F.col("cnt").desc(), F.col("label"))
                ),
            )
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    community = F.when(
        F.col("label") % 2 == 0,
        F.concat(F.lit("s:"), F.shiftright("label", 1).cast("string")),
    ).otherwise(
        F.concat(F.lit("c:"), F.shiftright("label", 1).cast("string"))
    )
    return (
        labels.groupBy("label")
        .agg(F.count("*").cast("bigint").alias("n_members"))
        .select(community.alias("community"), "n_members")
        .orderBy(F.col("n_members").desc(), "community")
        .limit(_LPA_TOPK)
    )
