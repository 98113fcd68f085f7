"""Distributed graph operators: iterative-frontier BFS / bounded transitive
closure.

This is the Spark-native form of the reference's genuinely recursive
operators (qa/ask.py:211-223 `downstream_closure`, :325-340
`bfs_downstream_scripts`): Spark has no recursive CTE, so the closure is a
driver loop of frontier joins with early termination. The same helper powers
the lineage-engine column/script closures in `..lineage.graphqa`, which cut
each edge list once (`prepare_edges`) and run every closure of a Q&A
session over it.

Scale notes: each hop is one shuffle join keyed on the edge source; the
frontier is deduplicated per hop so work is proportional to newly reached
nodes. For deep graphs, a per-hop lineage cut (`session.iter_checkpoint`:
localCheckpoint by default, reliable checkpoint under
SPARK_GRAFT_RELIABLE_CKPT=1 for executor-loss replayability on a cluster)
truncates the plan (plan growth is the classic iterative-Spark failure
mode).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.io import load
from ..registry import register
from ..session import counted_checkpoint, iter_checkpoint, release_checkpoint


@dataclass(frozen=True)
class PreparedEdges:
    """A closure's edge list, lineage-cut once and reusable by any number
    of `bfs_closure` calls over it.

    edges: (__bfs_src, __bfs_dst), checkpointed.
    two_hop: the deduplicated pairs joined by paths of length exactly 2,
    checkpointed, or None when the closure expands one hop per round.
    """

    edges: DataFrame
    two_hop: DataFrame | None


# Largest |e2| / |edges| ratio at which the two-hop list is kept. |e2| is
# sum(indeg(v) * outdeg(v)) before deduplication, so one hub node can make
# it quadratic; above this ratio a round would scan more than (1 + ratio)
# edge lists to save one round, and the closure falls back to 1-hop.
_E2_MAX_RATIO = 4


def prepare_edges(edges: DataFrame, two_hop: bool = False) -> PreparedEdges:
    """Lineage-cut the (src, dst) edge list of a closure (and build its
    two-hop list).

    The cut matters because every hop reads the edge list: without it each
    hop re-executes the full upstream plan that produced it (for lineage
    closures that plan includes the AST-extraction UDF; for event chains a
    window over the whole table). Each cut is counted by the job that
    materializes it, so the two-hop size guard costs no job.

    two_hop (r15): expand the frontier by 1 AND 2 hops per round over a
    once-materialized doubled edge list, halving the round count (and the
    per-round driver latency that dominates deep closures) while preserving
    exact min-depth semantics. OPT-IN per call site because the doubling
    pass only pays for itself when the closure actually runs deep: measured
    at sf1, event_chain_closure (6 full hops) 4.75s -> 4.37s steady with
    jobs 42 -> 27, but lineage_downstream_scripts (terminates in ~2 hops)
    regressed 1.54s -> 2.31s — the e2 build is pure overhead for closures
    that die early (ARTIFACTS/r15 measurements; guide §1.2, §7.3). A caller
    that asks many closures over one edge list pays it once.
    """
    e1, n_edges = counted_checkpoint(
        edges.select(F.col("src").alias("__bfs_src"), F.col("dst").alias("__bfs_dst"))
    )
    if not two_hop:
        return PreparedEdges(e1, None)
    # TWO-HOP frontier expansion (r15, guide §7.3): deep closures are
    # driver-latency-bound at bench scale (r15 opt_measure: 42 jobs, 1.2s of
    # job wall inside a 2.2s steady run), so halving the round count beats
    # minimizing per-round work. One up-front edge doubling — e2 = all
    # (src, dst) joined by paths of length exactly 2, deduplicated — lets
    # each round expand the frontier by BOTH 1 and 2 hops; per-(seed, node)
    # min(depth) inside the round plus the anti-join against `reached`
    # preserves exact min-depth semantics (shortest-path prefix induction: a
    # node of min-depth d has its d-1 / d-2 prefix in the previous round's
    # frontier, so e1/e2 always supply a candidate at the true min depth).
    # The r12 two-hop REJECTION was for clique-shaped LSH components, where
    # hop-0 already converges; deep BFS closures (event chains are paths)
    # are the opposite shape. A hub node makes e2 quadratic, which the size
    # guard below catches.
    e2, n_e2 = counted_checkpoint(
        e1.alias("x")
        .join(e1.alias("y"), F.col("x.__bfs_dst") == F.col("y.__bfs_src"))
        .select(
            F.col("x.__bfs_src").alias("__bfs_src"),
            F.col("y.__bfs_dst").alias("__bfs_dst"),
        )
        .distinct()
    )
    if n_e2 > _E2_MAX_RATIO * n_edges:
        release_checkpoint(e2)
        return PreparedEdges(e1, None)
    return PreparedEdges(e1, e2)


def bfs_closure(prepared: PreparedEdges, seeds: DataFrame, max_depth: int = 6) -> DataFrame:
    """Bounded-depth min-depth closure.

    prepared: the edge list from `prepare_edges`. seeds: (seed,) — seed node
    ids. Returns (seed, node, depth) with the minimum depth ≤ max_depth at
    which `node` is reachable from `seed` (depth ≥ 1; seeds themselves
    excluded, mirroring qa/ask.py:211-223 which yields only downstream
    nodes). Each round expands the frontier by 1 hop, or by 1 and 2 hops
    when `prepared` kept its two-hop list.

    Iteration discipline (the classic iterative-Spark failure modes, both
    handled here): the edge list is lineage-cut once, by `prepare_edges`;
    each frontier is lineage-cut — the emptiness probe and the next hop's
    join then read materialized partitions instead of recursively
    recomputing join(join(join(...))), which otherwise grows the lineage
    (and runtime) exponentially with depth.
    """
    edges, e2 = prepared.edges, prepared.two_hop
    # lazy cut: the combined count+width probe below materializes it, so the
    # seed frontier costs one job instead of checkpoint-then-count (r14 —
    # the whole closure is driver-latency-bound at bench scale: 51 jobs,
    # 1.5s inside jobs vs 2.3s wall)
    frontier = iter_checkpoint(
        seeds.select(F.col("seed"), F.col("seed").alias("node"), F.lit(0).alias("depth")),
        eager=False,
    )
    # the checkpointed frontier's exact row count is a one-scan probe (it
    # doubles as the emptiness check), so the hop join can be given an
    # explicit size-based broadcast hint instead of hoping AQE's runtime
    # rewrite catches it: lineage/event frontiers are seeds-scale (thousands
    # of rows) while the edge list is corpus-scale, and broadcasting the
    # frontier leaves the edge partitions exactly where the up-front
    # checkpoint put them — zero edge shuffle per hop. The gate is BYTES,
    # not rows (r6 advice): bfs_closure is generic over node id types, and
    # a million wide string ids (lineage asset paths) is a very different
    # broadcast than a million longs — rows * (avg node width, measured
    # once on the seed frontier, + per-row overhead) must stay under the
    # cap or the hop falls back to the shuffle join, which is the right
    # plan when the closure genuinely explodes.
    broadcast_bytes = 64 << 20
    row_overhead = 28  # seed long + tuple/offset overhead in the hash relation
    # ONE probe job: count + avg width together (previously two), and the
    # action doubles as the lazy checkpoint's materialization
    probe = frontier.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length(F.col("node").cast("string"))).alias("w"),
    ).collect()[0]
    avg_node_width = probe["w"] or 8.0
    reached = frontier
    n_frontier = probe["n"]
    step = 1 if e2 is None else 2
    for k in range(1, (max_depth + step - 1) // step + 1):
        f = frontier.alias("f")
        if n_frontier * (avg_node_width + row_overhead) <= broadcast_bytes:
            f = F.broadcast(f)
        cand = f.join(
            edges.alias("e"), F.col("f.node") == F.col("e.__bfs_src")
        ).select(
            F.col("f.seed").alias("seed"),
            F.col("e.__bfs_dst").alias("node"),
            (F.col("f.depth") + F.lit(1)).alias("depth"),
        )
        if e2 is not None:
            # expand by 1 AND 2 hops in one round; the frontier is an
            # already-materialized checkpoint, so both branches scan it
            # (and Spark reuses the single broadcast exchange) rather than
            # recomputing anything
            cand = cand.unionByName(
                f.join(e2.alias("e2"), F.col("f.node") == F.col("e2.__bfs_src"))
                .select(
                    F.col("f.seed").alias("seed"),
                    F.col("e2.__bfs_dst").alias("node"),
                    (F.col("f.depth") + F.lit(2)).alias("depth"),
                )
            )
            if step * k > max_depth:
                # odd max_depth: the final round may only take the 1-hop step
                cand = cand.filter(F.col("depth") <= max_depth)
        # per-round min-depth, keyed on (seed, node) — the SAME keys the
        # anti-join below needs, so the aggregation's exchange satisfies
        # the anti-join's distribution requirement and is reused instead
        # of a second full shuffle (in 1-hop mode the round's depth is a
        # frontier-wide constant, so min(depth) == the old distinct+lit)
        nxt = cand.groupBy("seed", "node").agg(F.min("depth").alias("depth"))
        # keep only newly discovered (seed, node) pairs -> min-depth semantics.
        # The emptiness probe counts the checkpoint's rows as it materializes
        # them, so the cut and the count share one job (the hop previously
        # paid checkpoint-then-count = two driver round trips)
        nxt, n_frontier = counted_checkpoint(
            nxt.join(reached.select("seed", "node"), ["seed", "node"], "left_anti")
            .select("seed", "node", "depth")
        )
        if n_frontier == 0:
            break
        reached = reached.unionByName(nxt)
        frontier = nxt
    return reached.filter(F.col("depth") > 0)


@register(
    "event_chain_closure",
    bench=True,
    oracle="""
    WITH RECURSIVE edges AS MATERIALIZED (
      SELECT event_id AS src,
             LEAD(event_id) OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC, event_id ASC) AS dst
      FROM events
    ),
    e AS MATERIALIZED (SELECT src, dst FROM edges WHERE dst IS NOT NULL),
    seeds AS (SELECT event_id AS seed FROM events WHERE event_id % 97 = 0),
    closure AS (
      SELECT s.seed, s.seed AS node, 0 AS depth FROM seeds s
      UNION ALL
      SELECT c.seed, e.dst AS node, c.depth + 1 AS depth
      FROM closure c JOIN e ON c.node = e.src
      WHERE c.depth < 6
    )
    SELECT seed, node, depth FROM closure WHERE depth > 0
    """,
)
def event_chain_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure over the per-user successive-event chain from sampled seeds.

    The event chain is a path graph (unique successor), so min-depth BFS and
    the recursive-CTE oracle enumerate the identical (seed, node, depth) set.
    """
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts_us").asc(), F.col("event_id").asc())
    edges = (
        events.select("event_id", F.lead("event_id").over(w).alias("dst"))
        .filter(F.col("dst").isNotNull())
        .select(F.col("event_id").alias("src"), "dst")
    )
    seeds = events.filter(F.col("event_id") % 97 == 0).select(F.col("event_id").alias("seed"))
    # two_hop: the chain closure always runs its full 6 hops (path graph),
    # the shape where halved rounds beat the one-off edge doubling (r15
    # sf1 A/B: 4.75s -> 4.37s steady, 42 -> 27 jobs)
    return bfs_closure(prepare_edges(edges, two_hop=True), seeds, max_depth=6)


# ---------------------------------------------------------------------------
# pagerank_trade_network — fixed-iteration weighted PageRank over the
# customer-nation -> supplier-nation trade graph (edge weight = lineitem
# count between the two nations).
#
# Iterative fixed-point computation is the operator class Spark is usually
# said to need GraphX/Pregel for; expressed Spark-first it is a driver loop
# of {edge join -> contribution agg -> rank update}, with every rank
# frontier lineage-cut via iter_checkpoint (same discipline as bfs_closure
# — no exponential lineage). Per iteration: ONE shuffle join keyed on the
# edge source + one aggregation keyed on the destination; rank state is
# node-cardinality, edges are aggregated once and reused every round.
#
# Cross-engine exactness: ranks are integer fixed-point (1e9 = initial mass
# per node) and every step is integer multiply + floor-divide — both
# engines compute bit-identical BIGINTs, no float summation order to drift.
# The oracle unrolls the SAME three iterations as chained CTEs (PageRank's
# per-iteration aggregation can't sit inside a recursive CTE term, but a
# FIXED iteration count unrolls into plain SQL).
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000
_PR_ITERS = 3
# Edge weights are quantized to ~ppm of their source's out-weight before
# the iterations: rank (<= ~25e9 fixed-point mass) times a RAW lineitem
# count (~1e9 per nation-pair at sf1e5) would clear INT64 around sf4e4 and
# silently wrap under Spark's non-ANSI arithmetic (same overflow class the
# r5 advice flagged in daily_revenue_anomaly). With w capped at ~1e6+slack
# per source, rank*w stays < 1e17 at ANY scale factor. Below w_out=1e6 the
# divisor is 1, so test-SF results (and their oracle hashes) are unchanged;
# above it, both engines quantize identically so the oracle stays lockstep.
_PR_W_CAP = 1_000_000


def _pr_iter_sql(prev: str, cur: str) -> str:
    """One unrolled PageRank iteration as two chained CTEs."""
    return f"""
    inc{cur} AS (
      SELECT e.dst AS node, SUM((r{prev}.rank * e.w) // o.w_out) AS s
      FROM e
      JOIN r{prev} ON r{prev}.node = e.src
      JOIN o ON o.src = e.src
      GROUP BY e.dst
    ),
    r{cur} AS (
      SELECT n.node,
        CAST({int(_PR_SCALE * 0.15)}
          + (85 * COALESCE(CAST(i.s AS BIGINT), 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN inc{cur} i ON i.node = n.node
    )"""


@register(
    "pagerank_trade_network",
    oracle=f"""
    WITH eraw AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders   o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey  = o.o_custkey
      JOIN supplier s ON s.s_suppkey  = l.l_suppkey
      GROUP BY c.c_nationkey, s.s_nationkey
    ),
    o0 AS (SELECT src AS src0, CAST(SUM(w) AS BIGINT) AS w_out0 FROM eraw GROUP BY src),
    e AS (
      SELECT src, dst,
        CAST(w // GREATEST(1, w_out0 // {_PR_W_CAP}) AS BIGINT) AS w
      FROM eraw JOIN o0 ON o0.src0 = eraw.src
    ),
    o AS (SELECT src, CAST(SUM(w) AS BIGINT) AS w_out FROM e GROUP BY src),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS rank FROM nodes),
    {_pr_iter_sql(0, 1)},
    {_pr_iter_sql(1, 2)},
    {_pr_iter_sql(2, 3)}
    SELECT n.n_nationkey AS node, n.n_name, r3.rank AS rank_fp
    FROM r3 JOIN nation n ON n.n_nationkey = r3.node
    """,
)
def pagerank_trade_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three damped PageRank iterations (d=0.85) over the nation trade
    graph, integer fixed-point; dangling mass is dropped (simplified
    variant), matching the unrolled-CTE oracle exactly."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    eraw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    out0 = eraw.groupBy("src").agg(F.sum("w").alias("w_out0"))
    edges = eraw.join(out0, "src").select(
        "src",
        "dst",
        F.expr(f"CAST(w div greatest(1, w_out0 div {_PR_W_CAP}) AS BIGINT)").alias("w"),
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("w_out"))
    # edge list with out-weights: built once, consumed every iteration
    ew = iter_checkpoint(edges.join(out_w, "src"))
    nation = load(spark, sf_dir, "nation")
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    ranks = nodes.select("node", F.lit(_PR_SCALE).cast("long").alias("rank"))
    base = int(_PR_SCALE * 0.15)
    for _ in range(_PR_ITERS):
        inc = (
            ew.join(ranks, ew.src == ranks.node)
            .select("dst", F.expr("(rank * w) div w_out").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        ranks = iter_checkpoint(
            nodes.join(inc, "node", "left").selectExpr(
                "node",
                f"cast({base} + (85 * coalesce(s, 0)) div 100 as bigint) AS rank",
            )
        )
    return ranks.join(nation, ranks.node == nation.n_nationkey).select(
        "node", "n_name", F.col("rank").alias("rank_fp")
    )


# ---------------------------------------------------------------------------
# event_chain_leads — the same closure as event_chain_closure, exploiting the
# path-graph structure: zero joins, zero iterations.
# ---------------------------------------------------------------------------


@register(
    "event_chain_leads",
    bench=True,
    oracle="""
    WITH RECURSIVE edges AS MATERIALIZED (
      SELECT event_id AS src,
             LEAD(event_id) OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC, event_id ASC) AS dst
      FROM events
    ),
    e AS MATERIALIZED (SELECT src, dst FROM edges WHERE dst IS NOT NULL),
    seeds AS (SELECT event_id AS seed FROM events WHERE event_id % 97 = 0),
    closure AS (
      SELECT s.seed, s.seed AS node, 0 AS depth FROM seeds s
      UNION ALL
      SELECT c.seed, e.dst AS node, c.depth + 1 AS depth
      FROM closure c JOIN e ON c.node = e.src
      WHERE c.depth < 6
    )
    SELECT seed, node, depth FROM closure WHERE depth > 0
    """,
)
def event_chain_leads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event_chain_closure result via structure-aware plan rewrite: the
    per-user successive-event chain is a PATH graph (every node has exactly
    one successor), so the depth-k successor of a seed is simply
    lead(event_id, k) in the same keyed window — the whole 6-hop closure
    becomes ONE window pass + posexplode, with no joins, no driver loop, no
    checkpoints.

    This is the generic-vs-specialized pair with event_chain_closure (kept
    registered and benched as the general BFS): same oracle, same rows, but
    6 iterative shuffle-join rounds collapse into one per-user window sort.
    At 100 TB the BFS costs ~3 shuffles x depth; this costs exactly one
    shuffle (the window partitioning) regardless of depth. Measure both in
    BENCH to quantify the rewrite's payoff."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    depth = 6
    leads = events.select(
        "event_id",
        F.array(
            *[F.lead("event_id", k).over(w) for k in range(1, depth + 1)]
        ).alias("succ"),
    )
    return (
        leads.filter(F.col("event_id") % 97 == 0)
        .select(
            F.col("event_id").alias("seed"),
            F.posexplode("succ").alias("pos", "node"),
        )
        .filter(F.col("node").isNotNull())
        .select("seed", "node", (F.col("pos") + 1).alias("depth"))
    )
