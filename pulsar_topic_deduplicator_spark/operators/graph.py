"""Iterative graph analytics — fixed-point PageRank over the
customer↔supplier interaction graph.

NOT in the reference (no joins at all, let alone iteration — SURVEY.md
§2.3); added alongside connected components (large-star/small-star,
``neardup.connected_components_lss``) so the engine's iterative-algorithm
tier covers the other classic: influence propagation.

Why FIXED-POINT integers: textbook PageRank sums doubles across
partitions, and float addition is not associative — the same query can
return different last bits run to run, which breaks both determinism
guarantees and any cross-engine oracle. Here rank mass is a scaled BIGINT
(`SCALE` = 1e12); contributions are ``pr div outdeg`` (floor), damping is
``(85 · sum) div 100`` — every operation is exact integer arithmetic, so
the result is bit-identical on any cluster, any partitioning, any engine,
and a DuckDB oracle replays the SAME k iterations as chained CTEs. The
cost is a deterministic rounding loss of < outdeg · k ulps of mass per
node (floors only ever shrink), which is the documented deviation from
real-valued PageRank — the RANKING it induces is what the operator
contracts, and the floors are identical cross-engine so even ties match.

Scale notes: each iteration is (pr ⋈ edges on src) → agg by dst — the
standard two-shuffle PageRank step; k is fixed (default 3), so the plan is
a static 2k-exchange DAG, no driver-side data beyond the loop counter.
Edges are cached once (size = distinct interaction pairs, ≪ lineitem). At
100 TB the edge table would be bucketed by src so the join side of every
iteration is co-located, halving the shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table

#: fixed-point scale for rank mass (1e12 ≈ 12 decimal digits of rank)
SCALE = 1_000_000_000_000
#: damping factor, as an exact integer percentage
DAMP_PCT = 85
#: fixed iteration count (static plan; the oracle replays the same k)
N_ITER = 3
#: result size
TOP_K = 20
#: graphs with at most this many nodes broadcast the rank frame into the
#: per-iteration contrib join (a (node, long) row is ~50 bytes ⇒ ≤ ~50 MB,
#: inside the session's 64 MB auto-broadcast threshold). AQE makes the
#: same conversion at runtime once it has observed sizes — the explicit
#: hint makes the plan deterministic (no dependence on stats availability)
#: and removes the rank-side exchange from the static plan; measured on
#: the 6-iteration converged entry at sf0.1: cold first run 12.7 s → 8.9 s
#: (the bench-relevant case), warm steady-state at parity (~7.8 s both —
#: AQE had already converted), output bit-identical. Web-scale graphs
#: exceed the bound and fall back to the shuffle join over src-bucketed
#: edges.
BROADCAST_NODES_MAX = 1_000_000


def _interaction_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (custkey, suppkey) integer pairs from orders ⋈ lineitem.

    The distinct runs on the two BIGINT keys — the string node ids are a
    bijection of them ('c'||k / 's'||k), so distinct-on-ints ≡
    distinct-on-strings while the exchange moves 16 fixed bytes per row
    instead of two variable-length strings (guide §2.3: narrower types,
    project before the exchange)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


def _interaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer↔supplier pairs from orders ⋈ lineitem, emitted in
    BOTH directions (undirected graph ⇒ every node has out-degree ≥ 1 —
    no dangling-mass special case). String node ids ('c12', 's3') — used
    where the node id's STRING ordering is semantic (lp_communities label
    ties); the numeric tier uses ``_interaction_edges_long``."""
    pairs = _interaction_pairs(spark, sf_dir).select(
        F.concat(F.lit("c"), F.col("c")).alias("c"),
        F.concat(F.lit("s"), F.col("s")).alias("s"),
    )
    fwd = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    return fwd.unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))


def _interaction_edges_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same graph, LONG node ids: customer k → 2k (even, ≥ 0), supplier
    k → −(2k+1) (negative) — collision-free for ALL k ≥ 0 (this corpus
    includes key 0, so a plain ±k encoding would merge c0 and s0). Every
    iteration shuffle then hashes/compares an 8-byte long instead of a
    string (guide §2.3); ``_node_str`` restores the exact string id at the
    output boundary — entries decode BEFORE any string-tie-ordered top-k,
    so results are bit-identical to the string pipeline."""
    pairs = _interaction_pairs(spark, sf_dir).select(
        (2 * F.col("c")).cast("long").alias("c"),
        (-(2 * F.col("s") + 1)).cast("long").alias("s"),
    )
    fwd = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    return fwd.unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))


def _node_str(col: F.Column) -> F.Column:
    """Decode a signed-long node id back to its exact string form
    (customers are even ≥ 0: 'c'||n/2; suppliers odd < 0: 's'||(−n)div 2)."""
    return F.when(col >= 0, F.concat(F.lit("c"), F.shiftright(col, 1))).otherwise(
        F.concat(F.lit("s"), F.shiftright(-col, 1))
    )


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = N_ITER,
    checkpoint_every: int | None = None,
    stop_when_stable: bool = False,
) -> DataFrame:
    """Up to ``n_iter`` damped power-iteration steps in exact integer
    arithmetic; returns (node, pr) for every node of the (bidirectional)
    edge set.

    ``checkpoint_every``: eager ``localCheckpoint`` of the rank frame every
    N iterations — the plan/lineage otherwise grows linearly in k (2
    exchanges per step), which blows up optimizer time and task-binary size
    for large k; truncation keeps the per-iteration DAG constant-size
    (pinned in tests/test_graph.py at k=10). On a real cluster use
    ``checkpoint()`` against a reliable store so ranks survive executor
    loss; localCheckpoint is the single-JVM analog.

    ``stop_when_stable``: stop as soon as an iteration leaves every node's
    rank EXACTLY unchanged (integer delta == 0). Because each step is a
    deterministic pure function of the rank assignment, a zero-delta step
    is a true fixed point — every later iteration is the identity, so the
    early-stopped result is bit-identical to running all ``n_iter`` steps,
    and a fixed-k oracle stays exact regardless of where the loop stopped.
    The check is one count over the joined old/new ranks (scalar to the
    driver, no row traffic); with checkpointing enabled it runs only at
    checkpoint boundaries, and a later-than-minimal stop is still
    bit-identical output. With checkpointing on, every ITERATE is
    materialized (node-sized frames, one cheap job each) so the probe
    reads cached blocks on both sides — a lazy old side re-executed one
    full iteration sub-DAG per boundary just to feed the broadcast
    (measured 0.5-0.7 s per boundary at sf0.1, round 14). The CHECKS
    themselves stay on the boundary cadence (per-iteration count jobs
    tripled the entry's wall time when tried)."""
    # one persist of the 2-long-column edge frame covers both consumers
    # (the degree aggregate and every iteration's contrib join); the
    # node-sized degree frame is checkpointed once so iterations, the node
    # count and the init ranks all read materialized blocks — no distinct
    # needed (every node is a src, so deg already has one row per node).
    # Cache ownership (ADVICE r14): persist/unpersist only frames THIS
    # function persisted — a caller handing in an already-persisted edges
    # frame (e.g. via persist_scoped) keeps its cache across the call.
    lvl = edges.storageLevel
    owns_edge_cache = not (lvl.useMemory or lvl.useDisk)
    if owns_edge_cache:
        edges = edges.persist()
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    n_nodes = deg.count()  # scalar: number of nodes (every node is a src)
    init = SCALE // n_nodes
    base = (15 * init) // 100  # (1 - d) share, exact
    pr = deg.select(
        F.col("src").alias("node"), F.lit(init).cast("long").alias("pr")
    )
    pr_materialized = True  # derived from the checkpointed deg frame
    broadcast_ranks = n_nodes <= BROADCAST_NODES_MAX
    for i in range(n_iter):
        # per-NODE share (pr div outdeg) computed on the node-sized
        # rank ⋈ degree join, THEN joined to the edges — the division runs
        # once per node instead of once per edge, and the edge join
        # carries (node, share) only (guide §2.3: move fewer bytes).
        # Explicit aliases: pr derives from deg/edges lineage, so
        # attribute references would be ambiguous self-joins.
        d_side = deg.alias("d")
        if broadcast_ranks:
            d_side = F.broadcast(d_side)
        shares = (
            pr.alias("p")
            .join(d_side, F.col("p.node") == F.col("d.src"))
            .select(
                F.col("p.node").alias("node"),
                F.expr("p.pr div d.outdeg").alias("share"),
            )
        )
        s_side = shares.alias("s")
        if broadcast_ranks:
            s_side = F.broadcast(s_side)
        contrib = (
            edges.alias("e")
            .join(s_side, F.col("e.src") == F.col("s.node"))
            .select(F.col("e.dst").alias("node"), F.col("s.share"))
        )
        new_pr = contrib.groupBy("node").agg(
            (
                F.lit(base).cast("long")
                + F.expr(f"({DAMP_PCT} * sum(share)) div 100")
            ).alias("pr")
        )
        at_boundary = bool(
            checkpoint_every and (i + 1) % checkpoint_every == 0
        )
        new_materialized = False
        if at_boundary or (stop_when_stable and checkpoint_every):
            # under stop_when_stable every iterate is materialized (not
            # just boundaries) so the NEXT boundary's probe reads cached
            # blocks on BOTH sides — see the docstring
            new_pr = new_pr.localCheckpoint(eager=True)
            new_materialized = True
        if stop_when_stable and (at_boundary or not checkpoint_every):
            # both rank frames are node-sized (≤ BROADCAST_NODES_MAX when
            # the broadcast path is on) — broadcast the old side so the
            # equality probe is exchange-free (guide §2.4)
            old_side = pr.alias("p")
            if broadcast_ranks:
                old_side = F.broadcast(old_side)
            changed = (
                new_pr.alias("n")
                .join(old_side, F.col("n.node") == F.col("p.node"))
                .filter(F.col("n.pr") != F.col("p.pr"))
                .limit(1)
                .count()
            )
            if changed == 0:
                pr, pr_materialized = new_pr, new_materialized
                break
        pr, pr_materialized = new_pr, new_materialized
    # materialize the final (small: one row per node) rank frame, then
    # release the edge cache — the long-lived verify/bench session must not
    # accumulate per-query cached relations (executor-heap pressure showed
    # up as 3x timing swings in long runs; see BASELINE.md round-5 note)
    if not pr_materialized:
        pr = pr.localCheckpoint(eager=True)
    if owns_edge_cache:
        edges.unpersist()
    return pr


#: iteration budget for the converged entry (oracle replays the same k; a
#: zero-delta early stop is a true fixed point, so early exit ≡ full replay)
N_ITER_CONV = 6
#: lineage-truncation cadence for the converged entry
CHECKPOINT_EVERY = 2


def pagerank_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: top-20 nodes of the interaction graph by fixed-point
    PageRank (exact integers ⇒ deterministic ranking incl. ties, oracle
    replays the identical 3 iterations)."""
    pr = pagerank_fixed_point(_interaction_edges_long(spark, sf_dir))
    # decode long ids BEFORE the top-k: rank ties break on the STRING id,
    # exactly as the oracle orders
    return (
        pr.select(_node_str(F.col("node")).alias("node"), "pr")
        .orderBy(F.desc("pr"), "node")
        .limit(TOP_K)
    )


def pagerank_converged_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: the production loop shape — iterate to a fixed point
    (≤ N_ITER_CONV steps, exact-integer zero-delta stop) with lineage
    truncated every CHECKPOINT_EVERY iterations. The oracle replays the
    full N_ITER_CONV chained-CTE iterations: if the loop stopped early it
    did so at a true fixed point, so both sides are bit-identical."""
    pr = pagerank_fixed_point(
        _interaction_edges_long(spark, sf_dir),
        n_iter=N_ITER_CONV,
        checkpoint_every=CHECKPOINT_EVERY,
        stop_when_stable=True,
    )
    return (
        pr.select(_node_str(F.col("node")).alias("node"), "pr")
        .orderBy(F.desc("pr"), "node")
        .limit(TOP_K)
    )


def _oracle(n_iter: int = N_ITER) -> str:
    """Chained-CTE replay of the same k integer iterations."""
    steps = []
    prev = "pr0"
    for i in range(1, n_iter + 1):
        steps.append(
            f"""pr{i} AS (
          SELECT e.dst AS node,
                 (SELECT base FROM consts)
                   + ({DAMP_PCT} * CAST(sum(p.pr // d.outdeg) AS BIGINT)) // 100 AS pr
          FROM edges e
          JOIN {prev} p ON e.src = p.node
          JOIN deg d ON e.src = d.src
          GROUP BY e.dst)"""
        )
        prev = f"pr{i}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (
          SELECT c AS src, s AS dst FROM pairs
          UNION ALL
          SELECT s AS src, c AS dst FROM pairs),
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        consts AS (
          SELECT CAST({SCALE} // count(*) AS BIGINT) AS init,
                 CAST((15 * ({SCALE} // count(*))) // 100 AS BIGINT) AS base
          FROM deg),
        pr0 AS (SELECT src AS node, (SELECT init FROM consts) AS pr FROM deg),
        {chain}
        SELECT node, pr FROM {prev}
        ORDER BY pr DESC, node
        LIMIT {TOP_K}
    """


ORACLES: dict[str, str] = {
    "pagerank_top_suppliers": _oracle(),
    "pagerank_converged_suppliers": _oracle(N_ITER_CONV),
}


#: synchronous label-propagation rounds — pinned so the unrolled oracle
#: replays the same R (on a bipartite graph sync LP can oscillate rather
#: than converge, so the operator CONTRACTS the R-round state, exactly
#: like the fixed-k PageRank entries contract their k-th iterate).
LP_ROUNDS = 3


def lp_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) over the customer↔supplier graph — the third classic of the
    iterative tier (PageRank = influence, connected components =
    reachability, LP = density): ``(node, community)`` after LP_ROUNDS
    synchronous updates, each node adopting the most frequent label among
    its neighbors (ties → smallest label; labels start as the node's own
    id).

    Determinism: the update is a pure integer/string argmax — count
    descending, label ascending — so the R-round state is bit-identical
    on any partitioning and the unrolled DuckDB CTE chain replays it
    exactly (no RNG, no async update order — the usual LP nondeterminism
    sources are defined away).

    Scale: per round ONE join of the edge set against the node-sized
    label frame + one (node, label) count + one per-node argmax — the
    same two-shuffle step as PageRank, over the same cached
    degree-annotated edges; R is fixed so the plan is a static DAG. At
    100 TB: src-bucketed edges co-locate every round's join."""
    from ..cachereg import persist_scoped

    edges = persist_scoped(_interaction_edges(spark, sf_dir))
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("community")
    )
    for _ in range(LP_ROUNDS):
        cnt = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("community").alias("lbl"),
                ),
                "dst",
            )
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax(count desc, label asc) == min(struct(-count, label))
        labels = cnt.groupBy("src").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("lbl"))).alias(
                "m"
            )
        ).select(F.col("src").alias("node"), F.col("m.lbl").alias("community"))
    return labels


def _lp_oracle() -> str:
    steps = []
    prev = "lbl0"
    for r in range(1, LP_ROUNDS + 1):
        steps.append(f"""cnt{r} AS (
          SELECT e.src, l.community AS lbl, count(*) AS c
          FROM edges e JOIN lbl{r - 1} l ON l.node = e.dst
          GROUP BY e.src, l.community),
        lbl{r} AS MATERIALIZED (
          SELECT src AS node, lbl AS community FROM (
            SELECT *, row_number() OVER (PARTITION BY src
              ORDER BY c DESC, lbl) AS rn FROM cnt{r})
          WHERE rn = 1)""")
        prev = f"lbl{r}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (
          SELECT c AS src, s AS dst FROM pairs
          UNION ALL
          SELECT s AS src, c AS dst FROM pairs),
        lbl0 AS (SELECT DISTINCT src AS node, src AS community FROM edges),
        {chain}
        SELECT node, community FROM {prev}
    """


ORACLES["lp_communities"] = _lp_oracle()


#: PPR iteration budget (oracle replays the same k)
PPR_ITER = 3


def ppr_related_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank — the "related to X" graph-retrieval read
    (random walk with restart): all restart mass returns to a single SEED
    node instead of spreading uniformly, so the fixed point scores every
    node by its proximity to the seed through the interaction graph. Same
    exact-integer discipline as `pagerank_fixed_point` (scaled BIGINT
    mass, floor shares, integer damping); the seed is data-derived and
    deterministic — the smallest supplier node — and the oracle replays
    the identical PPR_ITER iterations with the same CASE-gated restart.

    Output: the TOP_K highest-scoring nodes ``(node, pr)`` — the seed's
    graph neighborhood ranked. Scale shape: identical to PageRank (the
    per-iteration join + aggregate over the cached degree-annotated
    edges); personalization changes one per-node constant, not the plan."""
    from ..cachereg import persist_scoped

    edges = _interaction_edges_long(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges_deg = persist_scoped(edges.join(deg, "src"))
    nodes = edges_deg.select("src").distinct()
    seed = (
        nodes.filter(F.col("src") < 0)
        .agg(F.min(F.shiftright(-F.col("src"), 1)))
        .collect()[0][0]
    )  # scalar: smallest supplier id — deterministic, data-derived
    seed_node = -(2 * int(seed) + 1)  # supplier k encodes as −(2k+1)
    restart = (15 * SCALE) // 100
    is_seed = F.col("node") == seed_node
    # all walk mass starts at the seed (pure random-walk-with-restart)
    pr = nodes.select(
        F.col("src").alias("node"),
        F.when(F.col("src") == seed_node, F.lit(SCALE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pr"),
    )
    for _ in range(PPR_ITER):
        contrib = (
            F.broadcast(pr.alias("p"))
            .join(edges_deg.alias("e"), F.col("p.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"),
                F.expr("p.pr div e.outdeg").alias("share"),
            )
        )
        pr = contrib.groupBy("node").agg(
            (
                F.when(is_seed, F.lit(restart)).otherwise(F.lit(0))
                + F.expr(f"({DAMP_PCT} * sum(share)) div 100")
            ).alias("pr")
        )
    out = (
        pr.select(_node_str(F.col("node")).alias("node"), "pr")
        .orderBy(F.desc("pr"), "node")
        .limit(TOP_K)
    )
    out = out.localCheckpoint(eager=True)
    edges_deg.unpersist()
    return out


def _ppr_oracle() -> str:
    steps = []
    prev = "pr0"
    for i in range(1, PPR_ITER + 1):
        steps.append(
            f"""pr{i} AS (
          SELECT e.dst AS node,
                 (CASE WHEN e.dst = (SELECT sn FROM seedc)
                       THEN {(15 * SCALE) // 100} ELSE 0 END)
                   + ({DAMP_PCT} * CAST(sum(p.pr // d.outdeg) AS BIGINT)) // 100
                   AS pr
          FROM edges e
          JOIN {prev} p ON e.src = p.node
          JOIN deg d ON e.src = d.src
          GROUP BY e.dst)"""
        )
        prev = f"pr{i}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (
          SELECT c AS src, s AS dst FROM pairs
          UNION ALL
          SELECT s AS src, c AS dst FROM pairs),
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        seedc AS (SELECT 's' || min(CAST(substring(src, 2) AS BIGINT)) AS sn
                  FROM (SELECT DISTINCT src FROM edges)
                  WHERE src LIKE 's%'),
        pr0 AS (SELECT src AS node,
                       CASE WHEN src = (SELECT sn FROM seedc)
                            THEN CAST({SCALE} AS BIGINT)
                            ELSE CAST(0 AS BIGINT) END AS pr
                FROM (SELECT DISTINCT src FROM edges)),
        {chain}
        SELECT node, CAST(pr AS BIGINT) AS pr FROM {prev}
        ORDER BY pr DESC, node
        LIMIT {TOP_K}
    """


ORACLES["ppr_related_suppliers"] = _ppr_oracle()


#: HITS fixed-point scale (smaller than PageRank's SCALE: the rescale step
#: multiplies a raw neighbor-sum by it, so ``max_degree · HITS_SCALE²`` must
#: stay inside int64 — 1e6 leaves room for ~9e6-degree hubs; beyond that a
#: production run drops to 1e3 or real-valued scores)
HITS_SCALE = 1_000_000
#: synchronous HITS rounds (oracle replays the same R)
HITS_ROUNDS = 3
#: rows returned per role
HITS_TOP = 10


def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) over the bipartite customer→supplier order
    graph — the mutual-reinforcement complement of PageRank: a customer is
    a good HUB if it buys from good suppliers, a supplier a good AUTHORITY
    if good hubs buy from it. Returns the top ``HITS_TOP`` nodes per role
    as ``(role, node, score)``.

    Exact-integer discipline (same contract as ``pagerank_fixed_point``):
    scores are scaled BIGINTs; each half-step is a neighbor SUM followed by
    a max-normalization ``(raw · HITS_SCALE) div max(raw)`` — the integer
    analog of the usual norm divide, bit-identical on any partitioning, so
    the unrolled DuckDB CTE chain replays the identical HITS_ROUNDS rounds
    (floats would drift: neither the sum order nor an L2 norm is
    associative-stable).

    Scale shape: per round two (edges ⋈ node-frame → agg) steps plus two
    one-row max aggregates (broadcast, no collect); node frames here are
    ≪ BROADCAST_NODES_MAX so they broadcast into the edge join exactly like
    the PPR entry — a web-scale run flips to a shuffle join over
    src-bucketed edges, same as PageRank."""
    from ..cachereg import persist_scoped

    pairs = persist_scoped(_interaction_pairs(spark, sf_dir))

    hub = pairs.select("c").distinct().select(
        F.col("c").alias("node"), F.lit(HITS_SCALE).cast("long").alias("h")
    )
    auth = None
    for _ in range(HITS_ROUNDS):
        # materialize each half-step's raw-sum frame (node-sized, KBs):
        # it has TWO consumers (the one-row max and the rescale crossJoin),
        # so left lazy the join+agg sub-DAG doubles per half-step and the
        # doubling COMPOUNDS across rounds (4^R re-execution — measured
        # 79.6 s at sf0.1; 2.5 s with the checkpoints). Same discipline as
        # pagerank's checkpoint_every, just mandatory because of the
        # two-consumer max-normalization.
        araw = (
            pairs.join(F.broadcast(hub), pairs.c == hub.node)
            .groupBy("s")
            .agg(F.sum("h").alias("raw"))
            .localCheckpoint(eager=True)
        )
        amax = araw.agg(F.max("raw").alias("mx"))
        auth = araw.crossJoin(F.broadcast(amax)).select(
            F.col("s").alias("node"),
            F.expr(f"(raw * {HITS_SCALE}) div mx").alias("a"),
        )
        hraw = (
            pairs.join(F.broadcast(auth), pairs.s == auth.node)
            .groupBy("c")
            .agg(F.sum("a").alias("raw"))
            .localCheckpoint(eager=True)
        )
        hmax = hraw.agg(F.max("raw").alias("mx"))
        hub = hraw.crossJoin(F.broadcast(hmax)).select(
            F.col("c").alias("node"),
            F.expr(f"(raw * {HITS_SCALE}) div mx").alias("h"),
        )

    auth_out = (
        auth.orderBy(F.desc("a"), "node")
        .limit(HITS_TOP)
        .select(
            F.lit("authority").alias("role"),
            F.concat(F.lit("s"), F.col("node")).alias("node"),
            F.col("a").alias("score"),
        )
    )
    hub_out = (
        hub.orderBy(F.desc("h"), "node")
        .limit(HITS_TOP)
        .select(
            F.lit("hub").alias("role"),
            F.concat(F.lit("c"), F.col("node")).alias("node"),
            F.col("h").alias("score"),
        )
    )
    out = auth_out.unionByName(hub_out).localCheckpoint(eager=True)
    pairs.unpersist()
    return out


def _hits_oracle() -> str:
    steps = []
    prev_h = "hub0"
    for r in range(1, HITS_ROUNDS + 1):
        steps.append(
            f"""a{r}r AS MATERIALIZED (
          SELECT p.s AS node, CAST(sum(h.h) AS BIGINT) AS raw
          FROM pairs p JOIN {prev_h} h ON p.c = h.node GROUP BY p.s),
        a{r} AS MATERIALIZED (
          SELECT node, (raw * {HITS_SCALE}) // (SELECT max(raw) FROM a{r}r)
                   AS a
          FROM a{r}r),
        h{r}r AS MATERIALIZED (
          SELECT p.c AS node, CAST(sum(a.a) AS BIGINT) AS raw
          FROM pairs p JOIN a{r} a ON p.s = a.node GROUP BY p.c),
        h{r} AS MATERIALIZED (
          SELECT node, (raw * {HITS_SCALE}) // (SELECT max(raw) FROM h{r}r)
                   AS h
          FROM h{r}r)"""
        )
        prev_h = f"h{r}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS MATERIALIZED (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        hub0 AS (
          SELECT DISTINCT c AS node, CAST({HITS_SCALE} AS BIGINT) AS h
          FROM pairs),
        {chain}
        SELECT 'authority' AS role, 's' || node AS node, a AS score
        FROM (SELECT * FROM a{HITS_ROUNDS} ORDER BY a DESC, node
              LIMIT {HITS_TOP})
        UNION ALL
        SELECT 'hub' AS role, 'c' || node AS node, h AS score
        FROM (SELECT * FROM h{HITS_ROUNDS} ORDER BY h DESC, node
              LIMIT {HITS_TOP})
    """


ORACLES["hits_hub_authority"] = _hits_oracle()


#: BFS round budget (bipartite interaction graph: diameter is small; the
#: oracle replays the same R, and like the fixed-k PageRank entries the
#: operator contracts the R-round frontier)
BFS_ROUNDS = 4
#: unreached sentinel — keeps every distance an exact BIGINT (no NULL
#: arithmetic; both engines compute least(INF, d+1) identically)
BFS_INF = 1_000_000_000


def bfs_hops_from_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distance from a seed node over the interaction
    graph — the UNWEIGHTED-shortest-path classic beside PageRank
    (influence), connected components (reachability), label propagation
    (density), and PPR (proximity). Returns ``(node, hops)`` for every
    node reached within BFS_ROUNDS rounds; seed = the smallest supplier id
    (data-derived, deterministic, same rule as ``ppr_related_suppliers``).

    Pure integer relaxation: each round is
    ``dist' = least(dist, min over in-neighbors (dist + 1))`` with an INF
    sentinel for unreached — min/least over BIGINTs, bit-identical on any
    partitioning, replayed exactly by the unrolled CTE oracle. Per round
    ONE min-agg over {dist(v)} ∪ {dist(u)+1 : u→v} — the self term rides
    the aggregate as node-sized union rows, which is algebraically
    identical to the oracle's join-then-least shape (dist ≤ INF always,
    so least(d, least(INF, m)) = least(INF, min(d, m))) but removes the
    per-round dist⋈nbr join (guide §2.4: one exchange, not two — measured
    −10% at sf0.1, round 14). Distance frame checkpointed per round so
    the plan stays one-round-sized; the node frame is checkpointed once
    so the seed probe and the init ranks don't re-run the distinct."""
    from ..cachereg import persist_scoped

    edges = persist_scoped(_interaction_edges_long(spark, sf_dir))
    nodes = edges.select("src").distinct().localCheckpoint(eager=True)
    seed = (
        nodes.filter(F.col("src") < 0)
        .agg(F.min(F.shiftright(-F.col("src"), 1)))
        .collect()[0][0]
    )  # scalar: smallest supplier id
    seed_node = -(2 * int(seed) + 1)  # supplier k encodes as −(2k+1)
    dist = nodes.select(
        F.col("src").alias("node"),
        F.when(F.col("src") == seed_node, F.lit(0))
        .otherwise(F.lit(BFS_INF))
        .cast("long")
        .alias("d"),
    )
    for _ in range(BFS_ROUNDS):
        contrib = (
            F.broadcast(dist.alias("p"))
            .join(edges.alias("e"), F.col("p.node") == F.col("e.src"))
            .select(F.col("e.dst").alias("node"), (F.col("p.d") + 1).alias("c"))
        )
        dist = (
            contrib.unionByName(dist.select("node", F.col("d").alias("c")))
            .groupBy("node")
            .agg(
                F.least(
                    F.lit(BFS_INF).cast("long"), F.min(F.col("c"))
                ).alias("d")
            )
            .localCheckpoint(eager=True)
        )
    return dist.filter(F.col("d") < BFS_INF).select(
        _node_str(F.col("node")).alias("node"), F.col("d").alias("hops")
    )


def _bfs_oracle() -> str:
    steps = []
    prev = "d0"
    for r in range(1, BFS_ROUNDS + 1):
        steps.append(
            f"""n{r} AS (
          SELECT e.dst AS node,
                 least({BFS_INF}, min(p.d + 1)) AS nd
          FROM edges e JOIN {prev} p ON e.src = p.node
          GROUP BY e.dst),
        d{r} AS MATERIALIZED (
          SELECT d.node, least(d.d, n.nd) AS d
          FROM {prev} d JOIN n{r} n ON d.node = n.node)"""
        )
        prev = f"d{r}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (
          SELECT c AS src, s AS dst FROM pairs
          UNION ALL
          SELECT s AS src, c AS dst FROM pairs),
        seedc AS (SELECT 's' || min(CAST(substring(src, 2) AS BIGINT)) AS sn
                  FROM (SELECT DISTINCT src FROM edges)
                  WHERE src LIKE 's%'),
        d0 AS (SELECT src AS node,
                      CASE WHEN src = (SELECT sn FROM seedc)
                           THEN CAST(0 AS BIGINT)
                           ELSE CAST({BFS_INF} AS BIGINT) END AS d
               FROM (SELECT DISTINCT src FROM edges)),
        {chain}
        SELECT node, d AS hops FROM {prev} WHERE d < {BFS_INF}
    """


ORACLES["bfs_hops_from_seed"] = _bfs_oracle()


#: k-core peel rounds (the operator contracts the R-round peel state, like
#: the fixed-k PageRank/LP entries; a converged peel is the true k-core)
KCORE_ROUNDS = 3
#: the core threshold: minimum within-subgraph degree to survive a peel
#: round (k=10 keeps the peel non-trivial at every SF — a data-derived
#: average-degree k empties the graph here, because the bipartite hubs
#: pull the mean above every customer's degree)
KCORE_K = 10


def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-core peeling over the interaction graph — the density
    filter that strips low-engagement periphery before community/influence
    analysis (nodes outside the k-core inflate PageRank sinks and LP
    noise). KCORE_ROUNDS synchronous rounds each drop every node whose
    CURRENT within-subgraph degree is below KCORE_K, then discard edges
    touching dropped nodes (removals cascade). Returns the surviving
    subgraph's ``(node, deg)``.

    All-integer, order-free (degree counts + threshold filters), so the
    unrolled CTE oracle replays the identical rounds. Scale shape: per
    round one degree aggregate + two semi-joins against the broadcast
    survivor set. Because survivor sets shrink MONOTONICALLY (a node
    absent from S_{r-1} has no surviving src edges, so it cannot re-enter
    S_r), round r's edge frame equals the ORIGINAL edges semi-filtered by
    S_r on both sides — so only the node-sized keep frame is ever
    materialized, and the per-round eager checkpoint of the full edge
    frame (3 × ~1.2M-row materializations at sf0.1; round-14 measurement)
    is gone. Each round re-reads the one persisted edge frame instead —
    the same peel a 100 TB graph runs with src/dst-bucketed edges."""
    from ..cachereg import persist_scoped

    edges = persist_scoped(_interaction_edges_long(spark, sf_dir))

    surv = edges
    for _ in range(KCORE_ROUNDS):
        deg = surv.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = (
            deg.filter(F.col("d") >= KCORE_K)
            .select("src")
            .localCheckpoint(eager=True)
        )
        # lazy: the persisted ORIGINAL edges filtered by the CUMULATIVE
        # survivor set (valid because S_r ⊆ S_{r-1}, see docstring)
        surv = edges.join(F.broadcast(keep), "src", "semi").join(
            F.broadcast(keep.select(F.col("src").alias("dst"))),
            "dst",
            "semi",
        )
    out = (
        surv.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(_node_str(F.col("src")).alias("node"), "deg")
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    return out


def _kcore_oracle() -> str:
    steps = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        steps.append(
            f"""d{r} AS (SELECT src, count(*) AS d FROM {prev} GROUP BY src),
        s{r} AS MATERIALIZED (
          SELECT src FROM d{r} WHERE d >= {KCORE_K}),
        e{r} AS MATERIALIZED (
          SELECT e.src, e.dst FROM {prev} e
          JOIN s{r} a ON e.src = a.src
          JOIN s{r} b ON e.dst = b.src)"""
        )
        prev = f"e{r}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        e0 AS MATERIALIZED (
          SELECT c AS src, s AS dst FROM pairs
          UNION ALL
          SELECT s AS src, c AS dst FROM pairs),
        {chain}
        SELECT src AS node, count(*) AS deg FROM {prev} GROUP BY src
    """


ORACLES["kcore_membership"] = _kcore_oracle()


#: link-prediction readout size and the heavy-hitter part cap. A part
#: supplied by d suppliers contributes C(d,2) candidate pairs — the cap
#: bounds the per-key explosion exactly like LSH band caps do (inert on
#: the fixtures, where max part degree is 41). Shared by the oracle.
LINKPRED_TOP_K = 100
LINKPRED_MAX_PART_DEG = 1024


def common_neighbor_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the supplier co-supply graph: the top
    ``LINKPRED_TOP_K`` supplier pairs ranked by common-neighbor count
    (shared distinct parts), with each side's part-degree and the exact
    integer-ppb Jaccard of their part sets. The classic
    common-neighbors / Jaccard link-prediction pair (Liben-Nowell &
    Kleinberg 2003) — recommendation candidates ("suppliers like
    yours") over the same bipartite graph the PageRank/HITS/k-core tier
    walks, but predicting EDGES rather than scoring nodes. All-integer,
    so fully oracle-able, unlike the ln-weighted Adamic–Adar variant.

    Scale: one distinct projection of (part, supplier) — single shuffle
    on the pair; per-part supplier lists are degree-bounded
    (``LINKPRED_MAX_PART_DEG`` drops heavy-hitter parts BEFORE the
    within-part pair explosion, the banded-LSH cap discipline), so the
    candidate frame is Σ C(deg_p, 2) — never all supplier pairs. Degrees
    join back via broadcast (the supplier domain is KB–MB). The top-k is
    a TakeOrderedAndProject with the total tie-break (common DESC,
    s_a, s_b) — no global sort materialized.

    The distinct (part, supplier) frame feeds FOUR consumers (deg,
    part_deg, and both sides of the within-part pair join) and Catalyst
    plans each subtree independently — the un-persisted plan re-ran the
    lineitem scan + distinct 4-5x with zero exchange reuse (32 Exchanges,
    plans/r14/common_neighbor_links_before.txt). One scoped persist of the
    two-long-column frame collapses that (guide §2.4: pay a branch-point
    materialization once instead of recomputing the subtree per consumer);
    it is node-domain-sized, MB even at 100 TB fact scale."""
    from ..cachereg import persist_scoped

    ps = persist_scoped(
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    deg = ps.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("deg"))
    part_deg = ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("pdeg")
    )
    bounded = ps.join(
        part_deg.filter(F.col("pdeg") <= LINKPRED_MAX_PART_DEG),
        "l_partkey",
    )
    a = bounded.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s_a")
    )
    b = bounded.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s_b")
    )
    pairs = (
        a.join(b, "p")
        .filter(F.col("s_a") < F.col("s_b"))
        .groupBy("s_a", "s_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    enriched = (
        pairs.join(
            F.broadcast(deg.withColumnsRenamed({"l_suppkey": "s_a", "deg": "deg_a"})),
            "s_a",
        )
        .join(
            F.broadcast(deg.withColumnsRenamed({"l_suppkey": "s_b", "deg": "deg_b"})),
            "s_b",
        )
        .select(
            "s_a",
            "s_b",
            "common",
            "deg_a",
            "deg_b",
            F.expr(
                "(1000000000 * common) div (deg_a + deg_b - common)"
            ).alias("jaccard_ppb"),
        )
    )
    return enriched.orderBy(
        F.col("common").desc(), "s_a", "s_b"
    ).limit(LINKPRED_TOP_K)


ORACLES["common_neighbor_links"] = f"""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    deg AS (SELECT s, count(*) AS deg FROM ps GROUP BY s),
    pdeg AS (SELECT p, count(*) AS pdeg FROM ps GROUP BY p),
    bounded AS (
      SELECT ps.p, ps.s FROM ps JOIN pdeg USING (p)
      WHERE pdeg <= {LINKPRED_MAX_PART_DEG}),
    pairs AS (
      SELECT a.s AS s_a, b.s AS s_b, count(*) AS common
      FROM bounded a JOIN bounded b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s)
    SELECT pairs.s_a, pairs.s_b,
           CAST(common AS BIGINT) AS common,
           CAST(da.deg AS BIGINT) AS deg_a,
           CAST(db.deg AS BIGINT) AS deg_b,
           CAST((1000000000 * common) // (da.deg + db.deg - common)
                AS BIGINT) AS jaccard_ppb
    FROM pairs
    JOIN deg da ON da.s = pairs.s_a
    JOIN deg db ON db.s = pairs.s_b
    ORDER BY common DESC, pairs.s_a, pairs.s_b
    LIMIT {LINKPRED_TOP_K}
"""


def degree_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural profile of the customer↔supplier interaction graph —
    the shape readout the node-scoring tier (PageRank/HITS/k-core)
    assumes but never measures: per side, exact degree statistics
    (max, exact-rank p50/p90/p99, mean in ppb) plus the graph-global
    degree ASSORTATIVITY (do high-degree customers trade with
    high-degree suppliers?) as the signed squared Pearson of
    (deg_src, deg_dst) over undirected edges — the ``acf_event_counts``
    sqrt-free discipline.

    Exact-rank percentiles: pXX = the degree at ascending rank
    ``ceil(XX·n/100)`` (ties broken by node id; same-degree ties make
    the pick rank-invariant anyway) — integer definition, no
    interpolation. mean_deg_ppb = 1e9·edges div nodes.

    Assortativity range discipline: the Pearson components m·Σxy − ΣxΣy
    etc. exceed int64 at sf0.1 (m ≈ 2.3M edges × degree products), so
    they accumulate in DECIMAL(38,0)/HUGEINT; 1e9·num² (~1e45) exceeds
    even 38 digits, so the RATIO follows the bm25 pinned-float
    discipline instead of integer division: exact integer operands →
    one libm-free IEEE double expression in pinned operation order
    ((num/den_x)·(num/den_y)) → ONE rounding to ppb. Identical exact
    inputs give bit-identical doubles on both engines; the sign rides
    a separate integer CASE. Constant degree sequences emit NULL.

    Scale: the edge projection is the graph tier's one distinct shuffle;
    degrees are ONE (node) count aggregate; the per-side rank window
    runs over the node-degree DOMAIN (the ``gini_revenue_report``
    SinglePartition-over-aggregate shape — two-stage prefix sum at
    100 TB); assortativity joins the KB-sized degree frame back to the
    edges BROADCAST, then one scalar aggregate."""
    from pyspark.sql import Window

    from ..cachereg import persist_scoped

    # edges feeds deg + the assortativity probe side, and deg feeds the
    # percentile window + BOTH broadcast sides of that probe — without
    # the persists Catalyst replans the orders⋈lineitem distinct per
    # consumer (32 parquet scans in the round-14 plan capture, zero
    # reuse; the common_neighbor_links pattern). Both frames are
    # node/edge-domain-sized.
    edges = persist_scoped(_interaction_edges_long(spark, sf_dir))
    deg = persist_scoped(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    # side from the sign of the long id ('c' = 2·custkey ≥ 0, 's' = −(2·suppkey+1));
    # the within-side window tie-breaks on the LONG id instead of the
    # string id — the pXX picks read the DEG at a rank, and every row in a
    # same-deg tie block carries the same deg, so the emitted percentiles
    # are identical under either tie order (see docstring)
    sided = deg.select(
        F.when(F.col("src") >= 0, F.lit("c")).otherwise(F.lit("s")).alias("side"),
        "src",
        "deg",
    )
    w = Window.partitionBy("side").orderBy("deg", "src")
    tot = Window.partitionBy("side")
    ranked = sided.select(
        "side",
        "deg",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(tot).alias("n"),
    )
    def _at(pct: int):
        rank = F.expr(f"CAST(ceil({pct} * n / 100.0) AS BIGINT)")
        return F.max(F.when(F.col("i") == rank, F.col("deg")))

    stats = ranked.groupBy("side").agg(
        F.max("n").alias("n_nodes"),
        F.sum("deg").alias("n_edges"),
        F.max("deg").alias("max_deg"),
        _at(50).alias("p50_deg"),
        _at(90).alias("p90_deg"),
        _at(99).alias("p99_deg"),
    ).withColumn(
        "mean_deg_ppb", F.expr("(1000000000 * n_edges) div n_nodes")
    )
    dd = edges.join(
        F.broadcast(deg.withColumnsRenamed({"src": "s2", "deg": "x"})),
        F.col("src") == F.col("s2"),
    ).join(
        F.broadcast(
            deg.withColumnsRenamed({"src": "d2", "deg": "y"})
        ),
        F.col("dst") == F.col("d2"),
    )
    # the three Pearson components m·sxy − sx·sy etc. exceed int64 at
    # sf0.1, so they accumulate in DECIMAL(38,0); the final ratio follows
    # the bm25/value_histogram discipline — exact integer operands, one
    # libm-free IEEE double expression in PINNED operation order, ONE
    # rounding to ppb (both engines produce bit-identical doubles from
    # identical exact inputs)
    assort = dd.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    ).select(
        F.expr(
            "CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0 "
            "THEN NULL ELSE "
            "(CASE WHEN m * sxy - sx * sy < 0 THEN -1 "
            " WHEN m * sxy - sx * sy > 0 THEN 1 ELSE 0 END) * CAST(round("
            "(CAST(m * sxy - sx * sy AS DOUBLE)"
            " / CAST(m * sxx - sx * sx AS DOUBLE))"
            " * (CAST(m * sxy - sx * sy AS DOUBLE)"
            "    / CAST(m * syy - sy * sy AS DOUBLE)) * 1e9, 0)"
            " AS BIGINT) END"
        ).alias("assortativity_r2_ppb")
    )
    return stats.crossJoin(F.broadcast(assort))


ORACLES["degree_profile_report"] = """
    WITH pairs AS (
      SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL SELECT s AS src, c AS dst FROM pairs),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    ranked AS (
      SELECT substr(src, 1, 1) AS side, deg,
             row_number() OVER (PARTITION BY substr(src, 1, 1)
                                ORDER BY deg, src) AS i,
             count(*) OVER (PARTITION BY substr(src, 1, 1)) AS n
      FROM deg),
    stats AS (
      SELECT side,
             CAST(max(n) AS BIGINT) AS n_nodes,
             CAST(sum(deg) AS BIGINT) AS n_edges,
             CAST(max(deg) AS BIGINT) AS max_deg,
             CAST(max(CASE WHEN i = CAST(ceil(50 * n / 100.0) AS BIGINT)
                           THEN deg END) AS BIGINT) AS p50_deg,
             CAST(max(CASE WHEN i = CAST(ceil(90 * n / 100.0) AS BIGINT)
                           THEN deg END) AS BIGINT) AS p90_deg,
             CAST(max(CASE WHEN i = CAST(ceil(99 * n / 100.0) AS BIGINT)
                           THEN deg END) AS BIGINT) AS p99_deg,
             CAST((1000000000 * sum(deg)) // max(n) AS BIGINT)
               AS mean_deg_ppb
      FROM ranked GROUP BY side),
    dd AS (
      SELECT ds.deg AS x, dt.deg AS y
      FROM edges e
      JOIN deg ds ON ds.src = e.src
      JOIN deg dt ON dt.src = e.dst),
    ag AS (
      SELECT CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(y * y) AS HUGEINT) AS syy
      FROM dd),
    assort AS (
      SELECT CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0
                  THEN NULL ELSE
               (CASE WHEN m * sxy - sx * sy < 0 THEN -1
                     WHEN m * sxy - sx * sy > 0 THEN 1 ELSE 0 END)
               * CAST(round(
                   (CAST(m * sxy - sx * sy AS DOUBLE)
                    / CAST(m * sxx - sx * sx AS DOUBLE))
                   * (CAST(m * sxy - sx * sy AS DOUBLE)
                      / CAST(m * syy - sy * sy AS DOUBLE)) * 1e9, 0)
                 AS BIGINT) END
               AS assortativity_r2_ppb
      FROM ag)
    SELECT s.side, s.n_nodes, s.n_edges, s.max_deg, s.p50_deg,
           s.p90_deg, s.p99_deg, s.mean_deg_ppb, a.assortativity_r2_ppb
    FROM stats s, assort a
"""
