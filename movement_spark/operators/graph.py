"""Iterative graph algorithms over derived graphs (fixed-point loops).

Companion to the label-propagation components in dedup.py: the pattern
for ANY iterative distributed algorithm on Spark is a bounded loop of
join + aggregate rounds with the edge relation persisted once — the
driver holds only scalars, every round is one shuffle keyed by the
destination vertex, and the iteration count is a deployment constant
(not a convergence poll) so the plan is statically known.

PageRank here runs on the token-transition graph (u = token, v = next
token, weight = bigram count — the same derivation as
text.token_bigram_stats) in EXACT integer arithmetic: per-edge
contribution (pr(u) * w) div out_w(u), damping 85/100, teleport base
((15 * SCALE) div 100) div N. Integer division drops sub-ulp mass (and
dangling-vertex mass is deliberately not redistributed) — both choices
are part of the deterministic spec so any engine reproduces the ranks
bit-for-bit; the float/L1-normalized variant is a rendering of these
integers, never the checked value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from movement_spark.operators.text import packed_bigram_expr
from movement_spark.sources.tokens import TOK_MOD

# Every graph here is over the TOK_MOD token universe; round counts and
# cuts are deployment constants the registry's oracle SQL hard-codes.
PR_SCALE = 1_000_000_000_000
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_ITERS = 3
PR_TOP_N = 20
BFS_ROUNDS = 3
BFS_SEED_MOD = 29  # BFS seeds: tok % 29 == 0


def token_transition_edges(tokens: DataFrame) -> DataFrame:
    """Weighted edge list (u, v, w) of adjacent-token transitions.
    One explode + one map-side-combined count keyed by the packed
    bigram — identical shape to token_bigram_stats' heavy path."""
    bg_expr = packed_bigram_expr(TOK_MOD)
    return (
        tokens.select(F.explode(F.expr(bg_expr)).alias("bg"))
        .groupBy("bg").agg(F.count("*").alias("w"))
        .select(F.expr(f"cast(bg div {TOK_MOD} as int)").alias("u"),
                (F.col("bg") % TOK_MOD).cast("int").alias("v"), "w")
    )


def pagerank_top_tokens(tokens: DataFrame) -> DataFrame:
    """Top-PR_TOP_N tokens by fixed-iteration (PR_ITERS) integer
    PageRank.

    Scale shape: the edge relation (with its out-weight) is persisted
    ONCE and re-joined every round; each round is exactly one shuffle on
    the destination vertex plus one co-keyed left join back to the node
    set. The only driver-side values are N (node count) and the derived
    teleport base — control-plane scalars, like the bloom bitmap. At
    100 TB you would also checkpoint the rank relation every few rounds
    to cut lineage depth; with a fixed PR_ITERS=3 the lineage is bounded
    and Catalyst handles it.
    """
    edges = token_transition_edges(tokens)
    outw = edges.groupBy("u").agg(F.sum("w").alias("out_w"))
    e2 = edges.join(outw, "u").persist()
    nodes = (edges.select(F.col("u").alias("tok"))
             .union(edges.select(F.col("v").alias("tok")))
             .distinct().persist())
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty corpus → empty (typed) rank table, not a ZeroDivisionError
        e2.unpersist()
        nodes.unpersist()
        return tokens.sparkSession.createDataFrame(
            [], schema="tok int, pr_final bigint")
    init = PR_SCALE // n_nodes
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // PR_DAMP_DEN // n_nodes
    ranks = nodes.withColumn("pr", F.lit(init))
    for _ in range(PR_ITERS):
        contrib = (
            e2.join(ranks, e2.u == ranks.tok)
            .select(F.col("v").alias("tok"),
                    F.expr("(pr * w) div out_w").alias("c")))
        agg = contrib.groupBy("tok").agg(
            F.sum("c").cast("bigint").alias("sc"))
        ranks = nodes.join(agg, "tok", "left").select(
            "tok",
            (F.lit(base)
             + F.expr(f"({PR_DAMP_NUM} * coalesce(sc, 0L)) "
                      f"div {PR_DAMP_DEN}")).cast("bigint").alias("pr"))
    final = (
        ranks.orderBy(F.desc("pr"), F.asc("tok")).limit(PR_TOP_N)
        .select(F.col("tok").cast("int").alias("tok"),
                F.col("pr").cast("bigint").alias("pr_final"))
    )
    # materialize the top-N (control-plane small) so the two cached
    # relations can be released — a lazily returned frame would either
    # pin the cache forever in a long-lived registry process or, if
    # unpersisted early, silently recompute all rounds uncached
    rows = final.collect()
    e2.unpersist()
    nodes.unpersist()
    return tokens.sparkSession.createDataFrame(
        rows, schema="tok int, pr_final bigint")


def skipgram_edges(tokens: DataFrame) -> DataFrame:
    """Undirected distinct edge list (a < b) of the window-2 skip-gram
    co-occurrence graph: tokens adjacent OR one apart in a shard
    co-occur. Window 2 is the smallest that yields cliques (every
    consecutive triple is a triangle) — the distance-1-only transition
    graph is a union of chains and is structurally triangle-free.

    Derivation is one explode per distance (JVM transform over the
    token array) + one distinct — a single shuffle keyed by the packed
    pair; self-loops are dropped."""
    d1 = packed_bigram_expr(TOK_MOD)
    d2 = (
        f"if(n_tok >= 3, transform(sequence(0, n_tok - 3), "
        f"i -> cast(tokens[i] as bigint) * {TOK_MOD} "
        f"+ cast(tokens[i+2] as bigint)), "
        f"cast(array() as array<bigint>))"
    )
    pairs = (
        tokens.select(F.explode(F.expr(d1)).alias("p"))
        .unionAll(tokens.select(F.explode(F.expr(d2)).alias("p")))
        .select(F.expr(f"p div {TOK_MOD}").alias("x"),
                (F.col("p") % TOK_MOD).alias("y"))
        .where(F.col("x") != F.col("y"))
    )
    return (
        pairs.select(F.least("x", "y").alias("a"),
                     F.greatest("x", "y").alias("b"))
        .distinct()
    )


def triangle_count_stats(tokens: DataFrame) -> DataFrame:
    """Exact triangle count of the skip-gram co-occurrence graph via
    degree-ordered edge orientation — the distributed-join formulation
    that survives skewed (power-law) degree distributions.

    Each undirected edge is oriented from the endpoint that is SMALLER
    in the total order (degree, vertex id) toward the larger; every
    out-neighborhood is then O(sqrt(E)) even at a hub vertex (a hub
    receives its edges as in-edges), so the wedge join below never
    explodes on skew. The orientation is a total order, hence
    transitive: for a wedge x->y->z the closing edge, if present, is
    necessarily oriented x->z — the closure probe is a pure EQUI-join
    (hashable, no OR-condition nested loop), and each triangle is
    counted exactly once.

    Scale shape: two shuffles (wedge join keyed by the middle vertex,
    closure join keyed by the (x, z) pair) over the oriented edge
    relation; no driver-side state. At 100 TB this is the standard
    MapReduce triangle algorithm (Suri & Vassilvitskii's graph
    partitioning refines it further); here the oriented edge set is
    small enough that Catalyst may broadcast it — both plans are
    correct, the orientation bound is what keeps either viable.
    """
    e = skipgram_edges(tokens).persist()
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count("*").alias("d"))
        .persist()
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = (
        e.join(da, "a").join(db, "b")
        .select(F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("s"),
                F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("t"))
        .persist()
    )
    o1 = o.select(F.col("s").alias("x"), F.col("t").alias("y"))
    o2 = o.select(F.col("s").alias("y"), F.col("t").alias("z"))
    wedges = o1.join(o2, "y")
    closing = o.select(F.col("s").alias("x"), F.col("t").alias("z"),
                       F.lit(1).alias("hit"))
    # one pass over the wedge set counts wedges AND closed wedges
    # (= triangles, each exactly once under the transitive orientation)
    tri = wedges.join(closing, ["x", "z"], "left").agg(
        F.count("*").alias("n_wedges"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
        .alias("n_triangles"))
    stats = (
        deg.agg(F.count("*").alias("n_vertices"),
                F.coalesce(F.max("d"), F.lit(0)).cast("int")
                .alias("max_degree"))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(tri)
        # empty graph: the aggregates above yield one all-zero row
        # (sum over zero wedges is null → coalesce), not a crash
        .select("n_vertices", "n_edges", "max_degree", "n_wedges",
                F.coalesce("n_triangles", F.lit(0).cast("bigint"))
                .alias("n_triangles"))
    )
    rows = stats.collect()
    o.unpersist()
    deg.unpersist()
    e.unpersist()
    return tokens.sparkSession.createDataFrame(
        rows, schema="n_vertices bigint, n_edges bigint, max_degree int, "
                     "n_wedges bigint, n_triangles bigint")


def bfs_depth_profile(tokens: DataFrame) -> DataFrame:
    """Fixed-round breadth-first search on the token-transition graph:
    min-hop distance from the seed set (tok % BFS_SEED_MOD == 0),
    profiled as vertex counts per depth 0..BFS_ROUNDS (oracle: bounded
    unrolled CTE).

    The third fixed-point algorithm beside PageRank and label
    propagation — BFS adds shortest-path semantics. Plan shape: the
    frontier is deduplicated each round (so it is bounded by the vertex
    space, here ≤ TOK_MOD) and BROADCAST into the edge join — the big
    edge relation never shuffles, one distinct-shuffle of the tiny
    frontier per round is the whole movement. Min-depth is resolved
    once at the end with a single vertex-keyed aggregate over the
    union of rounds (a vertex reached in several rounds keeps its
    earliest), replacing a per-round anti-join: 2 stages per round
    instead of 4, which is what dominates fixed-round graph loops in
    practice. At frontier sizes beyond broadcast range (expansion from
    huge seed sets) swap the hint for a shuffle join — same algebra,
    and the round-depth bound keeps lineage static either way.
    """
    from functools import reduce

    edges = (token_transition_edges(tokens)
             .select("u", "v").persist())
    nodes = (edges.select(F.col("u").alias("t"))
             .union(edges.select(F.col("v").alias("t")))
             .distinct())
    seeds = (nodes.where(F.col("t") % BFS_SEED_MOD == 0)
             .select(F.col("t").alias("vtx")).persist())
    frontiers = [seeds]
    for _ in range(BFS_ROUNDS):
        nxt = (
            edges.join(F.broadcast(
                frontiers[-1].select(F.col("vtx").alias("u"))), "u")
            .select(F.col("v").alias("vtx")).distinct().persist()
        )
        frontiers.append(nxt)
    labeled = reduce(
        lambda a, b: a.unionByName(b),
        (f.withColumn("depth", F.lit(d)) for d, f in enumerate(frontiers)))
    profile = (
        labeled.groupBy("vtx").agg(F.min("depth").alias("depth"))
        .groupBy("depth")
        .agg(F.count("*").alias("n_vertices"),
             F.min("vtx").cast("int").alias("min_tok"),
             F.max("vtx").cast("int").alias("max_tok"))
    )
    rows = profile.collect()
    edges.unpersist()
    for f in frontiers:
        f.unpersist()
    return tokens.sparkSession.createDataFrame(
        rows, schema="depth int, n_vertices bigint, min_tok int, "
                     "max_tok int")


def connected_components(verts: DataFrame, edges: DataFrame,
                         max_rounds: int = 16) -> DataFrame:
    """Pointer-doubling connected components: O(log d) rounds instead
    of the O(d) min-label propagation in dedup._propagate_min_labels
    (whose docstring points here for deep graphs).

    ``verts`` is (id: bigint), ``edges`` is (a, b) unordered pairs over
    those ids. Each round does (1) a neighbor-min step — every vertex's
    parent drops to the min parent in its closed neighborhood, one
    shuffle keyed by dst — and (2) a pointer-doubling step — parent :=
    parent(parent), a self-join on the parent column, so label chains
    halve every round. Parents are monotone non-increasing and every
    label is a live vertex id, which makes the doubling join an inner
    equi-join and the fixpoint the component-min label (at a fixpoint
    both endpoints of every edge share a label, and the min vertex can
    only point at itself). Driver holds one convergence scalar per
    round; all data stays distributed. Returns (id, component).
    """
    sym = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.cache()
    # localCheckpoint (not cache) each round: the doubling step self-joins
    # the round's frame, so an uncut lineage would double in size every
    # round and the optimizer itself becomes the memory bound. Truncating
    # keeps each round's plan constant-size; data stays on executors.
    p = verts.select("id", F.col("id").alias("p")).localCheckpoint()
    prev_sum = None
    converged = False
    # max_rounds + 1: convergence is OBSERVED as an unchanged sum, so a
    # graph needing exactly max_rounds rounds of progress gets one extra
    # round to witness the fixpoint (ADVICE r02) — the budget bounds
    # PROGRESS rounds, not detection.
    for _ in range(max_rounds + 1):
        nbr = (
            sym.join(p, sym.a == p.id)
            .groupBy(F.col("b").alias("nid"))
            .agg(F.min("p").alias("nbr_p"))
        )
        p1 = (
            p.join(nbr, p.id == nbr.nid, "left")
            .select("id", F.least("p", F.coalesce("nbr_p", "p")).alias("p"))
        )
        grand = p1.select(F.col("id").alias("pid"), F.col("p").alias("gp"))
        p = p1.join(grand, p1.p == grand.pid) \
            .select("id", F.col("gp").alias("p")).localCheckpoint()
        cur_sum = p.agg(F.sum("p")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"pointer-doubling components did not converge within "
            f"{max_rounds} rounds — raise max_rounds (each round at "
            f"least halves the longest parent chain, so the diameter "
            f"exceeds roughly 2^{max_rounds})")
    return p.select("id", F.col("p").alias("component"))
