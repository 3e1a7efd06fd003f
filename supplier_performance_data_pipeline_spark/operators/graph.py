"""Connected components over near-duplicate pair graphs.

The missing last stage of a dedup pipeline: LSH emits PAIRS (a~b, b~c)
but retention decisions need CLUSTERS ({a,b,c} -> keep one). A cluster
is a connected component of the pair graph; each document's cluster id
is the minimum doc_id reachable from it, which doubles as the canonical
survivor (the same min-id convention as ``exact_dedup_groups``).

Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC '14) — the edge
set itself is rewritten each round until every component is a star
centered on its minimum vertex:

  large-star(u): connect every neighbor v > u to min(N(u) ∪ {u});
  small-star(u): connect every neighbor v <= u (and u) to that min.

Each operation is one vertex-keyed min-agg + one join on the symmetric
adjacency — exactly the MapReduce shape of the paper. Convergence is
O(log^2 n) rounds (in practice a handful even at billions of edges),
independent of component DIAMETER — naive min-label propagation is
O(diameter) per component and a scrambled 6-vertex path already defeats
4 rounds of it (hypothesis found one; see tests/test_properties.py).

Determinism: all-integer (mins over bigint vertex ids) — bit-identical
across engines at ANY round count, so the DuckDB oracle unrolls the
same rounds and matches even independent of convergence.

Scale: per star operation, one groupBy(min) with map-side partial agg
and one src-keyed join; emitted edges are canonical (big, small) pairs,
deduplicated. Iterative DataFrame algorithms MUST truncate lineage each
round — the edge set feeds the next round three ways (two union
directions + the min table), so the logical plan otherwise branches
exponentially back to the pair-generation plan and Catalyst analysis
time explodes before any task runs. We eager-``localCheckpoint`` each
round's edges (16 bytes/edge, executor memory+disk); on a real cluster
prefer reliable ``checkpoint`` to HDFS/S3 so rounds survive executor
loss.

Node-sized join sides are always broadcast. PageRank's degree, rank
and inbound tables, BFS's distance table, triangle counting's degree
table, label propagation's label table and HITS's score tables are
all joined onto the edge scan with ``F.broadcast``, so the only
data-scale exchange per round is the node-keyed aggregation. Leaving
the strategy to the planner (AQE) gave identical results but was
slower on a 2k-vertex/6k-edge graph (4 cores, min of 7 alternating
pairs): PageRank 1.51 vs 1.74 s, HITS 2.01 vs 2.45 s, BFS 0.88 vs
0.93 s, label propagation 1.02 vs 1.27 s. Scale limit: a forced
broadcast overrides Spark's size gate, so these operators serve
graphs whose node table fits in the driver and in every executor (the
registered graphs' nodes are suppliers, customers and embedding
vectors); a billion-node graph would need the broadcasts replaced by
shuffled joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Alternating (large-star, small-star) round pairs. O(log^2 n)
# convergence: 4 pairs covers any realistic pair graph; tests assert
# the fixed point on real LSH pairs and hypothesis cross-checks against
# union-find on adversarial small graphs.
CC_ITERS = 4
# Hard cap on round pairs. O(log^2 n) rounds means 16 pairs covers
# graphs far past any real corpus (2^(4^2) vertices); a graph still
# moving after 16 pairs indicates a bug, and the loop raises rather
# than silently returning unconverged components.
CC_MAX_ITERS = 16


def _star(edges: DataFrame, verts: DataFrame, large: bool) -> DataFrame:
    """One star operation over the canonical edge set.

    ``edges`` holds undirected edges as (src, dst) with src > dst;
    ``verts`` is the full vertex set (self-loops are re-added from it
    every round so vertices whose edges were rewritten away — and
    isolated vertices — keep a neighborhood).

    r13: no longer materializes its own output — the large-star half
    of a round stays LAZY under the small-star half (its three
    references all hang off the same final ``distinct`` exchange, which
    the engine's exchange reuse executes once), and the ROUND PAIR
    materializes once in ``connected_components``. One checkpoint
    action per round instead of two; per-round results unchanged
    (asserted fixed-point-equal on the sf0.1 LSH pair graph)."""
    v = F.col("v")
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .union(verts.select(v.alias("src"), v.alias("dst")))
    )
    # min(N(u) ∪ {u}) — the self-loop puts u itself into the min.
    mins = sym.groupBy("src").agg(F.min("dst").alias("m"))
    cond = (
        F.col("dst") > F.col("src") if large else F.col("dst") <= F.col("src")
    )
    return (
        sym.filter(cond)
        .join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        # Emitted (v, m) always has v > m, so the canonical (big, small)
        # orientation is preserved for free.
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _edge_fingerprint(e: DataFrame) -> tuple:
    """(count, xor, sum) digest of a canonical (src, dst) edge set in
    ONE job — the per-round convergence probe.

    One scan of the materialized (localCheckpointed) edges computes
    the row count, the order-free XOR of per-edge xxhash64, and the
    order-free exact DECIMAL sum of the same hashes (the sum closes
    XOR's paired-cancellation blind spot; edges are distinct, so even
    that can only matter across DIFFERENT sets). Two different edge
    sets collide only if their symmetric difference simultaneously
    XORs to zero, sums to zero, and has equal cardinality — and the
    loop still confirms the fixed point EXACTLY before exiting (see
    ``connected_components``), so a collision costs one wasted exact
    probe, never a wrong result."""
    row = e.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(src, dst))").alias("x"),
        F.sum(F.expr("CAST(xxhash64(src, dst) AS DECIMAL(38,0))")).alias("s"),
    ).collect()[0]
    return (row["n"], row["x"], row["s"])


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = CC_MAX_ITERS,
    stats_out: dict | None = None,
) -> DataFrame:
    """(``id``, ``component``) for every vertex appearing in ``pairs``.

    Runs alternating (large-star, small-star) pairs until the edge set
    reaches its fixed point — a star partition centered on component
    minima (Kiveris et al. §3: the fixed points of the iteration are
    exactly the min-rooted star forests) — then reads each vertex's
    component off the star edges (roots and isolated vertices map to
    themselves). Materializes each round eagerly — see module docstring
    for why iterative plans must cut lineage per round.

    Convergence contract: the fixed point is CHECKED every round —
    cheaply, via the one-job (count, xor, sum) edge-set digest
    (``_edge_fingerprint``); only when the digests MATCH does an exact
    one-sided ``exceptAll`` confirm set equality before exiting, so
    the contract stays exact while the steady-state probe cost drops
    from three jobs per round to one. The loop exits at the fixed
    point and never returns unconverged components: a graph still
    moving after ``max_iters`` round pairs raises. Results at the
    fixed point are independent of the round count, so the oracle's
    fixed ``CC_ITERS``-round unroll still matches exactly.

    ``stats_out``, when given a dict, receives convergence telemetry —
    ``rounds`` (large/small-star round pairs executed, INCLUDING the
    confirming fixed-point round), ``converged``, and ``edges`` /
    ``verts`` (final star-forest edge count and vertex count). Results
    are unaffected; the scale probes read it (at N vertices the
    Kiveris bound is O(log N) rounds, and the probe's job is to show
    the measured round count tracking that bound, not the input
    size)."""
    a, b = F.col(a_col), F.col(b_col)
    verts = (
        pairs.select(a.alias("v"))
        .union(pairs.select(b.alias("v")))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        pairs.select(
            F.greatest(a, b).alias("src"), F.least(a, b).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    executed = 0
    fp = _edge_fingerprint(edges)
    for _ in range(max_iters):
        # One materialization per ROUND PAIR (r13): the large-star half
        # stays lazy under the small-star's exchange-reused references.
        new_edges = _star(
            _star(edges, verts, large=True), verts, large=False
        ).localCheckpoint()
        new_fp = _edge_fingerprint(new_edges)
        executed += 1
        # Digest match → exact confirm (both sides are distinct and
        # materialized, so equal counts + empty one-sided except is
        # set equality); digest mismatch → provably still moving.
        if new_fp == fp and edges.exceptAll(new_edges).isEmpty():
            converged = True
            break
        edges, fp = new_edges, new_fp
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach a fixed point within "
            f"{max_iters} large/small-star round pairs"
        )
    if stats_out is not None:
        stats_out["rounds"] = executed
        stats_out["converged"] = converged
        stats_out["edges"] = fp[0]
        stats_out["verts"] = verts.count()
    mins = edges.groupBy("src").agg(F.min("dst").alias("m"))
    return verts.join(
        mins, verts["v"] == mins["src"], "left"
    ).select(
        F.col("v").alias("id"),
        F.coalesce(F.col("m"), F.col("v")).alias("component"),
    )


def incremental_components(
    old_labels: DataFrame,
    new_edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    stats_out: dict | None = None,
) -> DataFrame:
    """(``id``, ``component``) for the whole corpus after a batch
    lands, re-converging ONLY the affected subgraph — the incremental
    maintenance step over a stored COMPONENT table (r9 VERDICT #5).

    ``old_labels`` is the existing (id, component) table (min-id
    rooted, as ``connected_components`` emits); ``new_edges`` is every
    pair the batch introduced — batch-internal pairs plus
    batch-vs-index probe hits (``verified_pairs_between`` over the
    persistent LSH index). Old-old edges (a re-crawl linking two
    existing components) are handled too.

    Star-contraction seeded from the existing labels: each edge
    endpoint maps to its stored component root when present (an old
    component is a min-rooted star, so attaching to any member IS
    attaching to the root — same clique argument as
    ``near_dup_component_edges``), and to itself otherwise (new docs,
    and old docs that were isolated and therefore have no stored row).
    ``connected_components`` then runs on the CONTRACTED edge list
    alone: its vertex set is (new vertices + touched old roots) and
    its edge mass is the batch's — the historical graph's billions of
    settled edges are never re-read, which is the whole point at
    100 TB where the crawl is always incremental and full recompute
    cost grows with corpus age instead of batch size.

    Exactness (why the result equals a full recompute, hash-for-hash):
    contraction preserves connectivity — members are connected to
    their root in the old graph, so replacing an endpoint by its root
    neither adds nor removes reachability; and the min-id label
    convention COMPOSES, because every old root is already the min of
    its members, so the min over contracted vertices equals the min
    over all underlying members. Untouched components never enter any
    iterative job; their stored labels pass through a single
    broadcast-sized relabel join (the touched-root -> new-root map is
    bounded by the batch's blast radius, not the corpus).

    ``stats_out`` receives the inner CC telemetry plus
    ``contracted_edges`` / ``contracted_verts`` — the term-isolation
    counters the scale probe records (incremental work tracks the
    AFFECTED subgraph, not corpus size)."""
    a, b = F.col(a_col), F.col(b_col)
    old = old_labels.select(
        F.col("id").alias("__oid"), F.col("component").alias("__oc")
    )
    # The label table feeds FOUR consumers (both endpoint contractions,
    # the relabel pass, the root anti-join). Every caller hands it over
    # COMPUTED (e.g. a just-run doc_components, as in the registered
    # replay), so truncate once or the full CC recomputes per consumer.
    old = old.localCheckpoint()
    la = old.select(F.col("__oid").alias(a_col), F.col("__oc").alias("__ca"))
    lb = old.select(F.col("__oid").alias(b_col), F.col("__oc").alias("__cb"))
    contracted = (
        new_edges.select(a_col, b_col)
        .join(la, a_col, "left")
        .join(lb, b_col, "left")
        .select(
            F.coalesce(F.col("__ca"), a).alias("doc_a"),
            F.coalesce(F.col("__cb"), b).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
        .localCheckpoint()
    )
    sub_stats: dict = {}
    sub = connected_components(
        contracted, "doc_a", "doc_b", stats_out=sub_stats
    ).localCheckpoint()
    if stats_out is not None:
        stats_out.update(sub_stats)
        stats_out["contracted_edges"] = contracted.count()
        stats_out["contracted_verts"] = sub_stats.get("verts")
    # Relabel stored rows whose root merged: one pass over the label
    # table against the (touched root -> new root) map, broadcast
    # because it is bounded by the batch's blast radius, not the corpus.
    remap = F.broadcast(
        sub.select(F.col("id").alias("__oc"), F.col("component").alias("__nc"))
    )
    relabeled_old = old.join(remap, "__oc", "left").select(
        F.col("__oid").alias("id"),
        F.coalesce(F.col("__nc"), F.col("__oc")).alias("component"),
    )
    # Contracted vertices that are NOT stored roots are new-to-the-table
    # (batch docs, or previously-isolated old docs a pair just touched).
    old_roots = old.select(F.col("__oc").alias("id")).distinct()
    fresh = sub.join(old_roots, "id", "left_anti").select("id", "component")
    return relabeled_old.unionByName(fresh)


# --- PageRank ---------------------------------------------------------------

PR_ITERS = 3
PR_DAMP = 0.85
# Per-edge contributions round to 12dp before the exact DECIMAL inbound
# sum; each iteration's rank rounds to 9dp. The rounding is the
# determinism contract (reduction-order-free across engines AND
# partitionings), not an approximation knob: at 1e-9 the fixed point of
# the rounded map is indistinguishable from true PageRank for ranking.
PR_CONTRIB_SCALE = 12
PR_RANK_SCALE = 9


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    damp: float = PR_DAMP,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (u, v) —
    (node, rank) after ``iters`` power iterations from the uniform
    start. Nodes are the SOURCE vertices of ``edges``; feed a
    symmetric edge list for undirected graphs (then every node has
    out-degree >= 1 and no dangling-mass correction is needed — the
    caller contract).

    Determinism (the reason a DuckDB oracle can hash-match a float
    iteration): per-edge contribution = ROUND(r_u / deg_u, 12) — one
    double division of exact operands, then an exact DECIMAL(28,12)
    inbound sum per target (order-free); the damped update
    ROUND((1-d)/N + d*inbound, 9) is double arithmetic on those exact
    values, structured identically in both engines.

    Scale: the edge list and the per-source degree table materialize
    once (localCheckpoint); ranks are NODE-sized, so both per-iteration
    joins broadcast onto the edge scan (module docstring) — the only
    data-scale exchange per iteration is the inbound-sum agg keyed by
    target. Rank tables localCheckpoint each round: same
    lineage-truncation requirement as the CC rounds above (the plan
    otherwise re-derives every prior iteration per reference)."""
    e = edges.select("u", "v").localCheckpoint()
    deg = e.groupBy("u").agg(F.count("*").alias("deg"))
    edeg = e.join(F.broadcast(deg), "u").localCheckpoint()
    nodes = e.select(F.col("u").alias("s")).distinct().localCheckpoint()
    n1 = nodes.agg(F.count("*").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n1)).select(
        "s", (F.lit(1.0) / F.col("n")).alias("r")
    )
    # r13: the rank chain is LAZY — each iteration references the
    # previous rank table exactly once (contrib -> inbound -> update),
    # so the logical plan grows LINEARLY in iters and one action
    # executes the whole power iteration; the per-round
    # localCheckpoint actions (3 extra jobs at PR_ITERS=3) bought
    # nothing on a linear chain. Checkpointed edges/nodes above still
    # cut the lineage back to the scan. Identical arithmetic, pinned
    # by the unchanged oracle unroll.
    for _ in range(iters):
        contrib = edeg.join(F.broadcast(ranks), edeg.u == ranks.s).select(
            "v",
            F.round(F.col("r") / F.col("deg"), PR_CONTRIB_SCALE).alias("c"),
        )
        inbound = contrib.groupBy("v").agg(
            F.sum(F.col("c").cast("decimal(28,12)"))
            .cast("double")
            .alias("sm")
        )
        ranks = (
            nodes.join(F.broadcast(inbound), nodes.s == inbound.v, "left")
            .crossJoin(F.broadcast(n1))
            .select(
                "s",
                F.round(
                    F.lit(1.0 - damp) / F.col("n")
                    + F.lit(damp) * F.coalesce(F.col("sm"), F.lit(0.0)),
                    PR_RANK_SCALE,
                ).alias("r"),
            )
        )
    return ranks


# --- single-source BFS ------------------------------------------------------

BFS_ROUNDS = 3


def bfs_distances(
    edges: DataFrame,
    source: int,
    rounds: int = BFS_ROUNDS,
) -> DataFrame:
    """Single-source BFS over a directed edge list (u, v): (node, dist)
    for every node within ``rounds`` hops of ``source`` (the source
    itself at dist 0). Feed symmetric edges for undirected graphs.

    Frontier-free formulation: each round unions the known distance
    table with every neighbor reached one hop further and keeps the
    per-node MIN — all-integer, so any round count is bit-identical
    across engines (same contract as the CC star rounds; a frontier
    optimization changes cost, not results). Per round: one node-keyed
    min-agg and one join of the node-sized distance table onto the
    edge scan — the distance table broadcasts (module docstring); the
    only data-scale exchange is the min-agg; lineage truncates per
    round."""
    dist = (
        edges.sparkSession.createDataFrame(
            [(source, 0)], "node long, dist int"
        ).localCheckpoint()
    )
    for _ in range(rounds):
        step = (
            edges.join(F.broadcast(dist), edges.u == dist.node)
            .select(
                F.col("v").alias("node"),
                (F.col("dist") + 1).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(step)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist


# --- triangle counting ------------------------------------------------------


def triangle_count(edges: DataFrame) -> DataFrame:
    """One row (n_nodes, n_edges, n_triangles) for an undirected simple
    graph given as CANONICAL edges (x < y, no duplicates).

    Degree-oriented wedge counting (Suri & Vassilvitskii, WWW '11):
    each edge is directed from its lower-degree endpoint (id
    tie-break), every triangle then has exactly ONE wedge whose two
    edges both point out of its minimum-ordered vertex, and the
    closing edge is found with an equi-join. The orientation bounds
    every out-degree by O(sqrt(m)), so wedge volume is O(m^1.5)
    worst-case instead of sum-of-squared-degrees — the difference
    between a hub vertex exploding the join and not. All integers;
    deterministic on any engine.

    Feed a SPARSE graph: on a near-complete graph triangles approach
    C(n,3) and no algorithm beats the output size (the registered
    co-supply query thresholds edges on shared-order support for
    exactly this reason).

    The degree table is node-sized and broadcasts onto both
    orientation joins (module docstring)."""
    ce = edges.localCheckpoint()  # reused by degrees + orientation
    deg = (
        ce.select(F.col("x").alias("kk"))
        .unionAll(ce.select(F.col("y").alias("kk")))
        .groupBy("kk")
        .agg(F.count("*").alias("d"))
        .localCheckpoint()  # reused 3x: dx join, dy join, n_nodes agg
    )
    dx = deg.select(F.col("kk").alias("x"), F.col("d").alias("dxd"))
    dy = deg.select(F.col("kk").alias("y"), F.col("d").alias("dyd"))
    first_is_src = (F.col("dxd") < F.col("dyd")) | (
        (F.col("dxd") == F.col("dyd")) & (F.col("x") < F.col("y"))
    )
    oriented = (
        ce.join(F.broadcast(dx), "x")
        .join(F.broadcast(dy), "y")
        .select(
            F.when(first_is_src, F.col("x")).otherwise(F.col("y")).alias("u"),
            F.when(first_is_src, F.col("y")).otherwise(F.col("x")).alias("v"),
        )
        .localCheckpoint()  # reused 3x (two wedge sides + closure)
    )
    e1 = oriented.select(F.col("u").alias("w_u"), F.col("v").alias("w_mid"))
    e2 = oriented.select(F.col("u").alias("w_mid"), F.col("v").alias("w_w"))
    wedges = e1.join(e2, "w_mid").select("w_u", "w_w")
    closing = oriented.select(F.col("u").alias("w_u"), F.col("v").alias("w_w"))
    tri = wedges.join(closing, ["w_u", "w_w"]).agg(
        F.count("*").alias("n_triangles")
    )
    return (
        deg.agg(F.count("*").alias("n_nodes"))
        .crossJoin(ce.agg(F.count("*").alias("n_edges")))
        .crossJoin(tri)
    )


# --- label propagation (community detection) --------------------------------

LPA_ITERS = 3


def label_propagation(edges: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """Synchronous LABEL PROPAGATION (Raghavan et al. 2007, made
    deterministic): every node starts labeled with its own id; each
    round every node adopts the label held by the MOST of its
    neighbors, ties broken toward the SMALLEST label. The classic
    algorithm breaks ties randomly and updates asynchronously — both
    nondeterministic; the min-label synchronous variant is reproducible
    on any engine and any partitioning, which is what a cross-engine
    hash contract needs. Communities are NOT connected components:
    LPA splits a connected graph along low-conductance cuts (a dense
    cluster out-votes a bridge edge), which is the community-detection
    signal CC can't express.

    ``edges`` must be DIRECTED-SYMMETRIC (u, v) with both orientations
    present (the caller symmetrizes, as for pagerank). Counts are
    integers end-to-end — no float anywhere, so no rounding contract
    is even needed.

    Plan at scale: per round, one equi-join of the edge table against
    the node-sized label table (broadcast — the same dimension-vs-fact
    shape as pagerank's rank join), one hash aggregation on
    (node, label) with map-side partials, and a node-grain window for
    the argmax. ``localCheckpoint`` truncates lineage per round —
    without it the plan doubles each iteration (the CC/pagerank
    discipline, operators/graph.py:110).
    """
    from pyspark.sql.window import Window

    labels = (
        edges.select(F.col("u").alias("s"))
        .distinct()
        .withColumn("lbl", F.col("s"))
        .localCheckpoint()
    )
    for _ in range(iters):
        side = F.broadcast(labels.select(F.col("s").alias("u"), "lbl"))
        cnt = (
            edges.join(side, "u")
            .groupBy("v", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("v").orderBy(F.desc("c"), F.asc("lbl"))
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("s"), "lbl")
            .localCheckpoint()
        )
    return labels


# --- HITS (hubs & authorities) -----------------------------------------------

HITS_ITERS = 3
# Scores round to 12dp after each L1-normalized half-step; sums are
# exact DECIMAL over the rounded operands — the same determinism
# contract as PageRank (reduction-order-free across engines and
# partitionings), applied to Kleinberg's mutual-reinforcement loop.
HITS_SCALE = 12


def hits_scores(
    edges: DataFrame,
    iters: int = HITS_ITERS,
) -> tuple[DataFrame, DataFrame]:
    """Fixed-iteration HITS (Kleinberg, JACM'99) over a directed edge
    list (u, v): hub scores on the u side, authority scores on the v
    side — the bipartite sibling of ``pagerank`` (power iteration on
    A^T A instead of the stochastic matrix). Returns
    ``(authorities (v, a), hubs (u, h))`` after ``iters`` rounds from
    the uniform hub start.

    Normalization is L1 per half-step (any fixed norm yields the same
    ranking as the classic L2; L1 keeps the arithmetic to one scalar
    division of two exact DECIMAL sums — no sqrt, whose libm rounding
    differs across engines). Determinism: scores carry at most
    HITS_SCALE dp, per-target sums are exact DECIMAL(28,12) adds of
    those rounded values, the normalizing total is the exact DECIMAL
    sum of the per-target sums, and each new score is ONE double
    division of two exact operands, rounded back to HITS_SCALE.

    Scale: hub/authority tables are node-sized and broadcast onto the
    edge scan (module docstring); the only data-scale exchanges per round
    are the two endpoint-keyed sum aggs. Score tables localCheckpoint
    each half-step: lineage truncation, same as the PageRank rounds.
    Every hub has out-degree >= 1 and every authority in-degree >= 1
    by construction (the node sets ARE the edge endpoints), so no
    zero-mass rows ever appear and no outer joins are needed."""
    e = edges.select("u", "v").localCheckpoint()
    hubs = e.select("u").distinct()
    nh = hubs.agg(F.count("*").alias("n"))
    h = (
        hubs.crossJoin(F.broadcast(nh))
        .select(
            "u",
            F.round(F.lit(1.0) / F.col("n"), HITS_SCALE).alias("h"),
        )
        .localCheckpoint()
    )
    a = None
    # r13 note: a lazier one-materialization-per-iteration variant was
    # measured SLOWER here (the normalization's double reference to
    # each sum table deepens every checkpointed DAG faster than the
    # saved action pays back), so the per-half-step checkpoints stay.
    for _ in range(iters):
        asum = (
            e.join(F.broadcast(h), "u")
            .groupBy("v")
            .agg(F.sum(F.col("h").cast("decimal(28,12)")).alias("sm"))
        )
        atot = asum.agg(F.sum("sm").alias("tot"))
        a = (
            asum.crossJoin(F.broadcast(atot))
            .select(
                "v",
                F.round(
                    F.col("sm").cast("double") / F.col("tot").cast("double"),
                    HITS_SCALE,
                ).alias("a"),
            )
            .localCheckpoint()
        )
        hsum = (
            e.join(F.broadcast(a), "v")
            .groupBy("u")
            .agg(F.sum(F.col("a").cast("decimal(28,12)")).alias("sm"))
        )
        htot = hsum.agg(F.sum("sm").alias("tot"))
        h = (
            hsum.crossJoin(F.broadcast(htot))
            .select(
                "u",
                F.round(
                    F.col("sm").cast("double") / F.col("tot").cast("double"),
                    HITS_SCALE,
                ).alias("h"),
            )
            .localCheckpoint()
        )
    return a, h
