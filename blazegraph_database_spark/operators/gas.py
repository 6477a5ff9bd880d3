"""GAS (gather-apply-scatter) graph analytics as DataFrame-Pregel.

Reference analog: the GAS engine API IGASProgram/BaseGASProgram and its
analytics (bigdata-gas/src/main/java/com/bigdata/rdf/graph/analytics/BFS.java,
SSSP.java, CC.java, PR.java; PATHS in bigdata-core/bigdata-rdf/src/java/com/
bigdata/rdf/graph/impl/bd/PATHS.java).

Spark-first: vertex state is a DataFrame keyed by vertex id; each GAS round is
  messages = frontier/state ⋈ edges  (scatter+gather = join + groupBy-agg)
  state'   = state merge messages    (apply)
with ``localCheckpoint`` per round to truncate lineage and AQE re-planning
each round's shuffle from the actual frontier size. At 100 TB-scale the edge
DataFrame would be pre-partitioned (bucketed) on ``src`` so every round's
frontier join is a co-partitioned shuffle-hash join; hub skew is handled by
AQE skew-join (enabled in session defaults).

Edges: DataFrame(src, dst[, weight]). All ids are strings (term lexicals) or
longs (dictionary-encoded) — every analytic is agnostic to the id type.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blazegraph_database_spark.operators.driver_tier import (
    _chk,
    collect_bounded,
    local_rows,
    to_frame,
)

MAX_ITERS = 64

# Every entry point below first tries the shared driver tier
# (operators/driver_tier.py): edge sets within its gate come to the driver in
# one bounded Arrow collect and a python/numpy kernel answers the call. At
# that size the distributed loop's per-round fixed cost dominates (measured
# r12: label-prop CC on the 11k-edge sf0.1 bipartite graph spends 8 rounds x
# ~0.36 s of fixed overhead where a driver union-find needs ~0.05 s). The
# kernels take the collected pandas frame and return plain rows; past the
# gate the distributed loops are unchanged.


def _adjacency(pdf) -> dict:
    adj: dict = {}
    for s, d in zip(pdf["src"].values, pdf["dst"].values):
        adj.setdefault(s, []).append(d)
    return adj


def _rounds(max_depth: int | None):
    """BFS round numbers 1, 2, ...: up to ``max_depth``, or unbounded when it
    is None (the loop then ends when the frontier empties)."""
    return itertools.count(1) if max_depth is None else range(1, max_depth + 1)


def _bfs_driver(pdf, sources: list[str], max_depth: int | None) -> list[tuple]:
    """Driver-tier BFS: same level-by-level expansion as _general_bfs (pred =
    min src among the frontier parents that discover a node)."""
    adj = _adjacency(pdf)
    depth = {s: 0 for s in sources}
    reached: list[tuple] = []
    frontier = list(depth)
    for dcur in _rounds(max_depth):
        if not frontier:
            break
        nxt: dict = {}
        for u in frontier:
            for v in adj.get(u, ()):
                if v in depth:
                    continue
                p = nxt.get(v)
                if p is None or u < p:
                    nxt[v] = u
        for v, p in nxt.items():
            depth[v] = dcur
            reached.append((v, dcur, p))
        frontier = list(nxt)
    return [(s, 0, None) for s in sources] + reached


def _sssp_driver(pdf, sources: list[str], max_iters: int) -> list[tuple]:
    """Driver-tier SSSP: the same frontier relaxation as _general_sssp (per
    round, min over frontier of dist+weight; a node re-enters the frontier
    only when its distance improves) on plain floats — identical IEEE
    arithmetic, identical per-round minima."""
    adj: dict = {}
    for s, d, w in zip(pdf["src"].values, pdf["dst"].values, pdf["weight"].values):
        adj.setdefault(s, []).append((d, float(w)))
    dist = {s: 0.0 for s in sources}
    frontier = list(dist)
    for _ in range(max_iters):
        cand: dict = {}
        for u in frontier:
            du = dist[u]
            for v, w in adj.get(u, ()):
                nd = du + w
                if v not in cand or nd < cand[v]:
                    cand[v] = nd
        improved = [(v, nd) for v, nd in cand.items() if v not in dist or nd < dist[v]]
        if not improved:
            break
        dist.update(improved)
        frontier = [v for v, _ in improved]
    return list(dist.items())


def _pagerank_driver(pdf, damping: float, iters: int):
    """Driver-tier PageRank: the same per-round recurrence as the distributed
    loop (dangling mass redistributed uniformly, identical double arithmetic
    per term) vectorized over numpy float64 arrays. Summation order inside
    the inflow/dangling sums differs from the distributed hash aggregation —
    as the distributed order already differs from any other engine's — which
    is ~1e-15 relative and vanishes at the integer-ppb comparison surface
    (queries_gas._pagerank_oracle documents the same argument vs DuckDB;
    verified ppb-exact against the oracle at sf0.001/sf0.01, r12)."""
    import numpy as np
    import pandas as pd

    uniq = pd.unique(pd.concat([pdf["src"], pdf["dst"]], ignore_index=True))
    n = len(uniq)
    if n == 0:
        return []
    pos = pd.Series(np.arange(n), index=uniq)
    s = pos[pdf["src"]].values
    d = pos[pdf["dst"]].values
    deg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    dangling = deg == 0.0
    base = (1.0 - damping) / n
    for _ in range(iters):
        dmass = float(rank[dangling].sum())
        inflow = np.zeros(n)
        np.add.at(inflow, d, rank[s] / deg[s])
        rank = base + damping * (inflow + dmass / n)
    return pd.DataFrame({"node": uniq, "rank": rank})


def _paths_driver(pdf, source: str, target: str, max_length: int) -> list[tuple]:
    """Driver-tier bounded path enumeration: the same level-by-level
    expansion as the distributed loop (grow every partial path one hop,
    drop revisits, bank paths that hit the target, stop extending them)."""
    adj = _adjacency(pdf)
    found: list[tuple] = []
    active = [(source, (source,))]
    for depth in range(1, max_length + 1):
        grown = []
        for head, nodes in active:
            for nxt in adj.get(head, ()):
                if nxt not in nodes:
                    grown.append((nxt, nodes + (nxt,)))
        found.extend(
            ("->".join(nodes), depth) for head, nodes in grown if head == target
        )
        active = [(head, nodes) for head, nodes in grown if head != target]
        if not active:
            break
    return found


def _cc_driver(pdf) -> list[tuple]:
    """Driver-tier connected components: union-find with union-by-min and
    path compression over the edge list. Labels are the component minimum —
    exactly label_prop's fixpoint — because the root of every union is the
    smaller id."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    srcs = pdf["src"].values
    dsts = pdf["dst"].values
    for s, d in zip(srcs, dsts):
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    # every endpoint (roots and self-loop-only nodes included) gets a label —
    # the same node set label_prop seeds with on the undirected edge set
    nodes = set(srcs)
    nodes.update(dsts)
    return [(x, find(x)) for x in nodes]


def _cc_schema(edges: DataFrame):
    """(node, comp) keeping the input id type (string lexicals or longs)."""
    return edges.select(F.col("src").alias("node"), F.col("src").alias("comp")).schema


def undirect(edges: DataFrame) -> DataFrame:
    """Make an edge set symmetric (ref CC treats the graph as undirected).
    Columns past ``src, dst`` (a link weight) ride along in both
    directions."""
    rest = [c for c in edges.columns if c not in ("src", "dst")]
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *rest)
    return edges.select("src", "dst", *rest).unionByName(rev).distinct()


def _unique_parents(e: DataFrame) -> bool:
    """True when no dst has two incoming edges — the graph of parent
    pointers (trees, forests, linked chains). Callers pass ``e`` as the
    checkpoint the bounded collect already materialized, so the probe never
    recomputes the input."""
    return e.groupBy("dst").count().filter("count > 1").isEmpty()


def _pointer_jump(e: DataFrame, sources: list[str], max_hops: int | None, weight) -> DataFrame:
    """Distances over a parent-pointer (in-degree ≤ 1) graph by pointer doubling.

    Each node has a unique parent, so its distance is a sum along its unique
    upward chain to the nearest source — computable in ⌈log2 max_hops⌉
    rounds of pointer jumping (the classic PRAM shortcut) instead of one
    round per hop of frontier expansion. Per round every node carries one
    (anc, d, h) pointer row: total work O(n log d), rows never grow. Jumps
    stop at sources so multi-source semantics (nearest source on the chain)
    are preserved. ``d`` sums ``weight`` and ``h`` counts hops, so the
    result honors the same hop bound as the frontier loops (a node more
    than ``max_hops`` hops from its source is unreached in both; None is
    no bound).

    Returns (node, pred, d, h) for every non-source node reached; pred is
    the node's unique parent.
    """
    ptr = _chk(
        e.select(
            F.col("dst").alias("node"),
            F.col("src").alias("pred"),
            F.col("src").alias("anc"),
            weight.alias("d"),
            F.lit(1).alias("h"),
        )
    )
    # ⌈log2 max_hops⌉; unbounded: horizon 2^64, the jumped-probe exits first
    rounds = 64 if max_hops is None else max(1, (max_hops - 1).bit_length())
    for _ in range(rounds):
        jump = ptr.select(
            F.col("node").alias("j_node"),
            F.col("anc").alias("j_anc"),
            F.col("d").alias("j_d"),
            F.col("h").alias("j_h"),
        )
        # only chains not yet anchored at a source keep jumping
        can_jump = ~F.col("anc").isin(sources) & F.col("j_anc").isNotNull()
        # lazy checkpoint: the jumped-probe's job materializes the round
        # (same barrier-removal as the CC/pagerank loops, r11)
        ptr2 = ptr.join(jump, ptr.anc == F.col("j_node"), "left").select(
            "node",
            "pred",
            F.when(can_jump, F.col("j_anc")).otherwise(F.col("anc")).alias("anc"),
            F.when(can_jump, F.col("d") + F.col("j_d")).otherwise(F.col("d")).alias("d"),
            F.when(can_jump, F.col("h") + F.col("j_h")).otherwise(F.col("h")).alias("h"),
            can_jump.alias("jumped"),
        ).localCheckpoint(eager=False)
        ptr = ptr2.select("node", "pred", "anc", "d", "h")
        if ptr2.filter("jumped").isEmpty():
            break
    seeds = e.sparkSession.createDataFrame([(s,) for s in sources], "node string")
    anchored = F.col("anc").isin(sources)
    if max_hops is not None:
        anchored = anchored & (F.col("h") <= max_hops)
    return (
        ptr.filter(anchored)
        .join(seeds, on="node", how="left_anti")  # sources stay at 0
        .select("node", "pred", "d", "h")
    )


def bfs(edges: DataFrame, sources: list[str], max_depth: int | None = MAX_ITERS) -> DataFrame:
    """Breadth-first search: (node, depth, predecessor).

    Ref: analytics/BFS.java (depth + predecessor per visited vertex).
    Predecessor choice among equal-depth parents is min(), deterministic.
    ``max_depth=None`` runs until the frontier is empty.

    Past the driver tier the strategy is chosen from the graph's in-degree
    profile (one agg over the materialized edges): parent-pointer graphs (every
    node a unique parent — trees/forests/chains) use pointer doubling
    (⌈log2 d⌉ rounds, O(n log d) work); general graphs use the frontier
    loop of :func:`_general_bfs`.
    """
    spark = edges.sparkSession
    e, pdf = collect_bounded(edges.select("src", "dst"))
    if pdf is not None:
        rows = _bfs_driver(pdf, sources, max_depth)
        return to_frame(spark, rows, "node string, depth int, pred string")
    seed = spark.createDataFrame([(s, 0, None) for s in sources], "node string, depth int, pred string")
    if _unique_parents(e):
        reached = _pointer_jump(e, sources, max_depth, F.lit(1))
        return seed.unionByName(reached.select("node", F.col("h").alias("depth"), "pred"))
    return _general_bfs(_edge_step(e), seed, ["node"], max_depth)


def _edge_step(e: DataFrame):
    """The GAS BFS step: the frontier's out-neighbors, each with its min
    ``src`` parent as predecessor."""
    return lambda frontier: (
        frontier.join(e, frontier.node == e.src)
        .groupBy(F.col("dst").alias("node"))
        .agg(F.min("src").alias("pred"))
    )


# Emptiness probes batch at this stride once a loop has run this many rounds
# (r10 verdict item 6): one isEmpty job per k rounds instead of per round
# halves the driver syncs on deep walks, at the cost of <= k-1 empty-frontier
# no-op rounds after convergence; walks shallower than the stride keep
# per-round probes and pay neither.
EMPTY_CHECK_EVERY = 8


def _general_bfs(step, seed: DataFrame, on: list[str], max_depth: int | None) -> DataFrame:
    """The one distributed seeded-reachability loop (GAS BFS, anchored
    property paths, bd:alp): semi-naive Δ-expansion from ``seed``, a
    depth-0 frame whose ``on`` columns (graph keys plus the node) identify a
    visited node. ``step(frontier)`` maps the last round's new ``on`` rows to
    candidate rows (``on`` plus any payload, e.g. GAS's ``pred``); the
    visited anti-join keeps the unseen ones, tagged with their ``depth``.
    Returns seed ∪ every round's rows. ``max_depth=None`` runs until the
    frontier is empty, which always happens because the visited set only
    grows.

    Only the frontier delta is checkpointed per round (lazily: the
    emptiness probe's job materializes it). Probes run every round for the
    first EMPTY_CHECK_EVERY rounds, then once per stride: shallow walks
    detect convergence at once, deep walks pay one probe job per stride
    instead of one per round. The accumulated union is compacted every 32
    rounds so a deep walk's anti-join does not re-analyze an ever-growing
    union tree."""
    out = seed.localCheckpoint(eager=False)
    frontier = out.select(*on)
    for d in _rounds(max_depth):
        new = (
            step(frontier).join(out.select(*on), on=on, how="left_anti")
            .withColumn("depth", F.lit(d))
            .localCheckpoint(eager=False)
        )
        if (d <= EMPTY_CHECK_EVERY or d % EMPTY_CHECK_EVERY == 0) and new.isEmpty():
            break
        out = out.unionByName(new)
        frontier = new.select(*on)
        if d % 32 == 0:
            out = out.localCheckpoint(eager=False)
    return out


def sssp(edges: DataFrame, sources: list[str], max_iters: int = MAX_ITERS) -> DataFrame:
    """Single-source shortest paths over weighted edges: (node, dist).

    Ref: analytics/SSSP.java. Parent-pointer graphs (unique parent — the path
    is forced, so "shortest" is the only path) use pointer doubling like
    BFS; general graphs use Bellman-Ford-style frontier relaxation: only
    vertices whose distance improved scatter in the next round. One
    materializing job per round — state and the improved-flag come out of
    the same checkpointed plan, so convergence detection is a cheap filter
    over materialized data, not a second job.
    """
    spark = edges.sparkSession
    sel = edges.select("src", "dst", F.col("weight").cast("double").alias("weight"))
    e, pdf = collect_bounded(sel)
    if pdf is not None:
        return to_frame(spark, _sssp_driver(pdf, sources, max_iters), "node string, dist double")
    if _unique_parents(e):
        seed = spark.createDataFrame([(s, 0.0) for s in sources], "node string, dist double")
        reached = _pointer_jump(e, sources, max_iters, F.col("weight"))
        return seed.unionByName(reached.select("node", F.col("d").alias("dist")))
    return _general_sssp(spark, e, sources, max_iters)


def _general_sssp(spark, e: DataFrame, sources: list[str], max_iters: int) -> DataFrame:
    state = _chk(spark.createDataFrame([(s, 0.0) for s in sources], "node string, dist double"))
    frontier = state
    for _ in range(max_iters):
        msgs = (
            frontier.join(e, frontier.node == e.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("weight")).alias("cand"))
        )
        merged = state.join(msgs, on="node", how="full").select(
            "node",
            F.least(F.col("dist"), F.col("cand")).alias("dist"),
            (F.col("dist").isNull() | (F.col("cand") < F.col("dist"))).alias("improved"),
        ).localCheckpoint(eager=False)  # the improved-probe materializes (r11)
        frontier = merged.filter("improved").select("node", "dist")
        if frontier.isEmpty():
            break
        state = merged.select("node", "dist")
    return state


def connected_components(edges: DataFrame, max_iters: int = MAX_ITERS) -> DataFrame:
    """Undirected connected components: (node, component=min reachable id).

    Ref: analytics/CC.java (label = min vertex id, propagated to fixpoint).
    Min-label propagation with pointer-jump shortcutting: one materializing
    job per round — the changed-flag rides along in the checkpointed state
    so convergence is a filter, not a plan re-execution. Each round combines
    one edge-hop of label propagation with one pointer jump through the
    label table (comp := min(comp, comp[comp])), so label distance to the
    component minimum shrinks superlinearly.
    """
    sel = undirect(edges.select("src", "dst"))
    e, pdf = collect_bounded(sel)
    if pdf is not None:
        return to_frame(edges.sparkSession, _cc_driver(pdf), _cc_schema(sel))
    state = _chk(
        e.select(F.col("src").alias("node")).distinct().select("node", F.col("node").alias("comp"))
    )
    for _ in range(max_iters):
        msgs = (
            state.join(e, state.node == e.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("comp").alias("cand"))
        )
        stepped = state.join(msgs, on="node", how="left").select(
            "node",
            F.col("comp").alias("old"),
            F.least(F.col("comp"), F.col("cand")).alias("mid"),
        )
        # shortcut: follow the label one more hop through the PREVIOUS
        # round's label table (already checkpointed — joining the fresh
        # `stepped` plan against itself would recompute the edge join
        # twice per round). comp values are node ids, so the lookup is a
        # plain equi-join; labels lag one round but the chain still
        # contracts superlinearly.
        lookup = state.select(F.col("node").alias("l_node"), F.col("comp").alias("l_mid"))
        # lazy checkpoint: lineage truncates and the changed-probe's job
        # materializes the round (the local-checkpoint completion covers all
        # partitions), so the separate eager barrier per round is gone —
        # measured 5.5 → 4.2 s on the sf0.1 bipartite bench, identical
        # labels (r11)
        merged = stepped.join(lookup, stepped.mid == F.col("l_node"), "left").select(
            "node",
            F.least(F.col("mid"), F.col("l_mid")).alias("comp"),
            (F.least(F.col("mid"), F.col("l_mid")) < F.col("old")).alias("changed"),
        ).localCheckpoint(eager=False)
        state = merged.select("node", "comp")
        if merged.filter("changed").isEmpty():
            break
    return state


def connected_components_bipartite(edges: DataFrame, max_iters: int = MAX_ITERS) -> DataFrame:
    """CC specialization for BIPARTITE graphs where every edge runs
    left→right and left ids sort below right ids (e.g. `p:*` parts vs
    `s:*` suppliers): contract the right side away, solve CC on the
    left-side graph (half the diameter → half the propagation rounds),
    then attach right nodes with one join+agg.

    Contraction: for each right node r, star its left neighborhood onto
    min(Γ(r)) — |E| rows, one shuffle. Left nodes sharing any right node
    become directly connected, so components are preserved; because left
    ids sort below right ids, each component's global minimum is a left
    node and the contracted labels are already the final labels. Measured
    3.8s vs 5.4s for label_prop on the sf0.1 part↔supplier bench graph.
    """
    sel = edges.select("src", "dst").distinct()
    # driver-sized bipartite graphs skip the contraction AND the attach
    # joins: union-find over the raw edge list labels every endpoint with
    # the component minimum directly (left ids sort below right ids, but
    # union-by-min doesn't even need that)
    e, pdf = collect_bounded(sel)
    if pdf is not None:
        return to_frame(edges.sparkSession, _cc_driver(pdf), _cc_schema(sel))
    star_min = e.groupBy("dst").agg(F.min("src").alias("m"))
    left_graph = (
        e.join(star_min, on="dst")
        .select("src", F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    left_cc = connected_components(left_graph, max_iters)
    # isolated-star left nodes (their right neighbors connect them only to
    # themselves) fall out of left_graph; they label themselves
    lone = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .join(left_cc.select("node"), on="node", how="left_anti")
        .select("node", F.col("node").alias("comp"))
    )
    left_all = left_cc.unionByName(lone)
    right_cc = (
        e.join(left_all.withColumnRenamed("node", "src"), on="src")
        .groupBy("dst")
        .agg(F.min("comp").alias("comp"))
        .withColumnRenamed("dst", "node")
    )
    return left_all.unionByName(right_cc)


def pagerank(edges: DataFrame, damping: float = 0.85, iters: int = 20) -> DataFrame:
    """PageRank: (node, rank). Ref: analytics/PR.java (same damping default).

    Dangling mass is redistributed uniformly each round (matches the usual
    formulation; the reference normalizes the same way). Out-degree is
    attached to the vertex state once, so each round is exactly one
    materializing job: contribution join+agg, with the dangling-mass scalar
    folded in as a one-row crossJoin instead of a driver-side collect.
    """
    sel = edges.select("src", "dst")
    # node keeps the input id type (string lexicals or dictionary longs)
    schema = sel.select(F.col("src").alias("node"), F.lit(0.0).alias("rank")).schema
    e, pdf = collect_bounded(sel)
    if pdf is not None:
        return to_frame(edges.sparkSession, _pagerank_driver(pdf, damping, iters), schema)
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    nodes = _chk(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(deg, on="node", how="left")
        .select("node", F.coalesce(F.col("deg"), F.lit(0)).alias("deg"))
    )
    n = nodes.count()
    if n == 0:
        return edges.sparkSession.createDataFrame([], schema)
    state = _chk(nodes.select("node", "deg", F.lit(1.0 / n).alias("rank")))
    for i in range(iters):
        dangling = state.filter(F.col("deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contribs = (
            state.filter(F.col("deg") > 0)
            .join(e, state.node == e.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
        )
        # Intermediate rounds checkpoint LAZILY: lineage still truncates
        # (downstream plans see the checkpointed leaf, and both per-round
        # references — dangling agg + contribution join — read the same
        # materialized partitions), but the separate eager materialization
        # barrier per round is gone; each round computes inside the next
        # round's job. Only the last round is eager so callers get a
        # materialized result. Identical ranks, measured 13.0 → 10.9 s
        # at sf1.0 and ~9 fewer driver jobs (r11, guide §2.4/§1).
        state = (
            nodes.join(contribs, on="node", how="left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "deg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("dmass") / F.lit(float(n)))
                ).alias("rank"),
            )
        ).localCheckpoint(eager=(i == iters - 1))
    return state.select("node", "rank")


def paths(edges: DataFrame, source: str, target: str, max_length: int = 8) -> DataFrame:
    """Enumerate simple-ish paths source→target up to max_length edges:
    (path string, hops). Ref: impl/bd/PATHS.java (bounded path enumeration).

    Cycles are excluded by checking the visited list per partial path (kept as
    an array column — no driver loops; each expansion is one join).
    """
    spark = edges.sparkSession
    sel = edges.select("src", "dst")
    e, pdf = collect_bounded(sel)
    if pdf is not None:
        return to_frame(spark, _paths_driver(pdf, source, target, max_length), "path string, hops int")
    active = _chk(
        spark.createDataFrame([(source, [source])], "head string, nodes array<string>")
    )
    found = spark.createDataFrame([], "path string, hops int")
    for depth in range(1, max_length + 1):
        grown = (
            active.join(e, active["head"] == e.src)
            .filter(~F.array_contains(F.col("nodes"), F.col("dst")))
            .select(F.col("dst").alias("head"), F.concat(F.col("nodes"), F.array(F.col("dst"))).alias("nodes"))
        )
        grown = grown.localCheckpoint(eager=False)  # probe materializes (r11)
        hits = grown.filter(F.col("head") == target).select(
            F.array_join(F.col("nodes"), "->").alias("path"), F.lit(depth).alias("hops")
        )
        found = found.unionByName(hits)
        active = grown.filter(F.col("head") != target)
        if active.isEmpty():
            break
    return _chk(found)


def reachable(edges: DataFrame, sources: list[str], max_iters: int = MAX_ITERS) -> DataFrame:
    """Set of nodes reachable from sources (BFS without depth bookkeeping)."""
    return bfs(edges, sources, max_iters).select("node")


def bfs_from_df(edges: DataFrame, seeds: DataFrame, max_depth: int | None = MAX_ITERS) -> DataFrame:
    """BFS seeded from a DataFrame of (node) rows — multi-source frontier
    expansion giving each node its MIN depth from the seed set: (node,
    depth). The same driver kernel and frontier loop as :func:`bfs`;
    ``max_depth=None`` runs until the frontier is empty."""
    e, pdf = collect_bounded(edges.select("src", "dst"))
    seeds = seeds.select("node")
    seeds, seed_pdf = collect_bounded(seeds) if pdf is not None else (seeds, None)
    if seed_pdf is not None:
        rows = _bfs_driver(pdf, list(dict.fromkeys(seed_pdf["node"].values)), max_depth)
        return to_frame(edges.sparkSession, [(n, d) for n, d, _ in rows], "node string, depth int")
    seeds = seeds.distinct()
    no_pred = F.lit(None).cast(e.schema["src"].dataType)
    seed = seeds.select("node", F.lit(0).alias("depth"), no_pred.alias("pred"))
    return _general_bfs(_edge_step(e), seed, ["node"], max_depth).select("node", "depth")


def _reach_from_df(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """(node): nodes >= 1 hop of ``edges`` (src, dst) from the ``seeds``
    (node) set — a seed is in the answer only through a cycle or a
    self-loop. The edges come to the driver marked with whether their src
    is a seed, so the one bounded collect also gives the 1-hop frontier;
    past the gate that frontier is read off the collect's checkpoint."""
    mark = seeds.select(F.col("node").alias("src")).distinct().withColumn("__seed", F.lit(True))
    marked = edges.select("src", "dst").join(mark, on="src", how="left").select(
        "src", "dst", F.coalesce("__seed", F.lit(False)).alias("seed")
    )
    e, pdf = collect_bounded(marked)
    if pdf is not None:
        first = list(dict.fromkeys(pdf["dst"].values[pdf["seed"].values.astype(bool)]))
        rows = _bfs_driver(pdf, first, None)
        return to_frame(edges.sparkSession, [(n,) for n, _, _ in rows], "node string")
    no_pred = F.lit(None).cast(e.schema["src"].dataType)
    seed = e.filter("seed").select(F.col("dst").alias("node")).distinct()
    seed = seed.select("node", F.lit(0).alias("depth"), no_pred.alias("pred"))
    return _general_bfs(_edge_step(e.select("src", "dst")), seed, ["node"], None).select("node")


def _walk_back(pred: dict, hit: list, max_depth: int) -> list:
    """The nodes on the BFS predecessor chains from ``hit`` back to the
    source: the distributed walk's rounds, over the driver-held ``pred``."""
    out, cur = list(hit), hit
    for _ in range(max_depth):
        cur = list(dict.fromkeys(pred[n] for n in cur if pred.get(n) is not None))
        if not cur:
            break
        out += cur
    return out


def fuzzy_sssp(
    edges: DataFrame,
    sources: list[str],
    targets: list[str],
    n_max: int,
    max_depth: int = MAX_ITERS,
) -> tuple[DataFrame, list[tuple]]:
    """FuzzySSSP (ref: analytics/FuzzySSSP.java): the "interesting subgraph"
    around the shortest paths between source and target sets.

    1. One BFS per source (unit weights; the ref's SSSP step) recording each
       target's depth, -1 if unreachable.
    2. Shortest-path vertices collected by walking BFS predecessors back
       from each reached target; merged and deduplicated. A BFS answered
       by the driver tier is a local relation: its rows are read with no
       job and walked in python. Past the gate the walk is a loop of tiny
       joins.
    3. A multi-source BFS from the merged path set, taking vertices in
       (distance-from-path, node) order until n_max — the fuzzy expansion.

    Returns (DataFrame(node, dist) of <= n_max vertices, [(source, target,
    depth|-1), ...]). The per-(source,target) matrix is O(|S|*|T|) — output
    sized, so the driver collect is bounded by the request itself.
    """
    spark = edges.sparkSession
    path_parts = []
    walked: list = []  # path nodes of the driver-tier walks
    st_dists: list[tuple] = []
    wanted = set(targets)
    for src in sources:
        t = bfs(edges, [src], max_depth=max_depth)
        held = local_rows(t)  # the driver tier's answer: rows already here
        if held is not None:
            pred = {r["node"]: r["pred"] for r in held}
            reached = {r["node"]: r["depth"] for r in held if r["node"] in wanted}
        else:
            reached = {
                r["node"]: r["depth"]
                for r in t.filter(F.col("node").isin(targets)).select("node", "depth").collect()
            }
        for tgt in targets:
            st_dists.append((src, tgt, reached.get(tgt, -1)))
        hit = [x for x in targets if x in reached]
        if not hit:
            continue
        if held is not None:
            walked += _walk_back(pred, hit, max_depth)
            continue
        # walk predecessors back to the source: <= path-length tiny joins
        cur = _chk(t.filter(F.col("node").isin(hit)).select("node", "pred"))
        path_parts.append(cur.select("node"))
        for _ in range(max_depth):
            nxt = (
                cur.filter(F.col("pred").isNotNull())
                .select(F.col("pred").alias("node"))
                .distinct()
                .join(t.select("node", "pred"), on="node", how="left")
            )
            nxt = _chk(nxt)
            if nxt.isEmpty():
                break
            path_parts.append(nxt.select("node"))
            cur = nxt
    if walked:
        path_parts.append(to_frame(spark, [(n,) for n in dict.fromkeys(walked)], "node string"))
    if not path_parts:
        return spark.createDataFrame([], "node string, dist int"), st_dists
    path_set = path_parts[0]
    for p in path_parts[1:]:
        path_set = path_set.unionByName(p)
    expanded = bfs_from_df(edges, path_set, max_depth=max_depth)
    # orderBy+limit compiles to TakeOrderedAndProject — per-partition top-N
    # then a single bounded merge, no global single-partition window
    return (
        expanded.orderBy(F.col("depth").asc(), F.col("node").asc())
        .limit(n_max)
        .select("node", F.col("depth").alias("dist")),
        st_dists,
    )
