"""Property-path evaluation.

Reference analog: ArbitraryLengthPathNode + ArbitraryLengthPathOp
(bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/sparql/ast/
ArbitraryLengthPathNode.java; eval in bigdata-core/bigdata-core/.../bop/paths/),
negated property sets per PathNode + ASTPropertyPathOptimizer.java.

Fixed-length constructs (/, |, ^, ?, !(...)) compile to joins/unions. A
var-var `+`/`*` closes its base with a strategy choice (see
``transitive_closure``); an ANCHORED path (a constant endpoint) gears instead
(``geared_reach``): every closure component is a seeded reachability walk,
GAS BFS (the driver tier, or past its gate the one shared frontier loop
``gas._general_bfs``), never the all-pairs closure. All
functions optionally carry a graph column so the same machinery evaluates
paths inside GRAPH ?var — closure joins and walks then include ``g``,
keeping each named graph's reachability separate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.operators import gas
from blazegraph_database_spark.operators.driver_tier import collect_bounded, to_frame
from blazegraph_database_spark.plans import algebra as A

MAX_ITERS = 64  # diameter guard; 100 TB graphs rarely exceed ~30 rounds

# Emitted-pair bail-out for the driver functional walk (a 500k-node chain
# would emit ~125G pairs — no tier can hold that; the distributed fallbacks
# at least spill). Walks past this emit count abandon the driver tier.
DRIVER_FUNCTIONAL_MAX_OUT = 50_000_000

# Non-functional (or cyclic) driver-tier bases at most this many pairs close
# with the python DFS of _closure_local, which bails once the closure passes
# DRIVER_DFS_MAX_OUT pairs (an adversarially dense small input).
DRIVER_DFS_MAX_PAIRS = 20_000
DRIVER_DFS_MAX_OUT = 2_000_000


def _gcols(with_graph: bool) -> list[str]:
    return ["g"] if with_graph else []


def _link(store: TripleStore, iri: str, with_graph: bool = False) -> DataFrame:
    df = store.df.filter(F.col("p") == iri)
    return df.select(*_gcols(with_graph), F.col("s"), F.col("o_lex").alias("o"))


def _negated(store: TripleStore, nps: A.NegatedPropertySet, with_graph: bool = False) -> DataFrame:
    g = _gcols(with_graph)
    parts = []
    if nps.forward:
        parts.append(
            store.df.filter(~F.col("p").isin(list(nps.forward)))
            .select(*g, "s", F.col("o_lex").alias("o"))
        )
    if nps.inverse:
        parts.append(
            store.df.filter(~F.col("p").isin(list(nps.inverse)))
            .select(*g, F.col("o_lex").alias("s"), F.col("s").alias("o"))
        )
    if not parts:
        raise ValueError("empty negated property set")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _join_through(l: DataFrame, r: DataFrame, keys: list[str]) -> DataFrame:
    """(s→mid) ⋈ (mid→o) with graph keys carried through."""
    l2 = l.select(*keys, "s", F.col("o").alias("__mid"))
    r2 = r.select(*keys, F.col("s").alias("__mid"), "o")
    return l2.join(r2, on=keys + ["__mid"]).select(*keys, "s", "o").distinct()


def _functional_closure_driver(pdf) -> "object | None":
    """Closure of a driver-collected FUNCTIONAL ACYCLIC pair set by a numpy
    level walk: factorize ids, follow the parent array one hop per level,
    emit (node, ancestor-at-depth-d) — each pair exactly once, so the result
    IS the distinct closure. Returns a pandas frame, or None when the base
    is not functional in either direction, has a cycle (pre-checked with a
    linear color walk), or the walk would emit past DRIVER_FUNCTIONAL_MAX_OUT
    — all of which fall back to the distributed tiers."""
    import numpy as np
    import pandas as pd

    flip = False
    if not pdf["s"].is_unique:
        if not pdf["o"].is_unique:
            return None
        pdf, flip = pdf.rename(columns={"s": "o", "o": "s"}), True
    uniq = pd.unique(pd.concat([pdf["s"], pdf["o"]], ignore_index=True))
    n = len(uniq)
    pos = pd.Series(np.arange(n), index=uniq)
    parent = np.full(n, -1, dtype=np.int64)
    parent[pos[pdf["s"]].values] = pos[pdf["o"]].values
    nodes_parts, ancs_parts = [], []
    idx = np.arange(n)
    cur = parent.copy()
    active = cur >= 0
    emitted = 0
    # cycle detection is free here: the longest acyclic functional chain
    # has at most n levels, so a walk still active past depth n proves a
    # cycle (the MAX_OUT bail usually fires first on big graphs) — no
    # separate pre-check pass (r12: the python color-walk cost ~0.5 s of
    # the sf1.0 closure's 2.8 s)
    for _depth in range(n):
        if not active.any():
            break
        emitted += int(active.sum())
        if emitted > DRIVER_FUNCTIONAL_MAX_OUT:
            return None
        nodes_parts.append(idx[active])
        ancs_parts.append(cur[active])
        cur = np.where(active, parent[np.where(active, cur, 0)], -1)
        active = cur >= 0
    if active.any():
        return None  # cycle: the chain tier's array_distinct handles it
    nodes = np.concatenate(nodes_parts) if nodes_parts else np.array([], dtype=np.int64)
    ancs = np.concatenate(ancs_parts) if ancs_parts else np.array([], dtype=np.int64)
    if flip:
        nodes, ancs = ancs, nodes
    return pd.DataFrame({"s": uniq[nodes], "o": uniq[ancs]})


def _closure_local(rows) -> list[tuple] | None:
    """In-memory closure of collected (s, o) pairs by a DFS per start node;
    None once the closure passes DRIVER_DFS_MAX_OUT pairs (the caller falls
    back to the distributed tiers)."""
    adj: dict = {}
    for s, o in rows:
        adj.setdefault(s, set()).add(o)
    out: list[tuple] = []
    for start in adj:
        seen, stack = set(), list(adj[start])
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            stack.extend(adj.get(n, ()))
        out.extend((start, d) for d in seen)
        if len(out) > DRIVER_DFS_MAX_OUT:
            return None
    return out


def _functional_direction(known: DataFrame, keys: list[str]) -> str | None:
    """'fwd' when every ([g,] s) has at most one o (parent pointers:
    trees/forests/chains), 'rev' when every ([g,] o) has at most one s —
    None otherwise. Two bounded agg probes over the already-materialized
    pair set; the winning direction unlocks the log-round chain tier."""
    fwd = (
        known.groupBy(*keys, "s").agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m")).first()["m"]
    )
    if fwd == 1:
        return "fwd"
    rev = (
        known.groupBy(*keys, "o").agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m")).first()["m"]
    )
    return "rev" if rev == 1 else None


def _chain_closure(known: DataFrame, keys: list[str]) -> DataFrame:
    """Closure of a FUNCTIONAL base (every s exactly one o — parent
    pointers; cycles allowed) by ancestor-LIST doubling: each node carries
    the array of its ancestors within 2^r hops plus its 2^r-th ancestor
    (`top`); one round joins every node to its top's list, doubling the
    horizon. A depth-d graph closes in ceil(log2 d) rounds shuffling n
    state rows per round — versus d semi-naive rounds each anti-joining
    the FULL closure (guide §2.4: same output, a fraction of the
    exchanges). Output = the distinct (s, o) pair set, identical to the
    general tiers; duplicates can only arise on cycles, where
    array_distinct caps the list at the cycle length and the grown-flag
    converges."""
    ptr = known.select(
        *keys, F.col("s").alias("node"), F.array("o").alias("ancs"), F.col("o").alias("top")
    ).localCheckpoint()
    jkeys = [f"__jk_{k}" for k in keys]
    for _ in range(64):  # horizon 2^64: loop exits by grown-empty far sooner
        jump = ptr.select(
            *[F.col(k).alias(jk) for k, jk in zip(keys, jkeys)],
            F.col("node").alias("j_node"),
            F.col("ancs").alias("j_ancs"),
            F.col("top").alias("j_top"),
        )
        cond = F.col("top") == F.col("j_node")
        for k, jk in zip(keys, jkeys):
            cond = cond & (F.col(k) == F.col(jk))
        stepped = ptr.join(jump, cond, "left")
        new_ancs = F.when(
            F.col("j_node").isNotNull(),
            F.array_distinct(F.concat(F.col("ancs"), F.col("j_ancs"))),
        ).otherwise(F.col("ancs"))
        ptr2 = stepped.select(
            *keys,
            "node",
            new_ancs.alias("ancs"),
            # top's own chain ending inside 2^r hops (j_top null) correctly
            # ends ours: everything left was absorbed through j_ancs
            F.when(F.col("j_node").isNotNull(), F.col("j_top")).alias("top"),
            (F.size(new_ancs) > F.size(F.col("ancs"))).alias("grown"),
        ).localCheckpoint(eager=False)  # the grown-probe's job materializes it
        ptr = ptr2.select(*keys, "node", "ancs", "top")
        if ptr2.filter("grown").isEmpty():
            break
    return ptr.select(*keys, F.col("node").alias("s"), F.explode("ancs").alias("o"))


def _doubling(known: DataFrame, keys: list[str]) -> DataFrame:
    """Close ``known`` by iterative doubling: each round joins the closure
    so far with itself, so a diameter-d base closes in ceil(log2 d) rounds.
    Lazy round checkpoints: the emptiness probe's job materializes each
    round (local-checkpoint completion), removing the stand-alone eager
    barrier per round (r11, same as the GAS loops)."""
    for _ in range(MAX_ITERS):
        grown = _join_through(known, known, keys)
        new = grown.join(known, on=keys + ["s", "o"], how="left_anti").localCheckpoint(eager=False)
        if new.isEmpty():
            break
        known = known.unionByName(new)
    return known


def transitive_closure(pairs: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """All (s, o) connected by 1+ hops of `pairs` (per graph key if given).

    Tiers: the driver tier (functional numpy walk, or the python DFS up to
    DRIVER_DFS_MAX_PAIRS), then the functional chain tier, then semi-naive
    (delta ⋈ base per round, as the reference's ALP operator evaluates),
    which finishes with iterative doubling past MAX_ITERS rounds instead of
    truncating. Small bases get no doubling tier: semi-naive closed random
    DAGs and cyclic graphs of 20k, 50k and 100k pairs 1.3-1.7x faster than
    doubling (forced distributed, 4 cores)."""
    keys = keys or []
    distinct = pairs.select(*keys, "s", "o").distinct()
    # driver tier (operators/driver_tier.py): one bounded Arrow collect.
    # Functional acyclic bases (the dominant hierarchy/chain shape) close
    # with the numpy level walk at every size within the gate (sf1.0 ancestor
    # closure: 2.8 s against 6.1 s for the chain tier, identical 2.29M
    # pairs); anything else up to the schema-sized DRIVER_DFS_MAX_PAIRS
    # keeps the python DFS. Both fall through to the distributed tiers on
    # cycles / explosion, as do nulls and over-gate inputs, and read the
    # checkpoint the collect materialized. Keyed (per-graph) closures stay
    # distributed.
    if keys:
        known, pdf = distinct.localCheckpoint(), None
    else:
        known, pdf = collect_bounded(distinct)
    if pdf is not None:
        closed = _functional_closure_driver(pdf)
        if closed is None and len(pdf) <= DRIVER_DFS_MAX_PAIRS:
            closed = _closure_local(zip(pdf["s"].values, pdf["o"].values))
        if closed is not None:
            return to_frame(pairs.sparkSession, closed, distinct.schema)
    # Functional bases (parent-pointer shape — the dominant hierarchy/chain
    # case) close in ceil(log2 d) array-doubling rounds instead of d
    # semi-naive rounds or |closure|-self-joining doubling; inverse-
    # functional bases close the same way flipped. Two cheap agg probes
    # against a pair set we already materialized (r11 optimization;
    # measured 25.4 s → ~8 s on the sf1.0 ancestor closure).
    direction = _functional_direction(known, keys)
    if direction == "fwd":
        return _chain_closure(known, keys)
    if direction == "rev":
        flipped = known.select(*keys, F.col("o").alias("s"), F.col("s").alias("o"))
        return _chain_closure(flipped, keys).select(
            *keys, F.col("o").alias("s"), F.col("s").alias("o")
        )

    # semi-naive: each round joins only the last round's new pairs (lazy
    # checkpoints, as in _doubling)
    base = delta = known
    for _ in range(MAX_ITERS):
        grown = _join_through(delta, base, keys)
        delta = grown.join(known, on=keys + ["s", "o"], how="left_anti").localCheckpoint(eager=False)
        if delta.isEmpty():
            return known
        known = known.unionByName(delta)
    # diameter > MAX_ITERS: finish with doubling (log-round completion)
    # instead of silently truncating a deep chain
    return _doubling(known, keys)


def seeded_closure_from(
    base: DataFrame, seeds: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """([g,] o): nodes reachable in >= 1 hops of ``base`` from ANY node in
    the ``seeds`` frontier ([g,] o) — the seeded walk that lets a constant
    anchor GEAR through a path (ref: anchored ALP evaluation,
    TestGearingQueryHint): each `+`/`*` component of `<c> :a/:b+ ?x`
    expands from the previous component's bounded output instead of
    closing its base globally.

    The walk is GAS BFS seeded with the seeds' 1-hop frontier, run until
    the frontier is empty, so a seed is in the answer only through a cycle
    or a self-loop. An unkeyed walk goes through ``gas._reach_from_df``:
    under the driver gate one bounded collect of the base, its edges marked
    by whether they leave a seed, gives both the graph and the 1-hop
    frontier to a python BFS; past the gate the shared loop reads the
    checkpoint that collect materialized instead of re-scanning the lazy
    link scan each round. A graph-keyed walk runs the shared loop with a
    one-hop join step over the lazy base."""
    keys = keys or []
    if keys:
        return _walk(lambda f: _hop_from(base, f, keys), _hop_from(base, seeds, keys), keys)
    edges = base.select(F.col("s").alias("src"), F.col("o").alias("dst"))
    reached = gas._reach_from_df(edges, seeds.select(F.col("o").alias("node")))
    return reached.select(F.col("node").alias("o"))


def _walk(step, first: DataFrame, keys: list[str]) -> DataFrame:
    """([g,] o): ``first`` plus everything repeated ``step`` applications
    reach from it, on the shared GAS frontier loop."""
    seed = first.select(*keys, "o", F.lit(0).alias("depth"))
    return gas._general_bfs(step, seed, keys + ["o"], None).select(*keys, "o")


def bounded_paths(
    base: DataFrame, lower: int, upper: int | None, keys: list[str] | None = None
) -> DataFrame:
    """Pairs connected by a walk of length in [lower, upper] hops over
    ``base`` (ref: ArbitraryLengthPathNode.java:95 LOWER_BOUND/UPPER_BOUND;
    lower >= 1 here — the zero-length component is the caller's identity
    union, like Star vs Plus).

    Bounded upper: round-capped composition — exactly-k pairs compose per
    round (k <= upper barriers; the user's literal bound keeps this small),
    pairs enter the result from round ``lower``; a drained round (DAG
    exhausted) exits early. Every round is a distinct-pair join, so state
    per round is bounded by reachable pairs, never walk multiplicity.

    Unbounded upper (`p{m,}`): walks of length >= m = exactly-(m-1)-hop
    pairs composed with the 1+ closure — one closure plus m-2 composition
    joins, not an m-deep unrolling of the closure itself."""
    keys = keys or []
    lower = max(lower, 1)
    if upper is None:
        closure = transitive_closure(base, keys=keys)
        if lower == 1:
            return closure
        cur = base  # exactly 1 hop
        for _ in range(lower - 2):
            cur = _join_through(cur, base, keys)  # exactly lower-1 hops
        return _join_through(cur, closure, keys)
    if upper < lower:
        return base.limit(0)
    cur = base.select(*keys, "s", "o").distinct().localCheckpoint(eager=False)
    acc = cur if lower <= 1 else None
    for k in range(2, upper + 1):
        cur = _join_through(cur, base, keys).localCheckpoint(eager=False)
        if cur.isEmpty():
            break
        if k >= lower:
            acc = cur if acc is None else acc.unionByName(cur)
    if acc is None:
        return base.limit(0)
    return acc.distinct()


def _identity_all_terms(store: TripleStore, with_graph: bool) -> DataFrame:
    """(x, x) for EVERY term of the (scoped) graph — the SPARQL ZeroLengthPath
    domain (spec: zero-length paths match all graph nodes, subjects and
    objects alike; the reference's ZeroLengthPathOp binds the same set).
    This is what makes `P*` nested under a sequence correct: `knows*/age`
    must reach nodes that have an `age` but no `knows` edges. Inherently a
    terms scan when both endpoints are unbound; constant endpoints prune it
    through the PathPattern filter."""
    k = _gcols(with_graph)
    df = store.df
    nodes = (
        df.select(*k, F.col("s").alias("n"))
        .unionByName(df.select(*k, F.col("o_lex").alias("n")))
        .distinct()
    )
    return nodes.select(*k, F.col("n").alias("s"), F.col("n").alias("o"))


def compile_path(store: TripleStore, path, with_graph: bool = False) -> DataFrame:
    """Compile a path expression to a distinct (s, o) pair DataFrame —
    ([g,] s, o) when with_graph, evaluated per named graph."""
    k = _gcols(with_graph)
    if isinstance(path, str):
        path = A.Link(path)
    if isinstance(path, A.Link):
        return _link(store, path.iri, with_graph)
    if isinstance(path, A.NegatedPropertySet):
        return _negated(store, path, with_graph)
    if isinstance(path, A.Inv):
        p = compile_path(store, path.path, with_graph)
        return p.select(*k, F.col("o").alias("s"), F.col("s").alias("o"))
    if isinstance(path, A.Seq):
        l = compile_path(store, path.left, with_graph)
        r = compile_path(store, path.right, with_graph)
        return _join_through(l, r, k)
    if isinstance(path, A.Alt):
        l = compile_path(store, path.left, with_graph)
        r = compile_path(store, path.right, with_graph)
        return l.unionByName(r).distinct()
    if isinstance(path, A.Plus):
        return transitive_closure(compile_path(store, path.path, with_graph), keys=k)
    if isinstance(path, A.Star):
        base = compile_path(store, path.path, with_graph)
        # zero-length component = identity over ALL graph terms (SPARQL
        # ZeroLengthPath; ref: ZeroLengthPathOp) — required for correctness
        # when the star nests under a sequence
        return (
            transitive_closure(base, keys=k)
            .unionByName(_identity_all_terms(store, with_graph))
            .distinct()
        )
    if isinstance(path, A.ZeroOrOne):
        base = compile_path(store, path.path, with_graph)
        return base.unionByName(_identity_all_terms(store, with_graph)).distinct()
    if isinstance(path, A.Bounded):
        base = compile_path(store, path.path, with_graph)
        if path.upper == 0:  # {0,0}: zero-length only
            return _identity_all_terms(store, with_graph)
        out = bounded_paths(base, path.lower, path.upper, keys=k)
        if path.lower == 0:
            out = out.unionByName(_identity_all_terms(store, with_graph)).distinct()
        return out
    raise TypeError(f"unknown path expression: {path!r}")


def _oriented(store: TripleStore, path, with_graph: bool, forward: bool) -> DataFrame:
    """A component's (s, o) base relation, flipped for reverse gearing."""
    base = compile_path(store, path, with_graph)
    if not forward:
        k = _gcols(with_graph)
        base = base.select(*k, F.col("o").alias("s"), F.col("s").alias("o"))
    return base


def _hop_from(base: DataFrame, frontier: DataFrame, keys: list[str]) -> DataFrame:
    """([g,] o): nodes exactly ONE ``base`` step from the frontier set."""
    hop = base.select(*keys, F.col("s").alias("__f"), F.col("o"))
    return (
        frontier.select(*keys, F.col("o").alias("__f"))
        .join(hop, on=keys + ["__f"])
        .select(*keys, "o")
        .distinct()
    )


def geared_reach(
    store: TripleStore, path, frontier: DataFrame,
    with_graph: bool = False, forward: bool = True,
) -> DataFrame:
    """([g,] o): nodes related by ``path`` to some node of the ``frontier``
    set ([g,] o) — GEARED evaluation of a COMPOSITE anchored path (ref:
    anchored ALP evaluation in ArbitraryLengthPathNode + the gearing query
    hint, TestGearingQueryHint). The constant anchor's frontier flows
    through the path structure — Seq components evaluate left-to-right
    (right-to-left with each base flipped under reverse gearing,
    ``forward=False``), and every `+`/`*`/`{m,}` component runs a seeded
    walk (:func:`seeded_closure_from`) from the accumulated frontier
    instead of closing its base relation globally. A component's base may
    be materialized once (the walk's bounded collect); the all-pairs
    closure of any component never is."""
    k = _gcols(with_graph)
    if isinstance(path, str):
        path = A.Link(path)
    if isinstance(path, A.Inv):
        return geared_reach(store, path.path, frontier, with_graph, not forward)
    if isinstance(path, A.Seq):
        first, second = (path.left, path.right) if forward else (path.right, path.left)
        mid = geared_reach(store, first, frontier, with_graph, forward)
        return geared_reach(store, second, mid, with_graph, forward)
    if isinstance(path, A.Alt):
        l = geared_reach(store, path.left, frontier, with_graph, forward)
        r = geared_reach(store, path.right, frontier, with_graph, forward)
        return l.unionByName(r).distinct()
    if isinstance(path, (A.Plus, A.Star)):
        out = _geared_closure(store, path.path, frontier, with_graph, forward)
        if isinstance(path, A.Star):
            # zero-length component: every frontier node matches itself.
            # Mid-sequence frontiers are graph terms by construction (they
            # arrived over a real edge); a non-term constant SEED surviving
            # here mirrors the caller's nullable identity union semantics.
            out = out.unionByName(frontier.select(*k, "o")).distinct()
        return out
    if isinstance(path, A.ZeroOrOne):
        # recurse rather than compile: a closure-containing inner (`(:p+)?`)
        # must not materialize its own all-pairs closure
        return (
            geared_reach(store, path.path, frontier, with_graph, forward)
            .unionByName(frontier.select(*k, "o"))
            .distinct()
        )
    if isinstance(path, A.Bounded):
        if contains_closure(path.path):
            # each application of the inner path is itself a geared step
            return _bounded_steps(
                lambda f: geared_reach(store, path.path, f, with_graph, forward),
                lambda f: _geared_closure(store, path.path, f, with_graph, forward),
                frontier, path.lower, path.upper, k,
            )
        base = _oriented(store, path.path, with_graph, forward)
        return bounded_reach(base, frontier, path.lower, path.upper, keys=k)
    # atomic components (Link / NegatedPropertySet): one set-hop
    base = _oriented(store, path, with_graph, forward)
    return _hop_from(base, frontier, k)


def contains_closure(path) -> bool:
    """True when COMPILING the path would materialize a transitive closure
    somewhere inside it (`+`, `*`, or an unbounded `{m,}`)."""
    if isinstance(path, (A.Plus, A.Star)):
        return True
    if isinstance(path, A.Bounded):
        return path.upper is None or contains_closure(path.path)
    if isinstance(path, (A.Inv, A.ZeroOrOne)):
        return contains_closure(path.path)
    if isinstance(path, (A.Seq, A.Alt)):
        return contains_closure(path.left) or contains_closure(path.right)
    return False


def _geared_closure(
    store: TripleStore, inner, frontier: DataFrame,
    with_graph: bool, forward: bool,
) -> DataFrame:
    """>= 1 applications of ``inner`` from a frontier set. A closure-free
    inner walks seeded_closure_from over its compiled base; a
    closure-containing inner (`(:a/:p+)+`) walks with geared_reach itself
    as the step, because compiling that inner would materialize the nested
    closure — the all-pairs state gearing exists to avoid."""
    k = _gcols(with_graph)
    if not contains_closure(inner):
        base = _oriented(store, inner, with_graph, forward)
        return seeded_closure_from(base, frontier, keys=k)
    step = lambda f: geared_reach(store, inner, f, with_graph, forward)
    return _walk(step, step(frontier), k)


def _bounded_steps(
    step, closure_fn, frontier: DataFrame, lower: int, upper: int | None,
    k: list[str],
) -> DataFrame:
    """[lower, upper] applications of an arbitrary step function from a
    frontier set — the engine behind bounded_reach, parameterized so geared
    `{m,n}` components over closure-containing inners reuse it."""
    if upper is not None and upper < lower:  # e.g. {2,1} / lower>=1 with upper 0
        return frontier.select(*k, "o").limit(0)
    if upper == 0:  # {0,0}: zero-length only
        return frontier.select(*k, "o")
    cur = frontier
    if upper is None:  # {m,}: advance m-1 steps, then >=1 closure
        for _ in range(max(lower - 1, 0)):
            cur = step(cur).localCheckpoint(eager=False)
            if cur.isEmpty():
                return cur.select(*k, "o")
        out = closure_fn(cur)
        if lower == 0:
            out = out.unionByName(frontier.select(*k, "o")).distinct()
        return out
    acc = frontier.select(*k, "o") if lower == 0 else None
    for i in range(1, upper + 1):
        cur = step(cur).localCheckpoint(eager=False)
        if cur.isEmpty():
            break
        if i >= lower:
            acc = cur if acc is None else acc.unionByName(cur)
    if acc is None:
        return frontier.select(*k, "o").limit(0)
    return acc.distinct()


def bounded_reach(
    base: DataFrame, frontier: DataFrame, lower: int, upper: int | None,
    keys: list[str] | None = None,
) -> DataFrame:
    """([g,] o): nodes reachable from the frontier set by a walk of length
    in [lower, upper] hops of ``base`` (upper=None = unbounded) — the
    frontier-seeded analog of :func:`bounded_paths`, shared by geared
    `{m,n}` path components and the anchored bd:alp SERVICE. A bounded
    upper runs exactly ``upper`` one-hop rounds with frontier-sized state;
    an unbounded one advances ``lower - 1`` hops and then walks
    :func:`seeded_closure_from`. The base's all-pairs composition never
    materializes."""
    k = keys or []
    return _bounded_steps(
        lambda f: _hop_from(base, f, k),
        lambda f: seeded_closure_from(base, f, keys=k),
        frontier, lower, upper, k,
    )


