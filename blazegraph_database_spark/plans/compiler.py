"""Algebra → DataFrame compiler.

Reference analog: AST2BOpUtility/AST2BOpJoins (bigdata-core/bigdata-rdf/src/
java/com/bigdata/rdf/sparql/ast/eval/) plus ASTStaticJoinOptimizer: we order
BGP patterns by estimated cardinality from per-predicate store stats (the
reference uses B+Tree range counts the same way), broadcast small pattern
inputs, and hand the rest to Catalyst/AQE.

Scale notes (100 TB): every pattern compiles to scan→filter(p=const)→project,
which parquet partition-pruning turns into a single-predicate read; pure join
variables ride the shuffles as 128-bit term ids (``_id_join_vars`` — the
lexicon/TERM2ID analog; ref: LexiconRelation.java — the reference never joins
on lexical strings), value-bearing variables carry their lexical form inline
(the inline-IV analog), and broadcast thresholds keep dimension-like
predicates (region/nation) out of shuffles.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce, singledispatch

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.model.terms import DT_SID, Lit, Var, const_lex, is_const, sid_col
from blazegraph_database_spark.operators import service
from blazegraph_database_spark.operators.driver_tier import to_frame
from blazegraph_database_spark.plans import algebra as A

BROADCAST_MAX_ROWS = 3_000_000  # est rows under which a pattern side is broadcast


def evaluate(store: TripleStore, node) -> DataFrame:
    """Compile an algebra node over a store to a DataFrame of bindings.

    Before compiling, classify which variables can ride joins as compact
    term ids instead of lexical strings (see :func:`_id_join_vars`); the
    pattern compiler then emits ``<var>__id`` columns (a 128-bit two-long
    xxhash64 struct, :func:`term_id`) for those, so every
    BGP/OPTIONAL/MINUS/EXISTS join on them shuffles 16-byte ids,
    not IRIs — the reference's dictionary-encoded join discipline
    (ref: lexicon/LexiconRelation.java TERM2ID), with decode-at-projection
    implicit: output variables always keep their lexical column.
    """
    fast = _fast_scan_rewrite(store, node)
    if fast is not None:
        return fast
    native = _native_typed_vars(node, store)
    id_vars = _id_join_vars(node) - set(native)
    flags = {}
    if id_vars:
        flags["id_join_vars"] = frozenset(id_vars)
    if native:
        flags["native_typed_vars"] = native
    return _compile(node, store.view(**flags) if flags else store)


# ------------------------------------------------- fast range-count scan --
def _col_sql(c: Column) -> str:
    try:
        return c._jc.toString()  # classic mode: the Catalyst expression text
    except Exception:
        return str(c)


def _fast_spo(bgp) -> tuple[str, object, str] | None:
    """(s_var, p_var_or_IRI, o_var) when the node is a single unscoped
    triple pattern with distinct variables in subject/object position."""
    from blazegraph_database_spark.model.terms import IRI, Var

    if not isinstance(bgp, A.BGP) or len(bgp.patterns) != 1:
        return None
    sp = bgp.patterns[0]
    if not isinstance(sp, A.SP) or sp.g is not None:
        return None
    s, p, o = sp.s, sp.p, sp.o
    if not isinstance(s, Var) or not isinstance(o, Var) or s.name == o.name:
        return None
    if isinstance(p, Var):
        return None if p.name in (s.name, o.name) else (s.name, p, o.name)
    if isinstance(p, IRI):  # algebra-builder constant
        return (s.name, p.value, o.name)
    return (s.name, p, o.name) if isinstance(p, str) else None  # parser constant


def _fast_scan_rewrite(store: TripleStore, node):
    """Answer whole-pattern counts and distinct-predicate scans from the
    store's per-predicate range counts instead of scanning triples — the
    reference's ASTFastRangeCountOptimizer (SELECT (COUNT(*) AS ?c)
    { ?s [?p|:p] ?o } → index range count), ASTDistinctTermScanOptimizer
    (SELECT DISTINCT ?p { ?s ?p ?o } → distinct-term scan), and
    ASTSimpleGroupByAndCountOptimizer (GROUP BY ?p + COUNT(*) → one range
    count per distinct term) — bigdata-rdf/.../ast/optimizers/*.java.

    Applies only when the stats are EXACT (parquet-footer null counts,
    persisted store stats, or the groupBy stats path — see
    TripleStore.stats_are_exact) and the store is an unscoped triple view
    (no quads, no FROM dataset). At 100 TB this answers "how many triples
    with predicate X" from metadata instead of a full scan. The answer is a
    local relation, so it reaches the client with no Spark job. Under
    ``track_dt`` it carries the same `__dt` companions as the compiled plan
    (only the DISTINCT ?p scan has one), so REST answers from it too."""
    if store.has_graphs or store.dataset_default is not None or store.dataset_named is not None:
        return None
    if not store.stats_are_exact():
        return None

    def count_df(alias: str, m) -> DataFrame:
        _s, p, _o = m
        if isinstance(p, str):  # constant predicate: range count over aliases
            st0 = store.stats()
            total = sum(st0[a].count for a in _pred_aliases(p) if a in st0)
        else:  # variable predicate: sum of all range counts
            total = sum(s.count for s in store.stats().values())
        return to_frame(store.spark, [(int(total),)], f"{alias} long")

    # SELECT (COUNT(*) AS ?c) { spo } — parser shape:
    # Project(Extend(Group(bgp, (), ((__agg0, count(1)),)), c, col(__agg0)), [c])
    # and the algebra-builder shape Project(Group(...aggs=((c, count(1)),)), [c]).
    if isinstance(node, A.Project) and len(node.vars) == 1:
        alias, ch = node.vars[0], node.child
        if (
            isinstance(ch, A.Extend)
            and ch.var == alias
            and isinstance(ch.child, A.Group)
            and not ch.child.keys
            and ch.child.having is None
            and len(ch.child.aggs) == 1
            and _col_sql(ch.expr) == ch.child.aggs[0][0]
            and _col_sql(ch.child.aggs[0][1]) == "count(1)"
        ):
            m = _fast_spo(ch.child.child)
            if m:
                return count_df(alias, m)
        if (
            isinstance(ch, A.Group)
            and not ch.keys
            and ch.having is None
            and len(ch.aggs) == 1
            and ch.aggs[0][0] == alias
            and _col_sql(ch.aggs[0][1]) == "count(1)"
        ):
            m = _fast_spo(ch.child)
            if m:
                return count_df(alias, m)

    # SELECT DISTINCT ?p { ?s ?p ?o } — Distinct(Project(bgp, [p])).
    if (
        isinstance(node, A.Distinct)
        and isinstance(node.child, A.Project)
        and len(node.child.vars) == 1
    ):
        m = _fast_spo(node.child.child)
        if m and isinstance(m[1], Var) and m[1].name == node.child.vars[0]:
            preds = sorted(p for p, s in store.stats().items() if s.count > 0)
            v = m[1].name
            if store.track_dt:  # the compiled scan's companion: a predicate is an IRI
                return to_frame(store.spark, [(p, "iri") for p in preds], f"{v} string, {v}__dt string")
            return to_frame(store.spark, [(p,) for p in preds], f"{v} string")

    # SELECT ?p (COUNT(*) AS ?c) { ?s ?p ?o } GROUP BY ?p —
    # Project(Extend(Group(bgp, (p,), ((__agg0, count(1)),)), c, col(__agg0)), [p, c]).
    if isinstance(node, A.Project) and len(node.vars) == 2:
        ch = node.child
        if (
            isinstance(ch, A.Extend)
            and isinstance(ch.child, A.Group)
            and len(ch.child.keys) == 1
            and ch.child.having is None
            and len(ch.child.aggs) == 1
            and _col_sql(ch.expr) == ch.child.aggs[0][0]
            and _col_sql(ch.child.aggs[0][1]) == "count(1)"
        ):
            m = _fast_spo(ch.child.child)
            pkey = ch.child.keys[0]
            if (
                m
                and isinstance(m[1], Var)
                and m[1].name == pkey
                and set(node.vars) == {pkey, ch.var}
            ):
                rows = sorted(
                    (p, int(s.count)) for p, s in store.stats().items() if s.count > 0
                )
                if node.vars[0] == pkey:
                    data, schema = rows, f"{pkey} string, {ch.var} long"
                else:
                    data, schema = [(c, p) for p, c in rows], f"{ch.var} long, {pkey} string"
                return to_frame(store.spark, data, schema)
    return None


# ------------------------------------------------------- id-join planning --
def term_id(col: Column) -> Column:
    """128-bit term id: a two-long struct of independently-salted xxhash64
    over the lexical form (TERM2ID analog).

    Hashing only the lexical form makes id-equality coincide exactly with
    the value path's string-join semantics (two bindings join iff their
    lexical forms are equal), so flipping a var between id and value mode
    can never change results. The id is TWO longs, not one, because the
    stated design point is 100 TB ≈ 10^10–10^12 distinct terms per joined
    domain: at 10^11 terms a single 64-bit hash expects n²/2^65 ≈ hundreds
    of colliding pairs — each a silently wrong join row — while the
    128-bit pair's expectation is ~10^-15 (r10 verdict; the reference's
    TERM2ID assigns ids rather than hashing, LexiconRelation.java, so it
    never has this failure mode). 16-byte keys still shuffle 2-5x narrower
    than lexical IRIs. Null lexicals keep the value path's semantics
    unchanged: xxhash64 maps null to its seed on both components exactly
    as the old single hash did.
    """
    from blazegraph_database_spark.model.dictionary import WIDE_SALT

    return F.struct(
        F.xxhash64(col).alias("h1"), F.xxhash64(col, F.lit(WIDE_SALT)).alias("h2")
    )


def _all_sp_vars(n) -> set[str]:
    """Every var name BOUND anywhere in a pattern subtree — pattern
    positions plus BIND targets, VALUES columns, and Project vars (used to
    mark a whole opaque subtree, e.g. a SERVICE block, as lexical)."""
    out: set[str] = set()

    def walk(x):
        if isinstance(x, A.SP):
            out.update(_vars_of(x))
        elif isinstance(x, A.PathPattern):
            for pos in (x.s, x.o, x.g):
                if isinstance(pos, Var):
                    out.add(pos.name)
        elif isinstance(x, A.BGP):
            for sp in x.patterns:
                walk(sp)
        else:
            if isinstance(x, A.Extend):
                out.add(x.var)
            elif isinstance(x, A.Values):
                for row in x.rows:
                    out.update(row.keys())
            elif isinstance(x, A.Project):
                out.update(x.vars)
            for attr in ("child", "pattern", "left", "right"):
                c = getattr(x, attr, None)
                if c is not None and not isinstance(c, (str, Column)):
                    walk(c)

    walk(n)
    return out


@dataclass
class _VarUses:
    """Where every variable of a plan is bound and read (see :func:`_var_uses`)."""

    # var → one (position 's'/'p'/'o'/'g', constant predicate or None) per
    # plain triple-pattern site that binds it
    sites: dict = field(default_factory=dict)
    lexical: set = field(default_factory=set)  # vars whose lexical form is produced or consumed
    opaque: list = field(default_factory=list)  # string forms of expressions that may read a var


def _var_uses(root) -> _VarUses | None:
    """One walk of a plan recording, per variable, its triple-pattern sites,
    whether it must stay lexical, and every expression that may read it —
    the record both binding classifiers filter (:func:`_id_join_vars`,
    :func:`_native_typed_vars`). The reference makes this decision once per
    term (inline IV vs TERM2ID id, ref: internal/IV.java,
    LexiconConfiguration); here it is made once per query.

    Lexical: vars bound by property paths, VALUES, BIND, SERVICE (and a
    variable SERVICE endpoint), RDF-star embedded terms, generated EXISTS
    flags, GRAPH ?g scopes and geo:search PARAM objects, plus every var that
    is projected, grouped or ordered by name. A WITH plan is walked like the
    main pattern, so its projection marks the columns its INCLUDEs carry.

    None when the plan's output surface is unknown (no Project or Group on
    the spine — raw pattern evaluations keep lexical bindings), or when the
    walk meets a node it cannot see through: an INCLUDE of a set no WITH in
    the query declares (its columns are unknown here) or any other node
    kind."""
    spine = root
    while isinstance(spine, (A.Slice, A.OrderBy, A.Distinct, A.Dataset, A.WithNamed)):
        spine = spine.child
    if not isinstance(spine, (A.Project, A.Group)):
        return None
    u = _VarUses()
    declared: set[str] = set()
    gave_up = False

    def read(*terms) -> None:
        # a var read by name needs its lexical value; an expression is kept
        # as its string form and scanned per var by the classifiers
        nonlocal gave_up
        for t in terms:
            if isinstance(t, str):
                u.lexical.add(t)
            elif t is not None:
                try:
                    u.opaque.append(str(t))
                except Exception:  # pragma: no cover - repr failure → give up safely
                    gave_up = True

    def walk(n) -> None:
        nonlocal gave_up
        if gave_up:
            return
        if isinstance(n, A.SP):
            if isinstance(n.s, A.Emb) or isinstance(n.o, A.Emb):
                u.lexical.update(_vars_of(n))  # sid joins are lexical
                return
            pred = const_lex(n.p) if n.p is not None and is_const(n.p) else None
            for where, pos in (("s", n.s), ("p", n.p), ("o", n.o), ("g", n.g)):
                if isinstance(pos, Var):
                    u.sites.setdefault(pos.name, []).append((where, pred))
            if isinstance(n.o, Var) and service.is_geo_param(n):
                # geo:search magic PARAM positions consume the object var's
                # VALUE (resolved per sibling binding — _fold_service)
                u.lexical.add(n.o.name)
        elif isinstance(n, A.BGP):
            for sp in n.patterns:
                walk(sp)
        elif isinstance(n, (A.Join, A.Union2, A.Minus, A.LeftJoin)):
            walk(n.left)
            walk(n.right)
            read(getattr(n, "condition", None))
        elif isinstance(n, A.Filter):
            read(n.condition)
            walk(n.child)
        elif isinstance(n, A.Extend):
            read(n.var, n.expr)  # the BIND target is a lexical binding
            walk(n.child)
        elif isinstance(n, A.Values):
            for row in n.rows:
                read(*row.keys())
            if n.child is not None:
                walk(n.child)
        elif isinstance(n, (A.Exists, A.ExistsFlag)):
            read(getattr(n, "var", None))  # a generated boolean flag, never an id
            walk(n.child)
            walk(n.pattern)
        elif isinstance(n, A.Project):
            read(*n.vars)
            walk(n.child)
        elif isinstance(n, (A.Distinct, A.Slice, A.Dataset, A.DropCols)):
            walk(n.child)
        elif isinstance(n, A.OrderBy):
            read(*(key for key, _asc in n.keys))
            walk(n.child)
        elif isinstance(n, A.Group):
            read(*n.keys, *(e for _name, e in n.aggs), n.having)
            walk(n.child)
        elif isinstance(n, A.GraphScope):
            if isinstance(n.g, Var):
                u.lexical.add(n.g.name)
            walk(n.child)
        elif isinstance(n, A.WithNamed):
            declared.update(n.named)
            for plan in n.named.values():
                walk(plan)
            walk(n.child)
        elif isinstance(n, A.NamedInclude):
            # a declared set carries its WITH plan's projected (lexical)
            # columns; any other set's columns are unknown
            gave_up = n.name not in declared
        elif isinstance(n, (A.Service, A.PathPattern)):
            u.lexical.update(_all_sp_vars(n))  # these emit lexical bindings
            if isinstance(n, A.Service) and isinstance(n.iri, Var):
                # a variable ENDPOINT is consumed lexically (the compiler
                # collects its distinct values to dispatch service calls)
                u.lexical.add(n.iri.name)
        else:
            gave_up = True

    walk(root)
    return None if gave_up else u


def _reads(v: str, exprs) -> bool:
    """Whether any expression string may read ``v``: matches `v`, `v__dt`,
    `v__id` as tokens (`_` continues a word, so the explicit alternative
    covers the companion suffixes). A false positive only costs the
    optimization, never correctness."""
    rx = re.compile(r"\b" + re.escape(v) + r"(\b|_)")
    return any(rx.search(s) for s in exprs)


def _id_join_vars(root) -> frozenset[str]:
    """Vars that can ride joins as 128-bit term ids instead of lexical strings.

    A var qualifies iff, in the :func:`_var_uses` record, it has at least
    two triple-pattern sites (it is genuinely a join key), none of them in
    GRAPH position, it never has to stay lexical, and no expression reads
    it.

    This is the compile-time equivalent of the reference's rule that all
    intermediate solutions hold IVs and the lexicon materializes values
    only at projection/expression boundaries.
    """
    u = _var_uses(root)
    if u is None:
        return frozenset()
    return frozenset(
        v
        for v, sites in u.sites.items()
        if len(sites) >= 2
        and all(where != "g" for where, _p in sites)
        and v not in u.lexical
        and not _reads(v, u.opaque)
    )


# Allowed cast surfaces per native dt tag. For 'double' only AS DOUBLE is
# value-identical in both binding modes (string "1.5"→BIGINT yields NULL while
# double 1.5→BIGINT truncates to 1); from a long both casts agree. Timestamps
# round-trip exactly through Spark's canonical 'yyyy-MM-dd HH:mm:ss[.SSSSSS]'
# string form, so CAST AS TIMESTAMP is value-identical from either mode.
_NATIVE_CASTS = {
    "long": ("TRY_CAST({v} AS BIGINT)", "TRY_CAST({v} AS DOUBLE)",
             "CAST({v} AS BIGINT)", "CAST({v} AS DOUBLE)"),
    "double": ("TRY_CAST({v} AS DOUBLE)", "CAST({v} AS DOUBLE)"),
    "timestamp": ("TRY_CAST({v} AS TIMESTAMP)", "CAST({v} AS TIMESTAMP)"),
}
_NATIVE_SPARK_TYPE = {"long": "long", "double": "double", "timestamp": "timestamp"}


def _native_typed_vars(root, store) -> dict[str, str]:
    """Vars bound with their NATIVE parquet type instead of the lexical string.

    The inline-IV analog of :func:`_id_join_vars`: the reference never
    round-trips a numeric through the lexicon — XSDNumericIV carries the
    value inline in the statement indices and materializes a lexical form
    only on demand (ref: bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/
    internal/impl/literal/XSDNumericIV.java). Here, a var whose every
    consumer is a typed cast (sparql_funcs.num/lng and the aggregates built
    on them) binds the base table's native column directly: the string cast
    disappears from the scan, the re-cast disappears from the consumer, and
    numeric range filters reach the parquet reader as pushed filters
    (plan-quality-tested).

    A var qualifies iff, in the :func:`_var_uses` record:

    * every site is the OBJECT of a constant predicate whose store dt tag
      has allowed casts, the same tag at every site (Union arms must union
      compatible column types);
    * it never has to stay lexical;
    * every expression reference is one of the tag's allowed casts
      (``_NATIVE_CASTS``) — those casts produce bit-identical values from
      either binding mode, so any surrounding expression is unaffected.

    Joins on a qualifying var stay correct: all sites share one tag, the
    lexical form per (tag, value) is unique (Spark's double→string is
    shortest-round-trip), so native equality coincides with lexical
    equality; Spark treats NaN as equal in join keys, matching the lexical
    'NaN' self-join.
    """
    pred_dt = store.pred_dt or {}
    if not pred_dt:
        return {}
    u = _var_uses(root)
    if u is None:
        return {}
    out: dict[str, str] = {}
    for v, sites in u.sites.items():
        tags = {pred_dt.get(p) if where == "o" else None for where, p in sites}
        tag = tags.pop() if len(tags) == 1 else None
        if tag not in _NATIVE_CASTS or v in u.lexical:
            continue
        allowed = [c.format(v=v) for c in _NATIVE_CASTS[tag]]
        cleaned = []
        for s in u.opaque:
            for a in allowed:
                s = s.replace(a, "")
            cleaned.append(s)
        if not _reads(v, cleaned):
            out[v] = tag
    return out


# ---------------------------------------------------------------- patterns --
# The engine's internal vocabulary spells well-known terms compactly
# (inference, blueprints, reification key on rdf:type / rdfs:subClassOf /
# owl:sameAs ...) while the RDF interchange readers and the parser's
# auto-declared prefixes produce the full IRIs — one TERM, two lexicals,
# exactly what the reference's Vocabulary classes normalize. Pattern
# matching and range counts treat the spellings as aliases of one term.
WELLKNOWN_NS = {
    "rdf:": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs:": "http://www.w3.org/2000/01/rdf-schema#",
    "owl:": "http://www.w3.org/2002/07/owl#",
    "xsd:": "http://www.w3.org/2001/XMLSchema#",
    "foaf:": "http://xmlns.com/foaf/0.1/",
    "dc:": "http://purl.org/dc/elements/1.1/",
}
RDF_TYPE_ALIASES = (
    "rdf:type",
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
)


def _pred_aliases(p: str) -> tuple[str, ...]:
    for pfx, ns in WELLKNOWN_NS.items():
        if p.startswith(pfx):
            return (p, ns + p[len(pfx):])
        if p.startswith(ns):
            return (pfx + p[len(ns):], p)
    return (p,)


def _sid_inner_df(emb: "A.Emb", store: TripleStore, alias: str) -> DataFrame:
    """Compile the inner pattern of `<<s p o>>`: bindings for its vars plus
    the statement-id column `alias` used to join with the metadata pattern."""
    df = store.df
    conds = []
    for col, pos in (("s", emb.s), ("p", emb.p), ("o_lex", emb.o)):
        if pos is not None and is_const(pos):
            conds.append(F.col(col) == const_lex(pos))
            if col == "o_lex":
                conds.append(F.col("o_dt") == (pos.dt if isinstance(pos, Lit) else "iri"))
    for c in conds:
        df = df.filter(c)
    sel, seen = [sid_col().alias(alias)], {}
    for col, pos in (("s", emb.s), ("p", emb.p), ("o_lex", emb.o)):
        if isinstance(pos, Var):
            if pos.name in seen:
                df = df.filter(F.col(col) == F.col(seen[pos.name]))
            else:
                seen[pos.name] = col
                sel.append(F.col(col).alias(pos.name))
                if col == "o_lex" and store.track_dt:
                    sel.append(
                        F.when(F.col("o_dt") == "bnode", F.lit("iri"))
                        .otherwise(F.col("o_dt"))
                        .alias(f"{pos.name}__dt")
                    )
    return df.select(*sel)


def _emb_pattern_df(sp: A.SP, store: TripleStore) -> DataFrame:
    """Pattern with an embedded-statement term: compile the outer pattern
    with the sid as a hidden var, then equi-join the inner statement scan on
    the sid (plus any shared vars — SPARQL-star join semantics)."""
    subj = Var("__sid_s") if isinstance(sp.s, A.Emb) else sp.s
    obj = Var("__sid_o") if isinstance(sp.o, A.Emb) else sp.o
    out = _pattern_df(A.SP(subj, sp.p, obj, sp.g), store)
    for hidden, pos in (("__sid_s", sp.s), ("__sid_o", sp.o)):
        if isinstance(pos, A.Emb):
            inner = _sid_inner_df(pos, store, hidden)
            on = sorted(set(out.columns) & set(inner.columns))
            out = out.join(inner, on=on).drop(hidden, f"{hidden}__dt")
    return out


# Cached Column singletons for the pattern compiler's hot path. Every
# Column build is a py4j roundtrip bundle and _pattern_df runs once per
# triple pattern per query — plan-BUILD time is part of query cost in this
# engine (docs/scale_notes.md "Plan-build discipline"). Columns are
# immutable expression trees, safe to reuse across DataFrames; built
# lazily because the gateway may not exist at import time.
_CCACHE: dict = {}


def _ccache() -> dict:
    """The Column cache, invalidated when the active SparkContext changes:
    cached Columns hold py4j refs into a specific gateway, and a JVM
    restart in the same process would leave them pointing at a dead one
    (ADVICE r11). The check holds the context object itself and compares
    identity — an ``id()`` tag could be reused by a later context — and is
    pure-python, no roundtrip."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if "__ctx" not in _CCACHE or _CCACHE["__ctx"] is not sc:
        _CCACHE.clear()
        _CCACHE["__ctx"] = sc
    return _CCACHE


def _cc(name: str) -> Column:
    cache = _ccache()
    c = cache.get(name)
    if c is None:
        c = cache[name] = F.col(name)
    return c


def _dt_norm() -> Column:
    """bnode→iri-normalized o_dt (see the companion-binding comment below),
    built once: the 4-op when/otherwise chain costs ~14 roundtrips a call."""
    cache = _ccache()
    c = cache.get("__dt_norm")
    if c is None:
        c = cache["__dt_norm"] = (
            F.when(F.col("o_dt") == "bnode", F.lit("iri")).otherwise(F.col("o_dt"))
        )
    return c


def _iri_lit() -> Column:
    cache = _ccache()
    c = cache.get("__iri_lit")
    if c is None:
        c = cache["__iri_lit"] = F.lit("iri")
    return c


def _pattern_df(sp: A.SP, store: TripleStore) -> DataFrame:
    if isinstance(sp.s, A.Emb) or isinstance(sp.o, A.Emb):
        return _emb_pattern_df(sp, store)
    df = None
    native = store.native_typed_vars
    if isinstance(sp.s, Lit):
        # a literal is never a subject: the pattern is provably empty (the
        # subject filter below compares lexical forms only)
        df = store.df.limit(0)
    elif sp.p is not None and is_const(sp.p):
        aliases = _pred_aliases(const_lex(sp.p))
        stats = store._stats
        known = (
            next((stats[a] for a in aliases if a in stats and stats[a].count > 0), None)
            if stats is not None
            else None
        )
        if stats is not None and known is None:
            # Unknown-term shortcut (ref: ast/optimizers/
            # ASTUnknownTermOptimizer.java): a constant predicate absent
            # from the store's range counts (or counted 0 — the counts are
            # exact or UPPER bounds, never under) has zero triples, so the
            # pattern is provably empty. limit(0) folds to an empty local
            # relation — no union build, no scan.
            df = store.df.limit(0)
        elif sp.g is None:
            # When exactly one alias spelling is live in the store, its
            # virtual POS index serves the pattern; with both spellings
            # present (or no stats to tell) the union scan + alias filter
            # below matches them all.
            live = [a for a in aliases if stats is not None and a in stats and stats[a].count > 0]
            src_pred = live[0] if len(live) == 1 else (
                aliases[0] if len(aliases) == 1 else None
            )
            if src_pred is not None:
                # typed=True serves the object column in its native parquet
                # type for vars the classifier proved are consumed only
                # through typed casts
                typed = isinstance(sp.o, Var) and sp.o.name in native
                df = store.pattern_source(src_pred, typed=typed)  # virtual POS index
    if df is None:
        df = store.df
    cols = df.columns  # one schema fetch; consulted up to three times below
    conds = []
    for col, pos in (("s", sp.s), ("p", sp.p), ("o_lex", sp.o)):
        if pos is not None and is_const(pos):
            if col == "p":
                al = _pred_aliases(const_lex(pos))
                conds.append(
                    _cc("p").isin(list(al)) if len(al) > 1 else _cc("p") == al[0]
                )
                continue
            if col == "o_lex" and not isinstance(pos, Lit):
                # constant IRI object: well-known compact/full spellings are
                # one term (same alias layer as predicates)
                oal = _pred_aliases(const_lex(pos))
                conds.append(
                    _cc("o_lex").isin(list(oal)) if len(oal) > 1
                    else _cc("o_lex") == oal[0]
                )
            else:
                conds.append(_cc(col) == const_lex(pos))
            if col == "o_lex":
                # Term identity includes the type: a constant Lit matches only
                # its datatype, a constant IRI (str/IRI per terms.py) matches
                # only IRI terms — otherwise a string literal with the same
                # lexical form conflates with the IRI (ADVICE round 1).
                conds.append(_cc("o_dt") == (pos.dt if isinstance(pos, Lit) else "iri"))
    if sp.g is not None and is_const(sp.g):
        conds.append(_cc("g") == const_lex(sp.g))
    # FROM / FROM NAMED dataset scoping (ref: DatasetNode). An EMPTY
    # concrete set means "match nothing" (FROM without FROM NAMED leaves
    # the named-graph set empty, and vice versa) — not "unrestricted".
    if "g" in cols:
        dd = store.dataset_default
        dn = store.dataset_named
        if sp.g is None and dd is not None:
            conds.append(_cc("g").isin(list(dd)) if dd else F.lit(False))
        if isinstance(sp.g, Var):
            # GRAPH ?g ranges over the named graphs only: never the default
            # graph (g NULL, or '' as _named_graphs reads it)
            if dn is None:
                conds.append(_cc("g").isNotNull() & (_cc("g") != ""))
            else:
                conds.append(_cc("g").isin(list(dn)) if dn else F.lit(False))
    if conds:
        # ONE fused filter instead of a filter chain: each df.filter is a
        # full Dataset construction over py4j (~40 roundtrips); the fused
        # conjunction produces the identical Filter(And(...)) plan (r11)
        allc = conds[0]
        for c in conds[1:]:
            allc = allc & c
        df = df.filter(allc)
    if (
        sp.g is None and "g" in cols and store.has_graphs
        and store.default_graph_distinct
    ):
        # DEFAULT-graph pattern over a quad store: the default graph is the
        # RDF MERGE of the graphs — dedup at the TRIPLE level (the
        # reference's distinct-SPO access path; fixtures default-graphs-01j
        # / default-graph-joins-01: a triple asserted in two graphs is ONE
        # triple), never at the projected-binding level (two DIFFERENT
        # triples binding the same var value stay two solutions)
        df = df.dropDuplicates(["s", "p", "o_lex", "o_dt"])
    sel, seen = [], {}
    id_vars = store.id_join_vars
    for col, pos in (("s", sp.s), ("p", sp.p), ("o_lex", sp.o), ("g", sp.g)):
        if isinstance(pos, Var):
            if pos.name in seen:  # repeated var within one pattern: equality filter
                df = df.filter(_cc(col) == _cc(seen[pos.name]))
            elif pos.name in id_vars:
                # pure join key: bind the 128-bit term id, never the string —
                # downstream joins shuffle two-long ids (TERM2ID discipline)
                seen[pos.name] = col
                sel.append(term_id(_cc(col)).alias(f"{pos.name}__id"))
            elif pos.name in native and col == "o_lex":
                # native-typed binding (inline-IV analog): cast to the tag's
                # type — a no-op Catalyst erases when the typed virtual
                # source already served the native column, the one
                # string→numeric conversion otherwise (melted fallback)
                seen[pos.name] = col
                sel.append(
                    _cc(col).cast(_NATIVE_SPARK_TYPE[native[pos.name]]).alias(pos.name)
                )
                if store.track_dt:
                    sel.append(_dt_norm().alias(f"{pos.name}__dt"))
            else:
                seen[pos.name] = col
                sel.append(_cc(col).alias(pos.name))
                if store.track_dt:
                    if col == "o_lex":
                        # companions are BGP join keys (term identity
                        # includes the datatype), so the bnode tag — which
                        # some readers emit as 'bnode', others as 'iri' —
                        # normalizes to 'iri' here; the `_:` lexical prefix
                        # keeps bnodes distinguishable (isBlank checks it)
                        sel.append(_dt_norm().alias(f"{pos.name}__dt"))
                    else:  # subject / predicate / graph vars: iri space
                        # (bnode subjects carry the `_:` lexical; tagging
                        # them 'iri' matches the normalized object tag so
                        # subject-object joins on a shared var agree)
                        sel.append(_iri_lit().alias(f"{pos.name}__dt"))
    return df.select(*sel)


def _estimate(sp: A.SP, store: TripleStore) -> float:
    st = store.stats()
    if is_const(sp.p):
        ps = st.get(const_lex(sp.p))
        if ps is None:
            return 0.0
        est = float(ps.count)
        if is_const(sp.s):
            est /= ps.n_distinct_s
        if is_const(sp.o):
            est /= ps.n_distinct_o
        return max(est, 1.0)
    total = float(sum(s.count for s in st.values()))
    if is_const(sp.s) or is_const(sp.o):
        return max(total / 1000.0, 1.0)
    return total


def _vars_of(sp: A.SP) -> set[str]:
    out = set()
    for p in (sp.s, sp.p, sp.o, sp.g):
        if isinstance(p, Var):
            out.add(p.name)
        elif isinstance(p, A.Emb):  # vars inside <<s p o>> join like any other
            out |= _vars_of(A.SP(p.s, p.p, p.o))
    return out


def _star_subject(s):
    """The star-fusion group of a subject term: ("var", name) for a
    variable, ("iri", lex) for a constant IRI, None otherwise (literals,
    ``Emb`` terms and blank-node labels stay on the per-pattern path)."""
    if isinstance(s, Var):
        return ("var", s.name)
    if is_const(s) and not isinstance(s, Lit) and not const_lex(s).startswith("_:"):
        return ("iri", const_lex(s))
    return None


def _star_fuse(patterns: list, store: TripleStore):
    """Collapse same-subject patterns whose constant predicates live in one
    base table into a single column-pruned scan (subject star-join fusion;
    the SPO-index analog of the reference's subject-ordered access path).
    Returns (fused entries [(df, est, vars)], leftover pattern idxs).

    Eligible: <subj> <constP> ?o with distinct object vars and no graph
    term, where <subj> is a variable or a constant IRI. At 100 TB this
    turns an N-pattern star over the fact table from N scans + N-1
    self-join shuffles into one scan of N+1 columns. A bound subject is the
    reference's SPO range scan: the fused scan filters ``s == <iri>`` and
    carries no subject column. The entry's estimate is the largest of its
    patterns' estimates.
    """
    if not (store.star_factory and store.pred_table):
        return [], list(range(len(patterns)))
    groups: dict = {}
    for i, sp in enumerate(patterns):
        subj = _star_subject(sp.s)
        if (
            subj is not None
            and sp.p is not None
            and is_const(sp.p)
            and isinstance(sp.o, Var)
            and sp.g is None
            and subj != ("var", sp.o.name)
            and const_lex(sp.p) in store.pred_table
        ):
            key = (subj, store.pred_table[const_lex(sp.p)])
            groups.setdefault(key, []).append(i)
    fused, taken = [], set()
    for ((kind, term), _table), idxs in groups.items():
        uniq, seen_o = [], set()
        for i in idxs:  # one pattern per object var; dupes stay join-based
            if patterns[i].o.name not in seen_o:
                seen_o.add(patterns[i].o.name)
                uniq.append(i)
        if len(uniq) < 2:
            continue
        preds = [const_lex(patterns[i].p) for i in uniq]
        if store.track_dt and not (store.pred_dt and all(p in store.pred_dt for p in preds)):
            continue  # need per-pred dt tags to bind companions; join path handles it
        native = store.native_typed_vars
        native_preds = frozenset(
            const_lex(patterns[i].p) for i in uniq if patterns[i].o.name in native
        )
        df = store.star_source(preds, native=native_preds)
        if df is None:
            continue
        id_vars = store.id_join_vars

        def var_col(col: F.Column, vname: str) -> F.Column:
            if vname in id_vars:
                return term_id(col).alias(f"{vname}__id")
            if vname in native:
                # cast is a Catalyst no-op when the factory served the
                # native column, the single conversion otherwise
                return col.cast(_NATIVE_SPARK_TYPE[native[vname]]).alias(vname)
            return col.alias(vname)

        sel = [var_col(F.col(p), patterns[i].o.name) for p, i in zip(preds, uniq)]
        if store.track_dt:
            sel += [
                F.lit(store.pred_dt[p]).alias(f"{patterns[i].o.name}__dt")
                for p, i in zip(preds, uniq)
                if patterns[i].o.name not in id_vars
            ]
        if kind == "iri":
            df = df.filter(F.col("s") == term)
            out_vars = set(seen_o)
        else:
            sel.insert(0, var_col(F.col("s"), term))
            if store.track_dt and term not in id_vars:
                # same normalized tag as _pattern_df's subject branch
                sel.append(F.lit("iri").alias(f"{term}__dt"))
            out_vars = {term, *seen_o}
        est = max(_estimate(patterns[i], store) for i in uniq)
        fused.append((df.select(*sel), est, out_vars))
        taken.update(uniq)
    return fused, [i for i in range(len(patterns)) if i not in taken]


_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_REIF_SCAFFOLD = {
    _RDF_NS + "subject": "s",
    _RDF_NS + "predicate": "p",
    _RDF_NS + "object": "o",
}


def _rewrite_reif_scaffold(patterns: list, store: TripleStore) -> list:
    """Reification-Done-Right query rewrite (ref: the reference's RDR mode,
    TestReificationDoneRightEval rdr-05a — a query written in the EXPANDED
    reification vocabulary answers against a sid store): a variable ?stmt
    carrying rdf:subject/rdf:predicate/rdf:object scaffold patterns folds
    into an embedded-statement term replacing ?stmt in the metadata
    patterns' subject position. Applies ONLY when the store holds no
    rdf:subject triples (exact range counts) — a store with real expanded
    reification keeps matching it directly."""
    groups: dict = {}
    for sp in patterns:
        if (
            isinstance(sp, A.SP)
            and isinstance(sp.s, Var)
            and sp.p is not None
            and is_const(sp.p)
            and const_lex(sp.p) in _REIF_SCAFFOLD
        ):
            groups.setdefault(sp.s.name, {})[_REIF_SCAFFOLD[const_lex(sp.p)]] = sp.o
    if not groups:
        return patterns
    stats = store.stats()
    st = stats.get(_RDF_NS + "subject")
    if st is not None and st.count > 0:
        return patterns
    complete = {v: g for v, g in groups.items() if len(g) == 3}
    # a statement var used outside subject position can't be folded away
    for sp in patterns:
        if isinstance(sp, A.SP):
            for pos in (sp.p, sp.o, sp.g):
                if isinstance(pos, Var):
                    complete.pop(pos.name, None)
    if not complete:
        return patterns
    out = []
    for sp in patterns:
        if not isinstance(sp, A.SP):
            out.append(sp)
            continue
        if isinstance(sp.s, Var) and sp.s.name in complete:
            pred = const_lex(sp.p) if sp.p is not None and is_const(sp.p) else None
            if pred in _REIF_SCAFFOLD:
                continue  # folded into the Emb term
            if pred in (_RDF_NS + "type",) and is_const(sp.o) and const_lex(
                sp.o
            ) in (_RDF_NS + "Statement",):
                continue  # the rdf:type rdf:Statement marker
            g = complete[sp.s.name]
            out.append(A.SP(A.Emb(g["s"], g["p"], g["o"]), sp.p, sp.o, sp.g))
            continue
        out.append(sp)
    return out


def _compile_bgp(node: A.BGP, store: TripleStore) -> DataFrame:
    """Greedy selectivity-ordered join, broadcast for small inputs.

    Mirrors the reference's static join optimizer: seed with the most
    selective input, then repeatedly take the cheapest input that shares a
    variable with the bound set (cartesian only as a last resort). Inputs
    are star-fused scans (see _star_fuse) plus the remaining patterns.
    """
    patterns = list(node.patterns)
    if not patterns:
        # SPARQL: the empty group pattern has exactly ONE solution, the
        # empty solution — so `BIND`/`VALUES`-only groups work (ref:
        # GroupGraphPattern with no members evaluates to a unit solution).
        return store.spark.range(1).select()
    patterns = _rewrite_reif_scaffold(patterns, store)
    hints = getattr(node, "hints", None)
    # join-order hints only; "alp" keys parameterize the ALP service and
    # don't affect an ordinary BGP compile
    if hints and (hints.get("optimizer") or hints.get("run_first") or hints.get("run_last")):
        return _compile_bgp_hinted(patterns, hints, store)
    entries, leftover = _star_fuse(patterns, store)
    n_fused = len(entries)
    for i in leftover:
        sp = patterns[i]
        entries.append((_pattern_df(sp, store), _estimate(sp, store), _vars_of(sp)))
    ordered = _greedy_order(entries)
    # the build side of each join is the smaller input: later inputs under
    # the bound are broadcast against the running join, except that a seed
    # estimated smaller than the first input it joins is broadcast instead
    broadcast = [k > 0 and est <= BROADCAST_MAX_ROWS for k, (_df, est, _vs) in enumerate(ordered)]
    if len(ordered) > 1 and broadcast[1] and ordered[0][1] < ordered[1][1]:
        broadcast[:2] = [True, False]
    trace = store._trace
    if trace is not None:
        trace.append(
            {
                "op": "BGP",
                "n_patterns": len(patterns),
                "star_fused_scans": n_fused,
                "join_order": [
                    {
                        "vars": sorted(vs),
                        "est_rows": est,
                        "broadcast": bc,
                    }
                    for (_df, est, vs), bc in zip(ordered, broadcast)
                ],
                "id_join_vars": sorted(store.id_join_vars),
                "native_typed_vars": dict(
                    sorted(store.native_typed_vars.items())
                ),
            }
        )
    return _join_all([(df, bc) for (df, _est, _vs), bc in zip(ordered, broadcast)])


def _greedy_order(entries: list) -> list:
    """Seed with the most selective of ``entries`` [(df, est, vars)], then
    repeatedly take the cheapest input that shares a variable with the
    bound set (cartesian only as a last resort)."""
    entries = sorted(entries, key=lambda e: e[1])
    ordered = [entries.pop(0)]
    bound = set(ordered[0][2])
    while entries:
        joinable = [i for i, e in enumerate(entries) if e[2] & bound]
        ordered.append(entries.pop(joinable[0] if joinable else 0))
        bound |= ordered[-1][2]
    return ordered


def _join_all(inputs: list) -> DataFrame:
    """Natural-join ``inputs`` [(df, broadcast)] left to right, each flagged
    input under a broadcast hint."""
    out = None
    for df, bc in inputs:
        if bc:
            df = F.broadcast(df)
        if out is None:
            out = df
        else:
            shared = sorted(set(out.columns) & set(df.columns))
            out = out.join(df, on=shared) if shared else out.crossJoin(df)
    return out


# Runtime-optimizer measurement bound: a pattern's cardinality probe stops
# counting at this many rows — the probe cost is capped regardless of store
# size, mirroring the reference RTO's cutoff sampling (JGraph.java limits
# each sampled join path the same way).
RTO_SAMPLE_CAP = 100_000


def _measured_estimate(sp: A.SP, store: TripleStore) -> float:
    """Actual (capped) cardinality of one pattern's scan — the RTO's sample
    step. The count runs on the column-pruned virtual-index scan with
    constant filters pushed down, so it reads one predicate's column(s),
    not the store; the LIMIT keeps it bounded at 100 TB."""
    df = _pattern_df(sp, store)
    return float(df.limit(RTO_SAMPLE_CAP + 1).count())


# Join-path sampling bounds (ref JGraph: limited cutoff sampling per edge of
# the join graph): each pairwise probe joins a bounded head-sample of each
# side; path sampling only runs for graphs small enough that the probe cost
# (≤ k·(k-1)/2 bounded join jobs) stays trivially driver-bounded.
RTO_PAIR_SAMPLE = 2_000
RTO_MAX_SAMPLED_PATTERNS = 8
# How many of the best-estimated candidate extensions get an ACTUAL
# prefix-join probe per greedy step (JGraph evaluates every one-step path
# extension with a cutoff sample; probing only the top few keeps planning
# to O(k·probes) bounded jobs while still catching correlated predicates
# the edge-selectivity product misses).
RTO_EXT_PROBES = 3


def _sampled_pair_rows(dfa: DataFrame, dfb: DataFrame) -> float | None:
    """Cutoff-sampled output size of one join-graph edge (JGraph's edge
    sample): join a bounded head-sample of each side on their shared
    columns. None when the pair shares no variable (no edge)."""
    shared = sorted(set(dfa.columns) & set(dfb.columns))
    if not shared:
        return None
    sa, sb = dfa.limit(RTO_PAIR_SAMPLE), dfb.limit(RTO_PAIR_SAMPLE)
    return float(sa.join(sb, on=shared).limit(RTO_SAMPLE_CAP + 1).count())


def _rto_order(entries: list, trace: list | None) -> list:
    """Selinger-lite greedy over SAMPLED join selectivities (the runtime
    query optimizer's core; ref: bop/joinGraph/rto/JGraph.java — the
    reference samples join paths with cutoffs and picks the cheapest
    expansion; we sample each edge once and expand greedily by estimated
    intermediate cardinality).

    ``entries``: [(df, measured_card, vars)]. Returns the reordered list.
    """
    k = len(entries)
    # edge selectivities from bounded pairwise probes
    sel: dict[tuple[int, int], float] = {}
    for i in range(k):
        for j in range(i + 1, k):
            out = _sampled_pair_rows(entries[i][0], entries[j][0])
            if out is None:
                continue
            na = max(min(entries[i][1], RTO_PAIR_SAMPLE), 1.0)
            nb = max(min(entries[j][1], RTO_PAIR_SAMPLE), 1.0)
            # zero sampled matches still means "very selective", not
            # impossible — clamp to one-match-in-the-sample
            sel[(i, j)] = max(out, 1.0) / (na * nb)
    start = min(range(k), key=lambda i: entries[i][1])
    chosen, remaining = [start], [i for i in range(k) if i != start]
    cur_est = entries[start][1]
    prefix_df = entries[start][0]
    est_path = [cur_est]
    ext_trace: list = []
    while remaining:
        ests: list[tuple[float, int, bool]] = []  # (est, idx, has_edge)
        for idx in remaining:
            edges = [
                sel[tuple(sorted((idx, c)))]
                for c in chosen
                if tuple(sorted((idx, c))) in sel
            ]
            if edges:
                # most selective sampled edge bounds the join output
                est = cur_est * entries[idx][1] * min(edges)
            else:
                est = cur_est * entries[idx][1]  # cartesian: maximally costly
            ests.append((est, idx, bool(edges)))
        ests.sort()
        # longer-prefix probes (JGraph's path evaluation proper: sample the
        # ACTUAL prefix⋈candidate output, not just the edge product — a
        # correlated filter can make the true extension orders of magnitude
        # off the pairwise estimate). Probe the top few edge-connected
        # candidates against the materialized prefix sample; cartesian
        # candidates keep their penalty estimate.
        probed: list[tuple[float, int]] = []
        psample = prefix_df.limit(RTO_PAIR_SAMPLE)
        for est, idx, has_edge in ests[:RTO_EXT_PROBES]:
            if not has_edge or len(remaining) <= 1:
                continue
            shared = sorted(set(prefix_df.columns) & set(entries[idx][0].columns))
            rows = float(
                psample.join(entries[idx][0].limit(RTO_PAIR_SAMPLE), on=shared)
                .limit(RTO_SAMPLE_CAP + 1)
                .count()
            )
            probed.append((rows, idx))
        if probed:
            probed.sort()
            best = probed[0][1]
            best_est = next(e for e, i, _ in ests if i == best)
            ext_trace.append({str(i): r for r, i in probed})
        else:
            best_est, best, _ = ests[0]
        chosen.append(best)
        remaining.remove(best)
        # measured-prefix refinement (the RTO's path evaluation: JGraph
        # expands the chosen path and SAMPLES its actual cardinality with a
        # cutoff rather than trusting the cascaded estimate): one bounded
        # count of the real prefix join feeds the next expansion decision
        bd = entries[best][0]
        shared = sorted(set(prefix_df.columns) & set(bd.columns))
        prefix_df = prefix_df.join(bd, on=shared) if shared else prefix_df.crossJoin(bd)
        if remaining:  # the last prefix is the full query: never pre-run it
            # materialize the CUTOFF SAMPLE of the prefix (JGraph keeps
            # exactly this bounded sample per path) so each step adds ONE
            # join to a materialized sample instead of re-running the whole
            # accumulated prefix — O(k) planning joins, not O(k^2)
            prefix_df = prefix_df.limit(RTO_SAMPLE_CAP + 1).localCheckpoint(eager=True)
            cur_est = float(prefix_df.count())
        else:
            cur_est = best_est
        est_path.append(cur_est)
    if trace is not None:
        trace.append(
            {
                "op": "RTO",
                "sampled_edges": {
                    f"{i}-{j}": round(s, 9) for (i, j), s in sorted(sel.items())
                },
                "order": chosen,
                "measured_prefix_path": [round(e, 1) for e in est_path],
                "ext_probe_rows": ext_trace,
            }
        )
    return [entries[i] for i in chosen]


def _compile_bgp_hinted(patterns: list, hints: dict, store: TripleStore) -> DataFrame:
    """Query-hint-directed BGP join (ref: ASTQueryHintOptimizer — hints
    override the static optimizer): runFirst patterns lead, runLast
    trail, everything else keeps written order (which is exactly
    `hint:optimizer "None"` when no run hints are set). Broadcast of
    small inputs still applies — that is a physical choice, not a join
    order.

    ``hint:optimizer "Runtime"`` instead orders by RUNTIME measurement —
    the analog of the reference's runtime query optimizer (ref:
    bop/joinGraph/rto/JGraph.java): one bounded count per pattern over the
    column-pruned scan, then (for join graphs of ≤ RTO_MAX_SAMPLED_PATTERNS
    patterns) one bounded join probe per join-graph edge, feeding a
    Selinger-lite greedy expansion over the sampled selectivities. Larger
    graphs keep the measured-cardinality greedy (probe cost stays linear)."""
    if hints.get("optimizer") == "Runtime":
        entries = [
            (_pattern_df(sp, store), _measured_estimate(sp, store), _vars_of(sp))
            for sp in patterns
        ]
        trace = store._trace
        if len(entries) <= RTO_MAX_SAMPLED_PATTERNS and len(entries) > 2:
            ordered = _rto_order(entries, trace)
        else:
            ordered = _greedy_order(entries)
        # a probe that hit the cap means "at least cap+1 rows" — only
        # exactly-measured small inputs qualify for broadcast
        return _join_all(
            [(df, k > 0 and est <= RTO_SAMPLE_CAP) for k, (df, est, _) in enumerate(ordered)]
        )
    rf = hints.get("run_first") or frozenset()
    rl = hints.get("run_last") or frozenset()
    order = sorted(
        range(len(patterns)),
        key=lambda i: (0 if i in rf else (2 if i in rl else 1), i),
    )
    inputs = []
    for k, i in enumerate(order):
        df, est = _pattern_df(patterns[i], store), _estimate(patterns[i], store)
        inputs.append((df, k > 0 and est <= BROADCAST_MAX_ROWS))
    return _join_all(inputs)


# ---------------------------------------------------------------- dispatch --
@singledispatch
def _compile(node, store: TripleStore) -> DataFrame:
    raise TypeError(f"cannot compile {type(node).__name__}")


@_compile.register
def _(node: A.SP, store: TripleStore) -> DataFrame:
    return _pattern_df(node, store)


@_compile.register
def _(node: A.BGP, store: TripleStore) -> DataFrame:
    conjuncts = _flatten_join(node)
    if conjuncts[0] is not node:  # an inline group lifted as a SERVICE call
        return _fold_readers(store, conjuncts)
    groups, rest = service.split_magic(node.patterns)
    if not groups:
        return _compile_bgp(node, store)
    # Inline magic-predicate groups (bds:search, geo:search with constant
    # params) are the same service calls as the SERVICE form; each joins
    # the rest of the BGP on its shared vars
    out = _compile_bgp(A.BGP(rest, hints=node.hints), store) if rest else None
    idv = store.id_join_vars
    for iri, pats in groups:
        hits = _compile(A.Service(iri, A.BGP(pats)), store)
        for c in list(hits.columns):
            # pure-join vars ride shuffles as 128-bit term ids — the
            # service output must offer the same companion the rest of the
            # BGP joins on
            if c in idv:
                hits = hits.withColumn(f"{c}__id", term_id(F.col(c)))
        if out is None:
            out = hits
        else:
            shared = sorted(set(out.columns) & set(hits.columns))
            out = out.join(hits, on=shared) if shared else out.crossJoin(hits)
    return out


def _flatten_join(n) -> list:
    """A join's conjuncts. An inline magic group that reads the incoming
    solutions (a geo:search with variable params) is lifted out of its BGP
    as the SERVICE call it stands for, so it folds in like the SERVICE
    form (ref: ASTGeoSpatialOptimizer lifts inline groups into service
    calls)."""
    if isinstance(n, A.Join):
        return _flatten_join(n.left) + _flatten_join(n.right)
    if isinstance(n, A.BGP):
        calls = [A.Service(iri, A.BGP(pats)) for iri, pats in service.split_magic(n.patterns)[0]]
        lifted = [c for c in calls if service.reads_solutions(c)]
        if lifted:
            gone = {id(sp) for c in lifted for sp in c.pattern.patterns}
            keep = [sp for sp in n.patterns if id(sp) not in gone]
            return ([A.BGP(keep, hints=n.hints)] if keep else []) + lifted
    return [n]


@_compile.register
def _(node: A.Join, store: TripleStore) -> DataFrame:
    conjuncts = _flatten_join(node)
    if any(service.reads_solutions(c) for c in conjuncts):
        return _fold_readers(store, conjuncts)
    l, r = _compile(node.left, store), _compile(node.right, store)
    shared = sorted(set(l.columns) & set(r.columns))
    if not shared:
        return l.crossJoin(r)
    if _may_bind_unbound(node.left) or _may_bind_unbound(node.right):
        # SPARQL solution compatibility: an UNBOUND shared var (e.g. out of
        # a `{} UNION`, OPTIONAL, or VALUES UNDEF arm) is compatible with
        # ANY binding; the bound side's value survives. Only the statically
        # may-be-unbound shapes take this theta join — definite patterns
        # keep the fast shuffle equi-join.
        r2 = r
        for v in shared:
            r2 = r2.withColumnRenamed(v, f"__j_{v}")
        cond = None
        for v in shared:
            c = l[v].isNull() | F.col(f"__j_{v}").isNull() | (l[v] == F.col(f"__j_{v}"))
            cond = c if cond is None else (cond & c)
        if isinstance(node.right, A.Values) and node.right.child is None:
            # statically-known tiny side: BroadcastNestedLoop beats a
            # CartesianProduct's n_left x n_right task explosion (r8)
            r2 = F.broadcast(r2)
        elif isinstance(node.left, A.Values) and node.left.child is None:
            l = F.broadcast(l)
        out = l.join(r2, on=cond)
        for v in shared:
            out = out.withColumn(v, F.coalesce(l[v], F.col(f"__j_{v}")))
        return out.drop(*[f"__j_{v}" for v in shared])
    return l.join(r, on=shared)


def _fold_readers(store: TripleStore, conjuncts: list, rows=None) -> DataFrame:
    """A conjunction whose SERVICE conjuncts read the incoming solutions
    (``service.reads_solutions``): the other conjuncts — and a VALUES
    block's ``rows``, the usual way to bind an endpoint — compile first
    through the normal join path, so null-compatible joins keep their
    semantics; then each such service folds in over their solutions (the
    unit solution when there are none). Join is associative and
    commutative, so a binding may sit anywhere in the conjunction."""
    readers = [c for c in conjuncts if service.reads_solutions(c)]
    others = [c for c in conjuncts if not service.reads_solutions(c)]
    rest = reduce(A.Join, others) if others else None
    if rows is not None:
        ldf = _compile(A.Values(rows, child=rest), store)
    elif rest is not None:
        ldf = _compile(rest, store)
    else:
        ldf = store.spark.range(1).drop("id")

    def ready(svc) -> bool:
        names = service.binding_vars(svc)
        return bool(names) and set(names) <= set(ldf.columns)

    while readers:
        # a service whose vars are bound goes first (one may bind another's
        # param); one that takes the solutions whole (the label service)
        # sees every other service's bindings
        svc = next((r for r in readers if ready(r)), readers[0])
        readers = [r for r in readers if r is not svc]
        ldf = _fold_service(store, ldf, svc)
    idv = store.id_join_vars
    for c in list(ldf.columns):
        if c in idv and f"{c}__id" not in ldf.columns:
            ldf = ldf.withColumn(f"{c}__id", term_id(F.col(c)))
    return ldf


# endpoint sets are inherently small (they're SERVICES, not data); the cap
# keeps a mis-bound variable (e.g. joined to a data column) from fanning
# out into thousands of service calls
SERVICE_VAR_MAX_ENDPOINTS = 64


def _fold_service(store: TripleStore, ldf: DataFrame, svc: "A.Service") -> DataFrame:
    """Fold one SERVICE that reads the solutions ``ldf`` into them. A
    service without ``binding_vars`` (the label service) takes them whole.
    Otherwise collect the distinct bindings of those vars — at most
    SERVICE_VAR_MAX_ENDPOINTS, since they enumerate query-level
    configuration (endpoints, a handful of centers), never data-sized sets
    — call the service once per binding, tag each result with it, and
    natural-join the union back (ref: ServiceCallJoin's as-bound
    serviceRef grouping). Solutions leaving a var unbound are pruned (ref:
    ServiceCallJoin drops binding sets without a serviceRef)."""
    names = service.binding_vars(svc)
    if not names:
        return _call_service(store, svc, ldf)
    missing = [v for v in names if v not in ldf.columns]
    if missing:
        raise ValueError(
            f"SERVICE <{svc.iri}>: no sibling pattern binds "
            f"{', '.join('?' + v for v in missing)} (a variable endpoint or "
            "service parameter must be bound by the enclosing group, e.g. via VALUES)"
        )
    bound = reduce(lambda a, b: a & b, [F.col(v).isNotNull() for v in names])
    rows = (
        ldf.select(*names).filter(bound).distinct()
        .limit(SERVICE_VAR_MAX_ENDPOINTS + 1).collect()
    )
    if len(rows) > SERVICE_VAR_MAX_ENDPOINTS:
        raise ValueError(
            f"SERVICE <{svc.iri}>: more than {SERVICE_VAR_MAX_ENDPOINTS} distinct "
            f"bindings of {names} — is each really a service ref or parameter?"
        )
    parts = []
    for r in rows:
        binding = r.asDict()
        res = _compile(service.bind(svc, binding), store)
        for v, val in binding.items():
            # a block that itself binds the var join-filters on it —
            # overwriting would keep (and mislabel) rows that differ
            res = (
                res.filter(F.col(v) == F.lit(val)) if v in res.columns
                else res.withColumn(v, F.lit(val))
            )
        parts.append(res)
    if not parts:
        # nothing bound → no output. Keep the block's variable columns so
        # outer projections over them still resolve on the empty frame.
        out = ldf.limit(0)
        for name in sorted(_all_sp_vars(svc.pattern) - set(out.columns)):
            out = out.withColumn(name, F.lit(None).cast("string"))
        return out
    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    shared = sorted(set(ldf.columns) & set(out.columns))
    return ldf.join(out, on=shared)


def _definite_vars(n) -> set[str]:
    """Vars bound in EVERY solution a node yields (static, conservative).
    Drives the join-strategy choice below: a shared var that is definitely
    bound on both sides joins with a plain equality (hash join); one that
    can be NULL needs SPARQL compatibility (unbound matches anything,
    merged value = coalesce). Being conservative only costs the fallback
    path, never correctness."""
    if n is None:
        return set()
    if isinstance(n, (A.SP, A.Emb)):
        out = {p.name for p in (n.s, n.p, n.o) if isinstance(p, Var)}
        g = getattr(n, "g", None)
        if isinstance(g, Var):
            out.add(g.name)
        return out
    if isinstance(n, A.BGP):
        return set().union(*(_definite_vars(p) for p in n.patterns)) if n.patterns else set()
    if isinstance(n, A.PathPattern):
        out = {p.name for p in (n.s, n.o) if isinstance(p, Var)}
        if isinstance(n.g, Var):
            out.add(n.g.name)
        return out
    if isinstance(n, A.Join):
        return _definite_vars(n.left) | _definite_vars(n.right)
    if isinstance(n, A.LeftJoin):
        return _definite_vars(n.left)  # right side may be all-unbound
    if isinstance(n, A.Union2):
        return _definite_vars(n.left) & _definite_vars(n.right)
    if isinstance(n, A.Minus):
        return _definite_vars(n.left)
    if isinstance(n, (A.Filter, A.Distinct, A.OrderBy, A.Slice, A.Exists)):
        return _definite_vars(n.child)
    if isinstance(n, A.Project):
        return _definite_vars(n.child) & set(n.vars)
    if isinstance(n, A.Extend):
        return _definite_vars(n.child)  # the bound expr may error -> unbound
    if isinstance(n, A.Values):
        keys = None
        for row in n.rows:
            bound = {k for k, v in row.items() if v is not None}
            keys = bound if keys is None else (keys & bound)
        keys = keys or set()
        return keys | _definite_vars(n.child) if n.child is not None else keys
    if isinstance(n, A.Group):
        return {k for k in n.keys if isinstance(k, str)}
    if isinstance(n, A.GraphScope):
        out = _definite_vars(n.child)
        if isinstance(n.g, Var):
            out.add(n.g.name)
        return out
    child = getattr(n, "child", None)
    if child is not None and hasattr(child, "__dataclass_fields__"):
        return _definite_vars(child)
    return set()


@_compile.register
def _(node: A.LeftJoin, store: TripleStore) -> DataFrame:
    if (
        node.condition is None
        and service.reads_solutions(node.right)
        and not service.binding_vars(node.right)
    ):
        # OPTIONAL { SERVICE wikibase:label {...} } — a common Wikidata
        # idiom: a service that takes the LEFT solutions whole only ever
        # adds columns, never removes rows, so the left join is exactly
        # that fold
        return _fold_service(store, _compile(node.left, store), node.right)
    l, r = _compile(node.left, store), _compile(node.right, store)
    shared = sorted(set(l.columns) & set(r.columns))
    if not shared and node.condition is None:
        # degenerate OPTIONAL: a LEFT join on TRUE, not a crossJoin — the
        # left rows must survive an EMPTY right side with the right's vars
        # unbound (ticket_933a: OPTIONAL over a group the ConditionalBind
        # emptied still yields the unit row)
        return l.join(r, on=F.lit(True), how="left")
    # Rename shared vars on the right; the join condition equates them, so a
    # condition written against the original names resolves to the left copy.
    # A shared var the LEFT may leave NULL takes SPARQL compatibility
    # semantics instead of equality (unbound matches anything; the merged
    # solution takes the right's value — ticket_1071 fixtures): the plan
    # cost is real (the OR disables the hash join), so the static
    # definitely-bound analysis keeps every always-bound var on the
    # equi-join fast path.
    l_def = _definite_vars(node.left)
    r_def = _definite_vars(node.right)
    r2 = r
    for v in shared:
        r2 = r2.withColumnRenamed(v, f"__r_{v}")
    cond = None
    merged = []
    for v in shared:
        c = l[v] == r2[f"__r_{v}"]
        if v not in l_def:
            c = l[v].isNull() | c
            merged.append(v)
        if v not in r_def:
            c = c | r2[f"__r_{v}"].isNull()
            merged.append(v)
        cond = c if cond is None else (cond & c)
    if node.condition is not None:
        cond = node.condition if cond is None else (cond & node.condition)
    try:
        out = l.join(r2, on=cond, how="left")
    except AnalysisException as e:
        # Bottom-up semantics: a LeftJoin condition referencing a variable
        # that can never be bound in scope (e.g. an outer-group var inside
        # a nested OPTIONAL's filter — the DAWG filter-scope tests) errors
        # for every row pair, so no pair joins: every left row survives
        # with the right side unbound.
        if "UNRESOLVED_COLUMN" in str(e) and "`__r_" not in str(e).split("SQLSTATE")[0]:
            out = l.join(r2, on=F.lit(False), how="left")
        else:
            raise
    for v in set(merged):
        out = out.withColumn(v, F.coalesce(F.col(v), F.col(f"__r_{v}")))
    return out.drop(*[f"__r_{v}" for v in shared])


@_compile.register
def _(node: A.Union2, store: TripleStore) -> DataFrame:
    l, r = _compile(node.left, store), _compile(node.right, store)
    return l.unionByName(r, allowMissingColumns=True)


@_compile.register
def _(node: A.Minus, store: TripleStore) -> DataFrame:
    l, r = _compile(node.left, store), _compile(node.right, store)
    shared = sorted(set(l.columns) & set(r.columns))
    if not shared:
        return l  # SPARQL MINUS with disjoint domains removes nothing
    if all(v in _definite_vars(node.left) and v in _definite_vars(node.right) for v in shared):
        # every shared var bound on both sides: plain hash anti-join
        return l.join(r.select(*shared).distinct(), on=shared, how="left_anti")
    # PER-ROW domain semantics (§18.5 Minus; ticket_bg852a): μ1 is removed
    # when some μ2 agrees on every shared var EITHER binds (compatibility)
    # AND they share at least one BOUND-on-both var (disjoint-domain pairs
    # remove nothing). Unbound-able shared vars force the general condition.
    rs = r.select(*shared).distinct()
    r2 = rs
    for v in shared:
        r2 = r2.withColumnRenamed(v, f"__m_{v}")
    compat, overlap = None, None
    for v in shared:
        c = F.col(v).isNull() | F.col(f"__m_{v}").isNull() | (F.col(v) == F.col(f"__m_{v}"))
        compat = c if compat is None else (compat & c)
        o = F.col(v).isNotNull() & F.col(f"__m_{v}").isNotNull()
        overlap = o if overlap is None else (overlap | o)
    return l.join(r2, on=compat & overlap, how="left_anti")


@_compile.register
def _(node: A.Filter, store: TripleStore) -> DataFrame:
    child = _compile(node.child, store)
    try:
        return child.filter(node.condition)
    except AnalysisException as e:
        # Bottom-up semantics (ref: ast/optimizers/ASTBottomUpOptimizer.java):
        # a FILTER referencing a variable that is not bound anywhere in its
        # group's scope — e.g. { ?s <p> ?v . { FILTER(?v > 0) } } — sees that
        # variable as UNBOUND for every solution. Spark surfaces the
        # never-in-scope case as an unresolved column; substitute NULL for
        # it and re-apply: comparisons then yield NULL (row dropped, the
        # spec's type error) while BOUND()/COALESCE see the unbound var
        # correctly (fixture bindingsAndBottomUp03a: FILTER(!bound(?s))
        # inside a group that can never bind ?s keeps every row). Internal
        # (__-prefixed) columns are compiler plumbing, never user variables
        # — re-raise those so a genuine compiler bug stays loud.
        if "UNRESOLVED_COLUMN" in str(e) and "`__" not in str(e).split("SQLSTATE")[0]:
            padded, added = _pad_unresolved(child, node.condition, e)
            if padded is not None:
                return padded.filter(node.condition).drop(*added)
        raise


def _pad_unresolved(child: DataFrame, expr, first_err) -> tuple:
    """Resolve an expression over columns Spark reports as UNRESOLVED by
    adding them as NULL string columns (the SPARQL reading: a variable no
    sibling can bind is unbound in every solution). Returns (padded_df,
    added_names) or (None, ()) when the unresolved name is internal or
    nothing converges within the bound."""
    import re as _re

    rx = _re.compile(r"name `([^`]+)` cannot be resolved")
    df, added, err = child, [], first_err
    for _ in range(8):
        m = rx.search(str(err).split("SQLSTATE")[0])
        if not m or m.group(1).startswith("__") or m.group(1) in df.columns:
            return None, ()
        name = m.group(1)
        df = df.withColumn(name, F.lit(None).cast("string"))
        added.append(name)
        try:
            df.select(expr)  # analysis probe: any more missing columns?
            return df, added
        except AnalysisException as nxt:
            if "UNRESOLVED_COLUMN" not in str(nxt):
                return None, ()
            err = nxt
    return None, ()


@_compile.register
def _(node: A.Extend, store: TripleStore) -> DataFrame:
    child = _compile(node.child, store)
    try:
        if getattr(node, "conditional", False) and node.var in child.columns:
            return _conditional_bind(
                child, node.var, node.expr,
                arith_lexical=getattr(node, "arith_lexical", False),
            )
        return child.withColumn(node.var, node.expr)
    except AnalysisException as e:
        # Bottom-up semantics: BIND over a never-in-scope variable sees it
        # as NULL — the expression evaluates with the unbound var (BOUND ->
        # false, comparisons -> NULL = the target stays unbound), same
        # substitution discipline as A.Filter above.
        if "UNRESOLVED_COLUMN" in str(e) and "`__" not in str(e).split("SQLSTATE")[0]:
            padded, added = _pad_unresolved(child, node.expr, e)
            if padded is not None:
                return padded.withColumn(node.var, node.expr).drop(*added)
            return child.withColumn(node.var, F.lit(None).cast("string"))
        raise


def _conditional_bind(
    child: DataFrame, var: str, expr, arith_lexical: bool = False
) -> DataFrame:
    """ConditionalBind (ref: internal/constraints/ConditionalBind.java:160 —
    `return (val.equals(existing)) ? val : null`, the null failing the
    solution through BindingConstraint): BIND onto an already-in-scope var
    binds where UNBOUND and otherwise acts as an EQUALITY CONSTRAINT —
    solutions whose existing binding differs from (or is incomparable
    with) the value are dropped. Spec-illegal input (SPARQL §10.1 calls
    re-binding a syntax error), so no spec-compliant query takes this
    path; fixtures ticket-1007-* / bindingsWithSubquery03b/05 pin it.

    Equality is TYPED when the var carries a `__dt` companion (same
    open-world rules as _typed_eq: resources and lang-tagged literals are
    decidable, numerics compare by value, plain-vs-typed is a type error →
    drop); lexical otherwise (the engine's documented default)."""
    existing = F.col(var)
    vs = expr.cast("string")
    if f"{var}__dt" in child.columns:
        adt = F.coalesce(F.col(f"{var}__dt"), F.lit("string"))
        vt = child.select(expr.alias("__v")).schema[0].dataType.simpleString()
        is_res = adt.isin("iri", "bnode", "sid")
        is_lang = adt.startswith("lang:")
        err = F.lit(None).cast("boolean")

        if vt == "string" and arith_lexical:
            # a typed-arithmetic expression is numeric-VALUED despite its
            # string column type (r8): keep the pre-round numeric-value
            # ConditionalBind semantics for re-binding an arith result
            # (flag carried on the Extend node — per-query, no global
            # repr-keyed registry; r8 VERDICT)
            from blazegraph_database_spark.functions.sparql_funcs import NUM_TAG

            an, en = existing.try_cast("double"), expr.try_cast("double")
            eq = (
                F.when(is_res | is_lang, F.lit(False))
                .when(NUM_TAG(adt) & an.isNotNull() & en.isNotNull(), an == en)
                .otherwise(err)
            )
        elif vt in ("int", "bigint", "smallint", "tinyint"):
            # INTEGER-class constant: ConditionalBind equality is IV
            # ``equals`` — class-sensitive (ticket-1007-number1: BIND(10)
            # keeps "10"^^xsd:integer but NOT "10"^^xsd:int or
            # "10.0"^^xsd:double, which are different IV classes)
            an = existing.try_cast("double")
            eq = (
                F.when(is_res | is_lang, F.lit(False))
                .when(
                    (adt == "long") & an.isNotNull(), an == expr.cast("double")
                )
                .otherwise(err)  # other class / plain / invalid: drop
            )
        elif vt in ("double", "float", "decimal") or vt.startswith("decimal"):
            an = existing.try_cast("double")
            eq = (
                F.when(is_res | is_lang, F.lit(False))
                .when(
                    adt.isin("long", "double", "decimal") & an.isNotNull(),
                    an == expr.cast("double"),
                )
                .otherwise(err)  # plain/unknown/invalid vs numeric: type error
            )
        elif vt == "boolean":
            eq = (
                F.when(adt == "boolean", existing == vs)
                .when(is_res | is_lang, F.lit(False))
                .otherwise(err)
            )
        else:  # string-valued expression (plain literal or IRI-producing)
            eq = (
                F.when(is_res | is_lang, F.lit(False))
                .when(adt == "string", existing == vs)
                .otherwise(err)  # typed/unknown vs plain: type error
            )
    else:
        eq = existing == vs
    keep = existing.isNull() | eq
    return child.filter(keep).withColumn(var, F.coalesce(existing, vs))


@_compile.register
def _(node: A.Values, store: TripleStore) -> DataFrame:
    """VALUES / inline bindings. UNDEF (None) is compatible with ANY binding
    per SPARQL, but a NULL in a Spark equi-join matches nothing — so rows are
    grouped by their bound-column pattern and each group joins only on the
    columns it actually binds (ADVICE round 1, medium)."""
    from collections import defaultdict

    spark = store.spark
    cols = sorted({k for row in node.rows for k in row})
    if node.child is not None:
        # SERVICEs on the child's join spine that read the solutions see
        # these inline bindings too (a VALUES clause is the usual way to
        # bind an endpoint or a service parameter)
        spine = _flatten_join(node.child)
        if any(service.reads_solutions(c) for c in spine):
            return _fold_readers(store, spine, rows=node.rows)
    if node.child is None:
        data = [tuple(row.get(c) for c in cols) for row in node.rows]
        return spark.createDataFrame(data, schema=", ".join(f"{c} string" for c in cols))
    child = _compile(node.child, store)
    groups: dict[tuple, list] = defaultdict(list)
    for row in node.rows:
        groups[tuple(c for c in cols if row.get(c) is not None)].append(row)
    outs = []
    for bound, rows_ in groups.items():
        # keep bound columns (join keys / new bindings) and UNDEF columns the
        # child doesn't bind (stay NULL = unbound); drop UNDEF columns the
        # child binds — the child's value survives, as UNDEF is a wildcard
        keep = [c for c in cols if c in bound or c not in child.columns]
        if not keep:  # every VALUES var is UNDEF and child-bound: wildcard rows
            outs.extend([child] * len(rows_))
            continue
        data = [tuple(r.get(c) for c in keep) for r in rows_]
        vdf = spark.createDataFrame(data, schema=", ".join(f"{c} string" for c in keep))
        join_cols = sorted(set(child.columns) & set(bound))
        if join_cols:
            # SPARQL solution compatibility: a child row whose shared var is
            # UNBOUND (NULL — e.g. out of an OPTIONAL) is compatible with
            # ANY binding, and the VALUES value fills it in. A plain
            # equi-join would drop such rows, so join on
            # (child IS NULL OR child = value) and coalesce the output —
            # the VALUES side is a broadcast handful of rows, so the
            # non-equi condition stays a cheap broadcast join.
            vren = vdf.select([F.col(c).alias(f"__v_{c}") for c in keep])
            cond = None
            for c in join_cols:
                cc = child[c].isNull() | (child[c] == F.col(f"__v_{c}"))
                cond = cc if cond is None else (cond & cc)
            j = child.join(F.broadcast(vren), cond)
            sel = [
                F.coalesce(child[c], F.col(f"__v_{c}")).alias(c)
                if c in join_cols
                else child[c]
                for c in child.columns
            ]
            sel += [F.col(f"__v_{c}").alias(c) for c in keep if c not in child.columns]
            outs.append(j.select(*sel))
        else:
            outs.append(child.crossJoin(F.broadcast(vdf)))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o, allowMissingColumns=True)
    return out


@_compile.register
def _(node: A.SidBind, store: TripleStore) -> DataFrame:
    """BIND(<<s p o>> AS ?sid): one statement-index scan binding the inner
    vars plus the sid; joins the sibling solutions on any shared vars (the
    RDR BIND access path — the sid then equi-joins metadata patterns by its
    deterministic encoding)."""
    inner = _sid_inner_df(node.emb, store, node.var)
    child = _compile(node.child, store)
    shared = sorted(set(child.columns) & set(inner.columns))
    return child.join(inner, on=shared) if shared else child.crossJoin(inner)


@_compile.register
def _(node: A.Exists, store: TripleStore) -> DataFrame:
    child = _compile(node.child, store)
    how = "left_anti" if node.negate else "left_semi"
    # SPARQL substitution semantics: a FILTER inside the EXISTS pattern may
    # reference OUTER variables (the W3C exists-06 shape `FILTER NOT EXISTS
    # { ?a :q ?m . FILTER(?n = ?m) }`). Such filters can't evaluate inside
    # the pattern (the var is unbound there) — hoist them into the
    # semi/anti-join condition, where both sides are in scope (the
    # reference evaluates EXISTS as an ask-subquery over the INCOMING
    # solution; ref: ExistsNode.java).
    pattern, hoisted = node.pattern, []
    while isinstance(pattern, A.Filter) and pattern.refs:
        from blazegraph_database_spark.plans.sparql_parser import _maybe_bound

        outer = set(pattern.refs) - _maybe_bound(pattern.child)
        if outer and outer <= set(child.columns):
            hoisted.append(pattern.condition)
            pattern = pattern.child
            continue
        break
    sub = _compile(pattern, store)
    shared = sorted(set(child.columns) & set(sub.columns))
    c_def = _definite_vars(node.child)
    nullable = [v for v in shared if v not in c_def]
    if not hoisted and not nullable:
        if not shared:
            # uncorrelated [NOT] EXISTS: a pure boolean gate — keep every
            # child row iff the pattern has any solution (none, under NOT).
            # A true-condition semi/anti join against a one-row probe stays
            # distributed (no driver count).
            probe = sub.limit(1).select(F.lit(1).alias("__probe"))
            return child.join(probe, F.lit(True), how=how)
        return child.join(sub.select(*shared).distinct(), on=shared, how=how)
    sub2 = sub
    for v in shared:
        sub2 = sub2.withColumnRenamed(v, f"__r_{v}")
    cond = None
    for v in shared:
        c = child[v] == F.col(f"__r_{v}")
        if v in nullable:
            # substitution semantics with an UNBOUND outer var: the
            # substituted pattern leaves it free, so it matches anything
            # (ticket_blzg_1284: NOT EXISTS over an OPTIONAL-bound var)
            c = child[v].isNull() | c
        cond = c if cond is None else cond & c
    for h in hoisted:
        cond = h if cond is None else cond & h
    try:
        return child.join(sub2, on=cond, how=how)
    except AnalysisException as e:
        # a hoisted condition referencing a var bound on NEITHER side is a
        # per-row type error: EXISTS never matches (bottom-up discipline,
        # same guard as A.Filter)
        if "UNRESOLVED_COLUMN" in str(e) and "`__" not in str(e).split("SQLSTATE")[0]:
            return child.join(sub2.limit(1), on=F.lit(False), how=how)
        raise


def _may_bind_unbound(node) -> bool:
    """Static walk: can this algebra subtree produce UNBOUND (NULL) values
    in its binding columns? True when an OPTIONAL (LeftJoin), UNION with
    asymmetric arms, or VALUES-with-UNDEF sits anywhere inside —
    conservative, purely structural, no Spark job."""
    import dataclasses

    # Extend: BIND expressions can yield NULL (failed casts, IF branches);
    # Service: remote solutions may omit vars (review r5-2)
    if isinstance(node, A.Values):
        # a VALUES block introduces UNBOUND only through UNDEF cells or a
        # row omitting a var — the ubiquitous all-bound inline-bindings
        # case (federation pushdown, driver VALUES) keeps the fast
        # equi-join instead of the cartesian compatibility join (r8)
        vs = {v for row in node.rows for v in row}
        if any(row.get(v) is None for row in node.rows for v in vs):
            return True
        # fall through to the generic child walk below
    elif isinstance(node, (A.LeftJoin, A.Union2, A.Extend)):
        return True
    if node.__class__.__name__ == "Service":
        return True
    if dataclasses.is_dataclass(node):
        for f in dataclasses.fields(node):
            v = getattr(node, f.name)
            for item in v.values() if isinstance(v, dict) else (v if isinstance(v, (list, tuple)) else (v,)):
                if dataclasses.is_dataclass(item) and _may_bind_unbound(item):
                    return True
    return False


@_compile.register
def _(node: A.ExistsFlag, store: TripleStore) -> DataFrame:
    """EXISTS as a value expression: bind node.var as a boolean column via a
    left join against the distinct shared-var solutions (the reference's
    ask-subquery solution flag; ref: ExistsNode.java). Uncorrelated blocks
    reduce to one broadcast scalar.

    SPARQL solution compatibility treats UNBOUND as compatible with any
    binding (ADVICE r4: the pure equi-join made NULL shared vars never
    match). When the static walk says the child can bind NULLs, the join
    falls back to a null-tolerant condition re-aggregated per input row;
    otherwise the fast equi path stands."""
    child = _compile(node.child, store)
    # outer-correlated inner FILTERs hoist into the join condition — same
    # substitution semantics as the A.Exists compile above
    pattern, hoisted = node.pattern, []
    while isinstance(pattern, A.Filter) and pattern.refs:
        from blazegraph_database_spark.plans.sparql_parser import _maybe_bound

        outer = set(pattern.refs) - _maybe_bound(pattern.child)
        if outer and outer <= set(child.columns):
            hoisted.append(pattern.condition)
            pattern = pattern.child
            continue
        break
    sub = _compile(pattern, store)
    shared = sorted(set(child.columns) & set(sub.columns))
    if hoisted:
        rid = "__ex_rid"
        left = child.withColumn(rid, F.monotonically_increasing_id())
        m = sub.select(
            *[F.col(c).alias(f"__ex_{c}") for c in shared],
            *[F.col(c) for c in sub.columns if c not in shared],
        ).withColumn("__ex_hit", F.lit(True))
        nullable = _may_bind_unbound(node.child) or _may_bind_unbound(pattern)
        cond = F.lit(True)
        for c in shared:
            eq = F.col(c) == F.col(f"__ex_{c}")
            if nullable:
                # solution compatibility: UNBOUND matches anything (same
                # rule as the non-hoisted r5-1 path below)
                eq = F.col(c).isNull() | F.col(f"__ex_{c}").isNull() | eq
            cond = cond & eq
        for h in hoisted:
            cond = cond & h
        try:
            joined = left.join(m, on=cond, how="left")
            out = (
                joined.groupBy(rid, *child.columns)
                .agg(
                    F.max(F.coalesce(F.col("__ex_hit"), F.lit(False))).alias(
                        "__ex_hitagg"
                    )
                )
                .drop(rid)
            )
        except AnalysisException as e:
            if "UNRESOLVED_COLUMN" in str(e) and "`__" not in str(e).split("SQLSTATE")[0]:
                out = child.withColumn("__ex_hitagg", F.lit(False))
            else:
                raise
        flag = F.col("__ex_hitagg")
        out = out.withColumn(node.var, ~flag if node.negate else flag)
        return out.drop("__ex_hitagg")
    # either side can produce UNBOUND shared vars (review r5-1: a pattern
    # whose OPTIONAL leaves ?x NULL is compatible with every child row)
    if shared and (_may_bind_unbound(node.child) or _may_bind_unbound(node.pattern)):
        rid = "__ex_rid"
        left = child.withColumn(rid, F.monotonically_increasing_id())
        m = (
            sub.select(*[F.col(c).alias(f"__ex_{c}") for c in shared])
            .distinct()
            .withColumn("__ex_hit", F.lit(True))
        )
        cond = None
        for c in shared:
            e = (
                F.col(c).isNull()
                | F.col(f"__ex_{c}").isNull()
                | (F.col(c) == F.col(f"__ex_{c}"))
            )
            cond = e if cond is None else cond & e
        joined = left.join(m, on=cond, how="left")
        out = (
            joined.groupBy(rid, *child.columns)
            .agg(F.max(F.coalesce(F.col("__ex_hit"), F.lit(False))).alias("__ex_hitagg"))
            .drop(rid)
        )
        flag = F.col("__ex_hitagg")
        out = out.withColumn(node.var, ~flag if node.negate else flag)
        return out.drop("__ex_hitagg")
    if shared:
        # no forced broadcast: the distinct solution set can be corpus-sized;
        # AQE picks broadcast when it measures small
        marked = sub.select(*shared).distinct().withColumn("__ex_hit", F.lit(True))
        out = child.join(marked, on=shared, how="left")
        flag = F.coalesce(F.col("__ex_hit"), F.lit(False))
    else:  # uncorrelated: one scalar riding a broadcast one-row crossJoin
        scalar = sub.limit(1).agg(F.count(F.lit(1)).alias("__ex_n"))
        out = child.crossJoin(F.broadcast(scalar))
        flag = F.col("__ex_n") > 0
    flag = ~flag if node.negate else flag
    return out.withColumn(node.var, flag).drop("__ex_hit", "__ex_n")


@_compile.register
def _(node: A.DropCols, store: TripleStore) -> DataFrame:
    return _compile(node.child, store).drop(*node.cols)


@_compile.register
def _(node: A.DropInternal, store: TripleStore) -> DataFrame:
    df = _compile(node.child, store)
    drop = [
        c
        for c in df.columns
        if c.startswith("__anon") or c.startswith("__bn_") or c.startswith("__gslot")
    ]
    return df.drop(*drop) if drop else df


@_compile.register
def _(node: A.Project, store: TripleStore) -> DataFrame:
    child = _compile(node.child, store)
    # A projected var nothing in scope can bind (e.g. one a subquery
    # projected away) is UNBOUND in every solution — a NULL column, not an
    # analysis error (SPARQL §18.2.1 in-scope rules).
    for v in node.vars:
        if v not in child.columns:
            child = child.withColumn(v, F.lit(None).cast("string"))
    cols = list(node.vars)
    if store.track_dt:
        # keep the projected vars' datatype companions so result
        # serializers can type terms (IRI vs literal vs lang) — DISTINCT
        # over them is still term-correct (same lexical + different dt IS
        # a different term)
        cols += [f"{v}__dt" for v in node.vars if f"{v}__dt" in child.columns]
    return child.select(*cols)


@_compile.register
def _(node: A.Distinct, store: TripleStore) -> DataFrame:
    return _compile(node.child, store).distinct()


@_compile.register
def _(node: A.OrderBy, store: TripleStore) -> DataFrame:
    """ORDER BY. When a sort var carries a datatype companion, ordering
    follows the SPARQL operator mapping instead of raw lexical order:
    IRIs before literals, numeric literals compared numerically, everything
    else by lexical form (the reference orders by IV type then value; ref:
    IVComparator). Vars without companions keep plain column order —
    exactly the previous behavior."""
    df = _compile(node.child, store)
    return df.orderBy(*_order_exprs(df, node.keys))


def _order_exprs(df: DataFrame, keys: tuple) -> list:
    """Translate (key, ascending) pairs into sort Columns, applying the
    SPARQL operator-mapping order when a datatype companion exists (shared
    by ORDER BY and the per-graph Slice window)."""
    cols = []
    for key, asc in keys:
        if isinstance(key, str) and f"{key}__dt" in df.columns:
            dt = F.col(f"{key}__dt")
            from blazegraph_database_spark.functions import sparql_funcs as _fn

            is_num = (
                dt.isin("long", "double", "integer", "decimal", "int", "float")
                | dt.rlike(_fn._XSD_NUM_DT_RX)
            )
            parts = [
                F.when(F.col(key).isNull(), 0).when(dt == "iri", 1).otherwise(2),
                F.when(is_num, F.col(key).cast("double")),
                F.col(key),
            ]
            cols.extend((p.asc() if asc else p.desc()) for p in parts)
            continue
        c = F.col(key) if isinstance(key, str) else key
        cols.append(c.asc() if asc else c.desc())
    return cols


@_compile.register
def _(node: A.Slice, store: TripleStore) -> DataFrame:
    df = _compile(node.child, store)
    if node.limit is not None and node.offset == 0:
        # ORDER-less LIMIT over a single statement pattern: the reference's
        # access path is a B+Tree index scan, so its LIMIT takes the LOWEST
        # key, deterministically (eval fixture ticket_944 — `SELECT ?s {?s
        # ?p ?o} LIMIT 1` binds the minimum subject). Order by the
        # pattern's bound positions in SPO key order — Spark lowers
        # limit-over-sort to TakeOrderedAndProject (per-partition top-k,
        # never a full sort materialization), so the determinism is free
        # at any scale.
        ch = node.child
        while isinstance(ch, (A.Project, A.DropCols, A.Distinct)):
            ch = ch.child
        if isinstance(ch, A.BGP) and len(ch.patterns) == 1:
            ch = ch.patterns[0]
        if isinstance(ch, A.SP):
            keys = [
                p.name
                for p in (ch.s, ch.p, ch.o, ch.g)
                if isinstance(p, Var) and p.name in df.columns
            ]
            if keys:
                df = df.orderBy(*keys)
    if node.offset:
        df = df.offset(node.offset)
    if node.limit is not None:
        df = df.limit(node.limit)
    return df


@_compile.register
def _(node: A.PerKeySlice, store: TripleStore) -> DataFrame:
    """Per-graph LIMIT/OFFSET: a subquery Slice under GRAPH ?g applies
    per active graph. One window pass partitioned by the graph slot — no
    per-graph driver loop; with no ORDER BY the spec allows any rows, so
    the tie-break over the remaining columns just makes runs repeatable."""
    from pyspark.sql.window import Window

    df = _compile(node.child, store)
    order = _order_exprs(df, node.keys) if node.keys else [
        F.col(c) for c in df.columns if c != node.key
    ]
    if not order:  # key is the only column
        order = [F.lit(1)]
    w = Window.partitionBy(node.key).orderBy(*order)
    lo, hi = node.offset, None if node.limit is None else node.offset + node.limit
    cond = F.col("__rn") > lo
    if hi is not None:
        cond = cond & (F.col("__rn") <= hi)
    return df.withColumn("__rn", F.row_number().over(w)).filter(cond).drop("__rn")


@_compile.register
def _(node: A.Group, store: TripleStore) -> DataFrame:
    df = _compile(node.child, store)
    # a GROUP BY var nothing in scope can bind (e.g. one shadowed away by a
    # subquery boundary — ticket-1892-additional4) groups as UNBOUND: one
    # NULL key, not an analysis error (same bottom-up rule as Project)
    for k in node.keys:
        if isinstance(k, str) and k not in df.columns:
            df = df.withColumn(k, F.lit(None).cast("string"))
    aggs = [expr.alias(name) for name, expr in node.aggs]
    out = df.groupBy(*node.keys).agg(*aggs) if node.keys else df.agg(*aggs)
    if node.having is not None:
        out = out.filter(node.having)
    return out


def _slot_bound(node, name: str) -> bool:
    """True iff the (already graph-pushed) subtree can bind ``name`` in its
    OUTPUT — i.e. some statement/path pattern carries the slot in its graph
    position on the solution-producing spine. Subquery projections and
    group keys that include the slot count (the push rewrite appends it);
    a nested GraphScope stops the walk (inner GRAPH overrides)."""
    if isinstance(node, (A.SP, A.PathPattern)):
        return isinstance(node.g, Var) and node.g.name == name
    if isinstance(node, A.BGP):
        return any(_slot_bound(p, name) for p in node.patterns)
    if isinstance(node, A.GraphScope):
        return False
    if isinstance(node, A.Project):
        return name in node.vars
    if isinstance(node, A.Group):
        return name in node.keys
    if isinstance(node, (A.Join, A.LeftJoin, A.Union2)):
        return _slot_bound(node.left, name) or _slot_bound(node.right, name)
    if isinstance(node, A.Minus):
        return _slot_bound(node.left, name)
    if isinstance(node, (A.Exists, A.ExistsFlag)):
        return _slot_bound(node.child, name)
    child = getattr(node, "child", None)
    return child is not None and _slot_bound(child, name)


def _push_graph(node, g):
    """Rewrite a pattern tree so every SP carries the GRAPH term (the SP
    compiler handles constant/variable g positions natively).

    ``g`` is a fresh internal slot variable (see the GraphScope compile) —
    never the user's name — so a subquery-local variable spelled like the
    graph variable can NEVER conflate with the active graph (SPARQL
    bottom-up scoping; ref: the ticket-1892 eval fixtures + the reference's
    variable-scoping in SubqueryRoot).

    The slot propagates INTO subqueries by identity (ref:
    ASTGraphGroupOptimizer.java:64 — "Anything nested (even if a subquery)
    is constrained to be from [the graph]... even if they occur within a
    subquery"), appended to the subquery's projection and GROUP BY keys so
    the per-active-graph evaluation stays correlated while the USER's
    same-named variables inside the subquery remain shadowed (matches the
    reference's ticket-1892 additional1/3/4/5/6 + subquery03 fixtures;
    its additional2 fixture evaluates the subquery decorrelated from the
    incoming graph binding — a runs-first evaluation-order artifact this
    engine does not reproduce, documented as a divergence)."""
    if isinstance(node, A.SP):
        return A.SP(node.s, node.p, node.o, g if node.g is None else node.g)
    if isinstance(node, A.BGP):
        return A.BGP([_push_graph(p, g) for p in node.patterns], hints=node.hints)
    if isinstance(node, A.GraphScope):
        return node  # inner GRAPH overrides
    if isinstance(node, A.PathPattern):
        return A.PathPattern(node.s, node.path, node.o, g if node.g is None else node.g)
    if isinstance(node, A.Project):
        child = _push_graph(node.child, g)
        if (
            isinstance(g, Var)
            and g.name not in node.vars
            and _slot_bound(child, g.name)
        ):
            return A.Project(child, tuple(node.vars) + (g.name,))
        return A.Project(child, node.vars)
    if isinstance(node, A.Group):
        child = _push_graph(node.child, g)
        keys = tuple(node.keys)
        if isinstance(g, Var) and g.name not in keys and _slot_bound(child, g.name):
            keys += (g.name,)
        return A.Group(child, keys, node.aggs, node.having)
    if isinstance(node, A.Slice):
        child = _push_graph(node.child, g)
        if isinstance(g, Var) and _slot_bound(child, g.name):
            # the Slice belongs to a subquery evaluated once per active
            # graph — LIMIT/OFFSET apply per graph, honoring its ORDER BY.
            # The OrderBy may sit BELOW the projection (unprojected sort
            # key): descend through DropCols/Project and slice there, so
            # the sort columns are still in scope; a pure column selection
            # commutes with the row filter. Never descend through Distinct
            # (slice-then-distinct is not distinct-then-slice).
            def _slice_at(c):
                if isinstance(c, A.DropCols):
                    return A.DropCols(_slice_at(c.child), c.cols)
                if isinstance(c, A.Project):
                    return A.Project(_slice_at(c.child), c.vars)
                keys = c.keys if isinstance(c, A.OrderBy) else ()
                return A.PerKeySlice(c, g.name, node.limit, node.offset, keys)

            return _slice_at(child)
        return A.Slice(child, node.limit, node.offset)
    if isinstance(node, (A.Exists, A.ExistsFlag)):
        # the EXISTS pattern is graph-scoped too (FILTER [NOT] EXISTS inside
        # GRAPH evaluates its pattern against that graph; ticket-888)
        import dataclasses

        return dataclasses.replace(
            node,
            child=_push_graph(node.child, g),
            pattern=_push_graph(node.pattern, g),
        )
    for children in (("child",), ("left", "right")):
        if all(hasattr(node, c) for c in children):
            import dataclasses

            return dataclasses.replace(
                node, **{c: _push_graph(getattr(node, c), g) for c in children}
            )
    return node


import itertools

_GSLOT = itertools.count()


@_compile.register
def _(node: A.GraphScope, store: TripleStore) -> DataFrame:
    # Nested GRAPH override: `GRAPH <g2>` inside `GRAPH <g1>` evaluates
    # against g2 of the ORIGINAL dataset, never the g1-restricted view
    # (store.graph() records its source as parent_quads; ref: ticket_832c —
    # the reference resolves every GRAPH term against the full quad store).
    base = store.parent_quads or store
    if not base.has_graphs:
        if isinstance(node.g, Var):
            # TRIPLES-MODE parity (ref: ticket_bg1760 — the reference's
            # triples-mode evaluation treats GRAPH ?g as the plain pattern
            # with ?g unbound; there is no quad index to scope by)
            out = _compile(node.child, store)
            if node.g.name not in out.columns:
                out = out.withColumn(node.g.name, F.lit(None).cast("string"))
            return out
        # constant graph: with ZERO named graphs the pattern has zero
        # solutions (a triples-only store's named-graph set is empty)
        return _compile(node.child, store).limit(0)
    dn = store.dataset_named
    if dn is None and base is not store:
        dn = base.dataset_named

    def _named_graphs(alias: str) -> DataFrame:
        # the named graphs of the dataset (one row per graph; the default
        # graph '' is not NAMED), honoring any FROM NAMED restriction
        gs = (
            base.df.filter(F.col("g").isNotNull() & (F.col("g") != ""))
            .select(F.col("g").alias(alias))
            .distinct()
        )
        if dn is not None:
            gs = gs.filter(F.col(alias).isin(list(dn)) if dn else F.lit(False))
        return gs

    if isinstance(node.g, Var):
        gname = node.g.name
        if isinstance(node.child, A.BGP) and not node.child.patterns:
            # GRAPH ?g {} enumerates the named graphs (one unit solution
            # per graph; ref: trac709 — openrdf/DAWG semantics)
            return _named_graphs(gname)
        # Push a FRESH internal slot — never the user's variable name — so
        # a subquery-local variable spelled ?g can never conflate with the
        # active graph (SPARQL bottom-up scoping; the reference's
        # ticket-1892 eval fixtures). The user's name binds only HERE, at
        # the scope boundary.
        fresh = Var(f"__gslot_{next(_GSLOT)}")
        out = _compile(_push_graph(node.child, fresh), base)
        fdt, gdt = f"{fresh.name}__dt", f"{gname}__dt"
        if fresh.name in out.columns:
            if gname in out.columns:
                # ?g is ALSO bound as an ordinary variable in this scope
                # (e.g. GRAPH ?g { ?x ex:q ?g }): both denote the same term
                out = out.filter(F.col(gname) == F.col(fresh.name)).drop(fresh.name)
                if fdt in out.columns:
                    out = out.drop(fdt)
            else:
                out = out.withColumnRenamed(fresh.name, gname)
                if fdt in out.columns:
                    out = (
                        out.drop(fdt)
                        if gdt in out.columns
                        else out.withColumnRenamed(fdt, gdt)
                    )
        else:
            # nothing below consumed the active graph (the body is entirely
            # nested GraphScopes / VALUES): ?g still ranges over the named
            # graphs, joined per solution compatibility
            gs = _named_graphs(gname)
            out = (
                gs.crossJoin(out) if gname not in out.columns else out.join(gs, gname)
            )
        return out
    g = const_lex(node.g)
    if dn is not None and g not in dn:
        # GRAPH <g> outside the FROM NAMED set matches nothing
        return _compile(node.child, base.graph(g)).limit(0)
    if isinstance(node.child, A.BGP) and not node.child.patterns:
        # GRAPH <g> {}: the unit solution iff <g> IS a named graph of the
        # dataset (has at least one statement) — zero solutions otherwise
        # (trac429neg). One bounded probe, no driver collect.
        return base.df.filter(F.col("g") == g).limit(1).select()
    return _compile(node.child, base.graph(g))


BD_VIRTUAL_GRAPH = "http://www.bigdata.com/rdf#virtualGraph"
_VIRTUAL_GRAPH_MAX = 100_000


def _expand_virtual_graphs(entries: tuple, store: TripleStore) -> tuple:
    """Expand ("virtual", vg) dataset entries into the member graphs the
    store declares via `<vg> bd:virtualGraph <member>` triples (ref:
    BD.java:199 VIRTUAL_GRAPH; ASTDeferredIVResolution.java:530 — an
    undeclared virtual graph is an error, matching the reference's
    "Not declared" RuntimeException). The membership collect is
    graph-catalog-sized; a hard cap fails loud if data is mis-modeled as
    membership."""
    out: list = []
    for e in entries:
        if isinstance(e, tuple) and len(e) == 2 and e[0] == "virtual":
            vg = e[1]
            members = [
                r["o_lex"]
                for r in store.df.filter(
                    (F.col("s") == vg) & (F.col("p") == BD_VIRTUAL_GRAPH)
                )
                .select("o_lex")
                .limit(_VIRTUAL_GRAPH_MAX + 1)
                .collect()
            ]
            if not members:
                raise ValueError(
                    f"virtual graph <{vg}> not declared: no bd:virtualGraph membership triples"
                )
            if len(members) > _VIRTUAL_GRAPH_MAX:
                raise ValueError(
                    f"virtual graph <{vg}> declares more than {_VIRTUAL_GRAPH_MAX} members"
                )
            out.extend(members)
        else:
            out.append(e)
    return tuple(out)


@_compile.register
def _(node: A.Dataset, store: TripleStore) -> DataFrame:
    default = _expand_virtual_graphs(node.default, store)
    named = _expand_virtual_graphs(node.named, store)
    return _compile(node.child, store.with_dataset(default, named))


def _named_includes_of(plan) -> set:
    """Names of the named solution sets a plan INCLUDEs (transitive walk)."""
    out: set = set()

    def walk(n):
        if isinstance(n, A.NamedInclude):
            out.add(n.name)
            return
        if isinstance(n, A.BGP):
            for p in n.patterns:
                walk(p)
            return
        named = getattr(n, "named", None)
        if isinstance(named, dict):
            for v in named.values():
                walk(v)
        for attr in ("child", "left", "right", "pattern"):
            c = getattr(n, attr, None)
            if c is not None and hasattr(c, "__dataclass_fields__"):
                walk(c)

    if plan is not None and hasattr(plan, "__dataclass_fields__"):
        walk(plan)
    return out


@_compile.register
def _(node: A.WithNamed, store: TripleStore) -> DataFrame:
    """Named subqueries evaluate ONCE into materialized solution sets
    (localCheckpoint = the reference's hash-indexed named solution set;
    ref: NamedSubqueryRoot.java), then the main pattern runs with INCLUDEs
    resolving against them. Multiple INCLUDEs of one set share the same
    materialized data — no recomputation.

    Evaluation is DEPENDENCY-ordered, not declaration-ordered: a WITH
    clause may INCLUDE a named set declared later in the query (ref:
    ASTNamedSubqueryOptimizer computes the dependency graph among
    NamedSubqueryRoots; eval fixture ticket_bg1763b)."""
    pending = dict(node.named)
    deps = {
        name: _named_includes_of(plan) & set(pending) for name, plan in pending.items()
    }
    sets: dict = {}
    scoped = store
    while pending:
        ready = [n for n in pending if not (deps[n] - set(sets))]
        if not ready:
            raise ValueError(
                "cyclic INCLUDE among named subqueries: " + ", ".join(sorted(pending))
            )
        for name in ready:
            sets[name] = _compile(pending.pop(name), scoped).localCheckpoint(eager=True)
            scoped = store.view(named_sets={**store.named_sets, **sets})
    return _compile(node.child, scoped)


@_compile.register
def _(node: A.NamedInclude, store: TripleStore) -> DataFrame:
    sets = store.named_sets
    if node.name not in sets:
        raise ValueError(f"INCLUDE of undeclared named subquery %{node.name}")
    return sets[node.name]


@_compile.register
def _(node: A.Service, store: TripleStore) -> DataFrame:
    """SERVICE <iri> { ... } (ref: ServiceRegistry dispatch in
    AST2BOpUtility): built-ins, stored queries, aliases and remote
    endpoints are all one registry lookup (``operators/service.py``). A
    service that reads the incoming solutions folds in over the unit
    solution when it stands alone in its group."""
    if service.reads_solutions(node):
        return _fold_readers(store, [node])
    return _call_service(store, node)


def _call_service(store: TripleStore, node: "A.Service", solutions=None) -> DataFrame:
    """Call the registered service of a SERVICE node (``solutions``: the
    incoming solutions, for a service that reads them). SILENT turns a
    failed call into one empty solution, which leaves the incoming
    solutions as they are (SPARQL 1.1 Federated Query §4)."""
    params = {
        "query": f"{node.prologue}SELECT * WHERE {{ {node.raw} }}",
        "pattern": node.pattern,
        "store": store,
    }
    if solutions is not None:
        params["solutions"] = solutions
    try:
        return service.lookup(node.iri)(store.spark, params)
    except Exception:
        if not node.silent:
            raise
        return solutions if solutions is not None else store.spark.range(1).drop("id")


def _path_nullable(path) -> bool:
    """True iff the path expression's language contains the empty word
    (matches zero-length) — Star/ZeroOrOne/`{0,n}` introduce epsilon, Inv
    preserves it, Alt needs either arm, Seq needs both."""
    if isinstance(path, (A.Star, A.ZeroOrOne)):
        return True
    if isinstance(path, A.Bounded):
        # `p{0,n}` matches zero-length exactly like `*` (ref ALP
        # LOWER_BOUND=0), and m applications of a nullable inner contain
        # epsilon too; without this a CONSTANT endpoint absent from the
        # graph zero-matched under the geared branch but not the
        # full-closure one (r10 review x2). An inverted range `{m,n}` with
        # n<m is the EMPTY language — no epsilon even for a nullable inner
        # (compile_path yields no pairs, so a constant endpoint must not
        # gain a spurious identity row here).
        if path.upper is not None and path.upper < path.lower:
            return False
        return path.lower == 0 or _path_nullable(path.path)
    if isinstance(path, A.Plus):
        return _path_nullable(path.path)  # (p*)+ contains epsilon
    if isinstance(path, A.Inv):
        return _path_nullable(path.path)
    if isinstance(path, A.Alt):
        return _path_nullable(path.left) or _path_nullable(path.right)
    if isinstance(path, A.Seq):
        return _path_nullable(path.left) and _path_nullable(path.right)
    return False  # Link / NegatedPropertySet / str


@_compile.register
def _(node: A.PathPattern, store: TripleStore) -> DataFrame:
    from blazegraph_database_spark.operators.paths import compile_path

    if node.g is not None and is_const(node.g):
        store = store.graph(const_lex(node.g))
    elif node.g is None and store.has_graphs:
        # FROM dataset scoping for default-graph paths (same rule the SP
        # compiler applies): an empty concrete default set matches nothing
        if store.dataset_default is not None:
            store = store.scope(store.dataset_default)
    with_graph = node.g is not None and isinstance(node.g, Var)
    if with_graph:
        if not store.has_graphs:
            raise ValueError("path inside GRAPH ?var over a triples-only store")
        if store.dataset_named is not None:
            store = store.scope(store.dataset_named)
    pairs = _anchored_path_pairs(store, node, with_graph)
    if pairs is None:
        pairs = compile_path(store, node.path, with_graph=with_graph)  # DF([g,] s, o)
    if _path_nullable(node.path):
        # spec ALP: when the path language contains epsilon, a CONSTANT
        # endpoint zero-length-matches itself even when the term is absent
        # from the graph (W3C ZeroOrMorePath starts at x). Keyed on
        # nullability, not the outermost node, so ^p*, (p*|q), p?/q?
        # wrappers all get it. Anti-join instead of a trailing distinct:
        # deduping <=2 identity rows must not re-shuffle the whole closure.
        consts = [
            const_lex(p) for p in (node.s, node.o) if p is not None and is_const(p)
        ]
        if consts:
            spark = store.spark
            ident = spark.createDataFrame(
                [(c, c) for c in set(consts)], "s string, o string"
            )
            if with_graph:
                ident = store.df.select("g").distinct().crossJoin(ident)
            on = (["g"] if with_graph else []) + ["s", "o"]
            pairs = pairs.unionByName(ident.join(pairs, on=on, how="left_anti"))
    df = pairs
    sel = []
    positions = (("s", node.s), ("o", node.o)) + ((("g", node.g),) if with_graph else ())
    for col, pos in positions:
        if is_const(pos):
            df = df.filter(F.col(col) == const_lex(pos))
        else:
            sel.append(F.col(col).alias(pos.name))
    return df.select(*sel) if sel else df.select()


def _anchored_path_pairs(store: TripleStore, node, with_graph: bool):
    """GEARED evaluation for paths with a CONSTANT endpoint (ref:
    ArbitraryLengthPathNode + the gearing query hint, TestGearingQueryHint:
    forward gearing expands the frontier from a bound subject, reverse
    gearing from a bound object): the anchor's one-row frontier flows
    through the path via geared_reach, and every closure component is a
    seeded GAS BFS walk (driver tier under its gate) over the
    reachable-from-seed region, never the graph's ALL-PAIRS closure.
    Returns the ([g,] s, o) pair DataFrame, or None when the pattern isn't
    anchored (var-var paths keep the full-closure path, which their
    semantics genuinely need) or holds no closure (Catalyst pushes the
    constant filter through plain joins itself)."""
    from blazegraph_database_spark.operators.paths import (
        contains_closure, geared_reach, _gcols,
    )

    s_const, o_const = is_const(node.s), is_const(node.o)
    if not (s_const or o_const) or not contains_closure(node.path):
        return None
    k = _gcols(with_graph)
    forward = s_const  # prefer forward gearing when both ends are bound
    seed = const_lex(node.s if forward else node.o)
    frontier = store.spark.createDataFrame([(seed,)], "o string")
    if with_graph:
        frontier = store.df.select("g").distinct().crossJoin(frontier)
    reached = geared_reach(store, node.path, frontier, with_graph, forward)
    pairs = reached.select(*k, F.lit(seed).alias("s"), F.col("o"))
    if not forward:
        pairs = pairs.select(*k, F.col("o").alias("s"), F.col("s").alias("o"))
    # zero-length matches to OTHER nodes than the constant only arise for
    # var-var patterns, which never take this path
    return pairs


# ---------------------------------------------------------------- frontends --
def explain_trace(store: TripleStore, node) -> list[dict]:
    """Engine-level optimizer trace (the reference's explain page shows its
    static-optimizer join order and range counts the same way): one entry
    per BGP with the chosen join order, per-input row estimates, broadcast
    decisions, star-fusion count, and the id-join variable set. Building
    the plan runs no Spark job beyond the stats/probes the compiler itself
    uses."""
    traced = store.view(_trace=[])
    evaluate(traced, node)
    return traced._trace


def ask(store: TripleStore, node) -> bool:
    """ASK query. Ref: AST QueryType.ASK."""
    return len(evaluate(store, node).take(1)) > 0


def construct(store: TripleStore, node, template: list[tuple]) -> DataFrame:
    """CONSTRUCT: instantiate (s,p,o) templates per solution, preserving the
    bound term's datatype via the compiler's `<var>__dt` companion columns
    (the reference keeps IV type through ConstructNode). Ref: ConstructNode."""
    sol = evaluate(store.view(track_dt=True), node)
    return instantiate_template(sol, template)


def instantiate_template(
    sol: DataFrame,
    template: list[tuple],
    emit_g: bool = False,
    target_graph: str | None = None,
    tagged: bool = False,
) -> DataFrame:
    """(s,p,o[,g]) template instantiation over a bindings DataFrame.
    Object-var datatypes come from `<var>__dt` companions when present;
    BIND-created vars without one default to 'string'. With ``emit_g`` a
    `g` column is added: an entry's explicit GRAPH wrapper wins, else
    ``target_graph`` (the UPDATE's WITH <g>), else NULL (default graph).
    The triples are distinct, unless ``tagged``: each row then carries its
    entry's index in ``template`` as `__i`, duplicates kept (a
    DELETE…INSERT instantiates both templates, and the WHERE's own
    pattern, in this one pass)."""
    parts = []
    for i, t in enumerate(template):
        s, p, o = t[0], t[1], t[2]
        g = t[3] if len(t) > 3 else target_graph
        def col_of(pos, dt_if_const):
            if isinstance(pos, Var):
                dt = (
                    F.coalesce(F.col(f"{pos.name}__dt"), F.lit("string"))
                    if f"{pos.name}__dt" in sol.columns
                    else F.lit("string")
                )
                return F.col(pos.name).cast("string"), dt
            if isinstance(pos, A.Emb):  # template emits the statement-id term
                es, _ = col_of(pos.s, "iri")
                ep, _ = col_of(pos.p, "iri")
                eo, eodt = col_of(pos.o, "iri" if not isinstance(pos.o, Lit) else pos.o.dt)
                if isinstance(pos.o, Lit):
                    eodt = F.lit(pos.o.dt)
                return sid_col(es, ep, eo, eodt), F.lit(DT_SID)
            return F.lit(const_lex(pos)), F.lit(dt_if_const)
        sc, _ = col_of(s, "iri")
        pc, _ = col_of(p, "iri")
        oc, odt = col_of(o, "iri" if not isinstance(o, Lit) else o.dt)
        if isinstance(o, Lit):
            odt = F.lit(o.dt)
        cols = [sc.alias("s"), pc.alias("p"), oc.cast("string").alias("o_lex"),
                odt.alias("o_dt")]
        if emit_g:
            gc = F.col(g.name) if isinstance(g, Var) else F.lit(g)
            cols.append(gc.cast("string").alias("g"))
        if tagged:
            cols.append(F.lit(i).alias("__i"))
        parts.append(F.struct(*cols))
    # ONE pass over the bindings: explode an array of per-template structs.
    # The union-of-selects alternative re-evaluates the WHERE join once per
    # template triple — an 8-entry CONSTRUCT (BSBM Explore Q12) paid the
    # join 8x; at 100 TB that's 8 full shuffles instead of one.
    out = sol.select(F.explode(F.array(*parts)).alias("__t")).select("__t.*")
    return out if tagged else out.distinct()


# reference describeMode enum → describe() args (ref: QueryHints.java:587
# DESCRIBE_MODE / DescribeModeEnum + ASTDescribeOptimizer):
# SymmetricOneStep = fwd+rev with no bnode recursion. Shared by the REST
# describeMode= parameter and the hint:Query hint:describeMode query hint.
DESCRIBE_MODES = {
    "cbd": ("cbd", None),
    "scbd": ("scbd", None),
    "forwardonestep": ("fwd", None),
    "symmetriconestep": ("scbd", 0),
    "fwd": ("fwd", None),
    "rev": ("rev", None),
}


def describe_kwargs(mode: str | None, iterations: int | None) -> dict:
    """Map a describeMode name + iteration limit onto describe() kwargs;
    raises on unknown modes (shared REST-param / query-hint validation)."""
    kwargs: dict = {}
    if mode is not None:
        key = mode.strip().lower()
        if key not in DESCRIBE_MODES:
            raise ValueError(
                f"unknown describeMode {mode!r}; one of "
                "CBD, SCBD, ForwardOneStep, SymmetricOneStep"
            )
        m, forced_depth = DESCRIBE_MODES[key]
        kwargs["mode"] = m
        if forced_depth is not None:
            kwargs["max_depth"] = forced_depth
    if iterations is not None:
        kwargs["max_depth"] = int(iterations)
    return kwargs


def describe(
    store: TripleStore,
    subjects: DataFrame | list[str],
    max_depth: int = 8,
    mode: str = "cbd",
) -> DataFrame:
    """DESCRIBE with configurable mode (ref: eval/CBD.java plus the
    reference's describeMode query hint):

    * ``cbd`` (default): outbound statements of the resources, recursively
      expanded through blank-node objects — a bnode value's own description
      is part of the CBD; ``max_depth`` guards bnode cycles.
    * ``fwd``: outbound statements only, no bnode recursion.
    * ``rev``: inbound statements only (who references the resource).
    * ``scbd``: symmetric CBD — the CBD plus inbound statements of the
      described resources.
    """
    if isinstance(subjects, list):
        subjects = store.spark.createDataFrame([(s,) for s in subjects], "s string")
    frontier = subjects.select("s").distinct()
    inbound = None
    if mode in ("rev", "scbd"):
        inbound = store.df.join(
            F.broadcast(frontier.select(F.col("s").alias("o_lex"))), on="o_lex"
        ).select("s", "p", "o_lex", "o_dt", *(["g"] if "g" in store.df.columns else []))
        if mode == "rev":
            return inbound
    seen = frontier.localCheckpoint()
    out = store.df.join(F.broadcast(frontier), on="s")
    if mode != "fwd":
        for _ in range(max_depth):
            bnodes = (
                out.filter(F.col("o_dt") == "bnode")
                .select(F.col("o_lex").alias("s"))
                .distinct()
                .join(seen, on="s", how="left_anti")
                .localCheckpoint()
            )
            if bnodes.isEmpty():
                break
            seen = seen.unionByName(bnodes)
            out = out.unionByName(store.df.join(F.broadcast(bnodes), on="s"))
    if inbound is not None:  # scbd: CBD ∪ inbound arcs
        out = out.unionByName(inbound.select(*out.columns)).distinct()
    return out
