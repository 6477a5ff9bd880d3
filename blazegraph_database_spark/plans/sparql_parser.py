"""SPARQL text parser → algebra nodes, all four query forms (SURVEY.md §2.12).

Reference analog: the JavaCC grammar under sparql-grammar/ producing the AST
in bigdata-core/bigdata-rdf/.../sparql/ast/; we parse directly into
:mod:`plans.algebra` nodes:

  PREFIX/BASE decls, SELECT [DISTINCT|REDUCED] (vars | * | (expr AS ?v)),
  CONSTRUCT { template } / CONSTRUCT WHERE, ASK, DESCRIBE (<iri>... and
  ?var WHERE forms), dataset clauses FROM / FROM NAMED, WHERE {
    triple patterns (incl. property paths  ^ / | + * ?, negated sets, ; ,
    lists, `a`, RDF-star <<s p o>> terms), FILTER (expr | [NOT] EXISTS),
    OPTIONAL, UNION, MINUS, BIND, VALUES, GRAPH (iri | ?var),
    SERVICE [SILENT] <iri> { ... }, { SELECT ... } subqueries,
    INCLUDE %set }, named subqueries WITH { SELECT } AS %set,
  query hints (hint:Query/hint:Prior triples, compact or expanded under the
  queryHints namespace), GROUP BY / HAVING, ORDER BY [ASC|DESC],
  LIMIT / OFFSET, trailing VALUES.

Expressions compile straight to pyspark Columns via functions/sparql_funcs
(JVM codegen — the parser never introduces Python execution).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from blazegraph_database_spark.functions import registry as func_registry
from blazegraph_database_spark.functions import sparql_funcs as fn
from blazegraph_database_spark.model.terms import Lit, Var
from blazegraph_database_spark.plans import algebra as A

# Blazegraph query-hint namespace (ref: QueryHints.java NAMESPACE).
HINT_NS = "http://www.bigdata.com/queryHints#"

# Auto-declared prefixes (ref: sail/sparql/PrefixDeclProcessor.java:88-98).
DEFAULT_PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "sesame": "http://www.openrdf.org/schema/sesame#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "fn": "http://www.w3.org/2005/xpath-functions#",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "dc": "http://purl.org/dc/elements/1.1/",
    "hint": HINT_NS,
    "bd": "http://www.bigdata.com/rdf#",
    "bds": "http://www.bigdata.com/rdf/search#",
    # not in the reference's query-side defaultDecls, but its data loader
    # resolves skos: in fixture files that never declare it
    # (ticket_blzg_1284.trig) — seed it as a fallback; explicit decls win
    "skos": "http://www.w3.org/2004/02/skos/core#",
}

# ----------------------------------------------------------------- lexer --
TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+)
  | (?P<COMMENT>\#[^\n]*)
  | (?P<DSTART><<)
  | (?P<DEND>>>)
  | (?P<IRI><[^>\s]*>)
  | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<STRING>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<NUM>[+-]?\d+\.\d+|[+-]?\d+)
  | (?P<PNAME>[A-Za-z_][A-Za-z0-9_-]*:[A-Za-z0-9_.-]*|:[A-Za-z0-9_.-]*)
  | (?P<NAMED>%[A-Za-z_][A-Za-z0-9_]*)
  | (?P<LANGTAG>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<KW>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<OP>\^\^|\|\||&&|!=|<=|>=|[{}()\[\].,;|/^*+?!<>=\-])
    """,
    re.VERBOSE,
)

KEYWORDS = {
    "select", "distinct", "reduced", "where", "filter", "optional", "union",
    "minus", "bind", "values", "as", "group", "by", "having", "order", "asc",
    "desc", "limit", "offset", "prefix", "exists", "not", "in", "a", "undef",
    "true", "false", "ask", "construct", "describe", "with", "include",
}


@dataclass
class Tok:
    kind: str
    text: str


def tokenize(src: str) -> list[Tok]:
    out, i = [], 0
    while i < len(src):
        m = TOKEN_RE.match(src, i)
        if not m:
            raise SyntaxError(f"SPARQL lex error at: {src[i:i+30]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind in ("WS", "COMMENT"):
            continue
        out.append(Tok(kind, m.group()))
    out.append(Tok("EOF", ""))
    return out


FUNCS_1 = {
    "STR": fn.STR, "STRLEN": fn.STRLEN, "UCASE": fn.UCASE, "LCASE": fn.LCASE,
    "ABS": fn.ABS, "CEIL": fn.CEIL, "FLOOR": fn.FLOOR, "ROUND": fn.ROUND,
    "YEAR": fn.YEAR, "MONTH": fn.MONTH, "DAY": fn.DAY, "HOURS": fn.HOURS,
    "MINUTES": fn.MINUTES, "SECONDS": fn.SECONDS, "MD5": fn.MD5,
    "SHA1": fn.SHA1, "SHA256": fn.SHA256, "SHA384": fn.SHA384,
    "SHA512": fn.SHA512, "BOUND": fn.BOUND, "ISNUMERIC": fn.ISNUMERIC,
    "IRI": fn.IRI, "URI": fn.IRI, "ENCODE_FOR_URI": fn.ENCODE_FOR_URI,
    "ISTRIPLE": fn.ISTRIPLE, "SUBJECT": fn.SUBJECT, "PREDICATE": fn.PREDICATE,
    "OBJECT": fn.OBJECT,
}
FUNCS_2 = {
    "STRSTARTS": fn.STRSTARTS, "STRENDS": fn.STRENDS, "CONTAINS": fn.CONTAINS,
    "STRBEFORE": fn.STRBEFORE, "STRAFTER": fn.STRAFTER, "REGEX": fn.REGEX,
    "SAMETERM": fn.SAMETERM,
}
FUNCS_N = {"CONCAT": fn.CONCAT, "COALESCE": fn.COALESCE}
AGGS = {"COUNT": fn.COUNT, "SUM": fn.SUM, "AVG": fn.AVG, "MIN": fn.MIN, "MAX": fn.MAX,
        "GROUP_CONCAT": fn.GROUP_CONCAT, "SAMPLE": fn.SAMPLE}

# XSD constructor-function casts (xsd:integer(?x) etc. — ref: the reference
# evaluates these through its IV cast BOps); keyed by the type's local name
# so both the compact `xsd:` form and the expanded IRI resolve.
# sized-int casts: identity-tagged + range-validated (ref: XSDNumericIV)
_SIZED_INT_RANGES = {
    "long": (-(2 ** 63), 2 ** 63 - 1),
    "int": (-(2 ** 31), 2 ** 31 - 1),
    "short": (-(2 ** 15), 2 ** 15 - 1),
    "byte": (-(2 ** 7), 2 ** 7 - 1),
    "unsignedLong": (0, 2 ** 64 - 1),
    "unsignedInt": (0, 2 ** 32 - 1),
    "unsignedShort": (0, 2 ** 16 - 1),
    "unsignedByte": (0, 2 ** 8 - 1),
}

_XSD_CAST_LOCAL = {
    "integer": "long", "int": "long", "long": "long", "short": "long",
    "byte": "long", "nonNegativeInteger": "long",
    "double": "double", "decimal": "double", "float": "double",
    "string": "string", "boolean": "boolean", "dateTime": "timestamp",
}


# A bare var renders as Column<'name'>. Literals can render the same way
# (Column<'10'>, Column<'true'>, Column<'NULL'>), so require a letter/
# underscore start and exclude the literal keywords — a skipped rewrite
# only costs the optimization, a false positive would invent a column.
_BARE_VAR_RX = re.compile(r"^Column<'([A-Za-z_]\w*)'>$")
_NON_VAR_WORDS = {"true", "false", "NULL"}
_NUM_LIT_RX = re.compile(r"^Column<'-?\d+(\.\d+)?'>$")


# Max consecutive typed-arith operators that stay on the exact path: each
# level multiplies the expression tree (and its str() registry keys) ~10x,
# so the cap bounds parse cost at ~10^4 nodes while covering real money
# chains; deeper tails demote to double (r10 review).
_ARITH_CHAIN_MAX = 4


def _typed_arith_operand(c: Column) -> Column:
    """A bare var in ARITHMETIC position takes a double view: SPARQL
    arithmetic is defined only on numeric operands (a non-numeric binding
    is a type error -> unbound), and Spark refuses string operands for
    +-*/ outright. Non-var operands pass through."""
    m = _BARE_VAR_RX.match(str(c))
    if m and m.group(1) not in _NON_VAR_WORDS:
        # try_cast: a non-numeric binding is a SPARQL type error (-> unbound
        # -> filter false), not a runtime failure; ANSI CAST would raise.
        return F.col(m.group(1)).try_cast("double")
    return c


def _typed_cmp_sides(left: Column, right: Column) -> tuple[Column, Column]:
    """A bare var compared against a NUMERIC literal takes an explicit
    double view. Value-identical to what Spark's implicit coercion does
    anyway (PromoteStrings casts the string side to double in a
    string-vs-numeric BinaryComparison), but the explicit CAST makes the
    comparison visible to the native-typed-column classifier — numeric
    range FILTERs in query text then run on the base table's native column
    and push down to parquet (the reference's inline-IV range filters)."""
    ls, rs = str(left), str(right)
    lv, rn = _BARE_VAR_RX.match(ls), _NUM_LIT_RX.match(rs)
    if lv and rn and lv.group(1) not in _NON_VAR_WORDS:
        return F.col(lv.group(1)).try_cast("double"), right
    rv, ln = _BARE_VAR_RX.match(rs), _NUM_LIT_RX.match(ls)
    if rv and ln and rv.group(1) not in _NON_VAR_WORDS:
        return left, F.col(rv.group(1)).try_cast("double")
    return left, right


def _bare_var(c: Column) -> str | None:
    m = _BARE_VAR_RX.match(str(c))
    return m.group(1) if m and m.group(1) not in _NON_VAR_WORDS else None


def _has_dt_companion(name: str) -> bool:
    """Only PATTERN variables carry a `<var>__dt` companion column.
    Internal aliases (`__agg0` hoisted aggregates, `__ex0` EXISTS flags,
    `__anon*` bnodes...) all start with `__` and have no companion —
    referencing one raised UNRESOLVED_COLUMN for e.g.
    `SELECT (SUM(?a)+SUM(?b) AS ?t)` (ADVICE r8); those operands take the
    general double path instead (the pre-r8 semantics for them)."""
    return not name.startswith("__")


# a string-literal Column renders with INNER quotes (Column<''urn:...''>)
_CONST_RX = re.compile(r"^Column<''(\S+)''>$")


def _inline_uri_cmp(left: Column, right: Column):
    """(var-key, packed-constant) when one comparison side is a bare var
    and the other a constant URI with a registered inline-URI handler
    (model/inline_uris — the InlineURIFactory analog); else None."""
    from blazegraph_database_spark.model import inline_uris as IU

    for var_side, const_side, flip in ((left, right, False), (right, left, True)):
        v = _bare_var(var_side)
        cm = _CONST_RX.match(str(const_side))
        if not (v and cm):
            continue
        h = IU.handler_for(cm.group(1))
        if h is None:
            continue
        packed = IU.pack_py(cm.group(1))
        if packed is None:
            continue
        key, const = IU.inline_key(F.col(v), *h), F.lit(packed)
        return (const, key) if flip else (key, const)
    return None


# String-typed lexical results of typed ARITHMETIC are tracked PER PARSE
# (Parser._arith_lexical, keyed by Column repr): comparison sites and
# ConditionalBind recognize these as numeric-VALUED so `FILTER(?a + ?b =
# ?c)` keeps value semantics even though the column's Spark type is string
# (r8 review finding). Scoped to the Parser instance — a module-global
# registry was a cross-query side channel: a later query whose string
# expression repr collided with a registered arithmetic repr silently got
# numeric semantics (r8 VERDICT). The annotation reaches the compiler on
# the algebra node itself (A.Extend.arith_lexical).

_DATE_TAG = "dt:http://www.w3.org/2001/XMLSchema#date"
_DATE_KEY_RX = r"^(-?\d+)-(\d{2})-(\d{2})$"
_DATE_SHAPE_RX = re.compile(r"^-?\d{3,}-\d{2}-\d{2}$")


def _date_key(c: Column) -> Column:
    """Chronological key of a canonical xsd:date lexical: signed_year*10000
    + month*100 + day — month/day stay positive so later-in-year means a
    larger key on BOTH sides of the epoch (the reference packs dates into
    signed numeric IVs; ticket bg1748 pins BC-era ordering). NULL (= type
    error) when the lexical isn't a canonical date."""
    y = F.regexp_extract(c, _DATE_KEY_RX, 1).try_cast("long")
    m = F.regexp_extract(c, _DATE_KEY_RX, 2).try_cast("long")
    d = F.regexp_extract(c, _DATE_KEY_RX, 3).try_cast("long")
    return y * 10000 + m * 100 + d


def _py_date_key(lex: str) -> int | None:
    m = re.match(_DATE_KEY_RX, lex)
    if not m:
        return None
    return int(m.group(1)) * 10000 + int(m.group(2)) * 100 + int(m.group(3))


def _typed_eq(a_name: str, b_name: str) -> Column:
    """Open-world typed RDF-term equality between two bound vars, honoring
    the `<var>__dt` companion columns (dt-tracking mode only). Mirrors the
    reference's CompareBOp/RDFterm-equal semantics (ref: bigdata-core/
    bigdata-rdf/src/java/com/bigdata/rdf/internal/constraints/CompareBOp.java):

    - resources (IRI/bnode/sid): decidable — equal iff same kind + same id;
    - language-tagged literals: equal iff same lex and same tag
      (case-insensitive); a lang-tagged literal NEVER equals a plain one;
    - plain/xsd:string: string equality;
    - numerics with valid lexicals: numeric value equality ("1" = "1.0");
    - identical terms of any datatype (incl. unknown `dt:<iri>` and
      invalid-lexical numerics): TRUE;
    - everything else (plain vs numeric, unknown dtype vs anything
      non-identical, invalid numeric lexicals): TYPE ERROR → NULL, so the
      enclosing FILTER drops the row (open-world: can't know). Eval fixture
      open-eq-12 pins all of these branches.
    """
    a, b = F.col(a_name), F.col(b_name)
    adt = F.coalesce(F.col(f"{a_name}__dt"), F.lit("string"))
    bdt = F.coalesce(F.col(f"{b_name}__dt"), F.lit("string"))
    a_res, b_res = adt.isin("iri", "bnode", "sid"), bdt.isin("iri", "bnode", "sid")
    a_lang, b_lang = adt.startswith("lang:"), bdt.startswith("lang:")
    a_num, b_num = fn.NUM_TAG(adt), fn.NUM_TAG(bdt)
    an, bn = a.try_cast("double"), b.try_cast("double")
    # EXACT numeric families compare in DECIMAL: two distinct
    # xsd:unsignedLong values above 2^53 collapse to the same double
    # (r8 review); any double member keeps the double path
    a_ex, b_ex = fn.EXACT_TAG(adt), fn.EXACT_TAG(bdt)
    ad, bd = a.try_cast(fn.DEC_T), b.try_cast(fn.DEC_T)
    err = F.lit(None).cast("boolean")
    return (
        F.when(a.isNull() | b.isNull(), err)  # unbound operand = type error
        .when(a_res | b_res, (adt == bdt) & (a == b))
        .when(a_lang & b_lang, (F.lower(adt) == F.lower(bdt)) & (a == b))
        .when(a_lang | b_lang, F.lit(False))  # lang vs non-lang: never equal
        .when((adt == "string") & (bdt == "string"), a == b)
        .when(
            a_ex & b_ex & fn.DEC_OK(a) & fn.DEC_OK(b)
            & ad.isNotNull() & bd.isNotNull(),
            ad == bd,
        )
        .when(a_num & b_num & an.isNotNull() & bn.isNotNull(), an == bn)
        .when(
            (adt == _DATE_TAG) & (bdt == _DATE_TAG)
            & _date_key(a).isNotNull() & _date_key(b).isNotNull(),
            _date_key(a) == _date_key(b),
        )
        .when(adt.isin("boolean", "timestamp") & (adt == bdt), a == b)
        .when((adt == bdt) & (a == b), F.lit(True))  # same term, any dtype
        .otherwise(err)
    )


def _date_const_order(
    left: Column, right: Column, op: str, date_consts: set[str] | None = None
) -> Column | None:
    """Ordered comparison of a var against an xsd:date CONSTANT under dt
    tracking (ref: CompareBOp over date IVs; fixture ticket bg1748 compares
    BC-era bounds where lexical order reverses): when the var's companion
    tags it as xsd:date, both sides compare by chronological key; any
    other companion keeps the lexical default, decided per row.

    ``date_consts`` is the set of constant LEXICALS the parser saw with an
    explicit ^^xsd:date datatype — the gate is the constant's declared
    TYPE, not its shape (ADVICE r7: a plain string "-0500-01-01" against a
    date var is the reference's date-vs-string comparison, not a
    chronological one — it falls through to the lexical default)."""
    cmp = {
        "<": lambda x, y: x < y, "<=": lambda x, y: x <= y,
        ">": lambda x, y: x > y, ">=": lambda x, y: x >= y,
    }[op]
    for var_side, const_side, flip in ((left, right, False), (right, left, True)):
        v = _bare_var(var_side)
        cm = _CONST_RX.match(str(const_side))
        if not (v and cm and _DATE_SHAPE_RX.match(cm.group(1))):
            continue
        if date_consts is not None and cm.group(1) not in date_consts:
            continue
        key = _py_date_key(cm.group(1))
        if key is None:
            continue
        vdt = F.coalesce(F.col(f"{v}__dt"), F.lit("string"))
        typed = (
            cmp(F.lit(key), _date_key(F.col(v)))
            if flip
            else cmp(_date_key(F.col(v)), F.lit(key))
        )
        return F.when(vdt == _DATE_TAG, typed).otherwise(cmp(left, right))
    return None


def _typed_order(a_name: str, b_name: str, op: str) -> Column:
    """Typed var-var ordering under dt tracking (see _typed_eq for the
    equality analog; ref: CompareBOp's ordered comparisons): numeric tags
    with valid lexicals compare by VALUE, timestamps as timestamps, plain
    strings lexically — anything else (mixed types, resources, lang tags,
    invalid lexicals) is a per-row type error → NULL → filter drops."""
    a, b = F.col(a_name), F.col(b_name)
    adt = F.coalesce(F.col(f"{a_name}__dt"), F.lit("string"))
    bdt = F.coalesce(F.col(f"{b_name}__dt"), F.lit("string"))
    an, bn = a.try_cast("double"), b.try_cast("double")
    num = fn.NUM_TAG(adt) & fn.NUM_TAG(bdt)
    exact = fn.EXACT_TAG(adt) & fn.EXACT_TAG(bdt)
    ad, bd = a.try_cast(fn.DEC_T), b.try_cast(fn.DEC_T)
    cmp = {
        "<": lambda x, y: x < y, "<=": lambda x, y: x <= y,
        ">": lambda x, y: x > y, ">=": lambda x, y: x >= y,
    }[op]
    err = F.lit(None).cast("boolean")
    return (
        F.when(a.isNull() | b.isNull(), err)
        # exact families order in DECIMAL (beyond-2^53 ints; r8 review)
        .when(
            exact & fn.DEC_OK(a) & fn.DEC_OK(b)
            & ad.isNotNull() & bd.isNotNull(),
            cmp(ad, bd),
        )
        .when(num & an.isNotNull() & bn.isNotNull(), cmp(an, bn))
        .when(
            (adt == "timestamp") & (bdt == "timestamp"),
            cmp(a.try_cast("timestamp"), b.try_cast("timestamp")),
        )
        .when(
            (adt == _DATE_TAG) & (bdt == _DATE_TAG),
            cmp(_date_key(a), _date_key(b)),  # NULL key = type error
        )
        .when((adt == "string") & (bdt == "string"), cmp(a, b))
        .otherwise(err)
    )


def _maybe_bound(node) -> set:
    """Variables a pattern tree can possibly bind (static, optimistic —
    used for the forward-BIND deferral check; a var in neither branch of
    a UNION etc. still counts as maybe-bound if either arm binds it)."""
    from blazegraph_database_spark.model.terms import Var as _V

    if node is None:
        return set()
    if isinstance(node, (A.SP, A.Emb)):
        out = {p.name for p in (node.s, node.p, node.o) if isinstance(p, _V)}
        g = getattr(node, "g", None)
        if isinstance(g, _V):
            out.add(g.name)
        return out
    if isinstance(node, A.PathPattern):
        out = {p.name for p in (node.s, node.o) if isinstance(p, _V)}
        if isinstance(node.g, _V):
            out.add(node.g.name)
        return out
    if isinstance(node, A.BGP):
        return set().union(*(_maybe_bound(p) for p in node.patterns)) if node.patterns else set()
    if isinstance(node, A.Extend):
        return _maybe_bound(node.child) | {node.var}
    if isinstance(node, A.SidBind):
        inner = {
            p.name for p in (node.emb.s, node.emb.p, node.emb.o) if isinstance(p, _V)
        }
        return _maybe_bound(node.child) | inner | {node.var}
    if isinstance(node, A.Values):
        keys = {k for row in node.rows for k in row}
        return keys | _maybe_bound(node.child)
    if isinstance(node, A.Project):
        return set(node.vars)
    if isinstance(node, A.Group):
        return {k for k in node.keys if isinstance(k, str)} | {n for n, _ in node.aggs}
    if isinstance(node, A.GraphScope):
        out = _maybe_bound(node.child)
        if isinstance(node.g, _V):
            out.add(node.g.name)
        return out
    if isinstance(node, (A.Join, A.LeftJoin, A.Union2)):
        return _maybe_bound(node.left) | _maybe_bound(node.right)
    if isinstance(node, A.Minus):
        return _maybe_bound(node.left)
    if isinstance(node, A.Exists):
        return _maybe_bound(node.child)
    if isinstance(node, A.ExistsFlag):
        return _maybe_bound(node.child) | {node.var}
    if isinstance(node, A.Service):
        out = _maybe_bound(node.pattern)
        if isinstance(node.iri, _V):
            out.add(node.iri.name)
        return out
    child = getattr(node, "child", None)
    if child is not None and hasattr(child, "__dataclass_fields__"):
        return _maybe_bound(child)
    return set()


def _expand_label_services(node, proj: list) -> object:
    """Rewrite automatic-mode `SERVICE wikibase:label` blocks into manual
    mode using THIS select's projection (the Wikidata label service
    contract: a projected ?xLabel / ?xDescription / ?xAltLabel binds the
    corresponding term of ?x). Stops at Project boundaries — a nested
    subquery's parse pass already expanded its own services."""
    from blazegraph_database_spark.model.terms import Var as _V
    from blazegraph_database_spark.operators.service import (
        LABEL_TARGET_PREDS,
        WIKIBASE_LABEL_SERVICE,
        canonical,
    )

    if node is None or not hasattr(node, "__dataclass_fields__"):
        return node
    if isinstance(node, A.Project):
        return node
    if (
        isinstance(node, A.Service)
        and not isinstance(node.iri, _V)
        and canonical(node.iri) == WIKIBASE_LABEL_SERVICE
    ):
        pats = list(node.pattern.patterns) if isinstance(node.pattern, A.BGP) else []
        explicit = {
            sp.o.name
            for sp in pats
            if isinstance(sp, A.SP) and isinstance(sp.o, _V)
        }
        for v in proj:
            # longest suffix first: ?xAltLabel must resolve as ?x + AltLabel,
            # never ?xAlt + Label (a bogus first target would shadow the
            # real one in label_service_join's already-bound guard)
            for suf in sorted(LABEL_TARGET_PREDS, key=len, reverse=True):
                base = v[: -len(suf)] if v.endswith(suf) else ""
                if base and v not in explicit:
                    pats.append(A.SP(_V(base), LABEL_TARGET_PREDS[suf], _V(v)))
                    break
        return A.Service(node.iri, A.BGP(pats), node.raw, node.silent)
    import dataclasses

    kw = {}
    for f in dataclasses.fields(node):
        c = getattr(node, f.name)
        if hasattr(c, "__dataclass_fields__"):
            kw[f.name] = _expand_label_services(c, proj)
        elif isinstance(c, tuple) and c and all(
            hasattr(x, "__dataclass_fields__") for x in c
        ):
            kw[f.name] = tuple(_expand_label_services(x, proj) for x in c)
    return dataclasses.replace(node, **kw) if kw else node


class Parser:
    def __init__(self, src: str, dt_mode: bool = False):
        # dt_mode: the query uses term-type functions (LANG/DATATYPE/...),
        # so BIND/SELECT-bound vars default to a 'string' dtype companion —
        # LANG over a plain BIND result is "" rather than an unresolved
        # column (run_sparql sets this from the query text)
        self.dt_mode = dt_mode
        self.toks = tokenize(src)
        self.i = 0
        # hint:Query hint:regexMatchNonString true (ref: QueryHints.java
        # REGEX_MATCH_NON_STRING; its ticket_1200 fixtures): REGEX falls
        # back to lexical matching over NON-string terms instead of the
        # spec's type error — query-global, so sniffed once here
        self.regex_non_string = bool(
            re.search(r"regexMatchNonString\W+(\"true\"|true)", src)
        )
        # Blazegraph auto-declares the well-known prefixes (ref:
        # sail/sparql/PrefixDeclProcessor.java defaultDecls) — a query may
        # use rdfs:/foaf:/... without declaring them. Explicit PREFIX decls
        # override. The compiler's vocabulary-alias layer keeps the
        # expanded forms joinable with stores that spell these compactly.
        self.prefixes: dict[str, str] = dict(DEFAULT_PREFIXES)
        self.base: str | None = None  # BASE <iri> prologue declaration
        self._agg_counter = 0
        self._anon_counter = 0  # fresh vars for `[ ... ]` bnode prop lists
        self._exists_ctr = 0  # fresh flag vars for expression-level EXISTS
        self._exists_flags: list[tuple] = []  # (var, negate, pattern) pending
        # Aggregate calls inside SELECT expressions / HAVING are hoisted here
        # as (generated alias, agg Column); the expression keeps a column ref
        # to the alias (ref: the AST's GroupByRewriter does the same hoist).
        self._pending_aggs: list[tuple[str, Column]] = []
        # STRLANG/STRDT set the result's dtype tag here; the BIND / SELECT
        # expression consumer materializes it as a `<var>__dt` companion —
        # but only when the recorded token span covers the WHOLE bound
        # expression (a sub-expression call doesn't type the result)
        self._pending_term_dt: str | Column | None = None
        self._pending_term_dt_span: tuple[int, int] | None = None
        # per-group promoted datatype of the LAST typed SUM/AVG (round 8)
        self._last_agg_dt: Column | None = None
        self._date_typed_consts: set[str] = set()
        # repr-keyed, PER-PARSE (see the ARITH note above _DATE_TAG):
        # string-typed but numeric-VALUED arithmetic results, and numeric
        # constants eligible for exact arithmetic (lexical, tag) — 'long'
        # for integer-family, 'decimal' for bare/declared decimals (bare
        # `0.1` IS xsd:decimal per the SPARQL grammar; only e-notation is
        # xsd:double)
        self._arith_lexical: set[str] = set()
        # per-row RESULT datatype of each typed-arith intermediate (keyed
        # like _arith_lexical): 'decimal' exactly where the exact branch
        # fired, 'double' otherwise — what keeps CHAINED arithmetic on the
        # correct lattice path per operand row (ADVICE r9: ?a+?b+?c used
        # to demote to double after the first operator unconditionally)
        # keyed by id() of the EXACT Column object the chain threads back
        # as the next operand (str() keys on multi-thousand-node trees are
        # both costly and fragile): id -> (column ref — keeps the object
        # alive so the id can't be reused —, per-row dt tag, chain depth)
        self._arith_meta: dict[int, tuple["Column", "Column", int]] = {}
        self._num_consts: dict[str, tuple[str, str]] = {}
        # hoisted aggregate aliases whose value column is a typed string
        # LEXICAL with a __dtc companion (typed SUM/AVG/MIN/MAX): ORDER BY
        # keys and comparisons over them go by numeric value, not string
        # order (r9 review)
        self._agg_dtc: set[str] = set()

    # ------------------------------------------------------- tok helpers --
    def peek(self, k: int = 0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t.kind == "KW" and t.text.lower() in kws

    def eat_kw(self, kw: str) -> None:
        if not self.at_kw(kw):
            raise SyntaxError(f"expected {kw.upper()}, got {self.peek().text!r}")
        self.next()

    def eat_op(self, op: str) -> None:
        t = self.next()
        if t.text != op:
            raise SyntaxError(f"expected {op!r}, got {t.text!r}")

    def at_op(self, *ops: str) -> bool:
        return self.peek().text in ops

    # ------------------------------------------------------------ terms --
    def expand_pname(self, pname: str) -> str:
        pfx, local = pname.split(":", 1)
        if pfx not in self.prefixes:
            # unknown prefix: keep the compact form (our stores use compact
            # predicate names like customer#c_custkey directly)
            return pname
        return self.prefixes[pfx] + local

    def term(self):
        t = self.next()
        if t.kind == "DSTART":  # <<s p o>> embedded statement (RDF-star/RDR)
            s = self.term()
            if self.at_kw("a"):
                self.next()
                p = "rdf:type"
            else:
                p = self.term()
            o = self.term()
            if self.peek().kind != "DEND":
                raise SyntaxError(f"expected >> after embedded triple, got {self.peek().text!r}")
            self.next()
            return A.Emb(s, p, o)
        if t.kind == "VAR":
            return Var(t.text[1:])
        if t.kind == "IRI":
            return self.resolve_iri(t.text[1:-1])
        if t.kind == "PNAME":
            if t.text.startswith("_:"):
                # bnode label: scoped to the query, acts as a non-projected
                # variable (SPARQL bnode-in-query semantics)
                return Var(f"__bn_{t.text[2:]}")
            return self.expand_pname(t.text)
        if t.kind == "STRING":
            lex = t.text[1:-1].replace('\\"', '"').replace("\\n", "\n").replace("\\\\", "\\")
            if self.peek().kind == "LANGTAG":
                tag = self.next().text[1:]
                return Lit(lex, f"lang:{tag}")
            if self.peek().text == "^^":
                self.next()
                dt_tok = self.next()
                dt_iri = (
                    self.resolve_iri(dt_tok.text[1:-1])
                    if dt_tok.kind == "IRI"
                    else self.expand_pname(dt_tok.text)
                )
                tag = {
                    "http://www.w3.org/2001/XMLSchema#integer": "long",
                    # xsd:int/long — and xsd:float since round 9 — keep
                    # dt:<iri> term identity (matches the readers — see
                    # sources/ntriples._XSD_DT)
                    "http://www.w3.org/2001/XMLSchema#double": "double",
                    "http://www.w3.org/2001/XMLSchema#decimal": "decimal",
                    "http://www.w3.org/2001/XMLSchema#boolean": "boolean",
                    "http://www.w3.org/2001/XMLSchema#dateTime": "timestamp",
                    "http://www.w3.org/2001/XMLSchema#string": "string",
                    # unknown dtype IRIs keep identity (readers' dt: tags)
                }.get(dt_iri) or f"dt:{dt_iri}"
                if tag == "timestamp":
                    # canonicalize like the readers (millisecond-UTC-Z; the
                    # reference's typed-IV ingest) so pattern matching and
                    # lexical comparison line up with stored canonicals —
                    # the fixed-width Z form also makes lexical order equal
                    # chronological order
                    from blazegraph_database_spark.sources.ntriples import (
                        canonical_datetime_lex,
                    )

                    lex = canonical_datetime_lex(lex)
                elif dt_iri == "http://www.w3.org/2001/XMLSchema#date":
                    # xsd:date constants canonicalize like the readers
                    # (UTC day, signed >=4-digit year) so comparisons and
                    # pattern matching line up with stored canonicals
                    from blazegraph_database_spark.sources.ntriples import (
                        canonical_date_lex,
                    )

                    lex = canonical_date_lex(lex)
                return Lit(lex, tag)
            return Lit(lex)
        if t.kind == "NUM":
            # SPARQL grammar: exponent => xsd:double, bare decimal point =>
            # xsd:decimal, else xsd:integer (term identity matches the
            # readers so pattern constants hit stored tags exactly)
            if "e" in t.text.lower():
                return Lit(t.text, "double")
            return Lit(t.text, "decimal" if "." in t.text else "long")
        if t.kind == "KW" and t.text.lower() == "true":
            return Lit("true", "boolean")
        if t.kind == "KW" and t.text.lower() == "false":
            return Lit("false", "boolean")
        raise SyntaxError(f"bad term: {t.text!r}")

    # ------------------------------------------------------------ paths --
    def path(self):
        return self.path_alt()

    def path_alt(self):
        left = self.path_seq()
        while self.at_op("|"):
            self.next()
            left = A.Alt(left, self.path_seq())
        return left

    def path_seq(self):
        left = self.path_elt()
        while self.at_op("/"):
            self.next()
            left = A.Seq(left, self.path_elt())
        return left

    def _iri_only(self) -> str:
        t = self.next()
        if t.kind == "IRI":
            return self.resolve_iri(t.text[1:-1])
        if t.kind == "PNAME":
            return self.expand_pname(t.text)
        if t.kind == "KW" and t.text.lower() == "a":
            return "rdf:type"
        raise SyntaxError(f"expected IRI, got {t.text!r}")

    def _negated_property_set(self) -> A.NegatedPropertySet:
        """!iri or !(iri|^iri|...) — ref: PathNegatedPropertySet."""
        fwd, inv = [], []
        def one():
            if self.at_op("^"):
                self.next()
                inv.append(self._iri_only())
            else:
                fwd.append(self._iri_only())
        if self.at_op("("):
            self.next()
            one()
            while self.at_op("|"):
                self.next()
                one()
            self.eat_op(")")
        else:
            one()
        return A.NegatedPropertySet(fwd, inv)

    def path_elt(self):
        if self.at_op("!"):
            self.next()
            return self._negated_property_set()
        inv = False
        if self.at_op("^"):
            self.next()
            inv = True
        if self.at_op("("):
            self.next()
            p = self.path()
            self.eat_op(")")
        else:
            t = self.next()
            if t.kind == "IRI":
                p = self.resolve_iri(t.text[1:-1])
            elif t.kind == "PNAME":
                p = self.expand_pname(t.text)
            elif t.kind == "KW" and t.text.lower() == "a":
                p = "rdf:type"
            else:
                raise SyntaxError(f"bad path element: {t.text!r}")
        if self.at_op("+"):
            self.next()
            p = A.Plus(p)
        elif self.at_op("*"):
            self.next()
            p = A.Star(p)
        elif self.at_op("?"):
            self.next()
            p = A.ZeroOrOne(p)
        elif self.at_op("{"):
            # bounded-length path p{m,n} / p{m,} / p{,n} / p{n} (ref:
            # ArbitraryLengthPathNode.java:95 LOWER_BOUND/UPPER_BOUND;
            # SPARQL 1.1 draft path-mod syntax)
            self.next()
            lo = hi = None
            if self.peek().kind == "NUM":
                lo = self._path_bound(self.next().text)
            if self.at_op(","):
                self.next()
                if self.peek().kind == "NUM":
                    hi = self._path_bound(self.next().text)
            else:
                hi = lo  # {n} = exactly n
            self.eat_op("}")
            if lo is None and hi is None:
                raise SyntaxError("path bound {} needs at least one of m,n")
            lo = lo or 0
            if hi is not None and hi < lo:
                raise SyntaxError(f"path bound upper {hi} < lower {lo}")
            p = A.Bounded(p, lo, hi)
        if inv:
            p = A.Inv(p)
        return p

    def _path_bound(self, text: str) -> int:
        try:
            n = int(text)
        except ValueError:
            raise SyntaxError(f"path bound must be a non-negative integer: {text!r}")
        if n < 0:
            raise SyntaxError(f"path bound must be non-negative: {text!r}")
        return n

    def _is_simple_pred(self, p) -> bool:
        return isinstance(p, str)

    # ------------------------------------------------------ expressions --
    def expr(self) -> Column:
        return self.expr_or()

    def expr_or(self) -> Column:
        left = self.expr_and()
        while self.at_op("||"):
            self.next()
            left = left | self.expr_and()
        return left

    def expr_and(self) -> Column:
        left = self.expr_not()
        while self.at_op("&&"):
            self.next()
            left = left & self.expr_not()
        return left

    def expr_not(self) -> Column:
        if self.at_op("!"):
            self.next()
            return ~self.expr_not()
        return self.expr_cmp()

    def expr_cmp(self) -> Column:
        left = self.expr_add()
        if self.at_op("=", "!=", "<", "<=", ">", ">="):
            op = self.next().text
            right = self.expr_add()
            if self.dt_mode and (
                str(left) in self._arith_lexical
                or str(right) in self._arith_lexical
            ):
                # a typed-arithmetic result is numeric-VALUED even though
                # its column type is string — compare by value; an
                # uncastable side is a per-row type error (NULL drops)
                ln, rn = left.try_cast("double"), right.try_cast("double")
                return {
                    "=": lambda a, b: a == b, "!=": lambda a, b: a != b,
                    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
                    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
                }[op](ln, rn)
            if op in ("=", "!="):
                # var-vs-var [in]equality under dt tracking is OPEN-WORLD
                # typed term equality (see _typed_eq); only meaningful when
                # the `__dt` companions ride the plan
                lv, rv = _bare_var(left), _bare_var(right)
                if (
                    self.dt_mode and lv and rv
                    and _has_dt_companion(lv) and _has_dt_companion(rv)
                ):
                    eq = _typed_eq(lv, rv)
                    return eq if op == "=" else ~eq
            else:
                # ordering against an inline-URI constant (ref:
                # InlineIPv4URIHandler — `?ip > <urn:ipv4:10.0.0.0>` must
                # compare in PACKED VALUE order, not lexicographically):
                # both sides take the handler's native key; rows whose var
                # isn't a parseable handler URI key to NULL = type error
                iu = _inline_uri_cmp(left, right)
                if iu is not None:
                    left, right = iu
                elif self.dt_mode:
                    lv, rv = _bare_var(left), _bare_var(right)
                    if lv and rv and _has_dt_companion(lv) and _has_dt_companion(rv):
                        # var-var ORDERING under dt tracking is typed:
                        # numerics compare by value ("2" < "10" for the
                        # reference's numeric extension types — fixture
                        # compressed-timestamp-01d), timestamps as
                        # timestamps, strings lexically; mixed = type error
                        return _typed_order(lv, rv, op)
                    dc = _date_const_order(left, right, op, self._date_typed_consts)
                    if dc is not None:
                        return dc
            if self.dt_mode:
                # a typed-aggregate alias (string LEXICAL + __dtc
                # companion) on either side compares by numeric VALUE:
                # HAVING(SUM(?a) = SUM(?b)) / SUM(?x) > 100 would otherwise
                # string-compare ("10" < "9"); exact families in DECIMAL,
                # else double (r9 review)
                ac = self._agg_cmp(left, right, op)
                if ac is not None:
                    return ac
            left, right = _typed_cmp_sides(left, right)
            return {
                "=": lambda a, b: a == b, "!=": lambda a, b: a != b,
                "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
                ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
            }[op](left, right)
        if self.at_kw("in") or (self.at_kw("not") and self.peek(1).text.lower() == "in"):
            neg = self.at_kw("not")
            if neg:
                self.next()
            self.next()
            self.eat_op("(")
            vals = [self.expr()]
            while self.at_op(","):
                self.next()
                vals.append(self.expr())
            self.eat_op(")")
            # SPARQL defines IN as (?x = e1 || ?x = e2 || ...), so each
            # comparison takes the same typed-sides treatment as `=` —
            # Column.isin would ANSI-cast the whole column to the literals'
            # type and abort on any non-numeric binding instead of treating
            # it as a per-row type error (false).
            res = None
            for v in vals:
                l2, r2 = _typed_cmp_sides(left, v)
                c = l2 == r2
                res = c if res is None else (res | c)
            return ~res if neg else res
        return left

    def expr_add(self) -> Column:
        left = self.expr_mul()
        while True:
            # `?x+1` lexes the sign into the NUM token — in binary-additive
            # position split it back into operator + magnitude (the signed
            # form is only right when a literal stands alone, e.g. `> -1`)
            nxt = self.peek()
            if nxt.kind == "NUM" and nxt.text[0] in "+-":
                self.toks[self.i : self.i + 1] = [
                    Tok("OP", nxt.text[0]),
                    Tok("NUM", nxt.text[1:]),
                ]
            if not self.at_op("+", "-"):
                break
            op = self.next().text
            right = self.expr_mul()
            ta = self._typed_arith(left, right, op)
            if ta is not None:
                left = ta
                continue
            left, right = _typed_arith_operand(left), _typed_arith_operand(right)
            left = left + right if op == "+" else left - right
        return left

    def expr_mul(self) -> Column:
        left = self.expr_unary()
        while self.at_op("*", "/"):
            op = self.next().text
            right = self.expr_unary()
            ta = self._typed_arith(left, right, op)
            if ta is not None:
                left = ta
                continue
            left, right = _typed_arith_operand(left), _typed_arith_operand(right)
            left = left * right if op == "*" else left / right
        return left

    def _typed_arith(self, left: Column, right: Column, op: str) -> Column | None:
        """Per-row promoted arithmetic under dt tracking (round 8; ref:
        internal/constraints/MathBOp.java's BigDecimal branch +
        XSDDecimalIV.java scale semantics): var-op-var where BOTH operands
        are EXACT types (xsd:integer family / xsd:decimal) computes in
        Spark DECIMAL — money-scale add/sub/mul never picks up binary
        double rounding ("0.1" + "0.2" is "0.3"). Any double operand keeps
        the double path per the XPath promotion lattice, as does division
        (op:numeric-divide precision is double-defined here). Returns None
        when the operands aren't both bare vars — the general double path
        applies.

        Chain depth is CAPPED: each typed level embeds the previous result
        expression ~5x (ad/an/res/rode_exact) plus its per-row dt tag, so
        an uncapped chain's Column tree — and the str() keys registering
        it — grows ~10x per operator (r10 review: an 8-operand chain
        stringifies to hundreds of MB at parse time). Chains up to
        _ARITH_CHAIN_MAX ride exact end-to-end; deeper tails demote to the
        double path (the pre-r10 behavior from that point on)."""
        if not self.dt_mode or op == "/":
            return None
        depth = 1 + max(self._chain_depth(left), self._chain_depth(right))
        if depth > _ARITH_CHAIN_MAX:
            return None
        ls, rs = self._arith_side(left), self._arith_side(right)
        if ls is None or rs is None:
            return None
        (a, adt), (b, bdt) = ls, rs
        exact = (
            fn.EXACT_TAG(adt) & fn.EXACT_TAG(bdt)
            & fn.DEC_OK(a) & fn.DEC_OK(b)
        )
        # multiplication: (38,12)x(38,12) would floor the result scale to
        # 6 under Spark's precision-loss rule (0.0001*0.0001 -> 0); the
        # narrower (25,12) operands keep scale 11 — values beyond 10^13
        # null the cast and gracefully demote to the double path
        op_t = "decimal(25,12)" if op == "*" else fn.DEC_T
        ad, bd = a.try_cast(op_t), b.try_cast(op_t)
        an, bn = a.try_cast("double"), b.try_cast("double")
        f = {
            "+": lambda x, y: x + y,
            "-": lambda x, y: x - y,
            "*": lambda x, y: x * y,
        }[op]
        # branch types string/double unify to STRING (the engine's lexical
        # value model); downstream comparisons/arithmetic re-promote to
        # double via Spark's string-numeric coercion. Comparison sites and
        # ConditionalBind look the result up in _arith_lexical to keep
        # NUMERIC compare semantics for the string-typed column. The exact
        # branch also requires the RESULT be non-null: accumulated decimal
        # overflow under non-ANSI yields NULL, which must DEMOTE to the
        # double path, not render an unbound total (ADVICE r8).
        res = f(ad, bd)
        rode_exact = exact & ad.isNotNull() & bd.isNotNull() & res.isNotNull()
        out = F.when(rode_exact, fn.DEC_LEX(res)).otherwise(f(an, bn))
        self._arith_lexical.add(str(out))
        dt_tag = F.when(rode_exact, F.lit("decimal")).otherwise(F.lit("double"))
        self._arith_meta[id(out)] = (out, dt_tag, depth)
        return out

    def _chain_depth(self, col: Column) -> int:
        meta = self._arith_meta.get(id(col))
        return meta[2] if meta is not None and meta[0] is col else 0

    def _order_key(self, e: Column) -> Column:
        """A string-typed arith-lexical result — or a typed SUM/AVG/MIN/MAX
        alias (string lexical + __dtc companion) — used as an ORDER BY key
        sorts by numeric VALUE, not lexical order ('10' before '9'): sort
        keys demote to double (exactness past 2^53 doesn't survive a sort
        key either way, matching the r8 numeric path). The non-numeric
        fallback keeps lexical order for MIN/MAX winners that aren't
        numbers."""
        if str(e) in self._arith_lexical:
            return e.try_cast("double")
        v = _bare_var(e)
        if v and v in self._agg_dtc:
            # numeric winners by value, non-numeric (MIN/MAX over strings)
            # by lexical tiebreak — one struct key, field-wise order
            return F.struct(e.try_cast("double"), e)
        return e

    def _agg_cmp(self, left: Column, right: Column, op: str) -> Column | None:
        """Typed comparison when at least one side is a typed-aggregate
        alias (value = string lexical, datatype = per-group __dtc
        companion) and both sides resolve through _arith_side: exact
        numeric families compare in DECIMAL, any numeric pair by double
        value, anything else is a per-row type error (NULL). Returns None
        when the gate doesn't apply — every pre-existing comparison path
        is untouched."""
        lv, rv = _bare_var(left), _bare_var(right)
        if not ((lv and lv in self._agg_dtc) or (rv and rv in self._agg_dtc)):
            return None
        ls, rs = self._arith_side(left), self._arith_side(right)
        if ls is None or rs is None:
            return None
        (a, adt), (b, bdt) = ls, rs
        exact = (
            fn.EXACT_TAG(adt) & fn.EXACT_TAG(bdt)
            & fn.DEC_OK(a) & fn.DEC_OK(b)
        )
        num = fn.NUM_TAG(adt) & fn.NUM_TAG(bdt)
        ad, bd = a.try_cast(fn.DEC_T), b.try_cast(fn.DEC_T)
        an, bn = a.try_cast("double"), b.try_cast("double")
        cmpf = {
            "=": lambda x, y: x == y, "!=": lambda x, y: x != y,
            "<": lambda x, y: x < y, "<=": lambda x, y: x <= y,
            ">": lambda x, y: x > y, ">=": lambda x, y: x >= y,
        }[op]
        err = F.lit(None).cast("boolean")
        return (
            F.when(a.isNull() | b.isNull(), err)
            .when(exact & ad.isNotNull() & bd.isNotNull(), cmpf(ad, bd))
            .when(num & an.isNotNull() & bn.isNotNull(), cmpf(an, bn))
            .when((adt == "string") & (bdt == "string"), cmpf(a, b))
            .otherwise(err)
        )

    def _arith_side(self, col: Column):
        """Resolve an arithmetic operand to (value, datatype-tag) columns,
        or None when the operand can't ride the exact path:

        - a pattern var -> its value + `__dt` companion;
        - a hoisted typed aggregate (`__aggN` whose per-group `__aggN__dtc`
          companion is pending) -> alias + companion, so
          SELECT (SUM(?a)+SUM(?b) AS ?t) computes exactly instead of
          raising UNRESOLVED_COLUMN `__agg0__dt` (ADVICE r8);
        - a numeric constant the parse registered (bare decimal / typed
          integer-family literal) -> its lexical + literal tag, so
          `?p * 0.1` and `BIND(0.1 + 0.2 AS ?x)` stay BigDecimal-exact
          (ADVICE r8; e-notation/xsd:double constants are deliberately NOT
          registered — a double operand keeps the double path);
        - a typed-arith INTERMEDIATE this parse produced (registered in
          _arith_lexical) -> the expression + its recorded per-row result
          tag ('decimal' exactly where the exact branch fired, 'double'
          otherwise), so chained exact arithmetic stays on the DECIMAL
          path end-to-end — `0.1 + 0.2 + 0.3` is exact, not exact-then-
          double — while a chain through any double operand keeps XPath
          double promotion for those rows (ADVICE r9)."""
        v = _bare_var(col)
        if v is not None:
            if _has_dt_companion(v):
                return F.col(v), F.coalesce(F.col(f"{v}__dt"), F.lit("string"))
            if v in self._agg_dtc:
                return F.col(v), F.coalesce(F.col(f"{v}__dtc"), F.lit("string"))
            return None
        # id-keyed intermediate lookup FIRST: the _num_consts str() key
        # would stringify a chained intermediate's whole tree just to miss
        meta = self._arith_meta.get(id(col))
        if meta is not None and meta[0] is col:
            return col, meta[1]
        nc = self._num_consts.get(str(col))
        if nc is not None:
            lex, tag = nc
            return F.lit(lex), F.lit(tag)
        return None

    def expr_unary(self) -> Column:
        if self.at_op("-"):
            self.next()
            return -self.expr_unary()
        return self.expr_primary()

    def expr_primary(self) -> Column:
        t = self.peek()
        if t.text == "(":
            self.next()
            e = self.expr()
            self.eat_op(")")
            return e
        # [NOT] EXISTS { ... } as a VALUE EXPRESSION (usable anywhere in a
        # filter expression, not just as a bare FILTER — SPARQL 1.1 treats
        # EXISTS as an expression operator; the reference evaluates
        # ExistsNode/NotExistsNode through an ask-subquery solution flag).
        # Parses the group now, defers the flag join to the enclosing group
        # (see group_graph_pattern), and yields the flag column here.
        if (t.kind == "KW" and t.text.lower() == "exists") or (
            t.kind == "KW"
            and t.text.lower() == "not"
            and self.peek(1).text.lower() == "exists"
        ):
            negate = t.text.lower() == "not"
            self.next()
            if negate:
                self.next()
            pattern = self.group_graph_pattern()
            var = f"__ex{self._exists_ctr}"
            self._exists_ctr += 1
            self._exists_flags.append((var, negate, pattern))
            return F.col(var)
        if t.kind == "VAR":
            self.next()
            return F.col(t.text[1:])
        if t.kind == "NUM":
            self.next()
            if "." in t.text:
                lit = F.lit(float(t.text))
            else:
                v = int(t.text)
                if -(2 ** 63) <= v <= 2 ** 63 - 1:
                    lit = F.lit(v)
                else:
                    # beyond-long bare integers (the unsignedLong domain)
                    # ride as DECIMAL literals — py4j cannot ship the int
                    # (same fix as the typed-literal branch)
                    from decimal import Decimal

                    lit = F.lit(Decimal(t.text))
            if self.dt_mode and "e" not in t.text.lower():
                # bare `0.1` is xsd:decimal, bare `2` xsd:integer per the
                # SPARQL grammar (only e-notation is xsd:double): register
                # for exact arithmetic (_arith_side); the Column itself
                # stays the numeric lit every non-arith path expects
                tag = "decimal" if "." in t.text else "long"
                self._num_consts[str(lit)] = (t.text, tag)
            return lit
        if t.kind == "STRING":
            # a literal term (maybe typed); compare by lexical form
            term = self.term()
            if term.dt == "long":
                v = int(term.lex)
                if -(2 ** 63) <= v <= 2 ** 63 - 1:
                    lit = F.lit(v)
                else:
                    # xsd:integer is unbounded (BigInteger in the
                    # reference); beyond-long constants ride as DECIMAL
                    # literals (py4j cannot even ship the int)
                    from decimal import Decimal

                    lit = F.lit(Decimal(term.lex))
                if self.dt_mode:
                    self._num_consts[str(lit)] = (term.lex, "long")
                return lit
            if term.dt in ("double", "decimal"):
                lit = F.lit(float(term.lex))
                if self.dt_mode and term.dt == "decimal":
                    # declared ^^xsd:decimal constants ride the EXACT
                    # arithmetic path (ADVICE r8); doubles stay double
                    self._num_consts[str(lit)] = (term.lex, "decimal")
                return lit
            if term.dt == _DATE_TAG:
                # remember the DECLARED xsd:date constants so comparisons
                # gate chronological semantics on the type, not the shape
                self._date_typed_consts.add(term.lex)
            return F.lit(term.lex)
        if t.kind in ("IRI", "PNAME") and self.peek(1).text == "(":
            # xsd cast-as-function call: xsd:integer(?x) / <...#double>(?x)
            name = self.expand_pname(t.text) if t.kind == "PNAME" else self.resolve_iri(t.text[1:-1])
            # registered custom/XPath function call by IRI (ref:
            # FunctionRegistry.java — external factories invoked from any
            # expression position; TestCustomFunction.java is the model).
            # Exact-IRI registration wins over the local-name xsd-cast
            # heuristic below (a user registering <http://ex/fn#double>
            # means their function, not a cast).
            impl = func_registry.resolve_function(name)
            if impl is not None:
                self.next()
                self.eat_op("(")
                args = []
                if not self.at_op(")"):
                    args.append(self._func_arg())
                    while self.at_op(","):
                        self.next()
                        args.append(self._func_arg())
                self.eat_op(")")
                return impl(*args)
            # xsd cast-as-function by local name: xsd:integer(?x)
            local = name.rsplit("#", 1)[-1].rsplit(":", 1)[-1]
            if local in _XSD_CAST_LOCAL or local in _SIZED_INT_RANGES:
                call_start = self.i
                self.next()
                self.eat_op("(")
                e = self.expr()
                self.eat_op(")")
                # the cast CONSTRUCTS a typed literal: bind the result's
                # datatype companion (same span contract as STRLANG/STRDT)
                # for the numeric/string family; boolean/dateTime keep the
                # previous untagged behavior. The sized-int family carries
                # dt:<iri> IDENTITY tags (TestCustomTypeCasts: DATATYPE of
                # xsd:long(...) is xsd:long, not xsd:integer).
                if local in _SIZED_INT_RANGES or local == "float":
                    # float joins the identity-tag constructors in r9
                    # (XSDNumericIV float distinctness: DATATYPE of
                    # xsd:float(...) is xsd:float, not xsd:double)
                    cast_tag = f"dt:http://www.w3.org/2001/XMLSchema#{local}"
                else:
                    cast_tag = {
                        "integer": "long", "nonNegativeInteger": "long",
                        "double": "double",
                        "decimal": "decimal", "string": "string",
                    }.get(local)
                if self.dt_mode and cast_tag is not None:
                    self._pending_term_dt = cast_tag
                    self._pending_term_dt_span = (call_start, self.i)
                if local == "decimal":
                    # BigDecimal-scale cast (round 8; ref: XSDDecimalIV):
                    # the value is computed in DECIMAL and rendered
                    # canonically, never through a double
                    return fn.DEC_LEX(e.try_cast(fn.DEC_T))
                if local == "float":
                    # 32-bit value semantics: round through FloatType and
                    # render Float.toString-style (Spark's float-to-string)
                    return e.try_cast("float").cast("string")
                if local in _SIZED_INT_RANGES:
                    # range-validated (ref: the XSDNumericIV casts REJECT
                    # out-of-range lexicals — type_cast_long's 2^63 row
                    # comes back UNBOUND): exact decimal arithmetic so
                    # unsignedLong's full 2^64-1 domain round-trips
                    lo, hi = _SIZED_INT_RANGES[local]
                    es = e.cast("string")
                    # integer-shaped lexicals only — decimal(38,0) would
                    # ROUND "3.7" where the reference's parse rejects it.
                    # Bounds go through string literals: unsignedLong's
                    # 2^64-1 overflows a py4j long.
                    d = F.when(
                        es.rlike(r"^[+-]?[0-9]+$"), es.try_cast("decimal(38,0)")
                    )
                    lo_c = F.lit(str(lo)).cast("decimal(38,0)")
                    hi_c = F.lit(str(hi)).cast("decimal(38,0)")
                    return F.when(
                        (d >= lo_c) & (d <= hi_c),
                        d.cast("decimal(38,0)").cast("string"),
                    ).otherwise(F.lit(None).cast("string"))
                return e.try_cast(_XSD_CAST_LOCAL[local])
            raise SyntaxError(f"unknown function <{name}>")
        if t.kind == "IRI":
            self.next()
            return F.lit(self.resolve_iri(t.text[1:-1]))
        if t.kind == "PNAME":
            # IRI term in expression position (FILTER(?x = :bob) /
            # ?type = owl:Class): compares on the expanded lexical — IRI
            # term identity is lexical equality in this engine
            self.next()
            return F.lit(self.expand_pname(t.text))
        if t.kind == "KW":
            kw = t.text.upper()
            low = t.text.lower()
            if low == "true":
                self.next()
                return F.lit(True)
            if low == "false":
                self.next()
                return F.lit(False)
            if kw == "IF":
                self.next()
                self.eat_op("(")
                c = self.expr()
                self.eat_op(",")
                a = self.expr()
                self.eat_op(",")
                b = self.expr()
                self.eat_op(")")
                return fn.IF(c, a, b)
            if kw in ("LANG", "DATATYPE", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL"):
                # term-type tests/accessors read the `<var>__dt` companion
                # the compiler binds under dt tracking (run_sparql enables
                # it when the query text uses these functions)
                self.next()
                self.eat_op("(")
                t2 = self.next()
                if t2.kind != "VAR":
                    raise SyntaxError(f"{kw} applies to a variable binding, got {t2.text!r}")
                v = t2.text[1:]
                self.eat_op(")")
                impl = {
                    "LANG": fn.LANG, "DATATYPE": fn.DATATYPE, "ISIRI": fn.ISIRI,
                    "ISURI": fn.ISIRI, "ISBLANK": fn.ISBLANK, "ISLITERAL": fn.ISLITERAL,
                }[kw]
                return impl(F.col(v), F.col(f"{v}__dt"))
            if kw == "LANGMATCHES":
                self.next()
                self.eat_op("(")
                lang = self.expr()
                self.eat_op(",")
                rng = self.term().lex
                self.eat_op(")")
                return fn.LANGMATCHES(lang, rng)
            if kw in ("NOW", "RAND", "UUID", "STRUUID", "BNODE"):
                self.next()
                self.eat_op("(")
                self.eat_op(")")
                return {"NOW": fn.NOW, "RAND": fn.RAND, "UUID": fn.UUID,
                        "STRUUID": fn.STRUUID, "BNODE": fn.BNODE}[kw]()
            if kw in ("TIMEZONE", "TZ"):
                self.next()
                self.eat_op("(")
                x = self.expr()
                self.eat_op(")")
                return fn.TIMEZONE(x)
            if kw in ("STRLANG", "STRDT"):
                start = self.i  # span start: the STRLANG/STRDT token itself
                self.next()
                self.eat_op("(")
                x = self.expr()
                self.eat_op(",")
                if kw == "STRLANG":
                    tag = self.term()
                    if not isinstance(tag, Lit):
                        raise SyntaxError("STRLANG needs a literal language tag")
                    self._pending_term_dt = fn.STRLANG_DT(tag.lex)
                else:
                    dt_tok = self.next()
                    if dt_tok.kind not in ("IRI", "PNAME"):
                        raise SyntaxError("STRDT needs a constant datatype IRI")
                    dt_iri = (
                        dt_tok.text[1:-1] if dt_tok.kind == "IRI" else self.expand_pname(dt_tok.text)
                    )
                    self._pending_term_dt = fn.STRDT_TAG(dt_iri)
                self.eat_op(")")
                # the dtype tag applies only when this call IS the whole
                # bound expression — consumers compare this span against the
                # expression they parsed (CONCAT(STRLANG(...), x) is a plain
                # string, not a lang literal)
                self._pending_term_dt_span = (start, self.i)
                return x.cast("string")
            if kw == "SUBSTR":
                self.next()
                self.eat_op("(")
                x = self.expr()
                self.eat_op(",")
                s = self.next().text
                ln = None
                if self.at_op(","):
                    self.next()
                    ln = int(self.next().text)
                self.eat_op(")")
                return fn.SUBSTR(x, int(s), ln) if ln is not None else fn.SUBSTR(x, int(s))
            if kw == "REPLACE":
                self.next()
                self.eat_op("(")
                x = self.expr()
                self.eat_op(",")
                pat = self.term().lex
                self.eat_op(",")
                rep = self.term().lex
                self.eat_op(")")
                return fn.REPLACE(x, pat, rep)
            if kw in AGGS:
                # hoist: the aggregate is computed under a generated alias at
                # the Group node; the surrounding expression sees the alias
                start = self.i
                name, col = self._agg_call()
                alias = f"__agg{self._agg_counter}"
                self._agg_counter += 1
                self._pending_aggs.append((alias, col))
                # dt_mode companion when the aggregate IS the whole bound
                # expression (same span contract as STRLANG/STRDT): COUNT
                # yields xsd:integer, SUM/AVG numeric (ref: the typed-IV
                # aggregates produce typed results, AggregateBase).
                # dt-tracking ONLY: an unconditional companion Extend broke
                # the fast-range-count rewrite's Project(Extend(Group))
                # shape for plain COUNT(*) queries (r6 regression)
                if self.dt_mode and name in ("count", "sum", "avg", "min", "max"):
                    if self._last_agg_dt is not None:
                        # typed SUM/AVG: the promoted datatype is a
                        # PER-GROUP aggregate — hoist it beside the value
                        # and bind the companion from its alias
                        dt_alias = f"{alias}__dtc"
                        self._pending_aggs.append((dt_alias, self._last_agg_dt))
                        self._agg_dtc.add(alias)
                        self._pending_term_dt = F.col(dt_alias)
                        self._pending_term_dt_span = (start, self.i)
                    elif name in ("count", "sum", "avg"):
                        self._pending_term_dt = (
                            "long" if name == "count" else "double"
                        )
                        self._pending_term_dt_span = (start, self.i)
                return F.col(alias)
            if kw in ("SUBSTR", "REPLACE"):
                # variable arity: SUBSTR(x, start[, len]), REPLACE(x, pat, rep)
                self.next()
                self.eat_op("(")
                args = [self.expr()]
                while self.at_op(","):
                    self.next()
                    if self.peek().kind == "STRING":
                        args.append(self.term().lex)
                    elif self.peek().kind == "NUM":
                        t2 = self.next()
                        args.append(float(t2.text) if "." in t2.text else int(t2.text))
                    else:
                        args.append(self.expr())
                self.eat_op(")")
                return (fn.SUBSTR if kw == "SUBSTR" else fn.REPLACE)(*args)
            if kw == "REGEX":
                # optional third flags argument (fn:matches): REGEX(x, pat[, flags])
                self.next()
                self.eat_op("(")
                x = self.expr()
                self.eat_op(",")
                pat = self.term().lex if self.peek().kind == "STRING" else self.expr()
                fl = None
                if self.at_op(","):
                    self.next()
                    fl = self.term().lex
                self.eat_op(")")
                rex = fn.REGEX(x, pat, fl)
                xv = _bare_var(x)
                if self.dt_mode and xv and not self.regex_non_string:
                    # REGEX takes a string literal: under dt tracking a
                    # typed/resource operand is a per-row TYPE ERROR, not a
                    # lexical match (ticket_1780: "10.x"^^xsd:IPv4Address
                    # must not satisfy REGEX(?address, '^10.*'))
                    xdt = F.coalesce(F.col(f"{xv}__dt"), F.lit("string"))
                    rex = F.when(
                        (xdt == "string") | xdt.startswith("lang:"), rex
                    ).otherwise(F.lit(None).cast("boolean"))
                return rex
            for table, arity in ((FUNCS_1, 1), (FUNCS_2, 2)):
                if kw in table:
                    call_start = self.i
                    self.next()
                    self.eat_op("(")
                    args = [self.expr()]
                    for _ in range(arity - 1):
                        self.eat_op(",")
                        # string-literal args pass through as python strings
                        # for the pattern/fragment-style functions; SAMETERM
                        # compares TERMS, so its literal must stay a literal
                        # Column (fn._c reads a bare str as a column NAME —
                        # ticket_blzg_1331: sameTerm(?tmp, "val"))
                        if self.peek().kind == "STRING" and kw != "SAMETERM":
                            args.append(self.term().lex)
                        else:
                            args.append(self.expr())
                    self.eat_op(")")
                    if kw in ("IRI", "URI"):
                        # the constructed term is a RESOURCE: its dt
                        # companion must say iri or a downstream term join
                        # (VALUES ?g { <...> } against BIND(URI(...) AS ?g))
                        # mismatches in dt mode — same span contract as
                        # STRLANG/STRDT (ticket-1007b)
                        self._pending_term_dt = "iri"
                        self._pending_term_dt_span = (call_start, self.i)
                    return table[kw](*args)
            if kw in FUNCS_N:
                self.next()
                self.eat_op("(")
                args = [self.expr()]
                while self.at_op(","):
                    self.next()
                    args.append(self.expr())
                self.eat_op(")")
                return FUNCS_N[kw](*args)
        raise SyntaxError(f"bad expression at {t.text!r}")

    def _func_arg(self):
        """One argument of a registered-function call: string literals pass
        through as python strings (pattern/separator-style args, matching
        the FUNCS_2 convention above); everything else is a full expr."""
        if self.peek().kind == "STRING":
            return self.term().lex
        return self.expr()

    def _agg_call(self) -> tuple[str, Column]:
        # per-group promoted datatype companion (set by the typed SUM/AVG
        # branch below; consumed by the AGGS call site in expr_primary)
        self._last_agg_dt = None
        name = self.next().text.upper()
        self.eat_op("(")
        distinct = False
        if self.at_kw("distinct"):
            self.next()
            distinct = True
        if self.peek().text == "*":
            self.next()
            arg = None
        else:
            arg = self.expr()
        sep = None
        if self.at_op(";"):  # GROUP_CONCAT(?x; separator="...") scalar arg
            self.next()
            key = self.next().text.lower()
            if key != "separator":
                raise SyntaxError(f"unknown aggregate option {key!r}")
            self.eat_op("=")
            sep = self.term().lex
        self.eat_op(")")
        if name == "GROUP_CONCAT":
            # DISTINCT dedups the multiset before concatenation (SPARQL 1.1
            # §18.5.1.7); collect_set is the distinct collect, and the same
            # deterministic array_sort GROUP_CONCAT already applies
            if distinct:
                col = F.array_join(
                    F.array_sort(F.collect_set(arg)), sep if sep is not None else " "
                )
            else:
                col = fn.GROUP_CONCAT(arg, sep) if sep is not None else fn.GROUP_CONCAT(arg)
            return name.lower(), col
        if name == "COUNT":
            if arg is None:
                col = F.count(F.lit(1))
            else:
                col = F.count_distinct(arg) if distinct else F.count(arg)
        elif distinct and name == "SUM":
            col = F.sum_distinct(fn.num(arg))
        elif distinct and name == "AVG":
            # AVG(DISTINCT x) = SUM(DISTINCT x) / COUNT(DISTINCT x); Spark
            # has no avg_distinct built-in but the quotient is exact
            col = F.sum_distinct(fn.num(arg)) / F.count_distinct(fn.num(arg))
        elif (
            self.dt_mode and name in ("MIN", "MAX") and _bare_var(arg) is not None
        ):
            # SPARQL ORDER BY term ordering for MIN/MAX under dt tracking
            # (ref: TestTickets aggregate-min/max fixtures + the IV total
            # order): unbound < bnodes < IRIs < literals; numeric literals
            # compare by VALUE. min_by/max_by over a rank struct keeps the
            # whole thing one map-side-combining aggregate.
            v = _bare_var(arg)
            x = F.col(v)
            xdt = F.coalesce(F.col(f"{v}__dt"), F.lit("string"))
            rank = (
                # unbound never wins: rank it past the losing end per side
                F.when(x.isNull(), F.lit(-1 if name == "MAX" else 3))
                .when(xdt == "bnode", F.lit(0))
                .when(xdt.isin("iri", "sid"), F.lit(1))
                .otherwise(F.lit(2))
            )
            key = F.struct(rank, x.try_cast("double"), x)
            # the winner's DATATYPE rides as a companion (r8; the reference
            # returns the winning IV itself, type included). Value and tag
            # are fields of ONE min_by/max_by struct so an exact-key tie
            # can never pick the value from one row and the tag from
            # another (r9 review — two independent min_bys could)
            mm = F.struct(x.alias("v"), xdt.alias("t"))
            win = F.max_by(mm, key) if name == "MAX" else F.min_by(mm, key)
            col = win.getField("v")
            self._last_agg_dt = win.getField("t")
        elif (
            self.dt_mode and name in ("SUM", "AVG") and _bare_var(arg) is not None
        ):
            # Typed aggregate semantics under dt tracking (SPARQL 1.1 §18.5 /
            # ref: internal/constraints/MathBOp.java): SUM/AVG over a group
            # containing any bound NON-numeric value (plain string, bnode,
            # IRI, unknown dtype, or a numeric-typed literal with an invalid
            # lexical form) is a TYPE ERROR -> the total is unbound for that
            # group, not a best-effort sum of the castable rows. Eval
            # fixtures sparql11-sum-03/04 pin this.
            #
            # Round 8, BigDecimal-scale arithmetic (ref: internal/impl/
            # literal/XSDDecimalIV.java + MathBOp's BigDecimal branch): a
            # group with NO double-typed member accumulates EXACTLY in
            # Spark DECIMAL — SUM of money-scale xsd:decimal values never
            # picks up double rounding ("0.1" x 3 sums to "0.3", not
            # 0.30000000000000004). Only a double member demotes the whole
            # group to double, exactly the XPath promotion lattice. The
            # result column is the LEXICAL (string) with a per-GROUP
            # datatype companion (integer/decimal/double promotion is a
            # per-group fact, not a plan-time one).
            v = _bare_var(arg)
            x = F.col(v)
            xdt = F.coalesce(F.col(f"{v}__dt"), F.lit("string"))
            valid = fn.NUM_TAG(xdt) & x.try_cast("double").isNotNull()
            any_bad = F.max(F.when(x.isNotNull() & ~valid, 1).otherwise(0))
            # float members demote the group like double members do (r9:
            # xsd:float is an identity tag but an INEXACT numeric family)
            any_dbl = F.max(
                F.when(
                    x.isNotNull() & ((xdt == "double") | (xdt == fn.XSD_FLOAT_DT)),
                    1,
                ).otherwise(0)
            )
            any_dec = F.max(
                F.when(x.isNotNull() & (xdt == "decimal"), 1).otherwise(0)
            )
            xd = x.try_cast(fn.DEC_T)
            # a valid-numeric lexical the DECIMAL cast cannot hold (>26
            # integer digits — xsd:integer is unbounded) must DEMOTE the
            # group to the double path, not silently vanish from the exact
            # sum (r8 review)
            # ...or any lexical deeper than scale 12 (the DECIMAL cast
            # would ROUND it instead of nulling — r9 review)
            any_big = F.max(
                F.when(
                    valid & x.isNotNull() & (xd.isNull() | ~fn.DEC_OK(x)), 1
                ).otherwise(0)
            )
            if name == "SUM":
                dbl, dec_ = F.sum(x.try_cast("double")), F.sum(xd)
            else:
                dbl, dec_ = F.avg(x.try_cast("double")), F.avg(xd)
            # ACCUMULATED overflow of the exact sum (every member fits
            # DECIMAL but the total doesn't) yields NULL under non-ANSI —
            # that must DEMOTE the group to the double result, not render
            # an unbound total (ADVICE r8); the any_big guard only covers
            # per-ROW cast failures
            col = (
                F.when(any_bad == 1, F.lit(None).cast("string"))
                .when((any_dbl == 1) | (any_big == 1), dbl.cast("string"))
                .otherwise(F.coalesce(fn.DEC_LEX(dec_), dbl.cast("string")))
            )
            # per-group promoted datatype (AVG of integers is xsd:decimal
            # per op:numeric-divide; SUM of integers stays integer)
            int_tag = "decimal" if name == "AVG" else "long"
            self._last_agg_dt = (
                F.when(any_bad == 1, F.lit(None).cast("string"))
                .when((any_dbl == 1) | (any_big == 1), F.lit("double"))
                .when(dec_.isNull() & dbl.isNotNull(), F.lit("double"))
                .when(any_dec == 1, F.lit("decimal"))
                .otherwise(F.lit(int_tag))
            )
        else:
            # MIN/MAX/SAMPLE are distinct-insensitive per the spec
            col = AGGS[name](arg)
        return name.lower(), col

    # ---------------------------------------------------- group patterns --
    def group_graph_pattern(self):
        """{ ... } → algebra node.

        Adjacent triple statements merge into ONE BGP (SPARQL semantics: a
        basic graph pattern spans consecutive triple patterns), so the
        compiler's selectivity ordering and star fusion see the whole
        pattern set — not one BGP per `s p o .` statement. Blazegraph query
        hints (`hint:Query hint:optimizer "None"`, `hint:Prior
        hint:runFirst|runLast "true"`; ref: QueryHints.java /
        ASTQueryHintOptimizer.java) parse as magic triples, are stripped
        from the pattern set, and ride the BGP node."""
        self.eat_op("{")
        node = None
        filters: list[Column] = []
        exists: list[tuple] = []
        deferred_binds: list[tuple] = []  # (var, expr, term_dt, refs) run after joins
        pend_sps: list = []
        pend_paths: list = []
        hints = {"run_first": set(), "run_last": set(), "optimizer": None}
        # expression-level EXISTS flags belong to the innermost group whose
        # filter references them: shelve any outer group's pending flags
        outer_exists_flags = self._exists_flags
        self._exists_flags = []

        def add(n):
            nonlocal node
            node = n if node is None else A.Join(node, n)

        def flush():
            nonlocal pend_sps, pend_paths
            if pend_sps:
                h = None
                if hints["optimizer"] or hints["run_first"] or hints["run_last"]:
                    h = {
                        "optimizer": hints["optimizer"],
                        "run_first": frozenset(hints["run_first"]),
                        "run_last": frozenset(hints["run_last"]),
                    }
                if hints.get("alp"):
                    h = dict(h or {})
                    h["alp"] = dict(hints["alp"])
                add(A.BGP(pend_sps, hints=h))
                pend_sps = []
                hints["run_first"], hints["run_last"] = set(), set()
                hints.pop("alp", None)
            for pp in pend_paths:
                add(pp)
            pend_paths = []

        def hint_local(term) -> str | None:
            # Hint terms may arrive compact (`hint:Query`, undeclared prefix)
            # or expanded under the queryHints namespace IRI when the query
            # declares `PREFIX hint: <.../queryHints#>` (ref: QueryHints.java
            # NAMESPACE). Normalize both to the local name.
            if not isinstance(term, str):
                return None
            if term.startswith("hint:"):
                return term[5:]
            if term.startswith(HINT_NS):
                return term[len(HINT_NS):]
            return None

        def apply_hint(sp) -> None:
            pred = hint_local(sp.p)
            val = sp.o.lex if isinstance(sp.o, Lit) else str(sp.o)
            if pred == "optimizer":
                hints["optimizer"] = val
            elif pred == "runFirst" and val == "true" and pend_sps:
                hints["run_first"].add(len(pend_sps) - 1)
            elif pred == "runLast" and val == "true" and pend_sps:
                hints["run_last"].add(len(pend_sps) - 1)
            elif pred == "alp.pathExpr" and val == "true" and pend_sps:
                # ALP SERVICE: hint:Prior hint:alp.pathExpr true marks the
                # PREVIOUS triple as the path expression (ref:
                # ASTALPServiceOptimizer.java PATH_EXPR)
                hints.setdefault("alp", {})["path_idx"] = len(pend_sps) - 1
            elif pred is not None and pred.startswith("alp."):
                # alp.lowerBound / alp.upperBound / alp.bidirectional /
                # alp.edgeVar (ASTALPServiceOptimizer.java hint registry)
                hints.setdefault("alp", {})[pred[4:]] = val
            elif pred in ("describeMode", "describeIterationLimit"):
                # query-level DESCRIBE hints (ref: QueryHints.java:587
                # DESCRIBE_MODE / DESCRIBE_ITERATION_LIMIT) — recorded on
                # the parser, surfaced with the describe_where parse
                if not hasattr(self, "describe_hints"):
                    self.describe_hints = {}
                self.describe_hints[pred] = val
            # unrecognized hints are ignored (hints are advisory)

        while not self.at_op("}"):
            if not self.at_op("}") and not (
                self.at_kw(
                    "filter", "optional", "minus", "bind", "values", "graph",
                    "service", "include", "select", "let",
                )
                or self.at_op("{")
            ):
                # triple statement: accumulate into the pending BGP
                sps, paths = self._triples_block()
                for sp in sps:
                    if hint_local(sp.s) in ("Query", "Prior") or (
                        hint_local(sp.p) is not None
                    ):
                        # Hints are advisory: apply what we recognize, and
                        # never leave a hint triple in the BGP as a real
                        # pattern (it would match nothing and zero the query).
                        apply_hint(sp)
                    else:
                        pend_sps.append(sp)
                pend_paths.extend(paths)
                if self.at_op("."):
                    self.next()
                continue
            flush()
            if self.at_kw("filter"):
                self.next()
                if self.at_kw("exists"):
                    self.next()
                    exists.append((False, self.group_graph_pattern()))
                elif self.at_kw("not") and self.peek(1).text.lower() == "exists":
                    self.next()
                    self.next()
                    exists.append((True, self.group_graph_pattern()))
                elif self.at_op("("):
                    self.next()
                    f_start = self.i
                    cond = self.expr()
                    filters.append(
                        (cond, tuple({t.text[1:] for t in self.toks[f_start : self.i] if t.kind == "VAR"}))
                    )
                    self.eat_op(")")
                else:
                    # FILTER BuiltInCall / FunctionCall without the outer
                    # parens (Constraint ::= BrackettedExpression |
                    # BuiltInCall | FunctionCall)
                    f_start = self.i
                    cond = self.expr()
                    filters.append(
                        (cond, tuple({t.text[1:] for t in self.toks[f_start : self.i] if t.kind == "VAR"}))
                    )
            elif self.at_kw("optional"):
                self.next()
                right = self.group_graph_pattern()
                # SPARQL algebra: OPTIONAL { P FILTER(e) } translates to
                # LeftJoin(left, P, e) — the filter becomes the JOIN
                # CONDITION, whose scope includes the LEFT side's variables
                # (the classic opt-filter/DAWG tests). Hoist top-level
                # filters off the group; anything else (flag machinery,
                # DropCols) stays put.
                lj_cond = None
                while isinstance(right, A.Filter):
                    lj_cond = (
                        right.condition
                        if lj_cond is None
                        else (lj_cond & right.condition)
                    )
                    right = right.child
                # leading OPTIONAL: the left side is the unit solution
                # ({μ0}), so the result is `right` plus one all-unbound row
                # when right is empty (SPARQL LeftJoin over the empty group)
                node = A.LeftJoin(
                    node if node is not None else _EMPTY, right, lj_cond
                )
            elif self.at_kw("minus"):
                self.next()
                right = self.group_graph_pattern()
                # leading MINUS: Minus({unit}, P) keeps the unit solution
                # (dom(mu0) is empty — disjoint domains remove nothing),
                # so the following siblings join against it (ticket_bg1627b)
                node = A.Minus(node if node is not None else _EMPTY, right)
            elif self.at_kw("bind"):
                self.next()
                self.eat_op("(")
                if self.peek().kind == "DSTART":
                    # BIND(<<s p o>> AS ?sid): the RDR statement-id access
                    # path — matches the embedded pattern, binds inner vars
                    # and the sid (ref: reif/rdr-02a, rdr-03 eval fixtures)
                    emb = self.term()
                    self.eat_kw("as")
                    sv = self.next().text[1:]
                    self.eat_op(")")
                    node = A.SidBind(node if node is not None else _EMPTY, sv, emb)
                    if self.at_op("."):
                        self.next()
                    continue
                self._pending_term_dt = None
                e_start = self.i
                n_flags = len(self._exists_flags)
                e = self.expr()
                # expression-level EXISTS inside THIS BIND: its flag must
                # bind BEFORE the Extend that consumes it (ticket_bg1267:
                # BIND(EXISTS {...} AS ?hasB)); group-end wrapping would
                # leave the flag unresolved at the Extend
                for fv, neg, pat in self._exists_flags[n_flags:]:
                    node = A.ExistsFlag(
                        node if node is not None else _EMPTY, pat, fv, negate=neg
                    )
                del self._exists_flags[n_flags:]
                term_dt = (
                    self._pending_term_dt
                    if self._pending_term_dt_span == (e_start, self.i)
                    else None
                )
                if term_dt is None and self.dt_mode:
                    term_dt = "string"
                self._pending_term_dt = None
                refs = {
                    t.text[1:] for t in self.toks[e_start : self.i] if t.kind == "VAR"
                }
                self.eat_kw("as")
                v = self.next().text[1:]
                self.eat_op(")")
                # (pending triples were flushed at clause dispatch, so the
                # scope check sees every preceding sibling)
                if refs and not refs <= _maybe_bound(node):
                    # forward BIND: the expression references a variable no
                    # PRECEDING sibling can bind. The reference defers such
                    # group-level assignments to run after the group's joins
                    # (ref: ASTSetValueExpressionsOptimizer; eval fixture
                    # simpleBindingsOptimizer_02 expects BIND(2*?val) placed
                    # before the pattern binding ?val to yield 20, not
                    # unbound) — strict clause-order scoping would make the
                    # value a per-row type error.
                    deferred_binds.append((v, e, term_dt, refs))
                else:
                    base = node if node is not None else _EMPTY
                    # re-binding an in-scope var is a SPARQL syntax error;
                    # the reference accepts it with ConditionalBind
                    # semantics (bind only where unbound, never filter) —
                    # see algebra.Extend.conditional
                    node = A.Extend(
                        base, v, e,
                        conditional=v in _maybe_bound(base),
                        arith_lexical=str(e) in self._arith_lexical,
                    )
                    if term_dt is not None:  # STRLANG/STRDT: bind the dtype tag
                        node = A.Extend(
                            node,
                            f"{v}__dt",
                            F.lit(term_dt) if isinstance(term_dt, str) else term_dt,
                        )
            elif self.at_kw("values"):
                self.next()
                node_vals = self._values_clause()
                if node is None:
                    node = node_vals
                else:
                    node = A.Values(node_vals.rows, child=node)
            elif self.at_kw("graph"):
                self.next()
                t = self.peek()
                gterm = Var(self.next().text[1:]) if t.kind == "VAR" else self._iri_only()
                add(A.GraphScope(gterm, self.group_graph_pattern()))
            elif self.at_kw("service"):
                self.next()
                silent = self.at_kw("silent")
                if silent:
                    self.next()
                if self.peek().kind == "VAR":
                    # variable endpoint (ref: ServiceCallJoin groups the
                    # incoming solutions by the as-bound serviceRef) —
                    # resolved per distinct sibling binding at compile time
                    iri = Var(self.next().text[1:])
                else:
                    iri = self._iri_only()
                start = self.i  # raw token text of the group, for remote transports
                inner = self.group_graph_pattern()
                raw = " ".join(t.text for t in self.toks[start + 1 : self.i - 1])
                # a remote transport ships the inner group verbatim — the
                # enclosing query's prologue rides along so the remote
                # parser can resolve this query's pnames (W3C federation
                # suite: `?project doap:name ?title` inside SERVICE, doap:
                # declared only at the top)
                prologue = "".join(
                    f"PREFIX {p}: <{ns}>\n" for p, ns in self.prefixes.items()
                )
                add(A.Service(iri, inner, raw=raw, silent=silent, prologue=prologue))
            elif self.at_kw("include"):  # INCLUDE %set (Blazegraph ext.)
                self.next()
                t = self.next()
                if t.kind != "NAMED":
                    raise SyntaxError(f"expected %name after INCLUDE, got {t.text!r}")
                add(A.NamedInclude(t.text[1:]))
            elif self.at_kw("select"):
                # inline subquery: the grammar allows a SubSelect as the
                # whole group body without an extra brace pair
                # (GroupGraphPattern ::= '{' ( SubSelect | ... ) '}')
                add(self.parse_select(toplevel=False))
            elif self.at_kw("let"):
                # Blazegraph extension LET (?var := expr) ≡ BIND(expr AS
                # ?var) — ref: sparql-grammar sparql.jjt LetClause /
                # AssignmentNode. ':=' lexes as PNAME ':' + OP '='.
                self.next()
                self.eat_op("(")
                tv = self.next()
                if tv.kind != "VAR":
                    raise SyntaxError(f"expected ?var in LET, got {tv.text!r}")
                t = self.next()
                if not (t.text == ":" and self.at_op("=")):
                    raise SyntaxError(f"expected := in LET, got {t.text!r}")
                self.next()
                e = self.expr()
                self.eat_op(")")
                node = (
                    A.Extend(node, tv.text[1:], e)
                    if node is not None
                    else A.Extend(_EMPTY, tv.text[1:], e)
                )
            elif self.at_op("{"):
                sub = self._group_or_subselect()
                while self.at_kw("union"):
                    self.next()
                    sub = A.Union2(sub, self._group_or_subselect())
                add(sub)
            else:  # pragma: no cover — triple statements handled above
                raise SyntaxError(f"unexpected token {self.peek().text!r} in group")
            if self.at_op("."):
                self.next()
        flush()
        self.eat_op("}")
        out = node if node is not None else A.BGP([])
        # dependency order among the deferred binds themselves: a deferred
        # BIND may reference another deferred BIND's target (the reference's
        # ASTSetValueExpressionsOptimizer orders assignments by dependency)
        pend = list(deferred_binds)
        placed = _maybe_bound(out)
        while pend:
            # first bind whose refs are all placeable; else declaration order
            # (index-based — Column's __eq__ forbids tuple equality removal)
            idx = next(
                (i for i, t in enumerate(pend) if not (set(t[3]) - placed)), 0
            )
            v, e, term_dt, _refs = pend.pop(idx)
            out = A.Extend(
                out, v, e,
                conditional=v in placed,
                arith_lexical=str(e) in self._arith_lexical,
            )
            if term_dt is not None:
                out = A.Extend(
                    out,
                    f"{v}__dt",
                    F.lit(term_dt) if isinstance(term_dt, str) else term_dt,
                )
            placed.add(v)
        for neg, pat in exists:
            out = A.Exists(out, pat, negate=neg)
        flag_vars = [v for v, _neg, _pat in self._exists_flags]
        for v, neg, pat in self._exists_flags:
            out = A.ExistsFlag(out, pat, v, negate=neg)
        self._exists_flags = outer_exists_flags
        for f, refs in filters:
            out = A.Filter(f, out, refs=refs)
        if flag_vars:  # spent flags never escape the group
            out = A.DropCols(out, tuple(flag_vars))
        return out

    def _group_or_subselect(self):
        """A `{ ... }` group or a `{ SELECT ... }` subquery (either can be a
        UNION arm; ref: SubqueryRoot inside GroupOrUnionGraphPattern)."""
        if (
            self.peek().text == "{"
            and self.peek(1).kind == "KW"
            and self.peek(1).text.lower() == "select"
        ):
            self.next()  # '{'
            sub = self.parse_select(toplevel=False)
            self.eat_op("}")
            return sub
        return self.group_graph_pattern()

    def _values_row_set(self, row: dict, v: str, t) -> None:
        row[v] = t.lex if isinstance(t, Lit) else t
        if self.dt_mode:
            # term IDENTITY in dt mode: a VALUES entry like
            # "a"^^<http://my.datatype> must join only its own typed term,
            # never the plain "a" (ticket_bg1643f — VALUES inside NOT
            # EXISTS distinguishes the three "a" spellings)
            row[f"{v}__dt"] = t.dt if isinstance(t, Lit) else "iri"

    def _values_clause(self) -> A.Values:
        if self.peek().kind == "VAR":
            var = self.next().text[1:]
            self.eat_op("{")
            rows = []
            while not self.at_op("}"):
                t = self.term()
                row: dict = {}
                self._values_row_set(row, var, t)
                rows.append(row)
            self.eat_op("}")
            return A.Values(rows)
        self.eat_op("(")
        vars_ = []
        while self.peek().kind == "VAR":
            vars_.append(self.next().text[1:])
        self.eat_op(")")
        self.eat_op("{")
        rows = []
        while self.at_op("("):
            self.next()
            row = {}
            for v in vars_:
                if self.at_kw("undef"):
                    self.next()
                    continue
                t = self.term()
                self._values_row_set(row, v, t)
            self.eat_op(")")
            rows.append(row)
        self.eat_op("}")
        return A.Values(rows)

    def _triples_block(self):
        """subject (path|pred) object (, object)* (; pred obj...)* — returns
        (sps, paths): plain statement patterns + property-path patterns.
        Subjects/objects may be `[ pred obj ; ... ]` blank-node property
        lists (each introduces a fresh anonymous variable and its inner
        triples). The caller merges consecutive statements into one BGP."""
        sps: list[A.SP] = []
        paths: list[A.PathPattern] = []
        was_bracket = self.at_op("[")
        subj = self._node_term(sps, paths)
        if was_bracket and self.at_op(".", "}"):
            return sps, paths  # `[ ... ]` as a complete statement
        self._prop_obj_list(subj, sps, paths)
        return sps, paths

    def _node_term(self, sps, paths):
        """Subject/object position: a plain term or a `[ ... ]` blank-node
        property list (fresh anonymous var; inner triples accumulate)."""
        if self.at_op("["):
            self.next()
            v = Var(f"__anon{self._anon_counter}")
            self._anon_counter += 1
            if not self.at_op("]"):
                self._prop_obj_list(v, sps, paths)
            self.eat_op("]")
            return v
        return self.term()

    def _prop_obj_list(self, subj, sps, paths):
        while True:
            if self.at_kw("a"):
                self.next()
                pred = "rdf:type"
            elif self.peek().kind == "VAR":
                pred = Var(self.next().text[1:])
            else:
                pred = self.path()
            while True:
                obj = self._node_term(sps, paths)
                if isinstance(pred, Var) or self._is_simple_pred(pred):
                    sps.append(A.SP(subj, pred, obj))
                else:
                    paths.append(A.PathPattern(subj, pred, obj))
                if self.at_op(","):
                    self.next()
                    continue
                break
            if self.at_op(";"):
                self.next()
                if self.at_op(".", "}", "]"):  # dangling ;
                    break
                continue
            break

    # ------------------------------------------------------- query root --
    def _parse_prefixes(self):
        while self.at_kw("prefix") or self.at_kw("base"):
            if self.at_kw("base"):
                self.next()
                t = self.next()
                if t.kind != "IRI":
                    raise SyntaxError(f"expected <iri> after BASE, got {t.text!r}")
                self.base = t.text[1:-1]
                continue
            self.next()
            pname = self.next().text  # 'pfx:'
            iri = self.resolve_iri(self.next().text[1:-1])
            self.prefixes[pname[:-1]] = iri

    def resolve_iri(self, iri: str) -> str:
        """RFC 3986 resolution of a relative IRI reference against the
        declared BASE (ADVICE r4: plain concatenation mis-resolved 'c'
        against <http://ex/a/b> as 'http://ex/a/bc', plus '../x' and
        '//host/p' forms). urllib.parse.urljoin IS the RFC 3986 merge/
        remove-dot-segments algorithm, matching the reference's openrdf
        ParsedURI resolution. A base ending in '#' keeps the legacy suffix
        append (urljoin would drop the fragment base). No BASE →
        unchanged."""
        if not self.base or ":" in iri.split("/", 1)[0]:
            return iri
        if self.base.endswith("#"):
            return self.base + iri
        from urllib.parse import urljoin, uses_relative

        # urljoin only resolves against hierarchical schemes it knows
        # (http, file, ...); a urn:/tag:/did: base would return the bare
        # relative ref unchanged (review r5-3) — keep suffix append there
        scheme = self.base.split(":", 1)[0].lower()
        if scheme not in uses_relative:
            return self.base + iri
        return urljoin(self.base, iri)

    def _pred_term(self):
        """Template/pattern predicate: ?var | IRI | pname | `a`."""
        t = self.peek()
        if t.kind == "KW" and t.text.lower() == "a":
            self.next()
            return "rdf:type"
        return self.term()

    def _triple_block(self) -> list[tuple]:
        """{ s p o . ... } template/data body (with `;` `,` lists) up to the
        closing brace, which is consumed. Shared by CONSTRUCT templates and
        the UPDATE parser's INSERT/DELETE blocks."""
        tmpl = []
        while not self.at_op("}"):
            s = self.term()
            while True:
                p = self._pred_term()
                while True:
                    o = self.term()
                    tmpl.append((s, p, o))
                    if self.at_op(","):
                        self.next()
                        continue
                    break
                if self.at_op(";"):
                    self.next()
                    if self.at_op(".", "}"):
                        break
                    continue
                break
            if self.at_op("."):
                self.next()
        self.eat_op("}")
        return tmpl

    def parse_query(self):
        """Any query form. Returns a tagged tuple:
        ("select", plan) | ("ask", plan) |
        ("construct", plan, template) | ("describe", [iris]).
        Ref: QueryType in the AST (SELECT/ASK/CONSTRUCT/DESCRIBE roots)."""
        self._parse_prefixes()
        if self.at_kw("ask"):
            self.next()
            ds_default, ds_named = self._dataset_clauses()
            if self.at_kw("where"):
                self.next()
            node = self.group_graph_pattern()
            node = self._tail_modifiers(node)
            if ds_default or ds_named:
                node = A.Dataset(node, ds_default, ds_named)
            if self.peek().kind != "EOF":
                raise SyntaxError(f"trailing tokens at {self.peek().text!r}")
            return ("ask", node)
        if self.at_kw("construct"):
            self.next()
            if self.at_kw("where"):
                # CONSTRUCT WHERE { pattern }: template = the pattern itself
                # (SPARQL 1.1 shorthand; ref: ConstructNode with implicit
                # template). Pattern must be plain triples.
                self.next()
                self.eat_op("{")
                tmpl = self._triple_block()
                node = A.BGP([A.SP(s, p, o) for s, p, o in tmpl])
                node = self._tail_modifiers(node)
                if self.peek().kind != "EOF":
                    raise SyntaxError(f"trailing tokens at {self.peek().text!r}")
                return ("construct", node, tmpl)
            self.eat_op("{")
            tmpl = self._triple_block()
            if self.at_kw("where"):
                self.next()
            node = self.group_graph_pattern()
            node = self._tail_modifiers(node)
            if self.peek().kind != "EOF":
                raise SyntaxError(f"trailing tokens at {self.peek().text!r}")
            return ("construct", node, tmpl)
        if self.at_kw("describe"):
            self.next()
            if self.peek().kind == "VAR":  # DESCRIBE ?x WHERE { P }
                var = self.next().text[1:]
                if self.at_kw("where"):
                    self.next()
                node = self.group_graph_pattern()
                if self.peek().kind != "EOF":
                    raise SyntaxError(f"trailing tokens at {self.peek().text!r}")
                # 4th element: query-level describe hints collected from
                # hint:Query hint:describeMode/... triples in the WHERE
                return ("describe_where", var, node, getattr(self, "describe_hints", None))
            iris = []
            while self.peek().kind in ("IRI", "PNAME"):
                t = self.next()
                iris.append(
                    self.resolve_iri(t.text[1:-1])
                    if t.kind == "IRI"
                    else self.expand_pname(t.text)
                )
            if self.peek().kind != "EOF":
                raise SyntaxError(f"trailing tokens at {self.peek().text!r}")
            return ("describe", iris)
        return ("select", self.parse_select())

    def _tail_modifiers(self, node):
        """Solution modifiers after an ASK or CONSTRUCT pattern — the
        reference accepts the full GROUP BY / HAVING / ORDER BY / LIMIT
        tail on every query form (ref: eval fixtures ticket-618f/g,
        CONSTRUCT/ASK combined with GROUP BY + aggregate ORDER BY).
        Grouping and HAVING change the solution multiset the template /
        emptiness test sees; ORDER BY is parsed for validity and its
        aggregates computed, but imposes no order on a graph or boolean
        result (a CONSTRUCT graph is a set; ref: ConstructNode)."""
        group_keys: list[str] = []
        hidden_aggs: list[tuple] = []
        having = None
        if self.at_kw("group"):
            self.next()
            self.eat_kw("by")
            while self.peek().kind == "VAR":
                group_keys.append(self.next().text[1:])
        if self.at_kw("having"):
            self.next()
            self._pending_aggs = []
            having = self.expr()
            hidden_aggs.extend(self._pending_aggs)
            self._pending_aggs = []
        if self.at_kw("order"):
            self.next()
            self.eat_kw("by")
            while True:
                if self.at_kw("asc") or self.at_kw("desc"):
                    self.next()
                    self.eat_op("(")
                    self._pending_aggs = []
                    self.expr()
                    hidden_aggs.extend(self._pending_aggs)
                    self._pending_aggs = []
                    self.eat_op(")")
                elif self.peek().kind == "VAR":
                    self.next()
                elif self.at_op("("):
                    self.next()
                    self._pending_aggs = []
                    self.expr()
                    hidden_aggs.extend(self._pending_aggs)
                    self._pending_aggs = []
                    self.eat_op(")")
                else:
                    break
        limit = offset = None
        while self.at_kw("limit") or self.at_kw("offset"):
            kw = self.next().text.lower()
            t = self.next()
            if kw == "limit":
                limit = int(t.text)
            else:
                offset = int(t.text)
        if group_keys or hidden_aggs or having is not None:
            if not hidden_aggs:
                # Spark's agg() refuses an empty expression list — a pure
                # GROUP BY keeps a hidden count (same guard parse_select uses)
                hidden_aggs = [("__tail_n", F.count(F.lit(1)))]
            node = A.Group(node, keys=tuple(group_keys), aggs=tuple(hidden_aggs))
            if having is not None:
                node = A.Filter(having, node)
        if limit is not None or offset is not None:
            node = A.Slice(node, limit=limit, offset=offset or 0)
        return node

    def parse_select(self, toplevel: bool = True):
        self._parse_prefixes()
        self.eat_kw("select")
        distinct = False
        if self.at_kw("distinct") or self.at_kw("reduced"):
            distinct = self.peek().text.lower() == "distinct"
            self.next()
        proj: list[str] | None = []
        binds: list[tuple[str, Column]] = []        # pre-Group extends
        post_binds: list[tuple[str, Column]] = []   # extends over aggregates
        hidden_aggs: list[tuple[str, Column]] = []  # hoisted (alias, agg col)
        if self.at_op("*"):
            self.next()
            proj = None
        else:
            while True:
                if self.peek().kind == "VAR":
                    proj.append(self.next().text[1:])
                elif self.at_op("("):
                    self.next()
                    self._pending_aggs = []
                    self._pending_term_dt = None
                    e_start = self.i
                    e = self.expr()
                    term_dt = (
                        self._pending_term_dt
                        if self._pending_term_dt_span == (e_start, self.i)
                        else None
                    )
                    if term_dt is None and self.dt_mode:
                        term_dt = "string"
                    self._pending_term_dt = None
                    self.eat_kw("as")
                    v = self.next().text[1:]
                    self.eat_op(")")
                    if self._pending_aggs:
                        # aggregate (or expression over aggregates, e.g.
                        # SUM(?x)/COUNT(?x)): aggs compute under hidden
                        # aliases at the Group; v binds after it
                        hidden_aggs.extend(self._pending_aggs)
                        post_binds.append((v, e))
                        if term_dt is not None:  # aggregate result dtype
                            post_binds.append((
                                f"{v}__dt",
                                F.lit(term_dt) if isinstance(term_dt, str) else term_dt,
                            ))
                    else:
                        binds.append((v, e))
                        if term_dt is not None:  # STRLANG/STRDT companion
                            binds.append((f"{v}__dt", F.lit(term_dt)))
                    self._pending_aggs = []
                    proj.append(v)
                else:
                    break
        # expression-level EXISTS in SELECT expressions: flags bind over
        # the WHERE result, before the select extends/aggregates see them
        select_flags = self._exists_flags
        self._exists_flags = []
        ds_default, ds_named = self._dataset_clauses()
        # named subqueries: WITH { SELECT ... } AS %set (Blazegraph ext.;
        # ref: NamedSubqueryRoot.java) — each evaluates once, INCLUDEd below
        named_subs: dict[str, object] = {}
        while self.at_kw("with"):
            self.next()
            self.eat_op("{")
            sub = self.parse_select(toplevel=False)
            self.eat_op("}")
            self.eat_kw("as")
            t = self.next()
            if t.kind != "NAMED":
                raise SyntaxError(f"expected %name after AS, got {t.text!r}")
            named_subs[t.text[1:]] = sub
        if self.at_kw("where"):
            self.next()
        node = self.group_graph_pattern()
        if proj:
            node = _expand_label_services(node, proj)
        if named_subs:
            node = A.WithNamed(node, named_subs)

        group_keys: list[str] = []
        having: Column | None = None
        if self.at_kw("group"):
            self.next()
            self.eat_kw("by")
            while True:
                if self.peek().kind == "VAR":
                    group_keys.append(self.next().text[1:])
                elif self.at_op("("):
                    # GROUP BY (expr AS ?v): bind the key expression first,
                    # then group on the alias (SPARQL GroupCondition)
                    self.next()
                    e = self.expr()
                    self.eat_kw("as")
                    t = self.next()
                    if t.kind != "VAR":
                        raise SyntaxError(f"expected ?var after AS, got {t.text!r}")
                    self.eat_op(")")
                    for fv, neg, pat in self._exists_flags:  # EXISTS in key expr
                        node = A.ExistsFlag(node, pat, fv, negate=neg)
                        select_flags.append((fv, neg, None))  # drop later only
                    self._exists_flags = []
                    node = A.Extend(node, t.text[1:], e)
                    group_keys.append(t.text[1:])
                else:
                    break
        if self.at_kw("having"):
            self.next()
            self.eat_op("(")
            self._pending_aggs = []
            having = self.expr()  # HAVING(COUNT(*) > n) hoists the aggregate
            hidden_aggs.extend(self._pending_aggs)
            self._pending_aggs = []
            self.eat_op(")")
        having_flags = self._exists_flags
        self._exists_flags = []

        order: list[tuple] = []
        order_uses_aggs = False
        if self.at_kw("order"):
            self.next()
            self.eat_kw("by")
            expr_starters = set(AGGS) | set(FUNCS_1) | set(FUNCS_2) | set(FUNCS_N) | {"IF", "SUBSTR", "REPLACE"}
            while True:
                if self.at_kw("asc") or self.at_kw("desc"):
                    asc = self.peek().text.lower() == "asc"
                    self.next()
                    self.eat_op("(")
                    if self.peek().kind == "VAR" and self.peek(1).text == ")":
                        # ASC/DESC(?var): string key → dt-aware ordering
                        order.append((self.next().text[1:], asc))
                        self.eat_op(")")
                        continue
                    self._pending_aggs = []
                    e = self.expr()  # ORDER BY DESC(COUNT(?x)) hoists the agg
                    if self._pending_aggs:
                        hidden_aggs.extend(self._pending_aggs)
                        order_uses_aggs = True
                        self._pending_aggs = []
                    self.eat_op(")")
                    order.append((self._order_key(e), asc))
                elif self.peek().kind == "VAR":
                    # STRING key (not a Column): lets the compiler apply the
                    # SPARQL operator-mapping order via the var's datatype
                    # companion when one is tracked (numeric literals sort
                    # numerically; see compiler's OrderBy)
                    order.append((self.next().text[1:], True))
                elif self.at_op("(") or (
                    self.peek().kind == "KW" and self.peek().text.upper() in expr_starters
                ) or (
                    # bare FunctionCall OrderCondition, e.g. BSBM explore
                    # query10's `ORDER BY xsd:double(str(?price))`
                    self.peek().kind in ("PNAME", "IRI")
                    and self.peek(1).text == "("
                ):
                    # bare OrderCondition: BrackettedExpression or Constraint
                    self._pending_aggs = []
                    if self.at_op("("):
                        self.next()
                        e = self.expr()
                        self.eat_op(")")
                    else:
                        e = self.expr()
                    if self._pending_aggs:
                        hidden_aggs.extend(self._pending_aggs)
                        order_uses_aggs = True
                        self._pending_aggs = []
                    order.append((self._order_key(e), True))
                else:
                    break
        having_flags += self._exists_flags  # EXISTS in ORDER BY exprs
        self._exists_flags = []
        limit = offset = None
        for _ in range(2):
            if self.at_kw("limit"):
                self.next()
                limit = int(self.next().text)
            elif self.at_kw("offset"):
                self.next()
                offset = int(self.next().text)
        # trailing VALUES block (SPARQL 1.1 ValuesClause at query end).
        # BINDINGS is the pre-recommendation draft spelling of the same
        # clause — the reference grammar still accepts it (sparql.jjt
        # BindingsClause), so queries from its own test suite parse here.
        trailing_values = None
        initial_bindings = None
        if self.at_kw("values"):
            self.next()
            trailing_values = self._values_clause()
        elif self.at_kw("bindings"):
            # BINDINGS ?v1 ?v2 { (row) ... }: bare variable list, every row
            # parenthesized (even single-var)
            self.next()
            bvars = []
            while self.peek().kind == "VAR":
                bvars.append(self.next().text[1:])
            self.eat_op("{")
            brows = []
            while self.at_op("("):
                self.next()
                row = {}
                for v in bvars:
                    if self.at_kw("undef"):
                        self.next()
                        continue
                    t = self.term()
                    row[v] = t.lex if isinstance(t, Lit) else t
                self.eat_op(")")
                brows.append(row)
            self.eat_op("}")
            # Draft-SPARQL BINDINGS semantics (what the reference's
            # BindingsClause implements, per its own sparql11-bindings
            # fixtures): the rows are INITIAL solutions fed into evaluation
            # — they scope inside OPTIONAL's left side, unlike the final
            # recommendation's VALUES end-join. Injected into the leftmost
            # join spine below.
            initial_bindings = brows

        # assemble: binds → group/aggregates → post-binds → having → order →
        # project → distinct → slice (SPARQL algebra ordering). HAVING is a
        # plain Filter after the post-Group extends so it can reference both
        # SELECT aliases (?avg) and hoisted aggregates (COUNT(*) > n).
        if trailing_values is not None:
            # the reference's grammar maps the trailing VALUES onto the SAME
            # BindingsClause as the draft BINDINGS keyword, so it takes
            # INITIAL-solution semantics there (rows feed INTO evaluation and
            # scope inside OPTIONAL's left side) rather than the
            # recommendation's end-join — its bindingsAndBottomUp fixtures
            # pin the difference (`OPTIONAL { ?s ?p ?o } VALUES ?s { 1 }`
            # keeps s=1 when the optional misses). Matching the reference.
            initial_bindings = list(trailing_values.rows)
        if initial_bindings is not None:

            def _inject(n):
                if isinstance(n, A.LeftJoin):
                    return A.LeftJoin(_inject(n.left), n.right, n.condition)
                if isinstance(n, A.Join):
                    return A.Join(_inject(n.left), n.right)
                return A.Values(initial_bindings, child=n)

            node = _inject(node)
        for fv, neg, pat in select_flags:
            if pat is not None:  # group-key flags already wrapped inline
                node = A.ExistsFlag(node, pat, fv, negate=neg)
        if not (group_keys or hidden_aggs):
            for v, e in binds:
                node = A.Extend(node, v, e)
        else:
            # SPARQL algebra: in a grouped query, non-aggregate SELECT
            # expressions evaluate AFTER grouping (they may only reference
            # group keys and constants) — binding them post-Group keeps a
            # derived column like (xsd:double(?key) AS ?v) alive, where a
            # pre-Group extend would be dropped by the aggregation
            # projection (keys + aggregates only).
            aggs = hidden_aggs or [("__count", fn.COUNT())]
            node = A.Group(node, keys=tuple(group_keys), aggs=aggs)
            for v, e in binds:
                node = A.Extend(node, v, e)
        for v, e in post_binds:
            node = A.Extend(node, v, e)
        for fv, neg, pat in having_flags:
            node = A.ExistsFlag(node, pat, fv, negate=neg)
        if having is not None:
            node = A.Filter(having, node)
        if proj is not None and proj:
            if order and order_uses_aggs:
                # sort keys reference hoisted __agg aliases the projection
                # drops — order first (projection preserves row order), then
                # narrow. DISTINCT would dedup before the sort sees the
                # hidden column, so that combination needs the aggregate
                # projected under an alias instead.
                if distinct:
                    raise SyntaxError(
                        "ORDER BY over an unprojected aggregate cannot combine "
                        "with DISTINCT; alias the aggregate in SELECT and sort "
                        "by the alias"
                    )
                node = A.OrderBy(node, order)
                order = []
            elif order and not distinct and any(
                isinstance(k, str) and k not in proj for k, _ in order
            ):
                # a sort var the projection drops: order first so the key
                # (and its datatype companion, for the operator-mapping
                # order) is still a real column; the narrow projection
                # preserves row order
                node = A.OrderBy(node, order)
                order = []
            node = A.Project(node, proj)
        if distinct:
            node = A.Distinct(node)
        # ORDER BY after DISTINCT so dedup's shuffle can't destroy the order;
        # subset limitation: sort keys must be projected variables
        if order:
            node = A.OrderBy(node, order)
        flag_vars = [fv for fv, _n, _p in select_flags + having_flags]
        if proj is None and flag_vars:
            node = A.DropCols(node, tuple(flag_vars))
        if proj is None:
            # SELECT *: anonymous bnode vars are not visible variables
            # (§18.2.1) — a remote SELECT * response carrying them would
            # poison federation joins (W3C service10 vs service10b)
            node = A.DropInternal(node)
        if limit is not None or offset is not None:
            node = A.Slice(node, limit=limit, offset=offset or 0)
        if ds_default or ds_named:
            node = A.Dataset(node, ds_default, ds_named)
        if toplevel and self.peek().kind != "EOF":
            raise SyntaxError(f"trailing tokens at {self.peek().text!r}")
        return node

    def _dataset_clauses(self) -> tuple[list, list]:
        """FROM [NAMED] [VIRTUAL GRAPH] <g> declarations (ref: DatasetNode;
        sparql.jjt:329 VIRTUAL_GRAPH token + DatasetClause setVirtual).
        A virtual-graph entry is tagged ("virtual", iri) and expands at
        evaluation into the graphs declared via `<vg> bd:virtualGraph <g>`
        membership triples (ASTDeferredIVResolution.java:530)."""
        default, named = [], []
        while self.at_kw("from"):
            self.next()
            target = default
            if self.at_kw("named"):
                self.next()
                target = named
            if self.at_kw("virtual"):
                self.next()
                if not self.at_kw("graph"):
                    raise SyntaxError("expected GRAPH after VIRTUAL")
                self.next()
                target.append(("virtual", self._iri_only()))
            else:
                target.append(self._iri_only())
        return default, named


_EMPTY = A.BGP([])


def parse_sparql_select(src: str, dt_mode: bool = False):
    """Parse a SPARQL SELECT string into an algebra plan (evaluate with
    plans.compiler.evaluate)."""
    return Parser(src, dt_mode=dt_mode).parse_select()


def parse_sparql_query(src: str, dt_mode: bool = False):
    """Parse any query form; returns a tagged tuple (see Parser.parse_query)."""
    return Parser(src, dt_mode=dt_mode).parse_query()


_DT_FUNC_RE = re.compile(
    r"\b(LANG|LANGMATCHES|DATATYPE|ISIRI|ISURI|ISBLANK|ISLITERAL)\s*\(", re.I
)


def run_sparql(store, src: str):
    """Parse + evaluate any query form against a store.

    SELECT → bindings DataFrame; ASK → bool; CONSTRUCT → triples DataFrame;
    DESCRIBE → triples DataFrame (forward CBD). The textual analog of the
    reference's SailConnection query entry points.

    Queries using term-type functions (LANG/DATATYPE/isIRI/...) evaluate
    with datatype tracking so the `<var>__dt` companions exist; when the
    caller's store didn't already track, the companions are stripped from
    the SELECT result (they're an engine detail, not bindings)."""
    from blazegraph_database_spark.plans import compiler

    # dt_mode also turns on when the CALLER's store already tracks datatype
    # companions: with `__dt` riding the plan, =/!= and SUM/AVG take the
    # typed open-world value model (ref: internal/constraints/CompareBOp.java,
    # MathBOp.java) instead of the lexical-first default.
    dt_mode = bool(_DT_FUNC_RE.search(src)) or store.track_dt
    auto_dt = dt_mode and not store.track_dt
    flags = {"track_dt": True} if auto_dt else {}
    if re.search(r"defaultGraphDistinctFilter\W+(\"false\"|false)", src):
        # hint:Query hint:defaultGraphDistinctFilter "false" (ref:
        # QueryHints.DEFAULT_GRAPH_DISTINCT_FILTER; fixture
        # default-graphs-01k): expose the raw quad multiset instead of the
        # default graph's RDF-merge distinct
        flags["default_graph_distinct"] = False
    if flags:
        store = store.view(**flags)

    parsed = parse_sparql_query(src, dt_mode=dt_mode)
    if parsed[0] == "select":
        out = compiler.evaluate(store, parsed[1])
        if auto_dt:
            out = out.drop(*[c for c in out.columns if c.endswith("__dt")])
        # SPARQL results are RDF terms: a boolean-valued projection (LET/
        # BIND of sameTerm, comparisons, EXISTS flags) serializes as the
        # xsd:boolean lexical "true"/"false", not a host-language boolean
        # (ticket_blzg_1331: ?tmp2 := sameTerm(...) must read back "true")
        for f in out.schema.fields:
            if f.dataType.simpleString() == "boolean":
                out = out.withColumn(
                    f.name,
                    F.when(F.col(f.name).isNull(), F.lit(None).cast("string"))
                    .when(F.col(f.name), F.lit("true"))
                    .otherwise(F.lit("false")),
                )
        return out
    if parsed[0] == "ask":
        return compiler.ask(store, parsed[1])
    if parsed[0] == "construct":
        return compiler.construct(store, parsed[1], parsed[2])
    if parsed[0] == "describe_where":  # DESCRIBE ?x WHERE { P }
        subjects = (
            compiler.evaluate(store, parsed[2]).select(F.col(parsed[1]).alias("s")).distinct()
        )
        dh = parsed[3] if len(parsed) > 3 and parsed[3] else {}
        kwargs = compiler.describe_kwargs(
            dh.get("describeMode"), dh.get("describeIterationLimit")
        )
        return compiler.describe(store, subjects, **kwargs)
    return compiler.describe(store, parsed[1])
