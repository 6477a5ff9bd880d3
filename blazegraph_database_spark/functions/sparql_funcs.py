"""SPARQL 1.1 built-in functions mapped to native Spark expressions.

Reference analog: the value-expression bops under
bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/internal/constraints/
(StrlenBOp, SubstrBOp, RegexBOp, IfBOp, CoalesceBOp, DigestBOp, DateBOp, ...).

Every function here returns a pyspark Column built from pyspark.sql.functions
— JVM-side, whole-stage-codegen, zero Python UDFs — so FILTER/BIND expressions
run at native speed regardless of scale.

Variables bind lexical strings (see model/terms.py); the ``num``/``lng``/``ts``
helpers cast at the use site, mirroring how the reference materializes IVs
only when a filter needs the typed value (INeedsMaterialization).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from blazegraph_database_spark.model.terms import is_sid, sid_col, sid_fields, sid_parts


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


# typed access ---------------------------------------------------------------
def num(x) -> Column:  # xsd:double view of a binding
    # try_cast throughout the typed views: SPARQL treats an uncastable
    # lexical as a type ERROR (the binding is dropped / the cast yields
    # unbound), where Spark's ANSI CAST would abort the whole query.
    return _c(x).try_cast("double")


def lng(x) -> Column:  # xsd:integer/long view
    return _c(x).try_cast("long")


# exact-arithmetic view + canonical rendering of xsd:decimal (round 8; ref:
# internal/impl/literal/XSDDecimalIV.java — the reference computes decimal
# math on BigDecimal, never double) ------------------------------------------
DEC_T = "decimal(38,12)"  # 26 integer digits + 12 fractional: money-scale safe


# The sized-int family rides dt:<iri> IDENTITY tags (round 8; ref:
# XSDNumericIV distinguishes byte/short/int/long + unsigned variants as
# different IVs) but still behaves NUMERICALLY by value in comparisons,
# ordering, and aggregation (CompareBOp/IVUtility.numericalCompare).
# xsd:float joins them in round 9 (the last deliberate §4 collapse:
# XSDNumericIV keeps float distinct from double) — numeric-by-value but
# NOT exact (it's a floating family, like double).
_XSD_EXACT_DT_RX = (
    r"^dt:http://www\.w3\.org/2001/XMLSchema#"
    r"(int|long|short|byte|unsignedLong|unsignedInt|unsignedShort|"
    r"unsignedByte|nonNegativeInteger|positiveInteger|negativeInteger|"
    r"nonPositiveInteger)$"
)
_XSD_NUM_DT_RX = (
    r"^dt:http://www\.w3\.org/2001/XMLSchema#"
    r"(int|long|short|byte|unsignedLong|unsignedInt|unsignedShort|"
    r"unsignedByte|nonNegativeInteger|positiveInteger|negativeInteger|"
    r"nonPositiveInteger|float)$"
)


# the float identity tag (numeric-by-value, INEXACT — aggregation and
# arithmetic treat it like double)
XSD_FLOAT_DT = "dt:http://www.w3.org/2001/XMLSchema#float"


def NUM_TAG(dt) -> Column:
    """True when the dtype tag denotes a NUMERIC literal family —
    first-class numeric tags plus the XSD sized-int + float identity tags."""
    d = _c(dt)
    return d.isin("long", "double", "decimal") | d.rlike(_XSD_NUM_DT_RX)


def EXACT_TAG(dt) -> Column:
    """True for EXACT numeric families (integer/decimal/sized-int) — the
    BigDecimal-arithmetic path applies; double and float are the inexact
    tags."""
    d = _c(dt)
    return d.isin("long", "decimal") | d.rlike(_XSD_EXACT_DT_RX)


_DEC_FAITHFUL_RX = r"^[+-]?[0-9]+(\.[0-9]{1,12})?$"


def DEC_OK(c) -> Column:
    """The lexical is representable EXACTLY at DEC_T's scale (integer or
    <= 12 fractional digits). try_cast to DECIMAL ROUNDS (half-up) on
    deeper scales instead of nulling, which would silently merge distinct
    terms ("…0001" = "…0002" past digit 12) — such lexicals keep the
    double path (the pre-decimal behavior) at every exact-arithmetic
    gate."""
    return _c(c).rlike(_DEC_FAITHFUL_RX)


def DEC_LEX(c) -> Column:
    """Canonical decimal lexical of a DECIMAL-typed column: trailing zeros
    trimmed, bare integer when the fraction is zero (BigDecimal
    stripTrailingZeros().toPlainString() analog — value-identical to the
    reference's rendering, with trailing zeros of the computation scale
    normalized away). Spark's decimal-to-string renders |v| < 1e-7 in
    E-notation (BigDecimal.toString); those expand through a fixed-point
    format — safe, because a sub-1e-7 value at scale <=12 carries at most
    6 significant digits, well inside double exactness."""
    col = _c(c)
    s = col.cast("string")
    s = F.when(
        s.contains("E") | s.contains("e"),
        F.format_string("%.12f", col.cast("double")),
    ).otherwise(s)
    return F.when(
        s.contains("."),
        F.regexp_replace(F.regexp_replace(s, r"0+$", ""), r"\.$", ""),
    ).otherwise(s)


def ts(x) -> Column:  # xsd:dateTime view
    return _c(x).try_cast("timestamp")


# strings --------------------------------------------------------------------
def STR(x) -> Column:
    return _c(x).cast("string")


def STRLEN(x) -> Column:
    return F.length(_c(x))


def SUBSTR(x, start, length=None) -> Column:
    return F.substring(_c(x), start, length) if length is not None else _c(x).substr(F.lit(start), F.length(_c(x)))


def UCASE(x) -> Column:
    return F.upper(_c(x))


def LCASE(x) -> Column:
    return F.lower(_c(x))


def CONCAT(*xs) -> Column:
    return F.concat(*[_c(x) for x in xs])


def STRSTARTS(x, pre) -> Column:
    return _c(x).startswith(pre)


def STRENDS(x, suf) -> Column:
    return _c(x).endswith(suf)


def CONTAINS(x, sub) -> Column:
    return _c(x).contains(sub)


def STRBEFORE(x, sub) -> Column:
    p = F.instr(_c(x), F.lit(sub) if isinstance(sub, str) else sub)
    return F.when(p > 0, F.substring(_c(x), F.lit(1), p - 1)).otherwise(F.lit(""))


def STRAFTER(x, sub) -> Column:
    sub_c = F.lit(sub) if isinstance(sub, str) else sub
    p = F.instr(_c(x), sub_c)
    return F.when(p > 0, F.substr(_c(x), p + F.length(sub_c))).otherwise(F.lit(""))


def ENCODE_FOR_URI(x) -> Column:
    return F.url_encode(_c(x))


def REPLACE(x, pattern, replacement) -> Column:
    return F.regexp_replace(_c(x), pattern, replacement)


def REGEX(x, pattern, flags: str | None = None) -> Column:
    """fn:matches — the optional flags arg maps onto Java regex inline
    flags ((?i) etc.), the same engine the reference's REGEX BOp uses."""
    if flags:
        inline = "".join(ch for ch in flags if ch in "imsxuU")
        if inline:
            pattern = f"(?{inline}){pattern}"
    return _c(x).rlike(pattern)


# numerics -------------------------------------------------------------------
def ABS(x) -> Column:
    return F.abs(num(x))


def ROUND(x, scale=0) -> Column:
    return F.round(num(x), scale)


def CEIL(x) -> Column:
    return F.ceil(num(x))


def FLOOR(x) -> Column:
    return F.floor(num(x))


def RAND() -> Column:
    return F.rand()


# date/time ------------------------------------------------------------------
def NOW() -> Column:
    return F.current_timestamp()


def YEAR(x) -> Column:
    return F.year(ts(x))


def MONTH(x) -> Column:
    return F.month(ts(x))


def DAY(x) -> Column:
    return F.dayofmonth(ts(x))


def HOURS(x) -> Column:
    return F.hour(ts(x))


def MINUTES(x) -> Column:
    return F.minute(ts(x))


def SECONDS(x) -> Column:
    return F.second(ts(x))


def TIMEZONE(x) -> Column:
    return F.lit("Z")  # store normalizes to UTC, matching xsd:dateTime Z forms


# hashes (ref: DigestBOp) ----------------------------------------------------
def MD5(x) -> Column:
    return F.md5(_c(x))


def SHA1(x) -> Column:
    return F.sha1(_c(x))


def SHA256(x) -> Column:
    return F.sha2(_c(x), 256)


def SHA384(x) -> Column:
    return F.sha2(_c(x), 384)


def SHA512(x) -> Column:
    return F.sha2(_c(x), 512)


# logical / conditional ------------------------------------------------------
def IF(cond, then, otherwise) -> Column:
    return F.when(cond, then).otherwise(otherwise)


def COALESCE(*xs) -> Column:
    return F.coalesce(*[_c(x) for x in xs])


def IN(x, *vals) -> Column:
    return _c(x).isin(*vals)


def NOT_IN(x, *vals) -> Column:
    return ~_c(x).isin(*vals)


def SAMETERM(a, b) -> Column:
    return _c(a).eqNullSafe(_c(b))


def BOUND(x) -> Column:
    return _c(x).isNotNull()


def EBV(x) -> Column:
    """Effective boolean value (ref: EBVBOp): non-empty string / nonzero num."""
    c = _c(x)
    return F.when(c.cast("boolean").isNotNull(), c.cast("boolean")).otherwise(F.length(c) > 0)


# term tests / constructors --------------------------------------------------
def ISNUMERIC(x) -> Column:
    return num(x).isNotNull()


def IRI(x) -> Column:
    return _c(x).cast("string")


def BNODE() -> Column:
    return F.concat(F.lit("_:b"), F.uuid())


def UUID() -> Column:
    return F.concat(F.lit("urn:uuid:"), F.uuid())


def STRUUID() -> Column:
    return F.uuid()


# term-type tests + accessors over the (lexical, dtype-tag) pair (ref:
# IsURIBOp / IsLiteralBOp / IsBNodeBOp / LangBOp / DatatypeBOp /
# LangMatchesBOp; dtype tags per model/terms.py, lang literals `lang:<tag>`,
# bnode lexicals `_:`-prefixed) -----------------------------------------------
_XSD = "http://www.w3.org/2001/XMLSchema#"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


def LANG(lex, dt) -> Column:
    """Language tag of a literal; "" for plain/typed literals (SPARQL LANG)."""
    d = _c(dt)
    return F.when(d.startswith("lang:"), F.substring(d, 6, 2**24)).otherwise(F.lit(""))


def LANGMATCHES(lang, rng) -> Column:
    """langMatches(tag, range): "*" matches any non-empty tag; otherwise
    case-insensitive exact or prefix-with-hyphen match (basic filtering)."""
    tag = F.lower(_c(lang))
    if isinstance(rng, str):
        r = rng.lower()
        if r == "*":
            return tag != ""
        return (tag == r) | tag.startswith(r + "-")
    r = F.lower(_c(rng))
    return F.when(r == "*", tag != "").otherwise((tag == r) | tag.startswith(F.concat(r, F.lit("-"))))


def DATATYPE(lex, dt) -> Column:
    """Datatype IRI of a literal (xsd:string for plain literals,
    rdf:langString for language-tagged ones; NULL = error for non-literals,
    matching SPARQL's type-error propagation)."""
    d = _c(dt)
    return (
        # an UNBOUND term has no datatype (type error → unbound), even
        # when a static companion rides the plan (type_cast_long's
        # out-of-range casts come back fully unbound)
        F.when(_c(lex).isNull(), F.lit(None).cast("string"))
        .when(d.startswith("lang:"), F.lit(_RDF_LANGSTRING))
        .when(d == "string", F.lit(_XSD + "string"))
        .when(d == "long", F.lit(_XSD + "integer"))
        .when(d == "double", F.lit(_XSD + "double"))
        .when(d == "decimal", F.lit(_XSD + "decimal"))
        .when(d == "boolean", F.lit(_XSD + "boolean"))
        .when(d == "timestamp", F.lit(_XSD + "dateTime"))
        # unknown datatype IRIs ride as dt:<iri> tags (term identity)
        .when(d.startswith("dt:"), F.substring(d, 4, 1 << 20))
        .otherwise(F.lit(None).cast("string"))
    )


def ISIRI(lex, dt) -> Column:
    return (_c(dt) == "iri") & ~_c(lex).startswith("_:")


def ISBLANK(lex, dt) -> Column:
    # bnodes surface either under the bnode tag or as `_:`-prefixed
    # lexicals tagged iri (the N-Triples reader's encoding)
    return (_c(dt) == "bnode") | _c(lex).startswith("_:")


def ISLITERAL(lex, dt) -> Column:
    d = _c(dt)
    return ~d.isin("iri", "bnode", "sid") & ~_c(lex).startswith("_:")


def STRLANG_DT(tag: str) -> str:
    """dtype tag for STRLANG(x, tag) results (companion-column value)."""
    return f"lang:{tag}"


def STRDT_TAG(dt_iri: str) -> str:
    """dtype tag for STRDT(x, <dt_iri>) results. Unknown (and sized-int)
    datatype IRIs keep dt:<iri> TERM IDENTITY, same as the readers — a
    STRDT-constructed custom literal equals the stored one (r8; previously
    unknown IRIs collapsed to the plain-string tag)."""
    return {
        _XSD + "integer": "long",
        _XSD + "double": "double",
        _XSD + "decimal": "decimal",
        _XSD + "boolean": "boolean", _XSD + "dateTime": "timestamp",
        _XSD + "string": "string",
    }.get(dt_iri, f"dt:{dt_iri}")


# RDF-star / RDR statement-term accessors (ref: SidIV.java; SPARQL-star
# TRIPLE/SUBJECT/PREDICATE/OBJECT/isTRIPLE over the `<<s|p|o_lex|o_dt>>`
# sid encoding — see model.terms.sid_col) --------------------------------
def TRIPLE(s, p, o_lex, o_dt="string") -> Column:
    return sid_col(_c(s), _c(p), _c(o_lex), _c(o_dt))


def ISTRIPLE(x) -> Column:
    return is_sid(_c(x))


def _sid_term(x, i: int) -> Column:
    """Field ``i`` of ``sid_fields`` for a statement term; unbound (NULL)
    for any other term."""
    c = _c(x)
    return F.when(is_sid(c), sid_fields(sid_parts(c))[i])


def SUBJECT(x) -> Column:
    return _sid_term(x, 0)


def PREDICATE(x) -> Column:
    return _sid_term(x, 1)


def OBJECT(x) -> Column:
    return _sid_term(x, 2)


# aggregates (ref: GroupByNode aggregate registry) ---------------------------
def COUNT(x=None) -> Column:
    return F.count(F.lit(1)) if x is None else F.count(_c(x))


def SUM(x) -> Column:
    return F.sum(num(x))


def AVG(x) -> Column:
    return F.avg(num(x))


def MIN(x) -> Column:
    return F.min(_c(x))


def MAX(x) -> Column:
    return F.max(_c(x))


def GROUP_CONCAT(x, sep=" ") -> Column:
    # sort for determinism (the spec leaves order undefined; deterministic
    # output lets the DuckDB oracle reproduce it exactly)
    return F.array_join(F.array_sort(F.collect_list(_c(x))), sep)


def SAMPLE(x) -> Column:
    return F.min(_c(x))  # deterministic choice, valid per spec
