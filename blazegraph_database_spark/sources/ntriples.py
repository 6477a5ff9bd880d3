"""RDF serialization readers/writers (SURVEY.md §2.2).

Reference analog: the RIO parser integration (bigdata-core's use of
org.openrdf.rio N-Triples/Turtle parsers via DataLoader.java).

Spark-first: N-Triples/N-Quads are line-oriented, so parsing is a
`spark.read.text` scan + JVM-side regexp extraction — fully distributed,
no Python in the loop, linear in input splits (this is the 100 TB bulk-load
path). Turtle needs document-scoped prefix state and is read by
sources.rdf_formats.read_turtle.

Lang-tagged literals carry o_dt = 'lang:<tag>'; typed literals map xsd types
onto the engine's dt tags (long/double/boolean/timestamp/string).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blazegraph_database_spark.model.terms import DT_SID, is_sid, sid_col, sid_fields, sid_parts

# term = IRI | bnode ; object additionally literal with optional @lang / ^^type
_SUBJ = r"(<[^>]*>|_:\S+)"
_PRED = r"(<[^>]*>)"
_OBJ = r"(<[^>]*>|_:\S+|\"(?:[^\"\\]|\\.)*\"(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?)"
NT_LINE = rf"^\s*{_SUBJ}\s+{_PRED}\s+{_OBJ}\s*\.\s*$"
NQ_LINE = rf"^\s*{_SUBJ}\s+{_PRED}\s+{_OBJ}\s+(<[^>]*>|_:\S+)\s*\.\s*$"

_XSD_DT = {
    "http://www.w3.org/2001/XMLSchema#integer": "long",
    # xsd:int / xsd:long (and the rest of the sized-int family, which was
    # never in this map) keep TERM IDENTITY as dt:<iri> tags (round 8;
    # ref: XSDNumericIV distinguishes byte/short/int/long — "42"^^xsd:int
    # and "42"^^xsd:long are different IVs); the typed value model
    # recognizes the XSD numeric dt: tags as numeric-by-value, so
    # comparisons and aggregates still work on them.
    "http://www.w3.org/2001/XMLSchema#double": "double",
    # xsd:decimal is a FIRST-CLASS tag (round 8; ref: internal/impl/literal/
    # XSDDecimalIV.java — the reference keeps BigDecimal identity/scale,
    # distinct from double). xsd:float keeps dt:<iri> TERM IDENTITY like
    # the sized-int family (round 9; XSDNumericIV float is a distinct IV)
    # — the typed value model treats the float dt: tag as numeric-by-value.
    "http://www.w3.org/2001/XMLSchema#decimal": "decimal",
    "http://www.w3.org/2001/XMLSchema#boolean": "boolean",
    "http://www.w3.org/2001/XMLSchema#dateTime": "timestamp",
    "http://www.w3.org/2001/XMLSchema#string": "string",
    # the reference registers its compressed-timestamp NUMERIC extension
    # type unconditionally (internal/impl/extensions/
    # CompressedTimestampExtension.java) — values compare by VALUE
    "http://www.bigdata.com/rdf/datatype#compressedTimestamp": "long",
}


def canonical_datetime_lex(lex: str) -> str:
    """Canonicalize an xsd:dateTime lexical to millisecond-UTC-Z form —
    the reference parses dateTime literals into typed IVs at ingest and
    re-serializes them canonically (ref: internal/impl/literal/
    XSDDateTimeIV — '2008-07-28T08:53:25-04:00' reads back as
    '2008-07-28T12:53:25.000Z', a bare date as 'T00:00:00.000Z'; eval
    fixtures inline-constraints-dt / materialization-extensions).
    Unparseable lexicals stay as written (malformed literals remain
    lexical, per the engine's per-row type-error discipline)."""
    import datetime as _dt

    s = lex.strip()
    try:
        if len(s) == 10:  # bare date with a dateTime datatype (lenient)
            s += "T00:00:00"
        d = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return lex
    if d.tzinfo is not None:
        d = d.astimezone(_dt.timezone.utc)
    return (
        f"{d.year:04d}-{d.month:02d}-{d.day:02d}"
        f"T{d.hour:02d}:{d.minute:02d}:{d.second:02d}.{d.microsecond // 1000:03d}Z"
    )


XSD_DATE_IRI = "http://www.w3.org/2001/XMLSchema#date"
DATE_TAG = f"dt:{XSD_DATE_IRI}"

_DATE_RX = re.compile(r"^(-?)(\d+)-(\d{2})-(\d{2})(Z|[+-]\d{2}:\d{2})?$")


def _days_in_month(y: int, m: int) -> int:
    if m == 2:
        leap = (y % 4 == 0 and y % 100 != 0) or y % 400 == 0
        return 29 if leap else 28
    return 31 if m in (1, 3, 5, 7, 8, 10, 12) else 30


def canonical_date_lex(lex: str) -> str:
    """Canonicalize an xsd:date lexical the way the reference's typed-IV
    ingest does (ref: internal/impl/literal/XSDDateIV — dates parse through
    a calendar and re-serialize in UTC): the date's starting instant is
    local midnight, so a POSITIVE zone offset moves the UTC date one day
    back ('-523-12-31+01:00' reads back as '-0523-12-30'); 'Z'/negative
    offsets keep the day; years render sign + >=4 digits. Negative years
    use the proleptic-Gregorian leap rule on the signed year (astronomical
    numbering). Unparseable lexicals stay as written (per-row type-error
    discipline, same as canonical_datetime_lex)."""
    m = _DATE_RX.match(lex.strip())
    if not m:
        return lex
    sign, ystr, mon, day, tz = m.groups()
    y, mo, d = int(sign + ystr), int(mon), int(day)
    if not (1 <= mo <= 12 and 1 <= d <= _days_in_month(y, mo)):
        return lex
    if tz and tz.startswith("+") and tz != "+00:00":
        d -= 1
        if d == 0:
            mo -= 1
            if mo == 0:
                y, mo = y - 1, 12
            d = _days_in_month(y, mo)
    ys = f"{'-' if y < 0 else ''}{abs(y):04d}"
    return f"{ys}-{mo:02d}-{d:02d}"


def typed_lex(lex: str, dt_iri: str) -> tuple:
    """(o_lex, dt_tag) for a typed literal, canonicalizing dateTime
    lexicals the way the reference's IV ingest does. A datatype IRI
    outside the xsd mapping keeps its IDENTITY as a `dt:<iri>` tag —
    "0"^^xsd:unsignedByte and "0"^^xsd:unsignedShort are DIFFERENT terms
    (the reference models unknown dtypes as fully-typed literals; eval
    fixture unsigned-01 counts them separately)."""
    tag = _XSD_DT.get(dt_iri) or (f"dt:{dt_iri}" if dt_iri else "string")
    if tag == "timestamp":
        lex = canonical_datetime_lex(lex)
    elif dt_iri == XSD_DATE_IRI:
        lex = canonical_date_lex(lex)
    return lex, tag


def unescape_literal(lex: str) -> str:
    """Single-pass N-Triples/Turtle string unescape. A sequential
    replace chain mis-handles `\\\\n` (escaped backslash followed by n —
    the old chain turned it into a newline) and missed `\\r`; one regex
    pass over each escape sequence is order-safe."""
    return re.sub(
        r"\\(u[0-9a-fA-F]{4}|U[0-9a-fA-F]{8}|.)",
        lambda m: (
            chr(int(m.group(1)[1:], 16))
            if m.group(1)[0] in "uU" and len(m.group(1)) > 1
            else {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
                  '"': '"', "'": "'", "\\": "\\"}.get(m.group(1), "\\" + m.group(1))
        ),
        lex,
    )


# Spark-side single-pass analog: swap escaped backslashes for a sentinel
# FIRST so `\\n` (literal backslash + n) can never be re-read as a newline
# escape, decode the control escapes, then restore the backslashes.
_ESC_SENTINEL = "\x00"


def _unescape_cols(lex):
    lex = F.regexp_replace(lex, r"\\\\", _ESC_SENTINEL)
    lex = F.regexp_replace(lex, r'\\"', '"')
    lex = F.regexp_replace(lex, r"\\n", "\n")
    lex = F.regexp_replace(lex, r"\\t", "\t")
    lex = F.regexp_replace(lex, r"\\r", "\r")
    return F.regexp_replace(lex, _ESC_SENTINEL, r"\\")


def _term_stage(df: DataFrame, raw: str, out_lex: str, out_dt: str) -> DataFrame:
    """Append (out_lex, out_dt) columns parsed from the raw object token
    column ``raw``, via STAGED projections with named intermediates.

    Why staged: PySpark Columns are expression TREES, not DAGs — every
    Python-level reuse of a Column object copies its whole subtree into the
    enclosing expression. The previous single-expression form duplicated
    the unescape/canonicalization chain ~30x, and that inflated tree is
    re-analyzed by Catalyst for EVERY query that references the loaded
    store (caching truncates execution, not analysis) — the round-8
    calendar-validation additions alone ~1.7x'd the BSBM plan-cost metric.
    With named intermediates each reuse is a leaf AttributeReference;
    CollapseProject keeps multi-use non-cheap aliases staged, so the
    optimized plan (and codegen: each regex runs once per row, not ~15x)
    stays linear too."""
    r = F.col(raw)
    t = f"__t{out_lex}_"  # temp prefix, unique per output column
    qlex = F.regexp_extract(r, r'^"((?:[^"\\]|\\.)*)"', 1)
    df = df.select(
        "*",
        _unescape_cols(qlex).alias(t + "lex"),
        F.regexp_extract(r, r'"@([A-Za-z0-9-]+)$', 1).alias(t + "lang"),
        F.regexp_extract(r, r'\^\^<([^>]*)>$', 1).alias(t + "dti"),
    )
    lex, lang, dti = F.col(t + "lex"), F.col(t + "lang"), F.col(t + "dti")
    is_iri = r.startswith("<")
    is_bnode = r.startswith("_:")
    # unknown datatype IRIs keep their identity (dt:<iri> tag — see
    # typed_lex); known xsd types map onto the engine tags
    dt_mapped = F.concat(F.lit("dt:"), dti)
    for iri, tag in _XSD_DT.items():
        dt_mapped = F.when(dti == iri, F.lit(tag)).otherwise(dt_mapped)
    o_lex0 = (
        F.when(is_iri, r.substr(F.lit(2), F.length(r) - 2))
        .when(is_bnode, r)
        .otherwise(lex)
    )
    o_dt = (
        F.when(is_iri, F.lit("iri"))
        .when(is_bnode, F.lit("iri"))
        .when(lang != "", F.concat(F.lit("lang:"), lang))
        .when(dti != "", dt_mapped)
        .otherwise(F.lit("string"))
    )
    df = df.select("*", o_lex0.alias(t + "lex0"), o_dt.alias(out_dt))
    # dateTime canonicalization (see canonical_datetime_lex): session TZ is
    # UTC (session.get_spark), so date_format renders the instant in Z form;
    # to_timestamp handles bare dates and zone offsets, NULL on malformed
    # (ANSI off) — those keep their written lexical
    l0 = F.col(t + "lex0")
    canon = F.date_format(F.to_timestamp(l0), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    df = df.select(
        "*",
        F.when((F.col(out_dt) == "timestamp") & canon.isNotNull(), canon)
        .otherwise(l0)
        .alias(t + "lex1"),
    )
    # xsd:date canonicalization (see canonical_date_lex) — same rules as
    # the Python readers, in expressions, so the distributed bulk path
    # stores identical canonical lexicals; fed a LEAF column so
    # _canon_date_col's internal reuse stays cheap
    l1 = F.col(t + "lex1")
    df = df.select("*", _canon_date_col(l1).alias(t + "dcanon"))
    out = F.when(
        (dti == F.lit(XSD_DATE_IRI)) & F.col(t + "dcanon").isNotNull(),
        F.col(t + "dcanon"),
    ).otherwise(l1)
    df = df.select("*", out.alias(out_lex))
    return df.drop(*(c for c in df.columns if c.startswith(t)))


# NO-SHIFT zones only: 'Z', '+00:00', or any NEGATIVE offset keep the local
# day (the date's starting instant, local midnight, falls on the same UTC
# day); a POSITIVE offset moves the UTC day back one, which needs calendar
# rollover — the bulk NT scan leaves those lexicals as written (the format
# readers and parser constants canonicalize them exactly through
# canonical_date_lex). Kept deliberately TINY: this expression inlines into
# every literal's codegen path, and a full calendar-rollover expression tree
# multiplied the o_lex subtree ~100x and blew the codegen heap.
_DATE_RX_SQL = r"^(-?)(\d+)(-\d{2}-\d{2})(Z|\+00:00|-\d{2}:\d{2})?$"


# month/day validity in ONE regex over the "-MM-DD" tail: month-specific day
# maxima, with February capped at 28 here — Feb 29 is validated numerically
# against the proleptic leap rule below (the only part a regex can't say)
_DATE_MD_OK_RX = (
    r"^-(?:(?:0[13578]|1[02])-(?:0[1-9]|[12][0-9]|3[01])"
    r"|(?:0[469]|11)-(?:0[1-9]|[12][0-9]|30)"
    r"|02-(?:0[1-9]|1[0-9]|2[0-8]))$"
)


def _canon_date_col(lex):
    """Expression analog of canonical_date_lex for the shift-free cases:
    canonical form (zone stripped, year sign + >=4 digits) when the lexical
    is an xsd:date with no UTC day shift AND a calendar-valid month/day,
    NULL otherwise (callers keep the written lexical — '2024-13-05Z' must
    stay as written here exactly like the Python readers keep it;
    positive-offset dates canonicalize in the Python readers)."""
    sign = F.regexp_extract(lex, _DATE_RX_SQL, 1)
    ystr = F.regexp_extract(lex, _DATE_RX_SQL, 2)
    rest = F.regexp_extract(lex, _DATE_RX_SQL, 3)
    y = F.concat(sign, ystr).try_cast("long")
    leap = (F.pmod(y, 4) == 0) & ((F.pmod(y, 100) != 0) | (F.pmod(y, 400) == 0))
    md_ok = rest.rlike(_DATE_MD_OK_RX) | ((rest == "-02-29") & leap)
    ok = (ystr != "") & md_ok & ~lex.rlike(r"\+(?!00:00)\d{2}:\d{2}$")
    ys = F.when(F.length(ystr) >= 4, ystr).otherwise(F.lpad(ystr, 4, "0"))
    return F.when(ok, F.concat(sign, ys, rest)).otherwise(
        F.lit(None).cast("string")
    )


def _parse(lines: DataFrame, pattern: str, quads: bool) -> DataFrame:
    v = F.col("value")
    df = lines.filter((F.trim(v) != "") & ~F.trim(v).startswith("#"))
    df = df.select(
        F.regexp_extract(v, pattern, 1).alias("_raw_s"),
        F.regexp_extract(v, pattern, 2).alias("_raw_p"),
        F.regexp_extract(v, pattern, 3).alias("_raw_o"),
        *([F.regexp_extract(v, pattern, 4).alias("_raw_g")] if quads else []),
    ).filter(F.col("_raw_s") != "")  # non-matching lines dropped (ref parser: error; we skip+count)
    s = F.when(
        F.col("_raw_s").startswith("<"), F.expr("substring(_raw_s, 2, length(_raw_s) - 2)")
    ).otherwise(F.col("_raw_s"))
    p = F.expr("substring(_raw_p, 2, length(_raw_p) - 2)")
    df = _term_stage(df, "_raw_o", "o_lex", "o_dt")
    cols = [s.alias("s"), p.alias("p"), F.col("o_lex"), F.col("o_dt")]
    if quads:
        g = F.when(
            F.col("_raw_g").startswith("<"), F.expr("substring(_raw_g, 2, length(_raw_g) - 2)")
        ).otherwise(F.col("_raw_g"))
        cols.append(g.alias("g"))
    return df.select(*cols)


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """Distributed N-Triples parse → (s, p, o_lex, o_dt). An RDF graph is a
    SET of statements — duplicate lines load once (the reference's B+Tree
    insert semantics; one distinct at load, the standard bulk-load dedup)."""
    return _parse(spark.read.text(path), NT_LINE, quads=False).distinct()


NT_STAR_LINE = rf"^\s*<<\s*{_SUBJ}\s+{_PRED}\s+{_OBJ}\s*>>\s+{_PRED}\s+{_OBJ}\s*\.\s*$"
# object-position star line: `s p <<s2 p2 o2>> .` (sid as the object term)
NT_STAR_OBJ_LINE = rf"^\s*{_SUBJ}\s+{_PRED}\s+<<\s*{_SUBJ}\s+{_PRED}\s+{_OBJ}\s*>>\s*\.\s*$"


def read_ntriples_star(spark: SparkSession, path: str) -> DataFrame:
    """N-Triples-star / RDR parse: `<<s p o>> p2 o2 .` statement-metadata
    lines plus plain N-Triples lines (ref: BigdataNTriplesParser's RDR mode,
    bigdata-core/bigdata-rdf/.../rio/ntriples/BigdataNTriplesParser.java).

    Per RDR semantics the embedded statement is also asserted: each star line
    yields TWO triples — the inner (s,p,o) and (sid, p2, o2) where sid is the
    deterministic `<<s|p|o_lex|o_dt>>` statement-id the compiler's
    SPARQL-star patterns join on. Same one-scan JVM-regexp shape as
    read_ntriples; the star rewrite adds no extra pass over the data."""
    v = F.col("value")
    lines = spark.read.text(path).filter((F.trim(v) != "") & ~F.trim(v).startswith("#"))
    star = lines.filter(v.rlike(NT_STAR_LINE))
    star_obj = lines.filter(v.rlike(NT_STAR_OBJ_LINE) & ~v.rlike(NT_STAR_LINE))
    plain = _parse(
        lines.filter(~v.rlike(NT_STAR_LINE) & ~v.rlike(NT_STAR_OBJ_LINE)), NT_LINE, quads=False
    )

    star_g = star.select(
        *(F.regexp_extract(v, NT_STAR_LINE, i).alias(f"_g{i}") for i in range(1, 6))
    )
    star_g = _term_stage(star_g, "_g3", "_io", "_iodt")
    star_g = _term_stage(star_g, "_g5", "_mo", "_mdt")
    g1 = F.col("_g1")
    inner_s = F.when(
        g1.startswith("<"), g1.substr(F.lit(2), F.length(g1) - 2)
    ).otherwise(g1)
    inner_p = F.col("_g2").substr(F.lit(2), F.length(F.col("_g2")) - 2)
    meta_p = F.col("_g4").substr(F.lit(2), F.length(F.col("_g4")) - 2)
    inner = star_g.select(
        inner_s.alias("s"), inner_p.alias("p"),
        F.col("_io").alias("o_lex"), F.col("_iodt").alias("o_dt"),
    )
    meta = star_g.select(
        inner_s.alias("s"), inner_p.alias("p"),
        F.col("_io").alias("o_lex"), F.col("_iodt").alias("o_dt"),
        meta_p.alias("_mp"), F.col("_mo"), F.col("_mdt"),
    ).select(
        sid_col().alias("s"), F.col("_mp").alias("p"), F.col("_mo").alias("o_lex"), F.col("_mdt").alias("o_dt")
    )

    # object-position star lines: `s p <<s2 p2 o2>> .` — inner statement
    # asserted (RDR), outer row binds the sid as a 'sid'-typed object
    star_og = star_obj.select(
        *(F.regexp_extract(v, NT_STAR_OBJ_LINE, i).alias(f"_h{i}") for i in range(1, 6))
    )
    star_og = _term_stage(star_og, "_h5", "_oo", "_oodt")
    h1, h3 = F.col("_h1"), F.col("_h3")
    out_s = F.when(
        h1.startswith("<"), h1.substr(F.lit(2), F.length(h1) - 2)
    ).otherwise(h1)
    out_p = F.col("_h2").substr(F.lit(2), F.length(F.col("_h2")) - 2)
    oin_s = F.when(
        h3.startswith("<"), h3.substr(F.lit(2), F.length(h3) - 2)
    ).otherwise(h3)
    oin_p = F.col("_h4").substr(F.lit(2), F.length(F.col("_h4")) - 2)
    obj_inner = star_og.select(
        oin_s.alias("s"), oin_p.alias("p"),
        F.col("_oo").alias("o_lex"), F.col("_oodt").alias("o_dt"),
    )
    obj_meta = star_og.select(
        out_s.alias("s"), out_p.alias("p"),
        sid_col(oin_s, oin_p, "_oo", "_oodt").alias("o_lex"),
        F.lit(DT_SID).alias("o_dt"),
    )
    return (
        plain.unionByName(inner)
        .unionByName(meta)
        .unionByName(obj_inner)
        .unionByName(obj_meta)
        # a statement asserted both explicitly and via its `<<...>>` term
        # loads once (RDF set semantics)
        .distinct()
    )


def read_nquads(spark: SparkSession, path: str) -> DataFrame:
    """Distributed N-Quads parse → (s, p, o_lex, o_dt, g); duplicate lines
    load once (RDF dataset set semantics, same as read_ntriples)."""
    return _parse(spark.read.text(path), NQ_LINE, quads=True).distinct()


_TAG_XSD_W = {
    "long": "http://www.w3.org/2001/XMLSchema#integer",
    "double": "http://www.w3.org/2001/XMLSchema#double",
    "decimal": "http://www.w3.org/2001/XMLSchema#decimal",
    "boolean": "http://www.w3.org/2001/XMLSchema#boolean",
    "timestamp": "http://www.w3.org/2001/XMLSchema#dateTime",
}


def _nt_obj(lex: F.Column, dt: F.Column) -> F.Column:
    """N-Triples object syntax from (lexical, dtype-tag) columns. The
    grammar's STRING_LITERAL_QUOTE excludes raw LF/CR (the format is
    line-based) — escape them and TAB along with backslash and quote."""
    esc = F.regexp_replace(F.regexp_replace(lex, r"\\", r"\\\\"), '"', '\\\\"')
    esc = F.regexp_replace(esc, "\n", r"\\n")
    esc = F.regexp_replace(esc, "\r", r"\\r")
    esc = F.regexp_replace(esc, "\t", r"\\t")
    obj = F.concat(F.lit('"'), esc, F.lit('"'))
    obj = F.when(
        dt.startswith("dt:"),
        F.concat(F.lit('"'), esc, F.lit('"^^<'), F.substring(dt, 4, 2_000_000), F.lit(">")),
    ).otherwise(obj)
    for tag, iri in _TAG_XSD_W.items():
        obj = F.when(
            dt == tag, F.concat(F.lit('"'), esc, F.lit('"^^<'), F.lit(iri), F.lit(">"))
        ).otherwise(obj)
    return (
        F.when(dt == "bnode", lex)  # bare _:label
        .when(dt == "iri", F.concat(F.lit("<"), lex, F.lit(">")))
        .when(
            dt.startswith("lang:"),
            F.concat(F.lit('"'), esc, F.lit('"@'), F.substring(dt, 6, 100)),
        )
        .otherwise(obj)
    )


def _nt_sid(col: F.Column) -> F.Column:
    """RDR embedded-statement syntax `<< s p o >>` for a sid lexical (the
    `<<s|p|o_lex|o_dt>>` internal encoding; one nesting level — a sid
    whose embedded OBJECT is itself a sid re-joins textually from the
    middle fields but is not recursively rendered)."""
    i_s, i_p, i_o, i_odt = sid_fields(sid_parts(col))
    subj = F.when(i_s.startswith("_:"), i_s).otherwise(F.concat(F.lit("<"), i_s, F.lit(">")))
    return F.concat(
        F.lit("<< "), subj, F.lit(" <"), i_p, F.lit("> "), _nt_obj(i_o, i_odt), F.lit(" >>")
    )


def nt_line(df: DataFrame) -> F.Column:
    """Column: one N-Triples line per (s,p,o_lex,o_dt) row. Sid terms
    (subject or object position) render as RDR `<< s p o >>` embedded
    statements — the writer-side of BigdataNTriplesParser's RDR mode, so
    an RDR store exports losslessly through write_ntriples and reloads
    via read_ntriples_star."""
    obj = F.when(F.col("o_dt") == DT_SID, _nt_sid(F.col("o_lex"))).otherwise(
        _nt_obj(F.col("o_lex"), F.col("o_dt"))
    )
    subj = (
        F.when(is_sid(F.col("s")), _nt_sid(F.col("s")))
        .when(F.col("s").startswith("_:"), F.col("s"))  # blank-node subject
        .otherwise(F.concat(F.lit("<"), F.col("s"), F.lit(">")))
    )
    return F.concat(subj, F.lit(" <"), F.col("p"), F.lit("> "), obj, F.lit(" ."))


def _nt_esc_stage(df: DataFrame, lex: str, out: str) -> DataFrame:
    l = F.col(lex)
    esc = F.regexp_replace(F.regexp_replace(l, r"\\", r"\\\\"), '"', '\\\\"')
    esc = F.regexp_replace(esc, "\n", r"\\n")
    esc = F.regexp_replace(esc, "\r", r"\\r")
    esc = F.regexp_replace(esc, "\t", r"\\t")
    return df.select("*", esc.alias(out))


def _nt_obj_stage(df: DataFrame, lex: str, dt: str, out: str) -> DataFrame:
    """Append ``out`` = N-Triples object syntax for (lex, dt), via STAGED
    projections with named intermediates — same discipline as the reader's
    _term_stage and the Turtle writer's _ttl_term_stage: the inline _nt_obj
    expression copies its 5-regex escape chain into every datatype WHEN
    branch, and fused into an upstream Generate (relational→RDF explode on
    a bulk export) a single generated doConsume can outgrow janino's 64 KB
    method limit, dropping the whole export stage to interpreted
    evaluation."""
    t = f"__nt_{out}_"
    d = F.col(dt)
    df = _nt_esc_stage(df, lex, t + "esc")
    esc = F.col(t + "esc")
    obj = F.concat(F.lit('"'), esc, F.lit('"'))
    obj = F.when(
        d.startswith("dt:"),
        F.concat(F.lit('"'), esc, F.lit('"^^<'), F.substring(d, 4, 2_000_000), F.lit(">")),
    ).otherwise(obj)
    for tag, iri in _TAG_XSD_W.items():
        obj = F.when(
            d == tag, F.concat(F.lit('"'), esc, F.lit('"^^<'), F.lit(iri), F.lit(">"))
        ).otherwise(obj)
    l = F.col(lex)
    rendered = (
        F.when(d == "bnode", l)
        .when(d == "iri", F.concat(F.lit("<"), l, F.lit(">")))
        .when(
            d.startswith("lang:"),
            F.concat(F.lit('"'), esc, F.lit('"@'), F.substring(d, 6, 100)),
        )
        .otherwise(obj)
    )
    df = df.select("*", rendered.alias(out))
    return df.drop(t + "esc")


def _nt_sid_stage(df: DataFrame, col: str, out: str) -> DataFrame:
    """Append ``out`` = RDR `<< s p o >>` syntax for a sid lexical column
    (NULL for non-sid lexicals), staged like _nt_obj_stage."""
    t = f"__nt_{out}_"
    c = F.col(col)
    df = df.select("*", sid_parts(F.when(is_sid(c), c)).alias(t + "parts"))
    i_s, i_p, i_o, i_odt = sid_fields(F.col(t + "parts"))
    df = df.select(
        "*", i_s.alias(t + "s"), i_p.alias(t + "p"), i_odt.alias(t + "odt"), i_o.alias(t + "o")
    )
    df = _nt_obj_stage(df, t + "o", t + "odt", t + "oterm")
    i_s = F.col(t + "s")
    subj = F.when(i_s.startswith("_:"), i_s).otherwise(
        F.concat(F.lit("<"), i_s, F.lit(">"))
    )
    df = df.select(
        "*",
        F.concat(
            F.lit("<< "), subj, F.lit(" <"), F.col(t + "p"), F.lit("> "),
            F.col(t + "oterm"), F.lit(" >>"),
        ).alias(out),
    )
    return df.drop(*(c2 for c2 in df.columns if c2.startswith(t)))


def nt_lines(df: DataFrame) -> DataFrame:
    """One-column ("value") DataFrame of N-Triples lines — the STAGED bulk
    form of nt_line, used by write_ntriples so a distributed export fused
    with an upstream relational→RDF explode still compiles under
    whole-stage codegen. nt_line (single Column) remains for bounded
    callers composing it into an existing projection."""
    out = df.select("s", "p", "o_lex", "o_dt")
    out = _nt_obj_stage(out, "o_lex", "o_dt", "__nt_oplain")
    out = _nt_sid_stage(out, "o_lex", "__nt_osid")
    out = _nt_sid_stage(out, "s", "__nt_ssid")
    obj = F.when(F.col("o_dt") == DT_SID, F.col("__nt_osid")).otherwise(
        F.col("__nt_oplain")
    )
    s = F.col("s")
    subj = (
        F.when(is_sid(s), F.col("__nt_ssid"))
        .when(s.startswith("_:"), s)
        .otherwise(F.concat(F.lit("<"), s, F.lit(">")))
    )
    return out.select(
        F.concat(subj, F.lit(" <"), F.col("p"), F.lit("> "), obj, F.lit(" .")).alias("value")
    )


def write_ntriples(df: DataFrame, path: str) -> None:
    """Serialize (s,p,o_lex,o_dt) → N-Triples text files."""
    nt_lines(df).write.mode("overwrite").text(path)
