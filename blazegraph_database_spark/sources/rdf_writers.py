"""RDF writers: Turtle (with @prefix + `;` predicate lists), TriG,
RDF/XML, JSON-LD (SURVEY.md §2.12 conneg parity).

Reference analog: the conneg writer registry —
bigdata-core/bigdata-sails/src/java/com/bigdata/rdf/sail/webapp/ConnegUtil.java
picks an RDFFormat writer (Turtle/RDF-XML/JSON-LD/TriG/N-Triples) for
CONSTRUCT/DESCRIBE responses; rio/ RDFWriterRegistry provides the
serializers. Each writer here round-trips through this repo's own reader
(`sources/rdf_formats.py` / `sources/ntriples.py`) — oracle-checked by the
`*_writer_roundtrip` queries.

Spark-first: per-subject (and per-graph) fragments are computed as JVM-side
column expressions — grouping, escaping, prefix compression and JSON
encoding all happen distributed; the driver only concatenates collected
fragment strings into the final document (the same bounded-result surface
the REST serializers use — document assembly is inherently a driver/stream
step). For unbounded exports use `ntriples.write_ntriples` (line-oriented,
fully distributed); these document writers are the interactive-response
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from blazegraph_database_spark.model.terms import DT_SID, is_sid, sid_fields, sid_parts

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

# engine dt tag → XSD datatype IRI (inverse of the readers' _XSD_DT)
_TAG_XSD = {
    "long": "http://www.w3.org/2001/XMLSchema#integer",
    "double": "http://www.w3.org/2001/XMLSchema#double",
    "decimal": "http://www.w3.org/2001/XMLSchema#decimal",
    "boolean": "http://www.w3.org/2001/XMLSchema#boolean",
    "timestamp": "http://www.w3.org/2001/XMLSchema#dateTime",
}

DEFAULT_PREFIXES = {
    "rdf": RDF_NS,
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "owl": "http://www.w3.org/2002/07/owl#",
}


# ------------------------------------------------------------- turtle ----
def _ttl_escape(col):
    """Escape a literal for a quoted Turtle/N-Triples string: the inverse
    of the readers' unescape set, plus \\r (Turtle's short string forbids
    raw CR; review r5-6)."""
    out = F.regexp_replace(col, r"\\", r"\\\\")
    out = F.regexp_replace(out, '"', '\\\\"')
    out = F.regexp_replace(out, "\n", r"\\n")
    out = F.regexp_replace(out, "\r", r"\\r")
    return F.regexp_replace(out, "\t", r"\\t")


def _pname_or_iri(col, prefixes: dict[str, str]):
    """Compress an IRI to pfx:local when a declared namespace matches and
    the local part is PN-safe (the readers' PNAME charset), else <iri>.
    Bnode ids (`_:x`) pass through. Small prefix map → a short JVM when-
    chain, no UDF."""
    out = F.concat(F.lit("<"), col, F.lit(">"))
    # longest namespace wins: apply shorter ones first so later (longer)
    # WHENs override
    for pfx, ns in sorted(prefixes.items(), key=lambda kv: len(kv[1])):
        local = F.substring(col, len(ns) + 1, 1 << 20)
        out = F.when(
            col.startswith(ns) & local.rlike("^[A-Za-z0-9_.-]*$") & ~local.rlike(r"^\.|\.$"),
            F.concat(F.lit(pfx + ":"), local),
        ).otherwise(out)
    return F.when(col.startswith("_:"), col).otherwise(out)


def _ttl_term_stage(df: DataFrame, lex: str, dt: str, out: str, prefixes) -> DataFrame:
    """Append ``out`` = Turtle syntax for the (lex, dt) term columns, via
    STAGED projections with named intermediates — the writer-side analog of
    the readers' _term_stage discipline (docs/scale_notes.md "Plan-build
    discipline"). PySpark Columns are expression TREES: the previous
    single-expression form copied the 5-regex escape chain into every
    datatype-tag WHEN branch, and fused into an upstream Generate (the
    relational→RDF explode) the one generated doConsume grew past janino's
    64 KB method limit — Spark then fell back to INTERPRETED evaluation for
    the whole writer stage (ERROR CodeGenerator on every bulk export).
    Staged, each subexpression is computed once into a leaf
    AttributeReference and the fused stage compiles."""
    t = f"__w_{out}_"
    l, d = F.col(lex), F.col(dt)
    df = df.select(
        "*",
        _ttl_escape(l).alias(t + "esc"),
        _pname_or_iri(l, prefixes).alias(t + "pn"),
    )
    esc = F.col(t + "esc")
    obj = F.concat(F.lit('"'), esc, F.lit('"'))
    # unknown datatype IRIs ride as dt:<iri> tags (term identity preserved)
    obj = F.when(
        d.startswith("dt:"),
        F.concat(F.lit('"'), esc, F.lit('"^^<'), F.substring(d, 4, 1 << 20), F.lit(">")),
    ).otherwise(obj)
    for tag, iri in _TAG_XSD.items():
        # _pname_or_iri over a literal constant-folds to one string
        obj = F.when(
            d == tag,
            F.concat(F.lit('"'), esc, F.lit('"^^'), _pname_or_iri(F.lit(iri), prefixes)),
        ).otherwise(obj)
    rendered = (
        F.when(d.isin("iri", "bnode"), F.col(t + "pn"))
        .when(
            d.startswith("lang:"),
            F.concat(F.lit('"'), esc, F.lit('"@'), F.substring(d, 6, 100)),
        )
        .otherwise(obj)
    )
    df = df.select("*", rendered.alias(out))
    return df.drop(t + "esc", t + "pn")


def _ttl_sid_stage(df: DataFrame, col: str, out: str, prefixes) -> DataFrame:
    """Append ``out`` = RDR `<< s p o >>` Turtle-star syntax for a sid
    lexical column (the internal `<<s|p|o_lex|o_dt>>` encoding; one nesting
    level), NULL for non-sid lexicals. Staged like _ttl_term_stage."""
    t = f"__w_{out}_"
    c = F.col(col)
    df = df.select("*", sid_parts(F.when(is_sid(c), c)).alias(t + "parts"))
    i_s, i_p, i_o, i_odt = sid_fields(F.col(t + "parts"))
    df = df.select(
        "*", i_s.alias(t + "s"), i_p.alias(t + "p"), i_odt.alias(t + "odt"), i_o.alias(t + "o")
    )
    df = df.select(
        "*",
        _pname_or_iri(F.col(t + "s"), prefixes).alias(t + "spn"),
        _pname_or_iri(F.col(t + "p"), prefixes).alias(t + "ppn"),
    )
    df = _ttl_term_stage(df, t + "o", t + "odt", t + "oterm", prefixes)
    df = df.select(
        "*",
        F.concat(
            F.lit("<< "), F.col(t + "spn"), F.lit(" "), F.col(t + "ppn"),
            F.lit(" "), F.col(t + "oterm"), F.lit(" >>"),
        ).alias(out),
    )
    return df.drop(*(c2 for c2 in df.columns if c2.startswith(t)))


def _ttl_subject_blocks(df: DataFrame, prefixes: dict[str, str], extra_group=()):
    """One Turtle statement block per subject: `s p1 o1 ; p2 o2 .` —
    grouping/sorting/joining all in JVM expressions, STAGED so the fused
    pre-aggregation stage stays inside janino's method limit."""
    rows = df.select(*extra_group, "s", "p", "o_lex", "o_dt")
    rows = rows.select(
        "*", _pname_or_iri(F.col("p"), prefixes).alias("__w_ppn")
    )
    rows = _ttl_term_stage(rows, "o_lex", "o_dt", "__w_oplain", prefixes)
    rows = _ttl_sid_stage(rows, "o_lex", "__w_osid", prefixes)
    po = F.concat(
        F.col("__w_ppn"),
        F.lit(" "),
        F.when(F.col("o_dt") == DT_SID, F.col("__w_osid")).otherwise(
            F.col("__w_oplain")
        ),
    ).alias("po")
    rows = rows.select(*extra_group, F.col("s"), po)
    agg = (
        rows.groupBy(*extra_group, "s")
        .agg(F.array_sort(F.collect_list("po")).alias("pos"))
    )
    agg = _ttl_sid_stage(agg, "s", "__w_ssid", prefixes)
    agg = agg.select(
        "*", _pname_or_iri(F.col("s"), prefixes).alias("__w_spn")
    )
    return agg.select(
        *extra_group,
        F.concat(
            F.when(is_sid(F.col("s")), F.col("__w_ssid")).otherwise(
                F.col("__w_spn")
            ),
            F.lit(" "),
            F.array_join(F.col("pos"), " ;\n    "),
            F.lit(" ."),
        ).alias("block"),
    )


def _prefix_header(prefixes: dict[str, str]) -> str:
    return "".join(f"@prefix {p}: <{ns}> .\n" for p, ns in sorted(prefixes.items()))


def turtle_doc(df: DataFrame, prefixes: dict[str, str] | None = None) -> str:
    """Serialize (s,p,o_lex,o_dt) triples as one Turtle document with
    @prefix declarations and per-subject `;` predicate lists (ref: rio
    TurtleWriter behind ConnegUtil)."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    blocks = [r["block"] for r in _ttl_subject_blocks(df, prefixes).collect()]
    return _prefix_header(prefixes) + "\n" + "\n\n".join(blocks) + ("\n" if blocks else "")


def write_turtle(df: DataFrame, path: str, prefixes: dict[str, str] | None = None) -> None:
    """Distributed Turtle export: subject blocks computed as JVM
    expressions, written as text part-files, each prefixed with the
    @prefix header via one Arrow-batched pass — so EVERY part file is a
    complete, valid Turtle document (the 100 TB export path; the
    interactive ``turtle_doc`` is the REST/document path). One shuffle
    (the subject grouping), then a straight write."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    header = _prefix_header(prefixes)
    blocks = _ttl_subject_blocks(df, prefixes).select(F.col("block").alias("value"))

    def prepend_header(batches):
        import pandas as pd

        first = True
        for pdf in batches:
            if first and len(pdf):
                pdf = pd.concat(
                    [pd.DataFrame({"value": [header]}), pdf], ignore_index=True
                )
                first = False
            yield pdf

    blocks.mapInPandas(prepend_header, "value string").write.mode("overwrite").text(path)


def _write_parts(
    values: DataFrame, path: str, header: str, footer: str | None = None,
    sep: str | None = None,
) -> None:
    """Distributed document export: write the `value` column as text
    part-files where EVERY part is a complete, standalone-valid document —
    header first, optional separator between rows, optional footer last
    (the 100 TB export path shared by all four writers; one Arrow-batched
    pass per partition, no driver collect)."""

    def gen(batches):
        import pandas as pd

        yield pd.DataFrame({"value": [header]})
        first = True
        for pdf in batches:
            if not len(pdf):
                continue
            if sep:
                pre = pd.Series([sep] * len(pdf))
                if first:
                    pre.iloc[0] = ""
                pdf = pd.DataFrame({"value": pre.values + pdf["value"].values})
            first = False
            yield pdf
        if footer is not None:
            yield pd.DataFrame({"value": [footer]})

    values.mapInPandas(gen, "value string").write.mode("overwrite").text(path)


def write_trig(df: DataFrame, path: str, prefixes: dict[str, str] | None = None) -> None:
    """Distributed TriG export: one `<g> { subject-block }` (or bare block
    for the default graph) per row — TriG permits repeating a graph label
    across blocks, so any row distribution yields valid documents and no
    graph ever has to fit in one task. Same part-file contract as
    write_turtle: each part parses standalone."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    if "g" not in df.columns:
        df = df.withColumn("g", F.lit(None).cast("string"))
    blocks = _ttl_subject_blocks(df, prefixes, extra_group=("g",))
    values = blocks.select(
        F.when(
            F.col("g").isNull() | (F.col("g") == ""), F.col("block")
        ).otherwise(
            F.concat(F.lit("<"), F.col("g"), F.lit("> {\n"), F.col("block"), F.lit("\n}"))
        ).alias("value")
    )
    _write_parts(values, path, _prefix_header(prefixes))


def write_rdfxml(df: DataFrame, path: str) -> None:
    """Distributed RDF/XML export: rdf:Description fragments as part-files,
    each part wrapped in its own rdf:RDF envelope (standalone-valid)."""
    _write_parts(
        rdfxml_fragments(df).select(F.col("frag").alias("value")),
        path,
        RDFXML_HEADER.rstrip("\n"),
        footer=RDFXML_FOOTER.strip("\n"),
    )


def write_jsonld(df: DataFrame, path: str) -> None:
    """Distributed JSON-LD export: flat node objects in a per-part @graph
    envelope, comma-separated (standalone-valid JSON in every part)."""
    _write_parts(
        jsonld_nodes(df).select(F.col("node").alias("value")),
        path,
        '{"@graph":[',
        footer="]}",
        sep=",",
    )


def trig_doc(df: DataFrame, prefixes: dict[str, str] | None = None) -> str:
    """Serialize quads (s,p,o_lex,o_dt,g) as TriG: one `<g> { ... }` block
    per named graph, default-graph (g IS NULL) statements bare (ref: rio
    TriGWriter)."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    if "g" not in df.columns:
        df = df.withColumn("g", F.lit(None).cast("string"))
    blocks = _ttl_subject_blocks(df, prefixes, extra_group=("g",))
    per_graph = (
        blocks.groupBy("g")
        .agg(F.array_join(F.array_sort(F.collect_list("block")), "\n").alias("body"))
        .collect()
    )
    parts = [_prefix_header(prefixes)]
    for r in sorted(per_graph, key=lambda r: (r["g"] is not None, r["g"] or "")):
        if r["g"] is None:
            parts.append(r["body"] + "\n")
        else:
            parts.append(f"<{r['g']}> {{\n{r['body']}\n}}\n")
    return "\n".join(parts)


# ------------------------------------------------------------ rdf/xml ----
def _xml_escape(col):
    out = F.regexp_replace(col, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    out = F.regexp_replace(out, ">", "&gt;")
    out = F.regexp_replace(out, '"', "&quot;")
    # XML 1.0 end-of-line handling normalizes a raw CR in content to LF on
    # parse — a carriage return survives a round-trip only as a char ref.
    return F.regexp_replace(out, "\r", "&#13;")


def _xml_prop_el():
    """One RDF/XML property element per row. The element carries its own
    xmlns (split so the local part is the LONGEST valid-NCName suffix —
    a predicate like <...#2dPoint> splits as ns='...#2' + local='dPoint',
    review r5-7), so no document-level namespace pass is needed;
    ElementTree reassembles ns+local = the original predicate string on
    re-parse. A predicate whose IRI ends in no NCName character at all
    (e.g. pure digits) is not RDF/XML-serializable — the same boundary
    real RDF/XML writers hit."""
    local = F.regexp_extract(F.col("p"), r"([A-Za-z_][A-Za-z0-9_.\-]*)$", 1)
    ns = F.expr("substring(p, 1, length(p) - length(regexp_extract(p, '([A-Za-z_][A-Za-z0-9_.\\\\-]*)$', 1)))")
    open_tag = F.concat(
        F.lit("<"), local,
        F.when(ns != "", F.concat(F.lit(' xmlns="'), _xml_escape(ns), F.lit('"'))).otherwise(F.lit("")),
    )
    lex, esc = F.col("o_lex"), _xml_escape(F.col("o_lex"))
    el = F.concat(open_tag, F.lit(">"), esc, F.lit("</"), local, F.lit(">"))
    el = F.when(
        F.col("o_dt").startswith("dt:"),
        F.concat(
            open_tag, F.lit(' rdf:datatype="'),
            _xml_escape(F.substring(F.col("o_dt"), 4, 1 << 20)),
            F.lit('">'), esc, F.lit("</"), local, F.lit(">"),
        ),
    ).otherwise(el)
    for tag, iri in _TAG_XSD.items():
        el = F.when(
            F.col("o_dt") == tag,
            F.concat(open_tag, F.lit(f' rdf:datatype="{iri}">'), esc, F.lit("</"), local, F.lit(">")),
        ).otherwise(el)
    return (
        F.when(
            F.col("o_dt") == "iri",
            F.concat(open_tag, F.lit(' rdf:resource="'), _xml_escape(lex), F.lit('"/>')),
        )
        .when(
            F.col("o_dt") == "bnode",
            F.concat(open_tag, F.lit(' rdf:nodeID="'), _xml_escape(F.substring(lex, 3, 1 << 20)), F.lit('"/>')),
        )
        .when(
            F.col("o_dt").startswith("lang:"),
            F.concat(
                open_tag, F.lit(' xml:lang="'), F.substring(F.col("o_dt"), 6, 100),
                F.lit('">'), esc, F.lit("</"), local, F.lit(">"),
            ),
        )
        .otherwise(el)
    )


def rdfxml_fragments(df: DataFrame) -> DataFrame:
    """One `<rdf:Description>` fragment string per subject (column
    ``frag``) — the distributed part of the RDF/XML serialization; callers
    assemble header + fragments + footer (doc below, or the REST streamer
    row by row)."""
    subj_attr = F.when(
        F.col("s").startswith("_:"),
        F.concat(F.lit(' rdf:nodeID="'), _xml_escape(F.substring(F.col("s"), 3, 1 << 20)), F.lit('"')),
    ).otherwise(F.concat(F.lit(' rdf:about="'), _xml_escape(F.col("s")), F.lit('"')))
    return (
        df.select(F.col("s"), subj_attr.alias("sa"), _xml_prop_el().alias("pe"))
        .groupBy("s", "sa")
        .agg(F.array_join(F.array_sort(F.collect_list("pe")), "\n    ").alias("body"))
        .select(
            F.concat(
                F.lit("  <rdf:Description"), F.col("sa"), F.lit(">\n    "),
                F.col("body"), F.lit("\n  </rdf:Description>"),
            ).alias("frag")
        )
    )


RDFXML_HEADER = f'<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="{RDF_NS}">\n'
RDFXML_FOOTER = "\n</rdf:RDF>\n"


def rdfxml_doc(df: DataFrame) -> str:
    """Serialize triples as RDF/XML rdf:Description elements (ref: rio
    RDFXMLWriter behind ConnegUtil). Exotic dt tags (sid/xml) fall back to
    plain literals — same subset boundary as the reader."""
    frags = rdfxml_fragments(df).collect()
    return RDFXML_HEADER + "\n".join(r["frag"] for r in frags) + RDFXML_FOOTER


# ------------------------------------------------------------- jsonld ----
def _jsonld_value():
    """One JSON-LD value object per row, via to_json (JVM JSON escaping)."""
    iri_obj = F.to_json(F.struct(F.col("o_lex").alias("@id")))
    lang_obj = F.to_json(
        F.struct(
            F.col("o_lex").alias("@value"),
            F.substring(F.col("o_dt"), 6, 100).alias("@language"),
        )
    )
    plain = F.to_json(F.struct(F.col("o_lex").alias("@value")))
    out = plain
    out = F.when(
        F.col("o_dt").startswith("dt:"),
        F.to_json(
            F.struct(
                F.col("o_lex").alias("@value"),
                F.substring(F.col("o_dt"), 4, 1 << 20).alias("@type"),
            )
        ),
    ).otherwise(out)
    for tag, iri in _TAG_XSD.items():
        out = F.when(
            F.col("o_dt") == tag,
            F.to_json(F.struct(F.col("o_lex").alias("@value"), F.lit(iri).alias("@type"))),
        ).otherwise(out)
    return (
        F.when(F.col("o_dt").isin("iri", "bnode"), iri_obj)
        .when(F.col("o_dt").startswith("lang:"), lang_obj)
        .otherwise(out)
    )


def _json_str(col):
    """JSON-encode a string column (quotes + escapes) via to_json: wrap in
    a one-field struct, then strip the `{"k":` / `}` envelope."""
    j = F.to_json(F.struct(col.alias("k")))
    return j.substr(F.lit(6), F.length(j) - F.lit(6))


def jsonld_nodes(df: DataFrame) -> DataFrame:
    """One JSON-LD node-object string per subject (column ``node``) — the
    distributed part; callers wrap in the @graph envelope."""
    per_pred = (
        df.select(F.col("s"), F.col("p"), _jsonld_value().alias("v"))
        .groupBy("s", "p")
        .agg(
            F.concat(
                _json_str(F.col("p")),
                F.lit(":["),
                F.array_join(F.array_sort(F.collect_list("v")), ","),
                F.lit("]"),
            ).alias("pair")
        )
    )
    return (
        per_pred.groupBy("s")
        .agg(F.array_join(F.array_sort(F.collect_list("pair")), ",").alias("pairs"))
        .select(
            F.concat(
                F.lit('{"@id":'),
                _json_str(F.col("s")),
                F.lit(","),
                F.col("pairs"),
                F.lit("}"),
            ).alias("node")
        )
    )


def jsonld_doc(df: DataFrame) -> str:
    """Serialize triples as a JSON-LD @graph document of flat node objects
    (ref: rio JSON-LD writer behind ConnegUtil; matches the reader's
    flat-node subset)."""
    nodes = jsonld_nodes(df).collect()
    return '{"@graph":[' + ",".join(sorted(r["node"] for r in nodes)) + "]}"
