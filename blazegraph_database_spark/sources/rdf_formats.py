"""Additional RDF interchange formats: TriG, JSON-LD, RDF/XML (SURVEY.md §2.2).

Reference analog: the RIO parser registry (bigdata-core/bigdata-rdf/src/java/
com/bigdata/rdf/rio/ — the reference accepts RDF/XML, TriG, and JSON-LD
through openrdf RIO). These three are document-scoped syntaxes (graph blocks,
JSON documents, XML trees), so unlike N-Triples they cannot be split inside a
file: parallelism is per FILE. The loaders read with ``wholetext`` and parse
each document in an Arrow-batched ``mapInPandas`` stage — a directory of
shard files (the normal bulk-load layout at scale) parallelizes across the
cluster, one document per task slot.

Each parser covers the practical subset produced by common exporters; the
docstrings state the exact coverage. Lang-tagged literals carry
``o_dt='lang:<tag>'``; typed literals map onto the engine's dt tags.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from blazegraph_database_spark.model.terms import DT_SID, sid_lex
from blazegraph_database_spark.sources.ntriples import _XSD_DT, typed_lex, unescape_literal

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

_TRIPLES_SCHEMA = "s string, p string, o_lex string, o_dt string"
_QUADS_SCHEMA = _TRIPLES_SCHEMA + ", g string"

def _parse_trig_doc(doc: str) -> list[tuple]:
    """TriG: full Turtle statements (`;`/`,` lists, `a`, bnode property
    lists, collections, typed/lang literals) at top level and inside
    `[GRAPH] <g> { ... }` / anonymous `{ ... }` blocks. Returns
    (s,p,o_lex,o_dt,g) with g='' for the default graph. Statements reuse
    the recursive-descent `_TurtleParser` (ADVICE r2: the old token-chunker
    silently misparsed predicate-object lists inside blocks)."""
    p = _TrigParser(doc)
    p.parse()
    return p.quads


def _obj_term(v) -> tuple[str, str]:
    """JSON-LD value → (o_lex, o_dt)."""
    if isinstance(v, dict):
        if "@id" in v:
            return str(v["@id"]), "iri"
        if "@value" in v:
            lex = str(v["@value"])
            if "@language" in v:
                return lex, f"lang:{v['@language']}"
            if "@type" in v:
                return typed_lex(lex, v["@type"])
            if isinstance(v["@value"], bool):
                return str(v["@value"]).lower(), "boolean"
            if isinstance(v["@value"], int):
                return lex, "long"
            if isinstance(v["@value"], float):
                return lex, "double"
            return lex, "string"
    if isinstance(v, bool):
        return str(v).lower(), "boolean"
    if isinstance(v, int):
        return str(v), "long"
    if isinstance(v, float):
        return str(v), "double"
    return str(v), "string"


def _parse_jsonld_doc(doc: str) -> list[tuple]:
    """JSON-LD subset: a node object or array of node objects (optionally
    under @graph), with an optional @context of simple term→IRI mappings.
    Covers flat expanded/compacted exports; no nested node recursion beyond
    one level of @graph, no @reverse/@container."""
    data = json.loads(doc)
    ctx = {}
    if isinstance(data, dict):
        raw_ctx = data.get("@context") or {}
        if isinstance(raw_ctx, dict):
            ctx = {k: v for k, v in raw_ctx.items() if isinstance(v, str)}
        nodes = data.get("@graph", [data] if "@id" in data else [])
    else:
        nodes = data

    def expand(term: str) -> str:
        if term in ctx:
            return ctx[term]
        if ":" in term:
            pfx, local = term.split(":", 1)
            if pfx in ctx:
                return ctx[pfx] + local
        return term

    out: list[tuple] = []
    for node in nodes:
        if not isinstance(node, dict) or "@id" not in node:
            continue
        s = str(node["@id"])
        for k, vals in node.items():
            if k.startswith("@") and k != "@type":
                continue
            if k == "@type":
                for t in vals if isinstance(vals, list) else [vals]:
                    out.append((s, RDF_NS + "type", expand(str(t)), "iri"))
                continue
            p = expand(k)
            for v in vals if isinstance(vals, list) else [vals]:
                if isinstance(v, dict) and "@id" in v:
                    out.append((s, p, expand(str(v["@id"])), "iri"))
                else:
                    lex, dt = _obj_term(v)
                    out.append((s, p, lex, dt))
    return out


def _parse_rdfxml_doc(doc: str) -> list[tuple]:
    """RDF/XML: rdf:Description / typed node elements with rdf:about or
    rdf:nodeID (or anonymous → fresh bnode), properties as child elements
    with rdf:resource, rdf:nodeID, rdf:datatype, xml:lang, or text content,
    NESTED node elements as property values (recursive),
    rdf:parseType="Resource" blocks, rdf:parseType="Collection" (child node
    elements become an rdf:first/rdf:rest chain ending in rdf:nil — the same
    structure Turtle `(...)` collections produce), rdf:parseType="Literal"
    (inner XML serialized as an rdf:XMLLiteral-tagged string), and rdf:li
    expansion to rdf:_n inside containers (Bag/Seq/Alt). Not covered:
    reification attributes, property attributes.
    Ref: rio/ RDF/XML handling in the reference's parser registry."""
    import xml.etree.ElementTree as ET

    def split_tag(tag: str) -> str:
        if tag.startswith("{"):
            ns, local = tag[1:].split("}", 1)
            return ns + local
        return tag

    root = ET.fromstring(doc)
    out: list[tuple] = []
    bn = [0]

    def new_bnode() -> str:
        bn[0] += 1
        return f"_:rx{bn[0]}"

    def node_subject(el) -> str:
        about = el.get(f"{{{RDF_NS}}}about")
        if about is not None:
            return about
        nid = el.get(f"{{{RDF_NS}}}nodeID")
        if nid is not None:
            return f"_:{nid}"
        return new_bnode()

    def emit_props(s: str, el) -> None:
        li = 0
        for prop in el:
            p = split_tag(prop.tag)
            if p == RDF_NS + "li":  # container member → rdf:_n
                li += 1
                p = f"{RDF_NS}_{li}"
            res = prop.get(f"{{{RDF_NS}}}resource")
            if res is not None:
                out.append((s, p, res, "iri"))
                continue
            pnid = prop.get(f"{{{RDF_NS}}}nodeID")
            if pnid is not None:
                out.append((s, p, f"_:{pnid}", "bnode"))
                continue
            ptype = prop.get(f"{{{RDF_NS}}}parseType")
            if ptype == "Resource":
                # the property element body is itself an anonymous node
                b = new_bnode()
                out.append((s, p, b, "bnode"))
                emit_props(b, prop)
                continue
            if ptype == "Collection":
                # child node elements → rdf:first/rest chain ending rdf:nil,
                # identical shape to Turtle `(...)` collections
                members = [walk_node(c) for c in prop]
                if not members:
                    out.append((s, p, RDF_NS + "nil", "iri"))
                    continue
                heads = [new_bnode() for _ in members]
                out.append((s, p, heads[0], "bnode"))
                for i, (m, mdt) in enumerate(members):
                    out.append((heads[i], RDF_NS + "first", m, mdt))
                    rest = heads[i + 1] if i + 1 < len(members) else RDF_NS + "nil"
                    out.append(
                        (heads[i], RDF_NS + "rest", rest, "bnode" if i + 1 < len(members) else "iri")
                    )
                continue
            if ptype == "Literal":
                import xml.etree.ElementTree as ET2

                inner = (prop.text or "") + "".join(
                    ET2.tostring(c, encoding="unicode") for c in prop
                )
                out.append((s, p, inner.strip(), "xml"))
                continue
            children = list(prop)
            if children:  # nested node element value
                o, odt = walk_node(children[0])
                out.append((s, p, o, odt))
                continue
            lex = (prop.text or "").strip()
            dt_iri = prop.get(f"{{{RDF_NS}}}datatype")
            lang = prop.get("{http://www.w3.org/XML/1998/namespace}lang")
            if lang:
                out.append((s, p, lex, f"lang:{lang}"))
            elif dt_iri:
                out.append((s, p, *typed_lex(lex, dt_iri)))
            else:
                out.append((s, p, lex, "string"))

    def walk_node(el) -> tuple[str, str]:
        s = node_subject(el)
        tag = split_tag(el.tag)
        if tag != RDF_NS + "Description":  # typed node element
            out.append((s, RDF_NS + "type", tag, "iri"))
        emit_props(s, el)
        return s, ("bnode" if s.startswith("_:") else "iri")

    for desc in root:
        walk_node(desc)
    return out


TRIX_NS = "http://www.w3.org/2004/03/trix/trix-1/"


def _parse_trix_doc(doc: str) -> list[tuple]:
    """TriX (W3C note; ref: rio/ TriX parser in the reference's registry):
    `<TriX><graph><uri>g</uri><triple>term term term</triple>...</graph>`.
    Term elements: <uri>, <id> (bnode), <plainLiteral [xml:lang]>,
    <typedLiteral datatype="...">. Graphs without a name element load as
    the default graph (g=''). Returns (s, p, o_lex, o_dt, g)."""
    import xml.etree.ElementTree as ET

    def local(tag: str) -> str:
        return tag.split("}", 1)[1] if tag.startswith("{") else tag

    def term(el) -> tuple[str, str]:
        kind = local(el.tag)
        text = (el.text or "").strip()
        if kind == "uri":
            return text, "iri"
        if kind == "id":
            return (text if text.startswith("_:") else f"_:{text}"), "bnode"
        if kind == "plainLiteral":
            lang = el.get("{http://www.w3.org/XML/1998/namespace}lang")
            return text, (f"lang:{lang}" if lang else "string")
        if kind == "typedLiteral":
            return typed_lex(text, el.get("datatype", ""))
        raise ValueError(f"unknown TriX term element <{kind}>")

    root = ET.fromstring(doc)
    out: list[tuple] = []
    for graph in root:
        g = ""
        body = list(graph)
        if body and local(body[0].tag) == "uri":  # graph name
            g = (body[0].text or "").strip()
            body = body[1:]
        for triple in body:
            terms = [term(t) for t in triple]
            if len(terms) != 3:
                raise ValueError("TriX <triple> needs exactly 3 terms")
            (s, _), (p, _), (o, odt) = terms
            out.append((s, p, o, odt, g))
    return out


# ------------------------------------------------------------ full Turtle --
_TTL_TOKEN = re.compile(
    r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<TRIPLEQ>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\")
  | (?P<STRING>"(?:[^"\\\n]|\\.)*")
  | (?P<SOP><<|>>)
  | (?P<IRI><[^>\s]*>)
  | (?P<BNODE>_:[A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?)
  | (?P<NUM>[+-]?(?:\d+\.\d+(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+|\d+))
  | (?P<PNAME>[A-Za-z][A-Za-z0-9_-]*:[A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?|[A-Za-z][A-Za-z0-9_-]*:|:[A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?|:)
  | (?P<KW>@?[A-Za-z][A-Za-z0-9_-]*)
  | (?P<OP>\^\^|[;,.\[\](){}])
    """,
    re.VERBOSE,
)


class _TurtleParser:
    """Recursive-descent Turtle parser (document-scoped): @prefix/@base and
    PREFIX/BASE directives, `;`/`,` predicate-object lists, `a`, anonymous
    bnodes `[]` and bnode property lists `[ p o ; ... ]`, collections
    `( e1 e2 )` as rdf:first/rest/nil chains, numeric/boolean literals,
    long (triple-quoted) strings, @lang and ^^datatype (IRI or pname).
    Ref: the full Turtle grammar the reference accepts through openrdf RIO
    (bigdata-core/bigdata-rdf/.../rio/; Turtle spec sec. 6)."""

    def __init__(self, doc: str):
        self.toks: list[tuple[str, str]] = []
        for m in _TTL_TOKEN.finditer(doc):
            if m.lastgroup != "WS":
                # SOP (<< / >>) is ordered before IRI in the token grammar so
                # compact RDR like <<<s> <p> <o>>> never mis-lexes as an IRI;
                # downstream it is an ordinary OP token
                kind = "OP" if m.lastgroup == "SOP" else m.lastgroup
                self.toks.append((kind, m.group()))
        self.i = 0
        # same auto-declared well-known prefixes as the SPARQL parser
        # (PrefixDeclProcessor parity); explicit @prefix overrides
        from blazegraph_database_spark.plans.sparql_parser import DEFAULT_PREFIXES

        self.prefixes: dict[str, str] = dict(DEFAULT_PREFIXES)
        self.base = ""
        self.out: list[tuple] = []
        self.bn = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("EOF", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def _new_bnode(self) -> str:
        self.bn += 1
        return f"_:ttl{self.bn}"

    def parse(self) -> None:
        while self.peek()[0] != "EOF":
            if self._try_directive():
                continue
            self._statement()

    def _try_directive(self) -> bool:
        kind, text = self.peek()
        low = text.lower()
        if kind == "KW" and low in ("@prefix", "prefix"):
            self.next()
            pname = self.next()[1]  # 'pfx:' (PNAME) — may be just ':'
            if not pname.endswith(":") and self.peek() == ("PNAME", ":"):
                # lenient: `@prefix name : <iri>` with a space before the
                # colon lexes as two tokens; openrdf's parser accepted it
                # and the reference's own fixtures use it
                self.next()
                pname += ":"
            iri = self.next()[1][1:-1]
            self.prefixes[pname[:-1] if pname.endswith(":") else pname] = iri
            if self.peek() == ("OP", "."):
                self.next()
            return True
        if kind == "KW" and low in ("@base", "base"):
            self.next()
            self.base = self.next()[1][1:-1]
            if self.peek() == ("OP", "."):
                self.next()
            return True
        return False

    def _statement(self) -> None:
        subj = self.term(as_subject=True)
        self.predicate_object_list(subj[0])
        if self.peek() == ("OP", "."):
            self.next()

    def predicate_object_list(self, s: str) -> None:
        while True:
            kind, text = self.peek()
            if kind == "KW" and text == "a":
                self.next()
                p = RDF_NS + "type"
            else:
                p = self.term()[0]
            while True:
                o_lex, o_dt = self.term()
                self.out.append((s, p, o_lex, o_dt))
                if self.peek() == ("OP", ","):
                    self.next()
                    continue
                break
            if self.peek() == ("OP", ";"):
                self.next()
                if self.peek()[0] == "OP" and self.peek()[1] in (".", "]"):
                    break
                if self.peek()[0] == "EOF":
                    break
                continue
            break

    def term(self, as_subject: bool = False) -> tuple[str, str]:
        kind, text = self.next()
        if kind == "IRI":
            iri = text[1:-1]
            if self.base and "://" not in iri and not iri.startswith(("urn:", "mailto:")):
                iri = self.base + iri
            return iri, "iri"
        if kind == "PNAME":
            pfx, local = text.split(":", 1)
            return self.prefixes.get(pfx, pfx + ":") + local, "iri"
        if kind == "BNODE":
            return text, "bnode"
        if kind in ("STRING", "TRIPLEQ"):
            lex = text[3:-3] if kind == "TRIPLEQ" else text[1:-1]
            lex = unescape_literal(lex)  # order-safe single pass (incl. \r, \uXXXX)
            nk, nt = self.peek()
            if nk == "KW" and nt.startswith("@"):
                self.next()
                return lex, f"lang:{nt[1:]}"
            if (nk, nt) == ("OP", "^^"):
                self.next()
                dt_iri = self.term()[0]
                return typed_lex(lex, dt_iri)
            return lex, "string"
        if kind == "NUM":
            # Turtle grammar: an exponent makes a DOUBLE, a bare decimal
            # point makes a DECIMAL, otherwise INTEGER (same split as the
            # reference's rio parser → XSDDecimalIV vs XSDNumericIV)
            if "e" in text.lower():
                return text, "double"
            if "." in text:
                return text, "decimal"
            return text, "long"
        if kind == "KW" and text in ("true", "false"):
            return text, "boolean"
        if (kind, text) == ("OP", "<<"):
            # RDR / Turtle-star embedded statement <<s p o>> (ref:
            # BigdataTurtleParser's RDR mode — rio/turtle/
            # BigdataTurtleParser.java): per RDR semantics the inner
            # statement is ALSO asserted, and the term itself is the
            # deterministic sid the compiler's SPARQL-star patterns join on
            # (same encoding as sources/ntriples.read_ntriples_star).
            es, _ = self.term(as_subject=True)
            pk, pt = self.peek()
            if pk == "KW" and pt == "a":
                self.next()
                ep = RDF_NS + "type"
            else:
                ep = self.term()[0]
            eo, eodt = self.term()
            if self.peek() != ("OP", ">>"):
                raise SyntaxError("turtle: expected '>>' closing an embedded statement")
            self.next()
            self.out.append((es, ep, eo, eodt))
            return sid_lex(es, ep, eo, eodt), DT_SID
        if (kind, text) == ("OP", "["):
            bn = self._new_bnode()
            if self.peek() != ("OP", "]"):  # [ p o ; ... ]
                self.predicate_object_list(bn)
            if self.peek() == ("OP", "]"):
                self.next()
            return bn, "bnode"
        if (kind, text) == ("OP", "("):  # collection → rdf:first/rest chain
            items = []
            while self.peek() != ("OP", ")") and self.peek()[0] != "EOF":
                items.append(self.term())
            self.next()  # ')'
            if not items:
                return RDF_NS + "nil", "iri"
            head = self._new_bnode()
            cur = head
            for j, (lex, dt) in enumerate(items):
                self.out.append((cur, RDF_NS + "first", lex, dt))
                if j == len(items) - 1:
                    self.out.append((cur, RDF_NS + "rest", RDF_NS + "nil", "iri"))
                else:
                    nxt = self._new_bnode()
                    self.out.append((cur, RDF_NS + "rest", nxt, "bnode"))
                    cur = nxt
            return head, "bnode"
        raise SyntaxError(f"turtle: unexpected token {text!r}")


def _parse_turtle_doc(doc: str) -> list[tuple]:
    p = _TurtleParser(doc)
    p.parse()
    return p.out


class _TrigParser(_TurtleParser):
    """TriG = Turtle + graph blocks. Triples emitted by the inherited
    statement parser are tagged with the enclosing block's graph label
    ('' outside any block / in an anonymous `{ ... }` block)."""

    def __init__(self, doc: str):
        super().__init__(doc)
        self.quads: list[tuple] = []

    def _flush(self, g: str, mark: int) -> None:
        self.quads.extend((s, p, o, dt, g) for s, p, o, dt in self.out[mark:])
        del self.out[mark:]

    def _at_block_label(self) -> bool:
        return (
            self.peek()[0] in ("IRI", "PNAME", "BNODE")
            and self.i + 1 < len(self.toks)
            and self.toks[self.i + 1] == ("OP", "{")
        )

    def _block(self, g: str) -> None:
        if self.peek() != ("OP", "{"):
            raise SyntaxError("trig: expected '{' to open a graph block")
        self.next()
        mark = len(self.out)
        while self.peek() != ("OP", "}"):
            if self.peek()[0] == "EOF":
                raise SyntaxError("trig: unterminated graph block")
            self._statement()
        self.next()  # '}'
        if self.peek() == ("OP", "."):  # optional block terminator
            self.next()
        self._flush(g, mark)

    def parse(self) -> None:
        while self.peek()[0] != "EOF":
            if self._try_directive():
                continue
            kind, text = self.peek()
            if kind == "KW" and text.lower() == "graph":
                self.next()
                self._block(self.term()[0])
                continue
            if self._at_block_label():
                self._block(self.term()[0])
                continue
            if (kind, text) == ("OP", "{"):
                self._block("")
                continue
            mark = len(self.out)
            self._statement()
            self._flush("", mark)


def read_turtle(spark: SparkSession, path: str) -> DataFrame:
    """Full-grammar Turtle → (s, p, o_lex, o_dt). Document-scoped (prefix
    state), so parallelism is per file — shard exports for cluster loads;
    N-Triples stays the splittable bulk path."""
    return _map_docs(_whole_docs(spark, path), _parse_turtle_doc, _TRIPLES_SCHEMA)


def _whole_docs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path, wholetext=True)


def _map_docs(docs: DataFrame, parse_fn, schema: str) -> DataFrame:
    cols = [c.split(" ")[0] for c in schema.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for doc in pdf["value"]:
                rows.extend(parse_fn(doc))
            yield pd.DataFrame(rows, columns=cols)

    # an RDF graph is a SET of statements: a triple spelled twice in the
    # document (e.g. asserted explicitly AND via an RDR `<<...>>` term —
    # reif/rdr-04.ttlx) loads once, matching the reference's B+Tree insert
    # semantics. One distinct at load, exactly what a bulk loader does
    # before writing the store.
    return docs.mapInPandas(run, schema).distinct()


def read_trig(spark: SparkSession, path: str) -> DataFrame:
    """TriG → (s, p, o_lex, o_dt, g); g='' for default-graph statements.
    One task per file — shard the export for cluster parallelism."""
    return _map_docs(_whole_docs(spark, path), _parse_trig_doc, _QUADS_SCHEMA)


def read_jsonld(spark: SparkSession, path: str) -> DataFrame:
    """JSON-LD (flat subset) → (s, p, o_lex, o_dt). One task per file."""
    return _map_docs(_whole_docs(spark, path), _parse_jsonld_doc, _TRIPLES_SCHEMA)


def read_rdfxml(spark: SparkSession, path: str) -> DataFrame:
    """RDF/XML (subset) → (s, p, o_lex, o_dt). One task per file."""
    return _map_docs(_whole_docs(spark, path), _parse_rdfxml_doc, _TRIPLES_SCHEMA)


def read_trix(spark: SparkSession, path: str) -> DataFrame:
    """TriX → (s, p, o_lex, o_dt, g); g='' for unnamed graphs. One task per
    file — shard the export for cluster parallelism."""
    return _map_docs(_whole_docs(spark, path), _parse_trix_doc, _QUADS_SCHEMA)
