"""Property-graph facade over the triple store (SURVEY.md §2.12 extension).

Reference analog: the Blueprints API adapter
(bigdata-blueprints/src/main/java/com/bigdata/blueprints/BigdataGraph.java:95)
— a thin vertex/edge/property view over RDF statements. Same mapping here:

* vertex `v`            → ``(v, rdf:type, pg:Vertex)``
* vertex property       → ``(v, pg:prop:<name>, value)`` typed literal
* edge out —label→ in   → ``(out, pg:edge:<label>, in)``
* edge property         → ``(<<out|pg:edge:l|in|iri>>, pg:prop:<name>, value)``
  — the RDF-star statement id the compiler's RDR machinery already joins on
  (BigdataGraph likewise stores edge properties on the statement via sids).

Everything is DataFrame-backed: reads are plain filters/joins over the
store's columns (predicate pushdown reaches the scan), writes go through
``UpdatableStore.insert_data`` so versioning/snapshot isolation apply
unchanged. Traversals (out/in/both) are one equi-join each — at scale they
inherit the store's predicate partitioning, and multi-hop traversals can
hand off to operators/gas for the iterative cases.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# characters the SPARQL IRIREF production forbids (plus all control chars)
_IRI_BAD_RX = re.compile(r'[\x00-\x20<>"{}|^`\\]')

from blazegraph_database_spark.model.store import TRIPLE_COLS, TripleStore
from blazegraph_database_spark.model.terms import sid_lex
from blazegraph_database_spark.update.update import UpdatableStore

VERTEX_TYPE = "pg:Vertex"
PROP_NS = "pg:prop:"
EDGE_NS = "pg:edge:"
RDF_TYPE = "rdf:type"

_DT_OF = {int: "long", float: "double", bool: "boolean"}


def _lit(v) -> tuple[str, str]:
    if isinstance(v, bool):  # before int: bool is an int subclass
        return ("true" if v else "false"), "boolean"
    return str(v), _DT_OF.get(type(v), "string")


def _edge_sid(out_v: str, label: str, in_v: str) -> str:
    """Statement id of the edge triple."""
    return sid_lex(out_v, EDGE_NS + label, in_v, "iri")


class GraphListener:
    """Graph change-event listener (ref: bigdata-blueprints/src/main/java/
    com/bigdata/blueprints/BigdataGraphListener.java:35 — graphEdited +
    transaction lifecycle callbacks on BigdataGraphEmbedded). DataFrame-
    valued here: ``graph_edited`` receives the EDIT SET of one commit as a
    Δ-sized DataFrame ``(action, element, id, label, name, value)`` with
    action in {'added','removed'} and element in {'vertex','edge',
    'property'} — derived from the store's MVCC changelog, never a per-row
    driver callback (the reference's notify() loop materializes each
    record on the driver; a 100-TB commit delta stays distributed here)."""

    def graph_edited(self, edits: DataFrame) -> None:  # pragma: no cover
        pass

    def transaction_begin(self) -> None:
        pass

    def transaction_committed(self, commit: int) -> None:
        pass

    def transaction_aborted(self) -> None:
        pass


class MutationListener(GraphListener):
    """Counting listener (ref: bigdata-blueprints/.../MutationListener.java:7
    — IChangeLog counters nInserted/nRemoved): tallies edit records per
    action with ONE aggregation job per commit delta, no row collect."""

    def __init__(self) -> None:
        self.clear()

    def clear(self) -> None:
        self.n_inserted = 0
        self.n_removed = 0
        self.n_commits = 0

    def graph_edited(self, edits: DataFrame) -> None:
        counts = {
            r["action"]: r["n"]
            for r in edits.groupBy("action").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        self.n_inserted += counts.get("added", 0)
        self.n_removed += counts.get("removed", 0)

    def transaction_committed(self, commit: int) -> None:
        self.n_commits += 1


class PropertyGraph:
    """Blueprints-style facade: addVertex/addEdge/properties/traversals."""

    def __init__(self, store: UpdatableStore | TripleStore):
        self.store = (
            store if isinstance(store, UpdatableStore) else UpdatableStore.from_store(store)
        )
        self._listeners: list[GraphListener] = []

    # ---------------------------------------------------------- listeners --
    def add_listener(self, listener: GraphListener) -> None:
        """Register a change-event listener (ref: BigdataGraphEmbedded
        addListener; events fire on every facade mutation commit)."""
        self._listeners.append(listener)

    def remove_listener(self, listener: GraphListener) -> None:
        self._listeners.remove(listener)

    def _graph_edits(self, since: int) -> DataFrame:
        """Triple-level changelog rows of commits after ``since`` →
        property-graph edit records (ref: BigdataGraphEmbedded.toGraphAtom
        — statement → vertex/edge/property atom)."""
        log = self.store.changelog(since=since)
        p = F.col("p")
        element = (
            F.when((p == RDF_TYPE) & (F.col("o_lex") == VERTEX_TYPE), "vertex")
            .when(p.startswith(EDGE_NS), "edge")
            .when(p.startswith(PROP_NS), "property")
        )
        return log.filter(element.isNotNull()).select(
            "action",
            element.alias("element"),
            F.col("s").alias("id"),
            F.when(p.startswith(EDGE_NS), F.expr(f"substring(p, {len(EDGE_NS) + 1})"))
            .alias("label"),
            F.when(p.startswith(PROP_NS), F.expr(f"substring(p, {len(PROP_NS) + 1})"))
            .alias("name"),
            F.when(~((p == RDF_TYPE) & (F.col("o_lex") == VERTEX_TYPE)), F.col("o_lex"))
            .alias("value"),
        )

    def _notify(self, since: int) -> None:
        if not self._listeners:
            return
        edits = self._graph_edits(since)
        commit = len(self.store.versions) - 1
        for lst in self._listeners:
            lst.graph_edited(edits)
            lst.transaction_committed(commit)

    @property
    def df(self) -> DataFrame:
        return self.store.current.df

    @property
    def spark(self):
        return self.store.current.spark

    def _insert(self, rows: list[tuple]) -> None:
        before = len(self.store.versions) - 1
        self.store.insert_data(rows)
        self._notify(before)

    def insert_triples(self, triples: DataFrame) -> None:
        """Bulk statement insert through the facade (listener-notified) —
        the BigdataGraphBulkLoad commit path lands here."""
        before = len(self.store.versions) - 1
        self.store.insert_data(triples.select(*TRIPLE_COLS))
        self._notify(before)

    # ------------------------------------------------------------- writes --
    def add_vertex(self, vid: str, **props) -> str:
        rows = [(vid, RDF_TYPE, VERTEX_TYPE, "iri")]
        rows += [(vid, PROP_NS + k, *_lit(v)) for k, v in props.items()]
        self._insert(rows)
        return vid

    def add_edge(self, out_v: str, label: str, in_v: str, **props) -> str:
        rows = [(out_v, EDGE_NS + label, in_v, "iri")]
        sid = _edge_sid(out_v, label, in_v)
        rows += [(sid, PROP_NS + k, *_lit(v)) for k, v in props.items()]
        self._insert(rows)
        return sid

    def remove_edge(self, out_v: str, label: str, in_v: str) -> None:
        sid = _edge_sid(out_v, label, in_v)
        doomed = self.df.filter(
            ((F.col("s") == out_v) & (F.col("p") == EDGE_NS + label) & (F.col("o_lex") == in_v))
            | (F.col("s") == sid)  # edge properties ride along
        )
        before = len(self.store.versions) - 1
        self.store.delete_data(doomed.select(*TRIPLE_COLS))
        self._notify(before)

    # -------------------------------------------------------------- reads --
    def vertices(self) -> DataFrame:
        """(id) of every vertex."""
        return self.df.filter(
            (F.col("p") == RDF_TYPE) & (F.col("o_lex") == VERTEX_TYPE)
        ).select(F.col("s").alias("id"))

    def vertex_properties(self, vid: str | None = None) -> DataFrame:
        """(id, name, value, dt) vertex property rows."""
        out = self.df.filter(
            F.col("p").startswith(PROP_NS) & ~F.col("s").startswith("<<")
        ).select(
            F.col("s").alias("id"),
            F.expr(f"substring(p, {len(PROP_NS) + 1})").alias("name"),
            F.col("o_lex").alias("value"),
            F.col("o_dt").alias("dt"),
        )
        return out.filter(F.col("id") == vid) if vid is not None else out

    def vertex(self, vid: str) -> dict:
        """Property dict of one vertex (driver-side convenience accessor)."""
        return {r["name"]: r["value"] for r in self.vertex_properties(vid).collect()}

    def edges(self, label: str | None = None) -> DataFrame:
        """(out, label, in) edge rows."""
        pred = F.col("p") == EDGE_NS + label if label else F.col("p").startswith(EDGE_NS)
        return self.df.filter(pred).select(
            F.col("s").alias("out"),
            F.expr(f"substring(p, {len(EDGE_NS) + 1})").alias("label"),
            F.col("o_lex").alias("in"),
        )

    def edge_properties(self, out_v: str, label: str, in_v: str) -> dict:
        sid = _edge_sid(out_v, label, in_v)
        rows = self.df.filter((F.col("s") == sid) & F.col("p").startswith(PROP_NS)).select(
            F.expr(f"substring(p, {len(PROP_NS) + 1})").alias("name"), "o_lex"
        )
        return {r["name"]: r["o_lex"] for r in rows.collect()}

    def out_neighbors(self, vid: str, label: str | None = None) -> DataFrame:
        return self.edges(label).filter(F.col("out") == vid).select(F.col("in").alias("id"))

    def in_neighbors(self, vid: str, label: str | None = None) -> DataFrame:
        return self.edges(label).filter(F.col("in") == vid).select(F.col("out").alias("id"))

    def both_neighbors(self, vid: str, label: str | None = None) -> DataFrame:
        return self.out_neighbors(vid, label).unionByName(self.in_neighbors(vid, label)).distinct()

    def degrees(self, direction: str = "out") -> DataFrame:
        """(id, degree) for every vertex with at least one edge."""
        e = self.edges()
        key = {"out": ["out"], "in": ["in"]}.get(direction)
        if key is None:  # both
            e = e.select(F.col("out").alias("v")).unionByName(e.select(F.col("in").alias("v")))
            key = ["v"]
        else:
            e = e.select(F.col(key[0]).alias("v"))
        return e.groupBy(F.col("v").alias("id")).agg(F.count(F.lit(1)).alias("degree"))

    # -------------------------------------------------------- integrations --
    def as_gas_edges(self, label: str | None = None) -> DataFrame:
        """(src, dst) edge list for operators/gas (BFS/SSSP/CC/PageRank)."""
        return self.edges(label).select(F.col("out").alias("src"), F.col("in").alias("dst"))


class PropertyGraphBulkLoad:
    """Bulk-load facade (ref: bigdata-blueprints/.../BigdataGraphBulkLoad.
    java:55 — addVertex/addEdge/setProperty buffer into an unisolated
    connection with incremental inference off; nothing is visible until
    commit()). Spark-first twin: per-call additions buffer as LOCAL row
    lists, DataFrame-native loads buffer as unevaluated plans, and
    ``commit()`` lands EVERYTHING as ONE insert_data (one union, one
    version, one listener notification) — the DataLoader-style path, not
    one commit per element.

    ``load_vertices`` / ``load_edges`` map RELATIONAL DataFrames onto the
    property-graph triple encoding wholesale (column expressions only), so
    a 100-TB vertex table never routes through driver-side buffers."""

    def __init__(self, graph: PropertyGraph):
        self.graph = graph
        self._rows: list[tuple] = []
        self._dfs: list[DataFrame] = []

    # ------------------------------------------------- element buffering --
    def add_vertex(self, vid: str, **props) -> str:
        self._rows.append((vid, RDF_TYPE, VERTEX_TYPE, "iri"))
        self._rows += [(vid, PROP_NS + k, *_lit(v)) for k, v in props.items()]
        return vid

    def add_edge(self, out_v: str, label: str, in_v: str, **props) -> str:
        self._rows.append((out_v, EDGE_NS + label, in_v, "iri"))
        sid = _edge_sid(out_v, label, in_v)
        self._rows += [(sid, PROP_NS + k, *_lit(v)) for k, v in props.items()]
        return sid

    def set_property(self, element_id: str, name: str, value) -> None:
        """Vertex or edge-sid property (ref: BigdataGraphBulkLoad.
        setProperty:219 — note the reference's bulk path APPENDS without
        cleaning old values; so does this, matching its semantics)."""
        self._rows.append((element_id, PROP_NS + name, *_lit(value)))

    # --------------------------------------------- DataFrame-native loads --
    def load_vertices(
        self, df: DataFrame, id_col: str, prop_cols: list[str] | None = None
    ) -> None:
        """Map a relational DataFrame to vertices + properties (expressions
        only; the DataLoader analog for the property-graph encoding)."""
        vid = F.col(id_col).cast("string")
        parts = [
            df.select(
                vid.alias("s"), F.lit(RDF_TYPE).alias("p"),
                F.lit(VERTEX_TYPE).alias("o_lex"), F.lit("iri").alias("o_dt"),
            )
        ]
        for c in prop_cols or []:
            dt = dict(df.dtypes)[c]
            tag = (
                "long" if dt in ("bigint", "int", "smallint", "tinyint")
                else "double" if dt in ("double", "float")
                else "boolean" if dt == "boolean" else "string"
            )
            parts.append(
                df.filter(F.col(c).isNotNull()).select(
                    vid.alias("s"), F.lit(PROP_NS + c).alias("p"),
                    F.col(c).cast("string").alias("o_lex"), F.lit(tag).alias("o_dt"),
                )
            )
        from functools import reduce

        self._dfs.append(reduce(lambda a, b: a.unionByName(b), parts))

    def load_edges(self, df: DataFrame, src_col: str, dst_col: str, label: str) -> None:
        self._dfs.append(
            df.select(
                F.col(src_col).cast("string").alias("s"),
                F.lit(EDGE_NS + label).alias("p"),
                F.col(dst_col).cast("string").alias("o_lex"),
                F.lit("iri").alias("o_dt"),
            )
        )

    # --------------------------------------------------------------- txn --
    def commit(self) -> None:
        """Land every buffered element/load as ONE store commit (ref:
        BigdataGraphBulkLoad.commit:78)."""
        parts = list(self._dfs)
        if self._rows:
            parts.append(
                self.graph.spark.createDataFrame(
                    self._rows, ", ".join(f"{c} string" for c in TRIPLE_COLS)
                )
            )
        if not parts:
            return
        from functools import reduce

        self.graph.insert_triples(reduce(lambda a, b: a.unionByName(b), parts))
        self._rows, self._dfs = [], []

    def rollback(self) -> None:
        """Discard the buffer (nothing reached the store before commit)."""
        for lst in self.graph._listeners:
            lst.transaction_aborted()
        self._rows, self._dfs = [], []


class PropertyGraphClient:
    """Remote property graph over a SPARQL REST endpoint (ref:
    bigdata-blueprints/.../BigdataGraphClient.java:57 — a BigdataGraph
    whose reads/writes go through BigdataSailRemoteRepository against a
    NanoSparqlServer URL). Same facade surface as the embedded
    PropertyGraph, but every read is a SPARQL SELECT over HTTP (results
    parsed from SPARQL 1.1 JSON) and every write a SPARQL UPDATE — no
    local SparkSession required on the client side; the server (this
    repo's server/rest.py or any SPARQL 1.1 endpoint using the same
    pg: encoding) does the distributed work. Reads return bounded
    driver-side lists, exactly the reference client's materialization
    contract (the endpoint caps oversized results)."""

    def __init__(self, endpoint_url: str):
        # endpoint_url: e.g. http://127.0.0.1:9999 (".../sparql" appended)
        self.url = endpoint_url.rstrip("/")
        if not self.url.endswith("/sparql"):
            self.url += "/sparql"

    # ---------------------------------------------------------- transport --
    # GET keeps small queries cacheable/log-friendly; past this size the
    # query moves to a form-encoded POST body (the reference client POSTs —
    # RemoteRepository — and generated queries can exceed common URL caps).
    _GET_MAX_QUERY = 1024

    def _select(self, query: str) -> list[dict]:
        import json
        import urllib.parse
        import urllib.request

        headers = {"Accept": "application/sparql-results+json"}
        if len(query) <= self._GET_MAX_QUERY:
            req = urllib.request.Request(
                f"{self.url}?query={urllib.parse.quote(query)}", headers=headers,
            )
        else:
            headers["Content-Type"] = "application/x-www-form-urlencoded"
            req = urllib.request.Request(
                self.url, data=urllib.parse.urlencode({"query": query}).encode(),
                headers=headers,
            )
        with urllib.request.urlopen(req) as resp:
            data = json.loads(resp.read())
        out = []
        for b in data["results"]["bindings"]:
            out.append({k: v.get("value") for k, v in b.items()})
        return out

    def _update(self, text: str) -> None:
        import urllib.parse
        import urllib.request

        body = urllib.parse.urlencode({"update": text}).encode()
        req = urllib.request.Request(
            self.url, data=body,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        urllib.request.urlopen(req).read()

    @staticmethod
    def _term(v) -> str:
        """Render a Python value as a SPARQL literal matching the embedded
        facade's _lit datatype tags (int→xsd:integer, bool→boolean,
        float→explicit ^^xsd:double so it doesn't parse as xsd:decimal)."""
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            return f'"{v}"^^<http://www.w3.org/2001/XMLSchema#double>'
        s = (
            str(v)
            .replace("\\", "\\\\").replace('"', '\\"')
            # raw control chars are illegal inside a '"' literal per the
            # SPARQL grammar — escape them for conforming endpoints
            .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
        )
        return f'"{s}"'

    @staticmethod
    def _iri(value: str) -> str:
        """Validate + render an IRIREF operand. Vertex ids, edge labels and
        property names interpolate into IRI positions of generated SPARQL
        text; characters the IRIREF production forbids (space, <, >, ", {,
        }, |, ^, `, \\, and controls) would yield malformed — or injectable
        — query text, so reject them outright (r9 advisor; literal VALUES
        are escaped separately via _term)."""
        s = str(value)
        if _IRI_BAD_RX.search(s):
            raise ValueError(f"illegal IRI operand for remote graph: {s!r}")
        return f"<{s}>"

    # ------------------------------------------------------------- writes --
    def add_vertex(self, vid: str, **props) -> str:
        vid_i = self._iri(vid)
        lines = [f"{vid_i} <{RDF_TYPE}> <{VERTEX_TYPE}> ."]
        lines += [
            f"{vid_i} {self._iri(PROP_NS + k)} {self._term(v)} ."
            for k, v in props.items()
        ]
        self._update("INSERT DATA { " + " ".join(lines) + " }")
        return vid

    def add_edge(self, out_v: str, label: str, in_v: str, **props) -> str:
        edge = f"{self._iri(out_v)} {self._iri(EDGE_NS + label)} {self._iri(in_v)}"
        lines = [edge + " ."]
        lines += [
            f"<< {edge} >> {self._iri(PROP_NS + k)} {self._term(v)} ."
            for k, v in props.items()
        ]
        self._update("INSERT DATA { " + " ".join(lines) + " }")
        return _edge_sid(out_v, label, in_v)

    def remove_edge(self, out_v: str, label: str, in_v: str) -> None:
        edge = f"{self._iri(out_v)} {self._iri(EDGE_NS + label)} {self._iri(in_v)}"
        # two requests: a joint pattern would require the edge to HAVE
        # properties before the statement itself could match
        self._update("DELETE WHERE { << " + edge + " >> ?p ?o }")
        self._update("DELETE DATA { " + edge + " . }")

    # -------------------------------------------------------------- reads --
    def vertices(self) -> list[str]:
        rows = self._select(
            f"SELECT ?id WHERE {{ ?id <{RDF_TYPE}> <{VERTEX_TYPE}> }}"
        )
        return sorted(r["id"] for r in rows)

    def vertex(self, vid: str) -> dict:
        rows = self._select(
            f'SELECT ?p ?o WHERE {{ {self._iri(vid)} ?p ?o . '
            f'FILTER(STRSTARTS(STR(?p), "{PROP_NS}")) }}'
        )
        return {r["p"][len(PROP_NS):]: r["o"] for r in rows}

    def edges(self, label: str | None = None) -> list[tuple]:
        if label is not None:
            rows = self._select(
                f"SELECT ?out ?in WHERE {{ ?out {self._iri(EDGE_NS + label)} ?in }}"
            )
            return sorted((r["out"], label, r["in"]) for r in rows)
        rows = self._select(
            f'SELECT ?out ?p ?in WHERE {{ ?out ?p ?in . '
            f'FILTER(STRSTARTS(STR(?p), "{EDGE_NS}")) }}'
        )
        return sorted((r["out"], r["p"][len(EDGE_NS):], r["in"]) for r in rows)

    def edge_properties(self, out_v: str, label: str, in_v: str) -> dict:
        rows = self._select(
            f"SELECT ?p ?o WHERE {{ << {self._iri(out_v)} "
            f"{self._iri(EDGE_NS + label)} {self._iri(in_v)} >> ?p ?o "
            f'FILTER(STRSTARTS(STR(?p), "{PROP_NS}")) }}'
        )
        return {r["p"][len(PROP_NS):]: r["o"] for r in rows}

    def out_neighbors(self, vid: str, label: str | None = None) -> list[str]:
        if label is not None:
            rows = self._select(
                f"SELECT ?id WHERE {{ {self._iri(vid)} {self._iri(EDGE_NS + label)} ?id }}"
            )
        else:
            rows = self._select(
                f'SELECT ?id WHERE {{ {self._iri(vid)} ?p ?id . '
                f'FILTER(STRSTARTS(STR(?p), "{EDGE_NS}")) }}'
            )
        return sorted(r["id"] for r in rows)

    def in_neighbors(self, vid: str, label: str | None = None) -> list[str]:
        if label is not None:
            rows = self._select(
                f"SELECT ?id WHERE {{ ?id {self._iri(EDGE_NS + label)} {self._iri(vid)} }}"
            )
        else:
            rows = self._select(
                f'SELECT ?id WHERE {{ ?id ?p {self._iri(vid)} . '
                f'FILTER(STRSTARTS(STR(?p), "{EDGE_NS}")) }}'
            )
        return sorted(r["id"] for r in rows)
