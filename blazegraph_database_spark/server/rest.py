"""SPARQL 1.1 Protocol REST endpoint (SURVEY.md §2.12).

Reference analog: NanoSparqlServer / RESTServlet and its verb servlets
(bigdata-core/bigdata-sails/src/java/com/bigdata/rdf/sail/webapp/
NanoSparqlServer.java, RESTServlet.java, QueryServlet.java,
InsertServlet.java, DeleteServlet.java) plus the multi-tenancy
namespace API.

Spark-first split: `SparqlEndpoint` is pure protocol logic — (method,
path, params, body) → (status, content-type, bytes) — dispatching onto the
engine's existing parse/evaluate/update entry points; the stdlib
`ThreadingHTTPServer` wrapper underneath it is transport only. Queries
stay lazy until serialization; result bodies are SPARQL JSON results
(SELECT/ASK) or N-Triples (CONSTRUCT/DESCRIBE), matching the reference's
default conneg. The Spark driver is the single writer, so update verbs
serialize through one UpdatableStore per namespace (the reference's
unisolated-connection discipline).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession

from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.operators import driver_tier
from blazegraph_database_spark.plans import compiler
from blazegraph_database_spark.plans.sparql_parser import parse_sparql_query
from blazegraph_database_spark.plans.update_parser import apply_update
from blazegraph_database_spark.sources import ntriples, rdf_formats, rdf_writers
from blazegraph_database_spark.update.update import UpdatableStore

JSON = "application/json"
SRJ = "application/sparql-results+json"
SRX = "application/sparql-results+xml"
CSV = "text/csv"
TSV = "text/tab-separated-values"
NT = "application/n-triples"
TTL = "text/turtle"

# request content-type → parser for RDF bodies (InsertServlet conneg)
_RDF_READERS = {
    "text/plain": ntriples.read_ntriples,
    "application/n-triples": ntriples.read_ntriples,
    "application/n-quads": ntriples.read_nquads,
    "text/turtle": rdf_formats.read_turtle,
    "application/trig": rdf_formats.read_trig,
    "application/trix": rdf_formats.read_trix,
    "application/ld+json": rdf_formats.read_jsonld,
    "application/rdf+xml": rdf_formats.read_rdfxml,
}


class ResultTooLarge(Exception):
    """A query result exceeded the endpoint's row cap (documented 413 —
    the bounded-driver-memory guard: a result comes to the driver in one
    collect of at most cap + 1 rows, and the cap bounds the encoded
    payload)."""

    def __init__(self, cap: int):
        super().__init__(
            f"result exceeds the endpoint row cap ({cap}); add LIMIT/OFFSET "
            "paging or raise max_result_rows"
        )


def _iter_rows(df: DataFrame, cap: int | None) -> list:
    """The result rows, brought to the driver in one collect bounded at
    ``cap + 1`` rows (a SELECT without LIMIT over a 100 TB store must not
    OOM the REST driver), raising :class:`ResultTooLarge` past the cap.
    ``cap=None`` collects the whole result."""
    rows = driver_tier.collect_rows(df, cap)
    if rows is None:
        raise ResultTooLarge(cap)
    return rows


def _select_json(df: DataFrame, cap: int | None = None) -> bytes:
    """Bindings DataFrame → SPARQL JSON results. `<var>__dt` companion
    columns (when the plan tracked them) type each term; default literal."""
    out_vars = [c for c in df.columns if not c.endswith("__dt")]
    bindings = []
    for row in _iter_rows(df, cap):
        d = row.asDict()
        b = {}
        for v in out_vars:
            if d[v] is None:
                continue
            dt = d.get(f"{v}__dt", "string")
            if dt in ("iri", "bnode") and str(d[v]).startswith("_:"):
                b[v] = {"type": "bnode", "value": str(d[v])[2:]}
            elif dt == "iri":
                b[v] = {"type": "uri", "value": str(d[v])}
            elif isinstance(dt, str) and dt.startswith("lang:"):
                b[v] = {"type": "literal", "value": str(d[v]), "xml:lang": dt[5:]}
            elif isinstance(dt, str) and dt.startswith("dt:"):
                b[v] = {"type": "literal", "value": str(d[v]), "datatype": dt[3:]}
            else:
                b[v] = {"type": "literal", "value": str(d[v])}
        bindings.append(b)
    doc = {"head": {"vars": out_vars}, "results": {"bindings": bindings}}
    return json.dumps(doc).encode()


def _select_csv(df: DataFrame, cap: int | None = None) -> bytes:
    """SPARQL 1.1 Query Results CSV: plain header, bare lexical forms,
    RFC-4180 quoting (ref: the openrdf CSV writer the reference serves)."""
    out_vars = [c for c in df.columns if not c.endswith("__dt")]

    def esc(v) -> str:
        s = "" if v is None else str(v)
        if any(ch in s for ch in (",", '"', "\n", "\r")):
            return '"' + s.replace('"', '""') + '"'
        return s

    lines = [",".join(out_vars)]
    for row in _iter_rows(df, cap):
        d = row.asDict()
        lines.append(",".join(esc(d[v]) for v in out_vars))
    return ("\n".join(lines) + "\n").encode()


def _select_tsv(df: DataFrame, cap: int | None = None) -> bytes:
    """SPARQL 1.1 Query Results TSV: headers are ``?var`` and terms are
    serialized in Turtle syntax — IRIs in ``<>``, literals quoted with
    lang/datatype tags, numeric literals bare — so conformant clients keep
    the IRI/literal distinction (ref: the openrdf SPARQLResultsTSVWriter)."""
    out_vars = [c for c in df.columns if not c.endswith("__dt")]

    def term(val, dt) -> str:
        if val is None:
            return ""
        s = str(val)
        if dt == "iri":
            # companions normalize bnodes into the iri tag (join-key
            # consistency); the `_:` lexical keeps them renderable as bnodes
            return s if s.startswith("_:") else f"<{s}>"
        if dt == "bnode":
            return s if s.startswith("_:") else f"_:{s}"
        if dt == "decimal":
            # the bare Turtle short form reads back as xsd:decimal only
            # when it carries a '.' — a canonical decimal with no
            # fractional part ('5') would round-trip as xsd:integer, so it
            # keeps the explicit datatype (ADVICE r8)
            if "." in s:
                return s
            return f'"{s}"^^<http://www.w3.org/2001/XMLSchema#decimal>'
        if dt == "double":
            # Turtle's double short form requires an exponent; '7.0' bare
            # would read back as xsd:decimal
            if "e" in s or "E" in s:
                return s
            return f'"{s}"^^<http://www.w3.org/2001/XMLSchema#double>'
        if dt in ("long", "boolean"):
            return s  # Turtle short forms are valid TSV terms
        quoted = (
            s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")
        )
        if isinstance(dt, str) and dt.startswith("lang:"):
            return f'"{quoted}"@{dt[5:]}'
        if isinstance(dt, str) and dt.startswith("dt:"):
            return f'"{quoted}"^^<{dt[3:]}>'
        if dt == "timestamp":
            return f'"{quoted}"^^<http://www.w3.org/2001/XMLSchema#dateTime>'
        return f'"{quoted}"'

    lines = ["\t".join("?" + v for v in out_vars)]
    for row in _iter_rows(df, cap):
        d = row.asDict()
        lines.append("\t".join(term(d[v], d.get(f"{v}__dt", "string")) for v in out_vars))
    return ("\n".join(lines) + "\n").encode()


def _select_xml(df: DataFrame, cap: int | None = None) -> bytes:
    """SPARQL Query Results XML Format."""
    from xml.sax.saxutils import escape

    out_vars = [c for c in df.columns if not c.endswith("__dt")]
    parts = [
        '<?xml version="1.0"?>',
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#">',
        "<head>" + "".join(f'<variable name="{v}"/>' for v in out_vars) + "</head>",
        "<results>",
    ]
    for row in _iter_rows(df, cap):
        d = row.asDict()
        cells = []
        for v in out_vars:
            if d[v] is None:
                continue
            dt = d.get(f"{v}__dt", "string")
            val = escape(str(d[v]))
            if dt in ("iri", "bnode") and str(d[v]).startswith("_:"):
                cells.append(f'<binding name="{v}"><bnode>{val[2:]}</bnode></binding>')
            elif dt == "iri":
                cells.append(f'<binding name="{v}"><uri>{val}</uri></binding>')
            elif isinstance(dt, str) and dt.startswith("lang:"):
                cells.append(
                    f'<binding name="{v}"><literal xml:lang="{dt[5:]}">{val}</literal></binding>'
                )
            elif isinstance(dt, str) and dt.startswith("dt:"):
                cells.append(
                    f'<binding name="{v}"><literal datatype="{escape(dt[3:])}">{val}</literal></binding>'
                )
            else:
                cells.append(f'<binding name="{v}"><literal>{val}</literal></binding>')
        parts.append("<result>" + "".join(cells) + "</result>")
    parts.append("</results></sparql>")
    return "\n".join(parts).encode()


def _triples_nt(df: DataFrame, cap: int | None = None) -> bytes:
    lines = [r["l"] for r in _iter_rows(df.select(ntriples.nt_line(df).alias("l")), cap)]
    return ("\n".join(lines) + ("\n" if lines else "")).encode()


def _triples_ttl(df: DataFrame, cap: int | None = None) -> bytes:
    """Turtle with @prefix declarations and `;` predicate lists — one
    subject block per collected row (fragment computation is distributed;
    ref: rio TurtleWriter behind ConnegUtil). The cap counts subjects."""
    blocks = rdf_writers._ttl_subject_blocks(df, rdf_writers.DEFAULT_PREFIXES)
    body = "\n\n".join(r["block"] for r in _iter_rows(blocks, cap))
    return (
        rdf_writers._prefix_header(rdf_writers.DEFAULT_PREFIXES) + "\n" + body + "\n"
    ).encode()


def _triples_rdfxml(df: DataFrame, cap: int | None = None) -> bytes:
    frags = rdf_writers.rdfxml_fragments(df)
    body = "\n".join(r["frag"] for r in _iter_rows(frags, cap))
    return (rdf_writers.RDFXML_HEADER + body + rdf_writers.RDFXML_FOOTER).encode()


def _triples_jsonld(df: DataFrame, cap: int | None = None) -> bytes:
    nodes = rdf_writers.jsonld_nodes(df)
    body = ",".join(r["node"] for r in _iter_rows(nodes, cap))
    return ('{"@graph":[' + body + "]}").encode()


# Accept-header → (serializer, content-type) per result kind. The graph
# writer set matches the reference's ConnegUtil RDFFormat table (N-Triples,
# Turtle-with-prefixes, RDF/XML, JSON-LD); every serializer reads its rows
# from one bounded collect under the endpoint row cap.
_SELECT_FMTS = {SRJ: (_select_json, SRJ), CSV: (_select_csv, CSV),
                TSV: (_select_tsv, TSV), SRX: (_select_xml, SRX)}
RDFXML = "application/rdf+xml"
JSONLD = "application/ld+json"
_GRAPH_FMTS = {
    NT: (_triples_nt, NT),
    TTL: (_triples_ttl, TTL),
    RDFXML: (_triples_rdfxml, RDFXML),
    JSONLD: (_triples_jsonld, JSONLD),
}


def _pick(accept: str, fmts: dict, default: str):
    for part in (accept or "").split(","):
        mt = part.split(";")[0].strip().lower()
        if mt in fmts:
            return fmts[mt]
    return fmts[default]


def _read_rdf_body(spark: SparkSession, ctype: str, body: bytes) -> DataFrame:
    reader = _RDF_READERS.get(ctype.split(";")[0].strip())
    if reader is None:
        raise ValueError(f"unsupported RDF content type: {ctype}")
    tmp = tempfile.mkdtemp(prefix="sparql_body_")
    with open(f"{tmp}/body", "wb") as f:
        f.write(body)
    try:
        # parsers are lazy over the file — materialize before the file goes away
        return reader(spark, f"{tmp}/body").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class SparqlEndpoint:
    """Protocol logic for the REST endpoint; one UpdatableStore per
    namespace (multi-tenancy analog of the reference's /namespace API)."""

    def __init__(
        self,
        spark: SparkSession,
        store: UpdatableStore,
        namespace: str = "kb",
        max_result_rows: int | None = 1_000_000,
    ):
        self.spark = spark
        # documented 413 guard: a result comes back in one collect bounded at
        # this many rows/fragments + 1, and aborts past it (None = uncapped)
        self.max_result_rows = max_result_rows
        self.default_ns = namespace
        self.namespaces: dict[str, UpdatableStore] = {namespace: store}
        self._lock = threading.Lock()  # single-writer update discipline
        # REST transactions (ref: the /bigdata/tx API): txid -> (namespace,
        # base commit-point count, shadow UpdatableStore). The shadow is an
        # isolated clone; commit publishes it iff no concurrent commit
        # advanced the namespace (first-committer-wins, like the
        # reference's unisolated-connection conflict rule).
        self._txns: dict[str, tuple[str, int, UpdatableStore]] = {}
        # DESCRIBE cache (ref: ast/cache/DescribeCache.java): LRU of
        # materialized plain-IRI descriptions keyed by store version —
        # MVCC makes invalidation automatic (see _describe)
        self._describe_cache: dict[tuple, tuple] = {}
        # queries run on ThreadingHTTPServer threads WITHOUT self._lock
        # (that lock is the single-writer update discipline), so the LRU
        # pop/reinsert needs its own mutex
        self._describe_cache_lock = threading.Lock()
        # running-query registry (ref: StatusServlet SHOW_QUERIES /
        # CANCEL_QUERY over the QueryEngine's running-query table):
        # queryId -> {namespace, query, started, gid}; entries live only
        # while the request thread is inside _run_query
        self._running: dict[str, dict] = {}
        # qids with a live pending-cancel re-fire thread (dedup guard)
        self._pending_cancels: set[str] = set()

    # ------------------------------------------------------------ verbs --
    def query(
        self,
        ns: str,
        text: str,
        accept: str = "",
        explain: str | None = None,
        timestamp: int | None = None,
        timeout_ms: int | None = None,
        txid: str | None = None,
        describe_mode: str | None = None,
        describe_iterations: int | None = None,
        query_id: str | None = None,
        include_inferred: bool = True,
    ) -> tuple[int, str, bytes]:
        """Every query runs in its own Spark job group and is listed in the
        running-query registry while it executes (ref: StatusServlet's
        showQueries page + cancelQuery — QueryCancellationHelper over the
        QueryEngine's running-query table). GET /status?showQueries lists
        them; POST /status?cancelQuery&queryId=<id> cancels the group.
        ``query_id``: client-assigned id via the queryId= request param
        (ref: StatusServlet.java queryId associates a request with a UUID
        so the client can cancel without polling showQueries)."""
        import uuid

        qid = query_id or uuid.uuid4().hex[:12]
        args = (ns, text, accept, explain, timestamp, txid, describe_mode,
                describe_iterations, include_inferred)
        if timeout_ms:
            return self._bounded(
                timeout_ms,
                lambda: self._run_query(qid, *args),
                gid=f"rest-query-{qid}",
            )
        return self._run_query(qid, *args)

    def _run_query(self, qid, ns, text, accept, explain, timestamp, txid,
                   describe_mode, describe_iterations, include_inferred=True):
        if qid in self._running or qid in self._pending_cancels:
            # a client-assigned id colliding with a live query (or a still-
            # firing pending-cancel for the previous holder) would share
            # one job group — the re-fire loop would kill the newcomer
            raise ValueError(f"queryId {qid!r} is already in use")
        gid = f"rest-query-{qid}"
        sc = self.spark.sparkContext
        # thread-local: ThreadingHTTPServer gives each request its own
        # thread, so groups don't bleed across concurrent queries
        sc.setJobGroup(gid, f"REST query [{ns}]", interruptOnCancel=True)
        self._running[qid] = {
            "queryId": qid,
            "namespace": ns,
            "query": text[:2000],
            "started": time.time(),
            "gid": gid,
        }
        try:
            return self._query_impl(ns, text, accept, explain, timestamp,
                                    txid, describe_mode, describe_iterations,
                                    include_inferred)
        finally:
            self._running.pop(qid, None)

    def _query_impl(
        self,
        ns: str,
        text: str,
        accept: str = "",
        explain: str | None = None,
        timestamp: int | None = None,
        txid: str | None = None,
        describe_mode: str | None = None,
        describe_iterations: int | None = None,
        include_inferred: bool = True,
    ) -> tuple[int, str, bytes]:
        us = self._tx_store(txid, ns) if txid is not None else self.namespaces[ns]
        if not include_inferred:
            # includeInferred=false: query ONLY the explicit statement set
            # (ref: QueryServlet.java:140 INCLUDE_INFERRED, default true;
            # BigdataRDFContext.java:771 — the SAIL flag on every query
            # task). Combines with neither timestamp= nor txid= reads:
            # the explicit set is tracked for the CURRENT version only.
            if timestamp is not None or txid is not None:
                raise ValueError(
                    "includeInferred=false cannot combine with timestamp= or txid="
                )
            store = us.explicit_store
        elif timestamp is None:
            # query_store = current version + persisted named solution
            # sets, so INCLUDE %set resolves against sets written by prior
            # UPDATE requests (ref: the solution-set cache is visible to
            # every query — SolutionSetManager via AST2BOpContext)
            store = us.query_store
        else:
            # MVCC read at commit point N (ref: the REST API's &timestamp=
            # param reading a historical commit time): versions[] IS the
            # commit-point sequence, immutable by construction
            if not (0 <= timestamp < len(us.versions)):
                raise KeyError(f"no commit point {timestamp} (have {len(us.versions)})")
            store = us.versions[timestamp]
        parsed = parse_sparql_query(text)
        form = parsed[0]
        if explain:
            # ref: NanoSparqlServer's ?explain= page — here the analyzed +
            # optimized + physical Spark plan for the compiled query;
            # explain=details prepends the engine's own optimizer trace
            # (BGP join order, estimates, broadcast and id-join decisions —
            # the reference page's static-optimizer section)
            if form == "construct":
                df = compiler.construct(store, parsed[1], parsed[2])
            elif form in ("describe", "describe_where"):
                df = self._describe(store, parsed)
            else:  # SELECT, or the pattern under an ASK
                # one compile, on the view the query runs on (a SELECT
                # carries `__dt` companions); it also records the trace
                flags = {"_trace": []} if explain == "details" else {}
                if form == "select":
                    flags["track_dt"] = True
                view = store.view(**flags)
                df = compiler.evaluate(view, parsed[1])
            plan = df._jdf.queryExecution().toString()
            if explain == "details" and form in ("select", "ask"):
                plan = (
                    "== Optimizer Trace ==\n"
                    + json.dumps(view._trace, indent=1, default=str)
                    + "\n\n"
                    + plan
                )
            return 200, "text/plain", plan.encode()
        if form == "select":
            ser, ctype = _pick(accept, _SELECT_FMTS, SRJ)
            # dt tracking: object-position vars carry `<var>__dt` companions
            # through projection so serializers type terms (uri / literal /
            # lang); subject/join-position vars have no companion and
            # default to plain literals (documented subset)
            return 200, ctype, ser(compiler.evaluate(store.view(track_dt=True), parsed[1]), self.max_result_rows)
        if form == "ask":
            return 200, SRJ, json.dumps(
                {"head": {}, "boolean": compiler.ask(store, parsed[1])}
            ).encode()
        ser, ctype = _pick(accept, _GRAPH_FMTS, NT)
        if form == "construct":
            return 200, ctype, ser(compiler.construct(store, parsed[1], parsed[2]), self.max_result_rows)
        return 200, ctype, ser(
            self._describe(store, parsed, describe_mode, describe_iterations),
            self.max_result_rows,
        )

    def _bounded(self, timeout_ms: int, fn, gid: str):
        """Query-deadline enforcement (ref: the REST API's ``timeout=``
        parameter / ``X-BIGDATA-MAX-QUERY-MILLIS`` header;
        BigdataRDFContext query timeout): ``fn`` (a _run_query call) sets
        job group ``gid`` on its worker thread; at the deadline the
        group's jobs are cancelled and the client gets 503 with an error
        body, the reference's query-timeout behavior re-expressed on
        Spark's cancellation API."""
        from pyspark import InheritableThread

        sc = self.spark.sparkContext
        box: dict = {}

        def run():
            try:
                box["out"] = fn()
            except BaseException as ex:  # re-raised on the caller thread
                box["err"] = ex

        t = InheritableThread(target=run, daemon=True)
        t.start()
        t.join(timeout_ms / 1000.0)
        if t.is_alive():
            sc.cancelJobGroup(gid)
            return 503, JSON, json.dumps(
                {"error": f"query timeout after {timeout_ms}ms"}
            ).encode()
        if "err" in box:
            raise box["err"]
        return box["out"]

    def _describe(
        self,
        store: TripleStore,
        parsed,
        describe_mode: str | None = None,
        describe_iterations: int | None = None,
    ) -> DataFrame:
        """Both DESCRIBE forms: plain IRI list and DESCRIBE ?x WHERE {P}
        (mirrors run_sparql; the WHERE form binds the var and CBDs it).
        ``describe_mode``/``describe_iterations`` expose the reference's
        describeMode / describeIterationLimit options (QueryHints.java:587,
        601) as REST params.

        Plain-IRI DESCRIBEs memoize (ref: the DESCRIBE cache —
        ast/cache/DescribeCache.java:1, webapp/DescribeCacheServlet.java):
        the cache key includes the STORE VERSION's identity, so an update
        (new immutable version) never serves stale descriptions —
        invalidation falls out of MVCC instead of a change-set listener.
        Bounded LRU; entries are localCheckpointed so repeats skip the
        whole CBD recursion, not just planning."""
        # query-text hints (hint:Query hint:describeMode/...) fill whatever
        # the explicit REST params leave unset — URL params win, like the
        # reference's request-parameter-over-hint precedence
        dh = parsed[3] if len(parsed) > 3 and parsed[3] else {}
        if describe_mode is None:
            describe_mode = dh.get("describeMode")
        if describe_iterations is None and "describeIterationLimit" in dh:
            describe_iterations = int(dh["describeIterationLimit"])
        kwargs = compiler.describe_kwargs(describe_mode, describe_iterations)
        if parsed[0] == "describe_where":
            from pyspark.sql import functions as F

            subjects = (
                compiler.evaluate(store, parsed[2])
                .select(F.col(parsed[1]).alias("s"))
                .distinct()
            )
            return compiler.describe(store, subjects, **kwargs)
        if isinstance(parsed[1], (list, tuple)):
            # entries pin the keyed version's DataFrame so the id() can't
            # be recycled while the entry lives (the r2 id()-reuse lesson)
            ck = (id(store.df), tuple(parsed[1]), tuple(sorted(kwargs.items())))
            with self._describe_cache_lock:
                hit = self._describe_cache.get(ck)
                if hit is not None:
                    # LRU touch (pop can't KeyError under the lock)
                    self._describe_cache[ck] = self._describe_cache.pop(ck)
                    return hit[1]
            out = compiler.describe(store, list(parsed[1]), **kwargs).localCheckpoint(
                eager=True
            )
            with self._describe_cache_lock:
                self._describe_cache[ck] = (store.df, out)
                while len(self._describe_cache) > 64:
                    self._describe_cache.pop(next(iter(self._describe_cache)))
            return out
        return compiler.describe(store, parsed[1], **kwargs)

    def update(self, ns: str, text: str) -> tuple[int, str, bytes]:
        with self._lock:
            apply_update(self.namespaces[ns], text, self.spark)
        return 200, JSON, json.dumps({"ok": True}).encode()

    @staticmethod
    def _fan_out_contexts(df: DataFrame, context_uri: str, cols: list[str]) -> DataFrame:
        """Replicate the statements into each graph of a comma-separated
        ``context-uri`` list (ref: InsertServlet/DeleteServlet take
        repeated context-uri params; the flattened form is comma-joined).
        A blank list is a caller error, not an IndexError."""
        from pyspark.sql import functions as F

        ctxs = [c.strip() for c in context_uri.split(",") if c.strip()]
        if not ctxs:
            raise ValueError("context-uri must name at least one graph IRI")
        parts = [df.select(*cols, F.lit(c).alias("g")) for c in ctxs]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def insert_rdf(
        self, ns: str, ctype: str, body: bytes, replace: bool = False,
        context_uri: str | None = None,
    ) -> tuple[int, str, bytes]:
        new = _read_rdf_body(self.spark, ctype, body)
        from pyspark.sql import functions as F

        with self._lock:
            us = self.namespaces[ns]
            # one commit point: a PUT whose body fails rolls back, instead of
            # leaving the namespace cleared
            with us.transaction():
                if replace:  # PUT: delete-all + load
                    us.clear_scope("graphs")
                cols = ["s", "p", "o_lex", "o_dt"]
                if context_uri is not None:
                    # ref: InsertServlet's context-uri= — body statements land
                    # in the named graph(s). Overrides any graph the body
                    # itself names, like the reference's forced context.
                    # insert_data quad-upgrades a triples-only store.
                    new = self._fan_out_contexts(new, context_uri, cols)
                    cols = cols + ["g"]
                elif "g" in new.columns and "g" in us.current.df.columns:
                    # quad body (TriG/TriX/N-Quads) into a quad store: named
                    # graphs survive; readers use g='' for the default graph
                    new = new.withColumn(
                        "g", F.when(F.col("g") == "", F.lit(None)).otherwise(F.col("g"))
                    )
                    cols.append("g")
                us.insert_data(new.select(*cols))
        n = new.count()
        return 200, JSON, json.dumps({"inserted": n}).encode()

    def delete_rdf(
        self, ns: str, ctype: str, body: bytes, context_uri: str | None = None,
    ) -> tuple[int, str, bytes]:
        """DELETE with an RDF document body (ref: DeleteServlet
        DELETE-WITH-BODY, DeleteServlet.java:689): remove exactly the
        body's statements; context-uri= scopes the removal to the named
        graph(s)."""
        doomed = _read_rdf_body(self.spark, ctype, body)
        from pyspark.sql import functions as F

        cols = ["s", "p", "o_lex", "o_dt"]
        with self._lock:
            us = self.namespaces[ns]
            if context_uri is not None:
                if "g" not in us.current.df.columns:
                    # named-graph delete over a triples-only store removes
                    # nothing (no named graphs exist) — but still validate
                    self._fan_out_contexts(doomed, context_uri, cols)
                    return 200, JSON, b'{"removed": 0}'
                doomed = self._fan_out_contexts(doomed, context_uri, cols)
                cols = cols + ["g"]
            elif "g" in doomed.columns and "g" in us.current.df.columns:
                doomed = doomed.withColumn(
                    "g", F.when(F.col("g") == "", F.lit(None)).otherwise(F.col("g"))
                )
                cols.append("g")
            elif "g" in us.current.df.columns:
                # triples-only body against a quad store = default graph
                doomed = doomed.withColumn("g", F.lit(None).cast("string"))
                cols.append("g")
            before = us.current.df.count()
            us.delete_data(doomed.select(*cols))
            removed = before - us.current.df.count()
        return 200, JSON, json.dumps({"removed": removed}).encode()

    def delete_by_query(self, ns: str, text: str) -> tuple[int, str, bytes]:
        """DeleteServlet: evaluate CONSTRUCT/DESCRIBE, remove its triples."""
        with self._lock:
            us = self.namespaces[ns]
            parsed = parse_sparql_query(text)
            if parsed[0] == "construct":
                doomed = compiler.construct(us.current, parsed[1], parsed[2])
            elif parsed[0] in ("describe", "describe_where"):
                doomed = self._describe(us.current, parsed)
            else:
                return 400, JSON, b'{"error": "DELETE needs CONSTRUCT or DESCRIBE"}'
            before = us.current.df.count()
            us.delete_data(doomed.select("s", "p", "o_lex", "o_dt"))
            removed = before - us.current.df.count()
        return 200, JSON, json.dumps({"removed": removed}).encode()

    def estcard(self, ns: str, params: dict) -> tuple[int, str, bytes]:
        """ESTCARD fast range count: predicate-only asks hit the cached
        per-predicate stats (parquet-footer analog) — no job."""
        from pyspark.sql import functions as F

        us = self.namespaces[ns]
        # includeInferred=false counts the explicit set only (ref:
        # QueryServlet.java:1546-1556 — ESTCARD honors INCLUDE_INFERRED;
        # BLZG-1207 fixed the REST API ignoring it)
        inferred = params.get("includeInferred", "true").lower() != "false"
        store = us.current if inferred else us.explicit_store
        s, p, o = params.get("s"), params.get("p"), params.get("o")
        if inferred and p is not None and s is None and o is None and store.stats_are_exact():
            st = store.stats().get(p)
            return 200, JSON, json.dumps({"rangeCount": st.count if st else 0}).encode()
        df = store.df
        for col, val in (("s", s), ("p", p), ("o_lex", o)):
            if val is not None:
                df = df.filter(F.col(col) == val)
        return 200, JSON, json.dumps({"rangeCount": df.count()}).encode()

    # ------------------------------------------------------ transactions --
    def tx_begin(self, ns: str) -> tuple[int, str, bytes]:
        """POST /tx: begin a transaction — returns its txId. Queries and
        updates carrying ``txid=`` run against the transaction's isolated
        shadow (read-your-writes; ref: the REST Tx API + SAIL connection
        buffering)."""
        import uuid

        with self._lock:
            us = self.namespaces[ns]
            txid = uuid.uuid4().hex[:16]
            self._txns[txid] = (ns, len(us.versions), us.clone())
        return 201, JSON, json.dumps({"txId": txid}).encode()

    def tx_commit(self, txid: str) -> tuple[int, str, bytes]:
        """POST /tx/<id>/commit: publish the shadow as ONE new commit point
        iff the namespace hasn't advanced since begin (409 otherwise —
        first committer wins)."""
        with self._lock:
            if txid not in self._txns:
                raise KeyError(f"no such transaction: {txid}")
            ns, base, shadow = self._txns[txid]
            live = self.namespaces[ns]
            if len(live.versions) != base:
                # tx survives a conflict: the client's standard cleanup
                # (abort, or inspect then retry) must still find it
                return 409, JSON, json.dumps(
                    {"error": "conflict: namespace advanced since BEGIN", "txId": txid}
                ).encode()
            del self._txns[txid]
            if len(shadow.versions) > base:  # collapse to one commit point
                # the shadow's closure bookkeeping describes the version it
                # publishes, so it comes along
                live.commit(shadow.current, bookkeeping=shadow)
            return 200, JSON, json.dumps({"committed": txid}).encode()

    def tx_abort(self, txid: str) -> tuple[int, str, bytes]:
        """POST /tx/<id>/abort: discard the shadow."""
        with self._lock:
            if txid not in self._txns:
                raise KeyError(f"no such transaction: {txid}")
            del self._txns[txid]
        return 200, JSON, json.dumps({"aborted": txid}).encode()

    def _tx_store(self, txid: str, ns: str | None = None) -> UpdatableStore:
        if txid not in self._txns:
            raise KeyError(f"no such transaction: {txid}")
        tx_ns, _base, shadow = self._txns[txid]
        if ns is not None and tx_ns != ns:
            raise KeyError(f"transaction {txid} belongs to namespace {tx_ns!r}")
        return shadow

    def contexts(self, ns: str) -> tuple[int, str, bytes]:
        """CONTEXTS: the namespace's named graphs, as the SPARQL-results
        document the reference's ?CONTEXTS verb returns (one
        ``contextIRI`` binding per graph; triples-only stores: none)."""
        store = self.namespaces[ns].current
        rows = (
            [
                r["g"]
                for r in store.df.select("g").distinct().collect()
                # default-graph statements carry g=NULL — only NAMED
                # contexts are listed (matching the reference)
                if r["g"] is not None
            ]
            if "g" in store.df.columns
            else []
        )
        doc = {
            "head": {"vars": ["contextIRI"]},
            "results": {
                "bindings": [
                    {"contextIRI": {"type": "uri", "value": g}} for g in sorted(rows)
                ]
            },
        }
        return 200, SRJ, json.dumps(doc).encode()

    def _pattern_filter(self, ns: str, params: dict):
        from pyspark.sql import functions as F

        us = self.namespaces[ns]
        # includeInferred=false restricts access paths to the explicit set
        # (ref: BLZG-1207 — getStatements ignored includeInferred; fixed in
        # BigdataRDFContext.java:769)
        if params.get("includeInferred", "true").lower() == "false":
            df = us.explicit_store.df
        else:
            df = us.current.df
        for col, key in (("s", "s"), ("p", "p"), ("o_lex", "o"), ("g", "c")):
            val = params.get(key)
            if val is not None and col in df.columns:
                df = df.filter(F.col(col) == val)
        return df

    def hasstmt(self, ns: str, params: dict) -> tuple[int, str, bytes]:
        """HASSTMT access-path probe (ref: the REST API's ?HASSTMT&s=&p=&o=
        — existence check without a count)."""
        found = bool(self._pattern_filter(ns, params).take(1))
        return 200, JSON, json.dumps({"found": found}).encode()

    def getstmts(self, ns: str, params: dict) -> tuple[int, str, bytes]:
        """GETSTMTS statement export (ref: REST API access-path GET with
        s/p/o[/c] bindings): matching statements as N-Triples."""
        df = self._pattern_filter(ns, params).select("s", "p", "o_lex", "o_dt")
        return 200, NT, _triples_nt(df)

    def delete_by_pattern(self, ns: str, params: dict) -> tuple[int, str, bytes]:
        """DELETE with s/p/o[/c] access-path bindings (ref: DeleteServlet's
        triple-pattern form). Quad stores keep the graph column through the
        delete so c= constrains it and unconstrained deletes still remove
        the matching row in each graph (not a cross-graph wipe of others)."""
        with self._lock:
            us = self.namespaces[ns]
            doomed = self._pattern_filter(ns, params)
            cols = ["s", "p", "o_lex", "o_dt"]
            if "g" in us.current.df.columns:
                cols.append("g")
            before = us.current.df.count()
            us.delete_data(doomed.select(*cols))
            removed = before - us.current.df.count()
        return 200, JSON, json.dumps({"removed": removed}).encode()

    def status(self, show_queries: bool = False) -> tuple[int, str, bytes]:
        doc = {
            "namespaces": sorted(self.namespaces),
            "versions": {ns: len(us.versions) for ns, us in self.namespaces.items()},
        }
        if show_queries:
            # ref: StatusServlet ?showQueries — the running-query table
            now = time.time()
            doc["queries"] = [
                {
                    "queryId": e["queryId"],
                    "namespace": e["namespace"],
                    "elapsedMillis": int((now - e["started"]) * 1000),
                    "query": e["query"],
                }
                for e in list(self._running.values())
            ]
        return 200, JSON, json.dumps(doc).encode()

    def cancel_query(self, query_ids: list[str]) -> tuple[int, str, bytes]:
        """POST /status?cancelQuery&queryId=<id> (ref: StatusServlet
        CANCEL_QUERY → QueryCancellationHelper.tryCancelQuery): cancels the
        query's Spark job group; the cancelled request itself returns 503.
        Unknown/already-finished ids are ignored, like the reference."""
        sc = self.spark.sparkContext
        cancelled = []
        for qid in query_ids:
            entry = self._running.get(qid)
            if entry is not None:
                sc.cancelJobGroup(entry["gid"])
                cancelled.append(qid)
                # pending-cancel (ref: QueryEngine.addPendingCancel): a
                # cancel that lands while the query is still PLANNING has
                # no active jobs to kill; re-fire until the request thread
                # leaves the registry so later-submitted jobs die too.
                # set.add dedupes — repeated cancels of the same query
                # share ONE re-fire thread instead of stacking them
                if qid not in self._pending_cancels:
                    self._pending_cancels.add(qid)
                    threading.Thread(
                        target=self._pending_cancel, args=(qid, entry["gid"]),
                        daemon=True,
                    ).start()
        return 200, JSON, json.dumps({"cancelled": cancelled}).encode()

    def _pending_cancel(self, qid: str, gid: str, ttl_s: float = 60.0) -> None:
        sc = self.spark.sparkContext
        deadline = time.time() + ttl_s
        try:
            while qid in self._running and time.time() < deadline:
                sc.cancelJobGroup(gid)
                time.sleep(0.25)
        finally:
            self._pending_cancels.discard(qid)

    # SD/VoID vocabulary (ref: webapp/SD.java:70 + VoID.java — GET on the
    # SPARQL endpoint with no query serves the W3C service description
    # with VoID dataset statistics folded in)
    _SD = "http://www.w3.org/ns/sparql-service-description#"
    _VOID = "http://rdfs.org/ns/void#"
    _FMT = "http://www.w3.org/ns/formats/"
    _RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

    def service_description(self, ns: str, accept: str = "", host: str | None = None) -> tuple[int, str, bytes]:
        """W3C SPARQL 1.1 Service Description + VoID statistics (ref:
        webapp/SD.java describeService + VoID.java describeDataSet —
        served by the reference on a queryless GET of the endpoint).
        Counts come from the store's predicate stats (parquet footers /
        one pruned scan for class usage) — no full corpus scan."""
        from pyspark.sql import functions as F

        sd, void, fmt = self._SD, self._VOID, self._FMT
        svc = f"http://{host or 'localhost'}/namespace/{ns}/sparql"
        store = self.namespaces[ns].current
        stats = store.stats()
        t = []  # (s, p, o_lex, o_dt)

        def iri(s, p, o):
            t.append((s, p, o, "iri"))

        def bnode(s, p, o):
            t.append((s, p, o, "bnode"))

        def num(s, p, o):
            t.append((s, p, str(int(o)), "long"))

        iri(svc, self._RDF_TYPE, sd + "Service")
        iri(svc, sd + "endpoint", svc)
        for lang in ("SPARQL10Query", "SPARQL11Query", "SPARQL11Update"):
            iri(svc, sd + "supportedLanguage", sd + lang)
        for feat in ("UnionDefaultGraph", "BasicFederatedQuery"):
            iri(svc, sd + "feature", sd + feat)
        for f in ("SPARQL_Results_JSON", "SPARQL_Results_XML",
                  "SPARQL_Results_CSV", "SPARQL_Results_TSV",
                  "N-Triples", "Turtle", "RDF_XML", "JSON-LD"):
            iri(svc, sd + "resultFormat", fmt + f)
        for f in ("N-Triples", "Turtle", "TriG", "RDF_XML", "JSON-LD", "TriX"):
            iri(svc, sd + "inputFormat", fmt + f)
        bnode(svc, sd + "defaultDataset", "_:ds")
        iri("_:ds", self._RDF_TYPE, sd + "Dataset")
        bnode("_:ds", sd + "defaultGraph", "_:g")
        iri("_:g", self._RDF_TYPE, sd + "Graph")
        num("_:g", void + "triples", sum(st.count for st in stats.values()))
        num("_:g", void + "properties", len(stats))
        # per-property partitions (VoID.java propertyPartition loop) —
        # counts straight off the predicate stats, no scan
        for i, (p, st) in enumerate(sorted(stats.items())):
            pp = f"_:pp{i}"
            bnode("_:g", void + "propertyPartition", pp)
            iri(pp, void + "property", p)
            num(pp, void + "triples", st.count)
        # class partitions (VoID.java classPartition / classUsage): ONE
        # predicate-pruned aggregation across every type-like predicate —
        # grouping by class alone also dedupes a class typed through
        # several predicates (two rows would double-count void:classes)
        type_preds = [
            p for p in stats
            if p == "rdf:type" or p.endswith("#type") or p.endswith("/type")
        ]
        classes = []
        if type_preds:
            classes = (
                store.df.filter(F.col("p").isin(type_preds))
                .groupBy("o_lex").agg(F.count(F.lit(1)).alias("n"))
                .orderBy("o_lex").collect()
            )
        num("_:g", void + "classes", len(classes))
        for i, r in enumerate(classes):
            cp = f"_:cp{i}"
            bnode("_:g", void + "classPartition", cp)
            iri(cp, void + "class", r["o_lex"])
            num(cp, void + "triples", r["n"])
        # named graphs (SD.java namedGraph section)
        if "g" in store.df.columns:
            graphs = [
                r["g"]
                for r in store.df.select("g").filter(F.col("g").isNotNull())
                .distinct().orderBy("g").collect()
            ]
            for i, gname in enumerate(graphs):
                gn = f"_:ng{i}"
                bnode("_:ds", sd + "namedGraph", gn)
                iri(gn, sd + "name", gname)
                iri(gn, self._RDF_TYPE, sd + "Graph")
        df = self.spark.createDataFrame(
            t, "s string, p string, o_lex string, o_dt string"
        )
        ser, ctype = _pick(accept, _GRAPH_FMTS, NT)
        return 200, ctype, ser(df, self.max_result_rows)

    # the reference's Java properties-XML wire format (PropertiesFormat),
    # shared by /dataloader, namespace creation, and /properties — ONE
    # parse/render pair so escaping fixes don't diverge
    @staticmethod
    def _parse_properties_xml(body: bytes) -> dict:
        import re as _re
        from xml.sax.saxutils import unescape

        return {
            unescape(k): unescape(v)
            for k, v in _re.findall(
                r'<entry key="([^"]+)">([^<]*)</entry>', body.decode()
            )
        }

    @staticmethod
    def _render_properties_xml(entries: dict) -> bytes:
        from xml.sax.saxutils import escape

        body = ['<?xml version="1.0" encoding="UTF-8" standalone="no"?>',
                "<properties>"]
        for k, v in entries.items():
            ek = escape(str(k), {'"': "&quot;"})
            body.append(f'<entry key="{ek}">{escape(str(v))}</entry>')
        body.append("</properties>")
        return "\n".join(body).encode()

    # file-extension → reader dispatch for the bulk loader (ref: the
    # DataLoader's RDFFormat.forFileName detection)
    _EXT_READERS = {
        ".nt": ntriples.read_ntriples,
        ".ntriples": ntriples.read_ntriples,
        ".nq": ntriples.read_nquads,
        ".ttl": rdf_formats.read_turtle,
        ".trig": rdf_formats.read_trig,
        ".trix": rdf_formats.read_trix,
        ".jsonld": rdf_formats.read_jsonld,
        ".rdf": rdf_formats.read_rdfxml,
        ".owl": rdf_formats.read_rdfxml,
    }

    def dataloader(self, ns: str, ctype: str, body: bytes) -> tuple[int, str, bytes]:
        """Bulk load server-side files/directories (ref:
        webapp/DataLoaderServlet.java — POST /dataloader with a Java
        properties-XML body: fileOrDirs=, durableQueues=, namespace=).
        Accepts the reference's properties-XML wire format or a JSON
        object with the same keys. Every file loads through the
        extension-matched distributed reader; ALL files publish as ONE
        commit point (the DataLoader's single-load semantics).
        durableQueues renames files .good/.fail as the reference does, so
        an interrupted load can re-run without re-ingesting."""
        base_ct = ctype.split(";")[0].strip()
        if base_ct in ("application/xml", "text/xml"):
            props = self._parse_properties_xml(body)
        else:
            props = json.loads(body.decode()) if body else {}
        target_ns = props.get("namespace", ns)
        if target_ns not in self.namespaces:
            raise KeyError(f"no such namespace: {target_ns}")
        file_or_dirs = props.get("fileOrDirs")
        if not file_or_dirs:
            raise ValueError("fileOrDirs is required for the DataLoader")
        durable = str(props.get("durableQueues", "false")).lower() == "true"
        paths: list[str] = []
        for entry in str(file_or_dirs).split(","):
            entry = entry.strip()
            if os.path.isdir(entry):
                for root, _, files in os.walk(entry):
                    paths += [os.path.join(root, f) for f in sorted(files)]
            elif entry:
                paths.append(entry)
        loaded, failed, parts = [], [], []
        for p in paths:
            ext = os.path.splitext(p)[1].lower()
            reader = self._EXT_READERS.get(ext)
            if reader is None:
                continue  # ref: non-RDF files in a dir are skipped
            try:
                # readers are LAZY — materialize per file (eager
                # checkpoint) so a parse failure surfaces HERE, inside
                # this file's try, and durableQueues can isolate it;
                # it also decouples the commit from the source file, so
                # the .good rename below can't invalidate the version
                parts.append(reader(self.spark, p).localCheckpoint(eager=True))
                loaded.append(p)
            except Exception as ex:
                failed.append({"file": p, "error": f"{type(ex).__name__}: {ex}"})
                if durable:
                    os.rename(p, p + ".fail")
                else:
                    raise
        n = 0
        if parts:
            from pyspark.sql import functions as F

            # parts are already eagerly checkpointed per file (the union
            # references checkpointed data, never the renamed sources)
            out = parts[0]
            for df in parts[1:]:
                out = out.unionByName(df, allowMissingColumns=True)
            with self._lock:
                us = self.namespaces[target_ns]
                cols = ["s", "p", "o_lex", "o_dt"]
                if "g" in out.columns:
                    out = out.withColumn(
                        "g", F.when(F.col("g") == "", F.lit(None)).otherwise(F.col("g"))
                    )
                    cols.append("g")
                us.insert_data(out.select(*cols))
            n = out.count()
        if durable:
            for p in loaded:
                os.rename(p, p + ".good")
        return 200, JSON, json.dumps(
            {"loaded": len(loaded), "triples": n, "failed": failed}
        ).encode()

    def backup(self, ns: str, params: dict) -> tuple[int, str, bytes]:
        """Online backup (ref: webapp/BackupServlet.java — POST /backup
        with file=/compress= snapshots the journal while live). Here the
        snapshot is the current MVCC version written as a POS-layout
        parquet store (data + predicate stats — re-openable via
        sources.parquet_store.read_store). The version pointer is taken
        under the update lock; the version itself is immutable, so the
        export needs no further coordination with concurrent updates —
        exactly the journal-snapshot property the reference relies on."""
        from blazegraph_database_spark.sources import parquet_store

        path = params.get("file", "backup.store")
        compress = params.get("compress")
        # bare `compress` (no value) and compress=true both mean on (ref)
        do_compress = compress is not None and compress.lower() != "false"
        with self._lock:
            snapshot = self.namespaces[ns].current
        try:
            # atomic claim: mkdir either creates the target or raises —
            # no exists()-then-write window for two concurrent backups to
            # both proceed into the same path (ref: must-not-exist rule)
            os.makedirs(path, exist_ok=False)
        except FileExistsError:
            return 409, JSON, json.dumps(
                {"error": f"backup target exists: {path}"}
            ).encode()
        parquet_store.write_pos_layout(
            snapshot, path, compression="gzip" if do_compress else None
        )
        return 200, JSON, json.dumps(
            {"backup": path, "compressed": do_compress,
             "triples": sum(st.count for st in snapshot.stats().values())}
        ).encode()

    def namespace_properties(self, ns: str) -> tuple[int, str, bytes]:
        """GET /namespace/<ns>/properties (ref: MultiTenancyServlet.java:262
        'Show properties'): the namespace's effective configuration in the
        Java properties-XML wire format the reference serves. Keys mirror
        the reference's com.bigdata.rdf.sail.* namespace properties where
        an analog exists (quads mode, truth maintenance, commit points)."""
        us = self.namespaces[ns]
        store = us.current
        entries = {
            "com.bigdata.rdf.sail.namespace": ns,
            "com.bigdata.rdf.store.AbstractTripleStore.quads":
                str("g" in store.df.columns).lower(),
            "com.bigdata.rdf.sail.truthMaintenance":
                str(us.tm_enabled).lower(),
            "commitPoints": str(len(us.versions)),
        }
        return 200, "application/xml", self._render_properties_xml(entries)

    def counters(self, ns: str) -> tuple[int, str, bytes]:
        stats = self.namespaces[ns].current.stats()
        doc = {
            p: {"count": st.count, "distinct_s": st.n_distinct_s, "distinct_o": st.n_distinct_o}
            for p, st in stats.items()
        }
        return 200, JSON, json.dumps(doc).encode()

    # --------------------------------------------------------- dispatch --
    def dispatch(
        self, method: str, path: str, params: dict, ctype: str, body: bytes,
        accept: str = "",
    ) -> tuple[int, str, bytes]:
        try:
            return self._dispatch(method, path, params, ctype, body, accept)
        except KeyError as e:
            return 404, JSON, json.dumps({"error": str(e)}).encode()
        except ResultTooLarge as e:
            return 413, JSON, json.dumps({"error": str(e)}).encode()
        except Exception as e:  # parse errors etc. → 400, like the reference
            msg = str(e)
            # a cancelQuery (or deadline kill) aborted this request's Spark
            # jobs: Spark's cancellation message names the job group, and
            # ours are all "rest-query-*" — match THAT, not the bare word
            # 'cancelled' (which can appear in user data/paths)
            if "rest-query-" in msg and "cancel" in msg.lower():
                return 503, JSON, json.dumps(
                    {"error": f"query cancelled: {type(e).__name__}"}
                ).encode()
            return 400, JSON, json.dumps({"error": f"{type(e).__name__}: {e}"}).encode()

    def _dispatch(self, method, path, params, ctype, body, accept=""):
        parts = [p for p in path.split("/") if p]
        ns = self.default_ns
        if parts and parts[0] == "namespace":
            if len(parts) == 1:  # namespace collection resource
                if method == "GET":
                    return self.status()
                if method == "POST":
                    # name= param, or the reference's properties-XML body
                    # (RestApiCreateKBTask: com.bigdata.rdf.sail.namespace
                    # names the KB; ...AbstractTripleStore.quads selects
                    # quads mode)
                    quads = False
                    if "name" in params:
                        name = params["name"]
                    else:
                        props = self._parse_properties_xml(body)
                        name = props.get("com.bigdata.rdf.sail.namespace")
                        if not name:
                            raise ValueError(
                                "namespace create needs name= or a "
                                "com.bigdata.rdf.sail.namespace property"
                            )
                        quads = props.get(
                            "com.bigdata.rdf.store.AbstractTripleStore.quads", ""
                        ).lower() == "true"
                    if name in self.namespaces:  # ref: 409 on existing KB
                        return 409, JSON, json.dumps(
                            {"error": f"namespace exists: {name}"}
                        ).encode()
                    empty = TripleStore(self.namespaces[self.default_ns].current.df.limit(0))
                    if quads and "g" not in empty.df.columns:
                        from pyspark.sql import functions as F

                        empty = TripleStore(
                            empty.df.withColumn("g", F.lit(None).cast("string"))
                        )
                    self.namespaces[name] = UpdatableStore.from_store(empty)
                    return 201, JSON, json.dumps({"created": name}).encode()
                return 405, JSON, b'{"error": "method not allowed"}'
            ns = parts[1]
            if len(parts) == 2:  # the namespace resource itself
                if method == "DELETE":
                    del self.namespaces[ns]
                    return 200, JSON, json.dumps({"dropped": ns}).encode()
                raise KeyError(f"no such resource: {path}")
            if parts[2] == "properties" and method == "GET":
                # ref: MultiTenancyServlet GET .../properties — the
                # namespace's effective configuration as Java-properties
                # XML (the reference's PropertiesFormat wire format)
                return self.namespace_properties(ns)
            parts = parts[2:]
        if parts and parts[0] == "tx" and method == "POST":
            if len(parts) == 1:
                return self.tx_begin(ns)
            if len(parts) == 3 and parts[2] == "commit":
                return self.tx_commit(parts[1])
            if len(parts) == 3 and parts[2] == "abort":
                return self.tx_abort(parts[1])
            raise KeyError(f"no such resource: {path}")
        if parts == ["status"] and method == "GET":
            return self.status(show_queries="showQueries" in params)
        if parts == ["status"] and method == "POST" and "cancelQuery" in params:
            # reference accepts repeated queryId params; flattened form
            # takes a comma-separated list
            ids = [q for q in params.get("queryId", "").split(",") if q]
            return self.cancel_query(ids)
        if parts == ["counters"] and method == "GET":
            return self.counters(ns)
        if parts == ["dataloader"] and method == "POST":
            return self.dataloader(ns, ctype, body)
        if parts == ["backup"] and method == "POST":
            # ref: BackupServlet — form-encoded file=/compress= params
            if ctype.split(";")[0].strip() == "application/x-www-form-urlencoded":
                form = {
                    k: v[0]
                    for k, v in parse_qs(body.decode(), keep_blank_values=True).items()
                }
                params = {**params, **form}
            return self.backup(ns, params)
        if parts != ["sparql"]:
            raise KeyError(f"no such resource: {path}")
        if ns not in self.namespaces:
            raise KeyError(f"no such namespace: {ns}")

        def wants_explain(p: dict) -> str | None:
            # explain present with no value / true / 1 ⇒ plain explain;
            # explain=details adds the optimizer trace; an explicit
            # explain=false must NOT explain (same rule for GET params and
            # POST form fields).
            if "explain" not in p:
                return None
            v = str(p.get("explain", "")).lower()
            if v == "details":
                return "details"
            return "plain" if v in ("", "true", "1") else None

        explain = wants_explain(params)
        if "txid" in params and not (
            method in ("GET", "POST") and ("query" in params or "update" in params or ctype.split(";")[0].strip() in ("application/x-www-form-urlencoded", "application/sparql-query", "application/sparql-update"))
        ):
            # a txid on any other verb (RDF-body insert, PUT, DELETE,
            # ESTCARD/...) would silently write/read OUTSIDE the
            # transaction — refuse instead of faking isolation
            raise ValueError("txid= is only supported for query and update requests")

        def timeout_of(p: dict) -> int | None:
            # ref: REST API timeout= (seconds) / X-BIGDATA-MAX-QUERY-MILLIS
            if "timeout" in p:
                return int(float(p["timeout"]) * 1000)
            if "maxQueryTimeMillis" in p:
                return int(p["maxQueryTimeMillis"])
            return None

        if method == "GET":
            if "CONTEXTS" in params:
                return self.contexts(ns)
            if "ESTCARD" in params:
                return self.estcard(ns, params)
            if "HASSTMT" in params:
                return self.hasstmt(ns, params)
            if "GETSTMTS" in params:
                return self.getstmts(ns, params)
            if "query" not in params:
                # queryless GET on the endpoint = SPARQL 1.1 Service
                # Description w/ VoID stats (ref: QueryServlet routing to
                # SD.java/VoID.java describeService)
                return self.service_description(ns, accept, host=params.get("__host"))
            return self.query(
                ns, params["query"], accept, explain,
                timestamp=int(params["timestamp"]) if "timestamp" in params else None,
                timeout_ms=timeout_of(params),
                txid=params.get("txid"),
                describe_mode=params.get("describeMode"),
                describe_iterations=int(params["describeIterationLimit"])
                if "describeIterationLimit" in params else None,
                query_id=params.get("queryId"),
                include_inferred=params.get("includeInferred", "true").lower() != "false",
            )
        if method == "POST":
            base = ctype.split(";")[0].strip()
            if base == "application/x-www-form-urlencoded":
                form = {
                    k: v[0]
                    for k, v in parse_qs(body.decode(), keep_blank_values=True).items()
                }
                params = {**params, **form}
                explain = explain or wants_explain(form)
            elif base == "application/sparql-query":
                params = {**params, "query": body.decode()}
            elif base == "application/sparql-update":
                params = {**params, "update": body.decode()}
            elif base in _RDF_READERS:
                return self.insert_rdf(
                    ns, ctype, body, context_uri=params.get("context-uri")
                )
            if "update" in params:
                if "txid" in params:  # buffered write on the tx shadow
                    with self._lock:
                        apply_update(self._tx_store(params["txid"], ns), params["update"], self.spark)
                    return 200, JSON, b'{"ok": true}'
                return self.update(ns, params["update"])
            if "query" in params:
                return self.query(
                    ns, params["query"], accept, explain,
                    timestamp=int(params["timestamp"]) if "timestamp" in params else None,
                    timeout_ms=timeout_of(params),
                    txid=params.get("txid"),
                    describe_mode=params.get("describeMode"),
                    describe_iterations=int(params["describeIterationLimit"])
                    if "describeIterationLimit" in params else None,
                    query_id=params.get("queryId"),
                    include_inferred=params.get("includeInferred", "true").lower() != "false",
                )
            raise ValueError("POST needs query=, update=, or an RDF body")
        if method == "PUT":
            return self.insert_rdf(
                ns, ctype, body, replace=True, context_uri=params.get("context-uri")
            )
        if method == "DELETE":
            if body and ctype.split(";")[0].strip() in _RDF_READERS:
                # ref: DeleteServlet DELETE-WITH-BODY — remove exactly the
                # body's statements (context-uri= scopes to named graphs)
                return self.delete_rdf(
                    ns, ctype, body, context_uri=params.get("context-uri")
                )
            if "query" in params:
                return self.delete_by_query(ns, params["query"])
            if any(k in params for k in ("s", "p", "o", "c")):
                return self.delete_by_pattern(ns, params)
            # DELETE with no query: clear the namespace's data
            with self._lock:
                self.namespaces[ns].clear_scope("graphs")
            return 200, JSON, b'{"cleared": true}'
        return 405, JSON, b'{"error": "method not allowed"}'


class _Handler(BaseHTTPRequestHandler):
    endpoint: SparqlEndpoint  # set by start_background

    def _serve(self, method: str) -> None:
        url = urlparse(self.path)
        params = {k: v[0] for k, v in parse_qs(url.query, keep_blank_values=True).items()}
        h = self.headers.get("X-BIGDATA-MAX-QUERY-MILLIS")
        if h and "maxQueryTimeMillis" not in params:
            params["maxQueryTimeMillis"] = h
        if self.headers.get("Host"):
            # service descriptions embed the request's endpoint URL
            params["__host"] = self.headers["Host"]
        n = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(n) if n else b""
        status, ctype, payload = self.endpoint.dispatch(
            method, url.path, params, self.headers.get("Content-Type", ""), body,
            self.headers.get("Accept", ""),
        )
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_GET(self):
        self._serve("GET")

    def do_POST(self):
        self._serve("POST")

    def do_PUT(self):
        self._serve("PUT")

    def do_DELETE(self):
        self._serve("DELETE")

    def log_message(self, *a):  # quiet test output
        pass


def start_background(endpoint: SparqlEndpoint, host: str = "127.0.0.1", port: int = 0):
    """Serve the endpoint on a daemon thread; returns (server, actual_port).
    port=0 picks a free ephemeral port (test-friendly)."""
    handler = type("BoundHandler", (_Handler,), {"endpoint": endpoint})
    server = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, server.server_address[1]
