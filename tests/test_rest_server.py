"""REST endpoint runtime tests (SURVEY.md §2.12; ref NanoSparqlServer /
RESTServlet verb dispatch) — exercised over real localhost HTTP."""

from __future__ import annotations

import json
import urllib.request
import urllib.parse

import pytest

from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.server import SparqlEndpoint, start_background
from blazegraph_database_spark.update.update import UpdatableStore


@pytest.fixture(scope="module")
def server(spark):
    rows = [
        ("a", "rdf:type", "Person", "iri"),
        ("b", "rdf:type", "Person", "iri"),
        ("a", "knows", "b", "iri"),
        ("a", "age", "30", "long"),
    ]
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    ep = SparqlEndpoint(spark, store)
    srv, port = start_background(ep)
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _req(url, method="GET", body=None, ctype=None, accept=None):
    req = urllib.request.Request(url, data=body, method=method)
    if ctype:
        req.add_header("Content-Type", ctype)
    if accept:
        req.add_header("Accept", accept)
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.headers.get("Content-Type"), resp.read()


def test_get_select_json(server):
    q = urllib.parse.quote("SELECT ?x WHERE { ?x <rdf:type> <Person> }")
    status, ctype, body = _req(f"{server}/sparql?query={q}")
    assert status == 200 and ctype == "application/sparql-results+json"
    doc = json.loads(body)
    assert doc["head"]["vars"] == ["x"]
    got = sorted(b["x"]["value"] for b in doc["results"]["bindings"])
    assert got == ["a", "b"]


def test_get_ask(server):
    q = urllib.parse.quote("ASK WHERE { <a> <knows> <b> }")
    _, _, body = _req(f"{server}/sparql?query={q}")
    assert json.loads(body) == {"head": {}, "boolean": True}


def test_get_construct_ntriples(server):
    q = urllib.parse.quote("CONSTRUCT { ?x <linked> ?y } WHERE { ?x <knows> ?y }")
    status, ctype, body = _req(f"{server}/sparql?query={q}")
    assert status == 200 and ctype == "application/n-triples"
    assert body.decode().strip() == "<a> <linked> <b> ."


def test_post_form_query_and_update(server):
    form = urllib.parse.urlencode(
        {"update": 'INSERT DATA { <c> <rdf:type> <Person> . <c> <age> "44"^^<http://www.w3.org/2001/XMLSchema#integer> }'}
    ).encode()
    status, _, _ = _req(f"{server}/sparql", "POST", form, "application/x-www-form-urlencoded")
    assert status == 200
    q = urllib.parse.urlencode({"query": "SELECT (COUNT(?x) AS ?n) WHERE { ?x <rdf:type> <Person> }"}).encode()
    _, _, body = _req(f"{server}/sparql", "POST", q, "application/x-www-form-urlencoded")
    assert json.loads(body)["results"]["bindings"][0]["n"]["value"] == "3"


def test_post_rdf_body_insert_and_estcard(server):
    nt = b"<d> <rdf:type> <Robot> .\n<e> <rdf:type> <Robot> .\n"
    status, _, body = _req(f"{server}/sparql", "POST", nt, "application/n-triples")
    assert status == 200 and json.loads(body)["inserted"] == 2
    _, _, body = _req(f"{server}/sparql?ESTCARD&p=rdf:type")
    assert json.loads(body)["rangeCount"] >= 4  # stats may be cached pre-insert
    _, _, body = _req(f"{server}/sparql?ESTCARD&s=d&p=rdf:type")
    assert json.loads(body)["rangeCount"] == 1


def test_select_result_conneg(server):
    q = urllib.parse.quote("SELECT ?x WHERE { ?x <rdf:type> <Person> } ORDER BY ?x")
    # CSV
    status, ctype, body = _req(f"{server}/sparql?query={q}", accept="text/csv")
    assert status == 200 and ctype == "text/csv"
    lines = body.decode().strip().splitlines()
    assert lines[0] == "x" and "a" in lines and "b" in lines
    # TSV — spec: headers are ?var, terms in Turtle syntax (quoted literals)
    _, ctype, body = _req(f"{server}/sparql?query={q}", accept="text/tab-separated-values")
    assert ctype == "text/tab-separated-values"
    tsv_lines = body.decode().strip().splitlines()
    assert tsv_lines[0] == "?x"
    # subject bindings carry the iri dtype companion → angle-bracket terms
    assert "<a>" in tsv_lines and "<b>" in tsv_lines
    # XML results
    _, ctype, body = _req(f"{server}/sparql?query={q}", accept="application/sparql-results+xml")
    assert ctype == "application/sparql-results+xml"
    assert b'<variable name="x"/>' in body
    assert b'<binding name="x"><uri>a</uri></binding>' in body
    # unknown accept falls back to JSON
    _, ctype, _ = _req(f"{server}/sparql?query={q}", accept="application/weird")
    assert ctype == "application/sparql-results+json"


def test_construct_turtle_conneg(server):
    q = urllib.parse.quote("CONSTRUCT { ?x <linked> ?y } WHERE { ?x <knows> ?y }")
    status, ctype, body = _req(f"{server}/sparql?query={q}", accept="text/turtle")
    assert status == 200 and ctype == "text/turtle"
    # real Turtle writer now: prefix header + subject block
    assert "<a> <linked> <b> ." in body.decode()
    assert body.decode().startswith("@prefix")


def test_explain_param(server):
    q = urllib.parse.quote("SELECT ?x WHERE { ?x <rdf:type> <Person> }")
    status, ctype, body = _req(f"{server}/sparql?query={q}&explain")
    assert status == 200 and ctype == "text/plain"
    assert b"Physical Plan" in body
    # explain=false must NOT explain (GET)
    status, ctype, _ = _req(f"{server}/sparql?query={q}&explain=false")
    assert status == 200 and ctype == "application/sparql-results+json"


def test_explain_details_has_optimizer_trace(server):
    q = urllib.parse.quote("SELECT ?x ?y WHERE { ?x <knows> ?y . ?x <rdf:type> <Person> }")
    status, ctype, body = _req(f"{server}/sparql?query={q}&explain=details")
    assert status == 200 and ctype == "text/plain"
    text = body.decode()
    assert "Optimizer Trace" in text and '"join_order"' in text
    assert "Physical Plan" in text  # Spark plan still follows
    # the plan shown is the executed one: a SELECT carries `__dt` companions
    q = urllib.parse.quote("SELECT ?x ?n WHERE { ?x <knows> ?y . ?y <name> ?n }")
    _status, _ctype, body = _req(f"{server}/sparql?query={q}&explain=details")
    assert "n__dt" in body.decode()


def test_explain_form_post(server):
    # POST form: bare `explain` key explains; explain=false does not (ADVICE r3)
    sel = "SELECT ?x WHERE { ?x <rdf:type> <Person> }"
    form = urllib.parse.urlencode({"query": sel, "explain": ""}).encode()
    status, ctype, body = _req(
        f"{server}/sparql", "POST", form, "application/x-www-form-urlencoded"
    )
    assert status == 200 and ctype == "text/plain" and b"Physical Plan" in body
    form = urllib.parse.urlencode({"query": sel, "explain": "false"}).encode()
    status, ctype, _ = _req(
        f"{server}/sparql", "POST", form, "application/x-www-form-urlencoded"
    )
    assert status == 200 and ctype == "application/sparql-results+json"


def test_get_describe_where(server):
    # DESCRIBE ?x WHERE { P } over REST (ADVICE r2: this form previously 400'd)
    q = urllib.parse.quote("DESCRIBE ?x WHERE { ?x <knows> <b> }")
    status, ctype, body = _req(f"{server}/sparql?query={q}")
    assert status == 200 and ctype == "application/n-triples"
    lines = [ln for ln in body.decode().splitlines() if ln]
    assert len(lines) >= 3  # a's CBD: rdf:type, knows, age
    assert all(ln.startswith("<a> ") for ln in lines)
    assert any("<knows> <b>" in ln for ln in lines)


def test_delete_by_describe_where(server):
    nt = b"<dw1> <dwp> <dw2> .\n"
    _req(f"{server}/sparql", "POST", nt, "application/n-triples")
    q = urllib.parse.quote("DESCRIBE ?s WHERE { ?s <dwp> <dw2> }")
    _, _, body = _req(f"{server}/sparql?query={q}", "DELETE")
    assert json.loads(body)["removed"] == 1


def test_delete_by_query(server):
    nt = b"<x1> <tmp> <x2> .\n"
    _req(f"{server}/sparql", "POST", nt, "application/n-triples")
    q = urllib.parse.quote("CONSTRUCT { ?a <tmp> ?b } WHERE { ?a <tmp> ?b }")
    _, _, body = _req(f"{server}/sparql?query={q}", "DELETE")
    assert json.loads(body)["removed"] == 1
    ask = urllib.parse.quote("ASK WHERE { ?a <tmp> ?b }")
    _, _, body = _req(f"{server}/sparql?query={ask}")
    assert json.loads(body)["boolean"] is False


def test_namespace_crud_and_status(server):
    status, _, body = _req(f"{server}/namespace?name=scratch", "POST")
    assert status == 201
    nt = b"<n1> <in> <scratch> .\n"
    _req(f"{server}/namespace/scratch/sparql", "POST", nt, "application/n-triples")
    q = urllib.parse.quote("ASK WHERE { <n1> <in> <scratch> }")
    _, _, body = _req(f"{server}/namespace/scratch/sparql?query={q}")
    assert json.loads(body)["boolean"] is True
    # isolated: default namespace doesn't see it
    _, _, body = _req(f"{server}/sparql?query={q}")
    assert json.loads(body)["boolean"] is False
    _, _, body = _req(f"{server}/status")
    assert "scratch" in json.loads(body)["namespaces"]
    _req(f"{server}/namespace/scratch", "DELETE")
    _, _, body = _req(f"{server}/status")
    assert "scratch" not in json.loads(body)["namespaces"]


def test_put_replaces(server):
    _, _, body = _req(f"{server}/namespace?name=repl", "POST")
    _req(f"{server}/namespace/repl/sparql", "POST", b"<o1> <p> <o2> .\n", "application/n-triples")
    _req(f"{server}/namespace/repl/sparql", "PUT", b"<n1> <p> <n2> .\n", "application/n-triples")
    q = urllib.parse.quote("SELECT ?s WHERE { ?s <p> ?o }")
    _, _, body = _req(f"{server}/namespace/repl/sparql?query={q}")
    vals = [b["s"]["value"] for b in json.loads(body)["results"]["bindings"]]
    assert vals == ["n1"]


def test_bad_query_is_400(server):
    q = urllib.parse.quote("SELECT WHERE garbage {{{")
    req = urllib.request.Request(f"{server}/sparql?query={q}")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 400


def test_hasstmt_getstmts_delete_by_pattern(server):
    # access-path REST verbs (ref: HASSTMT / GETSTMTS / DeleteServlet)
    _, _, body = _req(f"{server}/namespace?name=ap", "POST")
    nt = b"<v1> <p> <v2> .\n<v1> <q> <v3> .\n<v4> <p> <v2> .\n"
    _req(f"{server}/namespace/ap/sparql", "POST", nt, "application/n-triples")
    _, _, body = _req(f"{server}/namespace/ap/sparql?HASSTMT&s=v1&p=p")
    assert json.loads(body)["found"] is True
    _, _, body = _req(f"{server}/namespace/ap/sparql?HASSTMT&s=v9")
    assert json.loads(body)["found"] is False
    status, ctype, body = _req(f"{server}/namespace/ap/sparql?GETSTMTS&p=p")
    assert status == 200 and ctype == "application/n-triples"
    lines = sorted(ln for ln in body.decode().splitlines() if ln)
    assert lines == ["<v1> <p> <v2> .", "<v4> <p> <v2> ."]
    _, _, body = _req(f"{server}/namespace/ap/sparql?s=v1&p=p", "DELETE")
    assert json.loads(body)["removed"] == 1
    _, _, body = _req(f"{server}/namespace/ap/sparql?HASSTMT&s=v1&p=p")
    assert json.loads(body)["found"] is False
    _req(f"{server}/namespace/ap", "DELETE")


def test_quad_namespace_pattern_verbs_and_trix_graphs(spark):
    """Quad stores: TriX insert keeps named graphs; c= scopes pattern
    verbs; DELETE-by-pattern neither crashes nor wipes other graphs
    (code-review r4 findings)."""
    rows = [("s0", "p", "o0", "iri", None)]
    store = UpdatableStore.from_store(
        TripleStore(
            spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string, g string")
        )
    )
    ep = SparqlEndpoint(spark, store)
    srv, port = start_background(ep)
    base = f"http://127.0.0.1:{port}"
    try:
        trix = """<?xml version="1.0"?>
<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">
  <graph><uri>g1</uri>
    <triple><uri>a</uri><uri>p</uri><uri>b</uri></triple></graph>
  <graph><uri>g2</uri>
    <triple><uri>a</uri><uri>p</uri><uri>b</uri></triple></graph>
</TriX>
""".encode()
        _req(f"{base}/sparql", "POST", trix, "application/trix")
        q = urllib.parse.quote("SELECT ?s WHERE { GRAPH <g1> { ?s <p> <b> } }")
        _, _, body = _req(f"{base}/sparql?query={q}")
        assert [b["s"]["value"] for b in json.loads(body)["results"]["bindings"]] == ["a"]
        # c= scopes the delete to one graph; g2's copy survives
        _, _, body = _req(f"{base}/sparql?s=a&p=p&c=g1", "DELETE")
        assert json.loads(body)["removed"] == 1
        _, _, body = _req(f"{base}/sparql?query={q}")
        assert json.loads(body)["results"]["bindings"] == []
        q2 = urllib.parse.quote("SELECT ?s WHERE { GRAPH <g2> { ?s <p> <b> } }")
        _, _, body = _req(f"{base}/sparql?query={q2}")
        assert [b["s"]["value"] for b in json.loads(body)["results"]["bindings"]] == ["a"]
        # unconstrained pattern delete on a quad store must not crash
        _, _, body = _req(f"{base}/sparql?s=a", "DELETE")
        assert json.loads(body)["removed"] == 1
    finally:
        srv.shutdown()


def test_tsv_types_object_iris(spark):
    """Object-position IRI bindings serialize as <iri> in TSV (dt tracking
    now flows through projection to the REST serializers)."""
    rows = [("a", "knows", "b", "iri"), ("a", "name", "Ann", "string")]
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    ep = SparqlEndpoint(spark, store)
    srv, port = start_background(ep)
    try:
        q = urllib.parse.quote("SELECT ?o WHERE { <a> <knows> ?o }")
        _, _, body = _req(
            f"http://127.0.0.1:{port}/sparql?query={q}", accept="text/tab-separated-values"
        )
        assert body.decode().strip().splitlines() == ["?o", "<b>"]
        # and SRJ types it as uri
        _, _, body = _req(f"http://127.0.0.1:{port}/sparql?query={q}")
        assert json.loads(body)["results"]["bindings"][0]["o"]["type"] == "uri"
    finally:
        srv.shutdown()


def test_timestamp_reads_commit_point(server):
    # MVCC: &timestamp=N reads commit point N while current moves on
    _req(f"{server}/namespace?name=mv", "POST")
    _req(f"{server}/namespace/mv/sparql", "POST", b"<m1> <p> <v> .\n", "application/n-triples")
    _req(f"{server}/namespace/mv/sparql", "POST", b"<m2> <p> <v> .\n", "application/n-triples")
    q = urllib.parse.quote("SELECT ?s WHERE { ?s <p> <v> }")
    _, _, body = _req(f"{server}/namespace/mv/sparql?query={q}")
    assert len(json.loads(body)["results"]["bindings"]) == 2
    # commit point 1 = after the first insert only
    _, _, body = _req(f"{server}/namespace/mv/sparql?query={q}&timestamp=1")
    vals = [b["s"]["value"] for b in json.loads(body)["results"]["bindings"]]
    assert vals == ["m1"]
    # commit point 0 = the empty namespace
    _, _, body = _req(f"{server}/namespace/mv/sparql?query={q}&timestamp=0")
    assert json.loads(body)["results"]["bindings"] == []
    with pytest.raises(urllib.error.HTTPError):
        _req(f"{server}/namespace/mv/sparql?query={q}&timestamp=99")
    _req(f"{server}/namespace/mv", "DELETE")


def test_remote_service_federation_over_http(spark, server):
    """Real SPARQL federation: remote_sparql_service with the default HTTP
    transport queries THIS repo's REST endpoint over localhost — the full
    RemoteServiceCallImpl path (protocol POST, SRJ parse, VALUES pushdown)
    with no stub anywhere."""
    from blazegraph_database_spark.operators import service

    endpoint = f"{server}/sparql"
    fn = service.remote_sparql_service(endpoint)
    out = fn(spark, {"query": "SELECT ?x WHERE { ?x <rdf:type> <Person> } {values}"})
    # earlier module tests may have inserted more Persons; a and b are seeded
    assert {"a", "b"} <= {r["x"] for r in out.collect()}
    # vectored VALUES pushdown: bindings restrict the remote evaluation
    bindings = spark.createDataFrame([("a",)], "x string")
    out2 = fn(
        spark,
        {"query": "SELECT ?x ?y WHERE { {values} ?x <knows> ?y }", "bindings": bindings},
    )
    assert [(r["x"], r["y"]) for r in out2.collect()] == [("a", "b")]
    # SERVICE clause in query text dispatches through the registry to HTTP
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    service.register_service(endpoint, fn)
    local = TripleStore(
        spark.createDataFrame(
            [("a", "localName", "Ann", "string")], "s string, p string, o_lex string, o_dt string"
        )
    )
    rows = run_sparql(
        local,
        f"SELECT ?x ?n WHERE {{ SERVICE <{endpoint}> {{ ?x <rdf:type> <Person> }} . ?x <localName> ?n }}",
    ).collect()
    assert [(r["x"], r["n"]) for r in rows] == [("a", "Ann")]


def test_bnode_bindings_serialize_as_bnodes(spark):
    """Bnode-valued bindings (tagged iri by the companion normalization but
    `_:`-prefixed) serialize as bnodes across JSON/TSV/XML writers."""
    from blazegraph_database_spark.server import rest as R

    df = spark.createDataFrame(
        [("_:b1", "iri"), ("x", "iri")], "v string, v__dt string"
    )
    j = R._select_json(df).decode()
    assert '"type": "bnode", "value": "b1"' in j and '"type": "uri", "value": "x"' in j
    t = R._select_tsv(df).decode().splitlines()
    assert "_:b1" in t and "<x>" in t
    x = R._select_xml(df).decode()
    assert "<bnode>b1</bnode>" in x and "<uri>x</uri>" in x


def test_query_timeout(server):
    """timeout= (seconds) and X-BIGDATA-MAX-QUERY-MILLIS enforce a query
    deadline: the job group is cancelled and the client gets 503 (ref:
    BigdataRDFContext query timeout); a generous deadline still answers."""
    # 5-way cartesian over all statements: far too slow for a 50ms deadline
    slow = urllib.parse.quote(
        "SELECT (COUNT(*) AS ?n) WHERE { ?a ?p1 ?o1 . ?b ?p2 ?o2 . "
        "?c ?p3 ?o3 . ?d ?p4 ?o4 . ?e ?p5 ?o5 }"
    )
    try:
        status, _, body = _req(f"{server}/sparql?query={slow}&timeout=0.05")
    except urllib.error.HTTPError as e:
        status, body = e.code, e.read()
    assert status == 503 and b"timeout" in body

    fast = urllib.parse.quote("SELECT ?x WHERE { ?x <knows> <b> }")
    status, _, body = _req(f"{server}/sparql?query={fast}&timeout=60")
    assert status == 200 and json.loads(body)["results"]["bindings"]

    # header form
    req = urllib.request.Request(f"{server}/sparql?query={slow}")
    req.add_header("X-BIGDATA-MAX-QUERY-MILLIS", "50")
    try:
        with urllib.request.urlopen(req) as resp:
            status = resp.status
    except urllib.error.HTTPError as e:
        status = e.code
    assert status == 503


def test_contexts_verb(server):
    """GET ?CONTEXTS lists the namespace's named graphs (ref: the REST
    API's CONTEXTS verb); a triples-only namespace reports none; NULL-g
    default-graph rows never break or appear in the listing."""
    status, ctype, body = _req(f"{server}/sparql?CONTEXTS")
    assert status == 200 and ctype == "application/sparql-results+json"
    doc = json.loads(body)
    assert doc["head"]["vars"] == ["contextIRI"]
    assert doc["results"]["bindings"] == []  # fixture store has no g column


def test_contexts_verb_quads(spark):
    """CONTEXTS over a quad store: named graphs listed, default-graph
    (g=NULL) rows excluded."""
    from blazegraph_database_spark.server import SparqlEndpoint, start_background

    rows = [("a", "p", "b", "iri", "g:1"), ("c", "p", "d", "iri", None)]
    store = UpdatableStore.from_store(
        TripleStore(
            spark.createDataFrame(
                rows, "s string, p string, o_lex string, o_dt string, g string"
            )
        )
    )
    srv, port = start_background(SparqlEndpoint(spark, store))
    try:
        status, _, body = _req(f"http://127.0.0.1:{port}/sparql?CONTEXTS")
        assert status == 200
        got = [b["contextIRI"]["value"] for b in json.loads(body)["results"]["bindings"]]
        assert got == ["g:1"]
    finally:
        srv.shutdown()


def test_rest_transactions(server):
    """REST Tx API (ref: the /tx endpoints): BEGIN returns a txId; updates
    and queries with txid= see the isolated shadow (read-your-writes)
    while the namespace stays unchanged; COMMIT publishes one commit
    point; a conflicting commit after an interleaved write 409s; ABORT
    discards."""
    def post(url, body=None, ctype="application/x-www-form-urlencoded"):
        try:
            return _req(url, method="POST", body=body, ctype=ctype)
        except urllib.error.HTTPError as e:
            return e.code, e.headers.get("Content-Type"), e.read()

    count_q = urllib.parse.quote("SELECT (COUNT(*) AS ?n) WHERE { ?s <tx:p> ?o }")

    def count(txid=None):
        url = f"{server}/sparql?query={count_q}" + (f"&txid={txid}" if txid else "")
        return json.loads(_req(url)[2])["results"]["bindings"][0]["n"]["value"]

    status, _, body = post(f"{server}/tx")
    assert status == 201
    tx = json.loads(body)["txId"]
    upd = urllib.parse.urlencode(
        {"update": 'INSERT DATA { <tx:a> <tx:p> "1" }', "txid": tx}
    ).encode()
    assert post(f"{server}/sparql", upd)[0] == 200
    assert count(tx) == "1"  # read-your-writes inside the tx
    assert count() == "0"  # invisible outside until commit
    status, _, _b = post(f"{server}/tx/{tx}/commit")
    assert status == 200
    assert count() == "1"

    # conflict: interleaved direct commit advances the namespace
    status, _, body = post(f"{server}/tx")
    tx2 = json.loads(body)["txId"]
    direct = urllib.parse.urlencode({"update": 'INSERT DATA { <tx:b> <tx:p> "2" }'}).encode()
    assert post(f"{server}/sparql", direct)[0] == 200
    status, _, _b = post(f"{server}/tx/{tx2}/commit")
    assert status == 409

    # abort discards
    status, _, body = post(f"{server}/tx")
    tx3 = json.loads(body)["txId"]
    assert post(f"{server}/tx/{tx3}/abort")[0] == 200
    status, _, _b = post(f"{server}/tx/{tx3}/commit")
    assert status == 404


def test_tx_hardening(server):
    """Review r4c-3: a 409-conflicted tx survives for abort; txid on
    unsupported verbs is refused instead of silently bypassing the tx."""
    def post(url, body=None, ctype="application/x-www-form-urlencoded"):
        try:
            return _req(url, method="POST", body=body, ctype=ctype)
        except urllib.error.HTTPError as e:
            return e.code, e.headers.get("Content-Type"), e.read()

    status, _, body = post(f"{server}/tx")
    tx = json.loads(body)["txId"]
    direct = urllib.parse.urlencode({"update": 'INSERT DATA { <h:a> <h:p> "1" }'}).encode()
    assert post(f"{server}/sparql", direct)[0] == 200
    assert post(f"{server}/tx/{tx}/commit")[0] == 409
    assert post(f"{server}/tx/{tx}/abort")[0] == 200  # conflict kept the tx alive

    # txid on an RDF-body insert would bypass the tx: refused
    status, _, body = post(f"{server}/tx")
    tx2 = json.loads(body)["txId"]
    try:
        status, _, _b = _req(
            f"{server}/sparql?txid={tx2}",
            method="POST",
            body=b"<x:s> <x:p> <x:o> .",
            ctype="application/n-triples",
        )
    except urllib.error.HTTPError as e:
        status = e.code
    assert status == 400
    assert post(f"{server}/tx/{tx2}/abort")[0] == 200


def test_construct_conneg_turtle_rdfxml_jsonld(server, spark, tmp_path):
    """CONSTRUCT served as Turtle-with-prefixes / RDF/XML / JSON-LD via
    Accept (ref: ConnegUtil RDFFormat table) — each body re-parses with the
    matching reader to the same triples."""
    from blazegraph_database_spark.sources import rdf_formats

    q = urllib.parse.quote(
        "CONSTRUCT { ?x <knows> ?y } WHERE { ?x <knows> ?y }"
    )
    expected = {("a", "knows", "b", "iri")}
    for accept, reader, ext in [
        ("text/turtle", rdf_formats.read_turtle, "ttl"),
        ("application/rdf+xml", rdf_formats.read_rdfxml, "rdf"),
        ("application/ld+json", rdf_formats.read_jsonld, "jsonld"),
    ]:
        status, ctype, body = _req(f"{server}/sparql?query={q}", accept=accept)
        assert status == 200 and ctype == accept
        p = tmp_path / f"resp.{ext}"
        p.write_bytes(body)
        got = {tuple(r) for r in reader(spark, str(p)).collect()}
        assert got == expected, accept
    # turtle body actually uses the prefix/grouping writer
    _, _, ttl = _req(f"{server}/sparql?query={q}", accept="text/turtle")
    assert b"@prefix" in ttl


def test_result_row_cap_413(spark):
    """Documented 413 guard: a result beyond max_result_rows aborts with
    413 instead of materializing on the driver (VERDICT r4 rest.py
    collect() finding)."""
    import urllib.error

    rows = [(f"s{i}", "p", f"o{i}", "iri") for i in range(50)]
    store = UpdatableStore.from_store(
        TripleStore(
            spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
        )
    )
    ep = SparqlEndpoint(spark, store, max_result_rows=10)
    srv, port = start_background(ep)
    try:
        q = urllib.parse.quote("SELECT ?s ?o WHERE { ?s <p> ?o }")
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req(f"http://127.0.0.1:{port}/sparql?query={q}")
        assert ei.value.code == 413
        assert "row cap" in json.loads(ei.value.read())["error"]
        # under the cap still fine (LIMIT paging path)
        q2 = urllib.parse.quote("SELECT ?s ?o WHERE { ?s <p> ?o } LIMIT 5")
        status, _, body = _req(f"http://127.0.0.1:{port}/sparql?query={q2}")
        assert status == 200 and len(json.loads(body)["results"]["bindings"]) == 5
    finally:
        srv.shutdown()


def test_solution_sets_over_http(spark):
    """Named solution sets across REST requests (ref: SolutionSetManager +
    the UPDATE grammar's INSERT INTO %set): one POST update writes the set,
    a later GET query INCLUDEs it."""
    rows = [
        ("a", "score", "10", "long"),
        ("b", "score", "20", "long"),
        ("a", "tag", "x", "string"),
        ("b", "tag", "y", "string"),
    ]
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    ep = SparqlEndpoint(spark, store)
    srv, port = start_background(ep)
    try:
        base = f"http://127.0.0.1:{port}"
        upd = urllib.parse.urlencode(
            {"update": "INSERT INTO %hi SELECT ?s WHERE { ?s <score> ?v FILTER(?v > 15) }"}
        ).encode()
        status, _, _ = _req(f"{base}/sparql", method="POST", body=upd,
                            ctype="application/x-www-form-urlencoded")
        assert status == 200
        q = urllib.parse.quote("SELECT ?s ?t WHERE { INCLUDE %hi . ?s <tag> ?t }")
        status, _, body = _req(f"{base}/sparql?query={q}")
        assert status == 200
        got = [(b["s"]["value"], b["t"]["value"])
               for b in json.loads(body)["results"]["bindings"]]
        assert got == [("b", "y")]
    finally:
        srv.shutdown()


def test_describe_mode_params(server):
    """describeMode / describeIterationLimit params (ref:
    QueryHints.java:587 DESCRIBE_MODE, :601 DESCRIBE_ITERATION_LIMIT)."""
    import urllib.error

    q = urllib.parse.quote("DESCRIBE <b>")
    # default CBD: only b's outbound statements (b has none beyond rdf:type)
    _, _, cbd = _req(f"{server}/sparql?query={q}")
    # SCBD adds inbound arcs (a knows b)
    _, _, scbd = _req(f"{server}/sparql?query={q}&describeMode=SCBD")
    assert "<a> <knows> <b>" in scbd.decode() and "<a> <knows> <b>" not in cbd.decode()
    # SymmetricOneStep behaves like SCBD here (no bnodes to recurse)
    _, _, sos = _req(f"{server}/sparql?query={q}&describeMode=SymmetricOneStep")
    assert "<a> <knows> <b>" in sos.decode()
    # bad mode → 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(f"{server}/sparql?query={q}&describeMode=Bogus")
    assert ei.value.code == 400


def test_describe_cache_hit_and_mvcc_invalidation(spark):
    """DESCRIBE cache (ref: DescribeCache.java): a repeated plain-IRI
    DESCRIBE serves the memoized materialization; an update produces a new
    version whose key misses, so results are never stale."""
    rows = [("a", "p", "1", "long")]
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    ep = SparqlEndpoint(spark, store)
    srv, port = start_background(ep)
    try:
        base = f"http://127.0.0.1:{port}"
        q = urllib.parse.quote("DESCRIBE <a>")
        _, _, b1 = _req(f"{base}/sparql?query={q}")
        assert len(ep._describe_cache) == 1
        _, _, b2 = _req(f"{base}/sparql?query={q}")
        assert b1 == b2 and len(ep._describe_cache) == 1  # hit, no new entry
        upd = urllib.parse.urlencode({"update": 'INSERT DATA { <a> <q> "2" }'}).encode()
        _req(f"{base}/sparql", method="POST", body=upd,
             ctype="application/x-www-form-urlencoded")
        _, _, b3 = _req(f"{base}/sparql?query={q}")
        assert b"<q>" in b3  # fresh version served, not the cached one
        assert len(ep._describe_cache) == 2
    finally:
        srv.shutdown()


def test_show_queries_and_cancel(spark):
    """StatusServlet parity: GET /status?showQueries lists in-flight
    queries; POST /status?cancelQuery&queryId=<id> kills the query's job
    group and the cancelled client gets 503 (ref: StatusServlet
    SHOW_QUERIES/CANCEL_QUERY + QueryCancellationHelper)."""
    import threading
    import time as _time
    import urllib.error

    rows = [(f"s{i}", "p", f"o{i}", "iri") for i in range(800)]
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    ep = SparqlEndpoint(spark, store)
    srv, port = start_background(ep)
    base = f"http://127.0.0.1:{port}"
    try:
        # a deliberately explosive aggregate: 800^3 = 512M join rows to
        # count (single result row, so no row cap — just minutes of work
        # unless cancelled)
        slow_q = urllib.parse.quote(
            "SELECT (COUNT(?a) AS ?n) WHERE { ?a <p> ?x . ?b <p> ?y . ?c <p> ?z }"
        )
        result = {}

        def client():
            try:
                st, _, _ = _req(f"{base}/sparql?query={slow_q}")
                result["status"] = st
            except urllib.error.HTTPError as e:
                result["status"] = e.code

        t = threading.Thread(target=client, daemon=True)
        t.start()
        # poll until the query shows up in the running table
        qid = None
        for _ in range(200):
            _, _, body = _req(f"{base}/status?showQueries")
            queries = json.loads(body).get("queries", [])
            if queries:
                qid = queries[0]["queryId"]
                assert queries[0]["namespace"] == "kb"
                assert "SELECT" in queries[0]["query"]
                assert queries[0]["elapsedMillis"] >= 0
                break
            _time.sleep(0.05)
        assert qid is not None, "query never appeared in showQueries"
        st, _, body = _req(
            f"{base}/status?cancelQuery&queryId={qid}", method="POST", body=b""
        )
        assert st == 200 and qid in json.loads(body)["cancelled"]
        t.join(timeout=60)
        assert not t.is_alive()
        assert result["status"] == 503  # cancelled client sees 503
        # registry drained after the request thread exits
        _, _, body = _req(f"{base}/status?showQueries")
        assert json.loads(body).get("queries", []) == []
        # cancelling an unknown id is a no-op 200
        st, _, body = _req(
            f"{base}/status?cancelQuery&queryId=deadbeef", method="POST", body=b""
        )
        assert st == 200 and json.loads(body)["cancelled"] == []
    finally:
        srv.shutdown()


def test_service_description_void(spark):
    """Queryless GET on the endpoint serves the W3C service description
    with VoID statistics (ref: webapp/SD.java:70 describeService +
    VoID.java) through the graph conneg. Own endpoint: the module fixture
    is mutated by earlier tests, and the VoID counts are exact."""
    rows = [
        ("a", "rdf:type", "Person", "iri"),
        ("b", "rdf:type", "Person", "iri"),
        ("a", "knows", "b", "iri"),
        ("a", "age", "30", "long"),
    ]
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    srv, port = start_background(SparqlEndpoint(spark, store))
    server = f"http://127.0.0.1:{port}"
    st, ctype, body = _req(f"{server}/sparql")
    assert st == 200 and ctype == "application/n-triples"
    text = body.decode()
    sd = "http://www.w3.org/ns/sparql-service-description#"
    void = "http://rdfs.org/ns/void#"
    assert f"<{sd}Service>" in text
    assert f"<{sd}supportedLanguage> <{sd}SPARQL11Update>" in text
    # endpoint IRI embeds the request host
    assert "/namespace/kb/sparql>" in text and "127.0.0.1" in text
    # VoID: fixture has 4 triples over 3 predicates, 1 class (Person x2)
    assert f'<{void}triples> "4"' in text
    assert f'<{void}properties> "3"' in text
    assert f'<{void}classes> "1"' in text
    assert f'<{void}class> <Person>' in text
    # per-property partition carries its stat count
    import re
    m = re.search(r'(_:\w+) <' + re.escape(void) + r'property> <knows>', text)
    assert m is not None
    assert re.search(re.escape(m.group(1)) + r' <' + re.escape(void) + r'triples> "1"', text)
    # conneg: Turtle form parses back through this repo's own reader
    try:
        st2, ctype2, body2 = _req(f"{server}/sparql", accept="text/turtle")
        assert st2 == 200 and ctype2 == "text/turtle"
    finally:
        srv.shutdown()


def test_backup_verb(spark, tmp_path):
    """Online backup (ref: BackupServlet): POST /backup writes the current
    version as a re-openable POS-layout parquet store; existing target =
    409; compress=true flips the parquet codec."""
    rows = [("a", "p", "1", "long"), ("b", "p", "2", "long")]
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    srv, port = start_background(SparqlEndpoint(spark, store))
    base = f"http://127.0.0.1:{port}"
    try:
        target = str(tmp_path / "bk.store")
        form = urllib.parse.urlencode({"file": target}).encode()
        st, _, body = _req(f"{base}/backup", "POST", form, "application/x-www-form-urlencoded")
        doc = json.loads(body)
        assert st == 200 and doc["backup"] == target and doc["triples"] == 2
        from blazegraph_database_spark.sources import parquet_store
        reopened = parquet_store.read_store(spark, target)
        assert reopened.df.count() == 2
        assert reopened.stats()["p"].count == 2  # stats shipped with backup
        # target exists -> 409, like the reference's must-not-exist rule
        # (urllib.error is loaded by urllib.request at module import)
        try:
            _req(f"{base}/backup", "POST", form, "application/x-www-form-urlencoded")
            assert False, "expected 409"
        except urllib.error.HTTPError as e:
            assert e.code == 409
        # compressed variant writes gzip parquet
        target2 = str(tmp_path / "bk2.store")
        form2 = urllib.parse.urlencode({"file": target2, "compress": "true"}).encode()
        st, _, _ = _req(f"{base}/backup", "POST", form2, "application/x-www-form-urlencoded")
        assert st == 200
        import glob
        assert any(".gz.parquet" in f for f in glob.glob(f"{target2}/pos/**/*.parquet", recursive=True))
    finally:
        srv.shutdown()


def test_context_uri_and_delete_with_body(spark):
    """InsertServlet context-uri= (body statements land in the named
    graph, quad-upgrading a triples-only store) and DeleteServlet
    DELETE-WITH-BODY (remove exactly the body's statements, optionally
    graph-scoped)."""
    rows = [("a", "p", "1", "long")]
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    srv, port = start_background(SparqlEndpoint(spark, store))
    base = f"http://127.0.0.1:{port}"
    try:
        nt = b"<g1s> <gp> <g1o> .\n"
        st, _, body = _req(
            f"{base}/sparql?context-uri=http://g/one", "POST", nt, "application/n-triples"
        )
        assert st == 200 and json.loads(body)["inserted"] == 1
        # the triple is visible ONLY inside GRAPH <http://g/one>
        q = urllib.parse.quote(
            "SELECT ?s WHERE { GRAPH <http://g/one> { ?s <gp> ?o } }"
        )
        _, _, body = _req(f"{base}/sparql?query={q}")
        assert [b["s"]["value"] for b in json.loads(body)["results"]["bindings"]] == ["g1s"]
        # union default graph (the SD advertises sd:UnionDefaultGraph,
        # Blazegraph's quads-mode default): graph-less patterns see it too
        q2 = urllib.parse.quote("SELECT ?s WHERE { ?s <gp> ?o }")
        _, _, body = _req(f"{base}/sparql?query={q2}")
        assert [b["s"]["value"] for b in json.loads(body)["results"]["bindings"]] == ["g1s"]
        # but it is NOT in any OTHER named graph
        qo = urllib.parse.quote("SELECT ?s WHERE { GRAPH <http://g/other> { ?s <gp> ?o } }")
        _, _, body = _req(f"{base}/sparql?query={qo}")
        assert json.loads(body)["results"]["bindings"] == []
        # DELETE-WITH-BODY, graph-scoped: removes it
        st, _, body = _req(
            f"{base}/sparql?context-uri=http://g/one", "DELETE", nt, "application/n-triples"
        )
        assert st == 200 and json.loads(body)["removed"] == 1
        _, _, body = _req(f"{base}/sparql?query={q}")
        assert json.loads(body)["results"]["bindings"] == []
        # DELETE-WITH-BODY on the default graph removes the original triple
        st, _, body = _req(
            f"{base}/sparql", "DELETE",
            b'<a> <p> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .\n',
            "application/n-triples",
        )
        assert st == 200 and json.loads(body)["removed"] == 1
    finally:
        srv.shutdown()


def test_dataloader_verb(spark, tmp_path):
    """Bulk loader (ref: DataLoaderServlet): properties-XML body with
    fileOrDirs= loads a directory of mixed-format RDF files as ONE commit
    point; durableQueues renames .good/.fail like the reference."""
    d = tmp_path / "load"
    d.mkdir()
    (d / "a.nt").write_text("<s1> <p> <o1> .\n<s2> <p> <o2> .\n")
    (d / "b.ttl").write_text("@prefix ex: <http://ex/> .\nex:s3 ex:q ex:o3 .\n")
    (d / "notes.txt").write_text("not rdf — skipped")
    (d / "bad.nt").write_text("this is not ntriples at all ???")
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame([], "s string, p string, o_lex string, o_dt string"))
    )
    srv, port = start_background(SparqlEndpoint(spark, store))
    base = f"http://127.0.0.1:{port}"
    try:
        xml = (
            '<?xml version="1.0"?><properties>'
            f'<entry key="fileOrDirs">{d}</entry>'
            '<entry key="durableQueues">true</entry>'
            "</properties>"
        ).encode()
        st, _, body = _req(f"{base}/dataloader", "POST", xml, "application/xml")
        doc = json.loads(body)
        assert st == 200 and doc["triples"] == 3
        n_versions = len(store.versions)
        assert store.current.df.count() == 3  # one commit point for all files
        # durable queues renamed processed files
        names = sorted(f.name for f in d.iterdir())
        assert "a.nt.good" in names and "b.ttl.good" in names
        # a malformed file fails soft under durableQueues... (bad.nt may
        # parse to 0 rows rather than raise with a lenient line reader —
        # accept either .fail or .good, but it must not block the load)
        assert any(n.startswith("bad.nt") for n in names)
        assert "notes.txt" in names  # non-RDF extension untouched
        # fileOrDirs required
        try:
            _req(f"{base}/dataloader", "POST", b"{}", "application/json")
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_namespace_properties(server):
    """GET /namespace/<ns>/properties (ref: MultiTenancyServlet 'Show
    properties'): Java properties-XML with the namespace's effective
    configuration."""
    st, ctype, body = _req(f"{server}/namespace/kb/properties")
    assert st == 200 and ctype == "application/xml"
    text = body.decode()
    assert '<entry key="com.bigdata.rdf.sail.namespace">kb</entry>' in text
    assert 'AbstractTripleStore.quads">' in text
    assert '<entry key="commitPoints">' in text


def test_namespace_counters_and_truth_maintenance(spark):
    """GET /namespace/<ns>/counters serves per-predicate counts, and the
    properties' truthMaintenance entry follows ENABLE/DISABLE ENTAILMENTS."""
    rows = [
        ("a", "rdf:type", "Person", "iri"),
        ("b", "rdf:type", "Person", "iri"),
        ("a", "knows", "b", "iri"),
    ]
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    srv, port = start_background(SparqlEndpoint(spark, store))
    base = f"http://127.0.0.1:{port}"
    tm_key = '<entry key="com.bigdata.rdf.sail.truthMaintenance">'

    def tm(ns):
        return _req(f"{base}/namespace/{ns}/properties")[2].decode()

    try:
        st, ctype, body = _req(f"{base}/namespace/kb/counters")
        assert st == 200 and ctype == "application/json"
        assert json.loads(body) == {
            "rdf:type": {"count": 2, "distinct_s": 2, "distinct_o": 1},
            "knows": {"count": 1, "distinct_s": 1, "distinct_o": 1},
        }
        st, _, _ = _req(f"{base}/namespace?name=tm", "POST")
        assert st == 201
        assert tm_key + "false<" in tm("tm")
        for verb, want in (("ENABLE", "true"), ("DISABLE", "false")):
            form = urllib.parse.urlencode({"update": f"{verb} ENTAILMENTS"}).encode()
            st, _, _ = _req(
                f"{base}/namespace/tm/sparql", "POST", form, "application/x-www-form-urlencoded"
            )
            assert st == 200
            assert tm_key + want + "<" in tm("tm")
        assert tm_key + "false<" in tm("kb")  # the other namespace is untouched
    finally:
        srv.shutdown()


def test_namespace_create_properties_body(spark):
    """POST /namespace with the reference's properties-XML body (ref:
    RestApiCreateKBTask): com.bigdata.rdf.sail.namespace names the KB,
    ...AbstractTripleStore.quads selects quads mode; existing KB -> 409."""
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame([("a", "p", "1", "long")],
                    "s string, p string, o_lex string, o_dt string"))
    )
    srv, port = start_background(SparqlEndpoint(spark, store))
    base = f"http://127.0.0.1:{port}"
    try:
        xml = (
            '<?xml version="1.0"?><properties>'
            '<entry key="com.bigdata.rdf.sail.namespace">kb2</entry>'
            '<entry key="com.bigdata.rdf.store.AbstractTripleStore.quads">true</entry>'
            "</properties>"
        ).encode()
        st, _, body = _req(f"{base}/namespace", "POST", xml, "application/xml")
        assert st == 201 and json.loads(body)["created"] == "kb2"
        # the new namespace is quads-mode: properties endpoint reflects it
        _, _, body = _req(f"{base}/namespace/kb2/properties")
        assert 'AbstractTripleStore.quads">true<' in body.decode()
        # duplicate -> 409
        try:
            _req(f"{base}/namespace", "POST", xml, "application/xml")
            assert False, "expected 409"
        except urllib.error.HTTPError as e:
            assert e.code == 409
    finally:
        srv.shutdown()


def test_client_assigned_query_id(spark):
    """queryId= on the query request itself (ref: StatusServlet.java — the
    same parameter name associates a request with a UUID) lets a client
    cancel its own query without polling showQueries."""
    import threading
    import time as _time
    import urllib.error

    rows = [(f"s{i}", "p", f"o{i}", "iri") for i in range(800)]
    store = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    srv, port = start_background(SparqlEndpoint(spark, store))
    base = f"http://127.0.0.1:{port}"
    try:
        slow_q = urllib.parse.quote(
            "SELECT (COUNT(?a) AS ?n) WHERE { ?a <p> ?x . ?b <p> ?y . ?c <p> ?z }"
        )
        result = {}

        def client():
            try:
                st, _, _ = _req(f"{base}/sparql?query={slow_q}&queryId=myquery01")
                result["status"] = st
            except urllib.error.HTTPError as e:
                result["status"] = e.code

        t = threading.Thread(target=client, daemon=True)
        t.start()
        for _ in range(100):  # wait until registered under OUR id
            _, _, body = _req(f"{base}/status?showQueries")
            if any(q["queryId"] == "myquery01" for q in json.loads(body).get("queries", [])):
                break
            _time.sleep(0.05)
        st, _, body = _req(
            f"{base}/status?cancelQuery&queryId=myquery01", method="POST", body=b""
        )
        assert st == 200 and json.loads(body)["cancelled"] == ["myquery01"]
        t.join(timeout=60)
        assert result["status"] == 503
    finally:
        srv.shutdown()


def test_include_inferred_false(spark):
    """includeInferred=false queries/counts ONLY the explicit set (ref:
    QueryServlet.java INCLUDE_INFERRED; BigdataRDFContext.java:771)."""
    import json as _json
    from urllib.parse import quote

    rows = [
        ("Car", "rdfs:subClassOf", "Vehicle", "iri"),
        ("c1", "rdf:type", "Car", "iri"),
    ]
    us = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    # compute the closure so c1 rdf:type Vehicle is inferred
    us.insert_with_closure(
        spark.createDataFrame(
            [("c2", "rdf:type", "Car", "iri")], "s string, p string, o_lex string, o_dt string"
        )
    )
    ep = SparqlEndpoint(spark, us)
    srv, port = start_background(ep)
    try:
        base = f"http://127.0.0.1:{port}"
        q = quote("SELECT ?t WHERE { <c1> <rdf:type> ?t }")
        _, _, body = _req(f"{base}/sparql?query={q}")
        types = {b["t"]["value"] for b in _json.loads(body)["results"]["bindings"]}
        assert types == {"Car", "Vehicle"}  # closure visible by default
        _, _, body = _req(f"{base}/sparql?query={q}&includeInferred=false")
        types = {b["t"]["value"] for b in _json.loads(body)["results"]["bindings"]}
        assert types == {"Car"}  # explicit only
        # ESTCARD honors it too
        _, _, body = _req(f"{base}/sparql?ESTCARD&p={quote('rdf:type')}")
        n_all = _json.loads(body)["rangeCount"]
        _, _, body = _req(f"{base}/sparql?ESTCARD&p={quote('rdf:type')}&includeInferred=false")
        n_exp = _json.loads(body)["rangeCount"]
        assert n_exp == 2 and n_all > n_exp
        # HASSTMT / GETSTMTS honor it (BLZG-1207 parity)
        probe = f"s={quote('c1')}&p={quote('rdf:type')}&o={quote('Vehicle')}"
        _, _, body = _req(f"{base}/sparql?HASSTMT&{probe}")
        assert _json.loads(body)["found"] is True
        _, _, body = _req(f"{base}/sparql?HASSTMT&{probe}&includeInferred=false")
        assert _json.loads(body)["found"] is False
        _, _, body = _req(f"{base}/sparql?GETSTMTS&s={quote('c1')}&includeInferred=false")
        assert b"Vehicle" not in body and b"Car" in body
    finally:
        srv.shutdown()


def _tm_endpoint(spark, rows):
    us = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    return us, SparqlEndpoint(spark, us)


def _select_rows(ep, text, **params):
    status, _, body = ep.dispatch("GET", "/sparql", {"query": text, **params}, "", b"")
    assert status == 200, body
    doc = json.loads(body)
    return {
        tuple(b[v]["value"] for v in doc["head"]["vars"] if v in b)
        for b in doc["results"]["bindings"]
    }


def test_tx_commit_hands_over_entailment_bookkeeping(spark):
    """A REST transaction commits through the store's one commit function:
    the shadow's Explicit/Inferred partition comes along, so a triple the
    transaction asserted explicitly survives a later DROP ENTAILMENTS."""
    us, ep = _tm_endpoint(spark, [
        ("c1", "rdfs:subClassOf", "c2", "iri"),
        ("x", "rdf:type", "c1", "iri"),
    ])
    ns = ep.default_ns
    assert ep.update(ns, "CREATE ENTAILMENTS")[0] == 200
    tx = json.loads(ep.dispatch("POST", "/tx", {}, "", b"")[2])["txId"]
    upd = {"update": "INSERT DATA { <x> <rdf:type> <c2> }", "txid": tx}
    assert ep.dispatch("POST", "/sparql", upd, "", b"")[0] == 200
    assert ep.dispatch("POST", f"/tx/{tx}/commit", {}, "", b"")[0] == 200
    assert ep.update(ns, "DROP ENTAILMENTS")[0] == 200
    assert _select_rows(ep, "SELECT ?t WHERE { <x> <rdf:type> ?t }") == {("c1",), ("c2",)}


@pytest.mark.parametrize("verb", ["PUT", "DELETE"])
def test_whole_store_rest_writes_keep_explicit_set_current(spark, verb):
    """PUT (replace) and the query-less DELETE (clear) commit through the
    store's one commit function, so the explicit set behind
    includeInferred=false describes the new version, not the cleared one;
    a PUT whose body fails is one rolled-back commit point."""
    us, ep = _tm_endpoint(spark, [("Car", "rdfs:subClassOf", "Vehicle", "iri")])
    ns = ep.default_ns
    assert ep.update(ns, "ENABLE ENTAILMENTS ; INSERT DATA { <c1> <rdf:type> <Car> }")[0] == 200
    everything = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"
    before = _select_rows(ep, everything)
    explicit = {("Car", "rdfs:subClassOf", "Vehicle"), ("c1", "rdf:type", "Car")}
    assert _select_rows(ep, everything, includeInferred="false") == explicit
    if verb == "PUT":
        body = b"<n1> <knows> <n2> .\n"
        # a blank context-uri fails after the clear: nothing may change
        assert ep.dispatch("PUT", "/sparql", {"context-uri": ","}, "text/plain", body)[0] == 400
        assert _select_rows(ep, everything) == before
        assert _select_rows(ep, everything, includeInferred="false") == explicit
        assert ep.dispatch("PUT", "/sparql", {}, "text/plain", body)[0] == 200
        want = {("n1", "knows", "n2")}
    else:
        assert ep.dispatch("DELETE", "/sparql", {}, "", b"")[0] == 200
        want = set()
    assert _select_rows(ep, everything) == want
    assert _select_rows(ep, everything, includeInferred="false") == want
