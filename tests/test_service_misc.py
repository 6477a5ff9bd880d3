"""SERVICE registry, skew helpers, dictionary encoding, and named-graph
(GRAPH) scoping tests — the remaining SURVEY §2 line items."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.model.terms import Var as V
from blazegraph_database_spark.operators import service, skew
from blazegraph_database_spark.plans import algebra as A
from blazegraph_database_spark.plans.compiler import evaluate


def test_service_unknown_iri_raises(spark):
    with pytest.raises(KeyError):
        service.call_service(spark, "no:such", {})


def test_remote_service_default_transport_is_http(spark):
    # default transport really attempts the SPARQL-protocol POST — an
    # unreachable endpoint surfaces a transport error, not a stub
    fn = service.remote_sparql_service("http://127.0.0.1:9/sparql")
    with pytest.raises(OSError):
        fn(spark, {"query": "SELECT * WHERE { ?s ?p ?o }"})


def test_build_http_request_protocol_shape():
    url, headers, body = service.build_http_request(
        "http://ex.org/sparql", 'SELECT ?x WHERE { ?x <p> "a b" }'
    )
    assert url == "http://ex.org/sparql"
    assert headers["Content-Type"] == "application/x-www-form-urlencoded"
    # dual negotiation: JSON preferred, XML accepted at q=0.9 so XML-only
    # endpoints can federate (see operators/service parse_srx)
    assert headers["Accept"].startswith("application/sparql-results+json")
    assert "application/sparql-results+xml" in headers["Accept"]
    import urllib.parse

    form = urllib.parse.parse_qs(body.decode())
    assert form["query"] == ['SELECT ?x WHERE { ?x <p> "a b" }']


def test_parse_srj_fixture():
    # stored SPARQL 1.1 protocol response: typed terms, lang tags, unbound
    fixture = {
        "head": {"vars": ["x", "name", "age"]},
        "results": {
            "bindings": [
                {
                    "x": {"type": "uri", "value": "http://ex.org/a"},
                    "name": {"type": "literal", "value": "Ann", "xml:lang": "en"},
                    "age": {
                        "type": "literal",
                        "value": "30",
                        "datatype": "http://www.w3.org/2001/XMLSchema#integer",
                    },
                },
                {"x": {"type": "bnode", "value": "b0"}},  # name/age unbound
            ]
        },
    }
    import json as _json

    rows = service.parse_srj(_json.dumps(fixture))
    assert rows == [
        {"x": "http://ex.org/a", "name": "Ann", "age": "30"},
        {"x": "b0"},
    ]
    assert service.parse_srj('{"head":{"vars":[]},"results":{"bindings":[]}}') == []


def test_serialize_values_escaping():
    block = service._serialize_values(["a", "b"], [{"a": 'say "hi"', "b": None}])
    assert block == 'VALUES (?a ?b) { ("say \\"hi\\"" UNDEF) }'


def test_salted_groupby_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(100)] + [("cold", 1.0)], "k string, v double"
    )
    out = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in skew.salted_groupby_agg(
            df, "k", [("n", "count", "v"), ("s", "sum", "v"), ("mn", "min", "v"), ("mx", "max", "v")]
        ).collect()
    }
    assert out["hot"] == (100, sum(float(i) for i in range(100)), 0.0, 99.0)
    assert out["cold"] == (1, 1.0, 1.0, 1.0)


def test_salted_join_matches_plain(spark):
    big = spark.createDataFrame([("a", i) for i in range(50)] + [("b", 0)], "k string, v long")
    small = spark.createDataFrame([("a", "x"), ("b", "y"), ("c", "z")], "k string, tag string")
    plain = {(r["k"], r["v"], r["tag"]) for r in big.join(small, on="k").collect()}
    salted = {(r["k"], r["v"], r["tag"]) for r in skew.salted_join(big, small, on="k", salts=4).collect()}
    assert salted == plain


def test_dictionary_roundtrip(spark):
    from blazegraph_database_spark.model import dictionary

    st = TripleStore(
        spark.createDataFrame(
            [("a", "knows", "b", "iri"), ("a", "age", "30", "long")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    enc = dictionary.encode(st)
    assert set(enc.triples.columns) == {"s_id", "p_id", "o_id"}
    dec = dictionary.decode(enc)
    assert sorted(map(tuple, dec.df.select("s", "p", "o_lex", "o_dt").collect())) == sorted(
        map(tuple, st.df.collect())
    )


def test_dictionary_persist_roundtrip(spark, tmp_path):
    from blazegraph_database_spark.model import dictionary

    st = TripleStore(
        spark.createDataFrame(
            [("a", "knows", "b", "iri"), ("b", "name", "Bob", "string")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    path = str(tmp_path / "encstore")
    dictionary.save_encoded(dictionary.encode(st), path, id_buckets=4)
    back = dictionary.decode(dictionary.load_encoded(spark, path))
    assert sorted(map(tuple, back.df.collect())) == sorted(map(tuple, st.df.collect()))


def test_dictionary_wide_and_narrow_tiers(spark, tmp_path):
    """128-bit (default) and 64-bit encodings are result-identical through
    encode→decode, the wide id is a two-long struct, and the persisted
    store's build-time TERM2ID soundness check raises on an id that maps
    to two terms (r10 verdict: hash ids must be collision-safe at the
    100 TB design point)."""
    import pytest

    from blazegraph_database_spark.model import dictionary

    st = TripleStore(
        spark.createDataFrame(
            [("a", "knows", "b", "iri"), ("a", "age", "30", "long"),
             ("b", "name", "Bob", "string")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    rows = sorted(map(tuple, st.df.collect()))
    wide, narrow = dictionary.encode(st, wide=True), dictionary.encode(st, wide=False)
    assert dict(wide.triples.dtypes)["s_id"] == "struct<h1:bigint,h2:bigint>"
    assert dict(narrow.triples.dtypes)["s_id"] == "bigint"
    for enc in (wide, narrow):
        assert sorted(map(tuple, dictionary.decode(enc).df.collect())) == rows
        assert dictionary.colliding_ids(enc).count() == 0
    # fabricated collision: one id, two lexical forms → verify must raise
    bad = dictionary.EncodedStore(
        narrow.triples,
        spark.createDataFrame(
            [(7, "termA", "iri"), (7, "termB", "iri")], "id long, lex string, dt string"
        ),
    )
    with pytest.raises(ValueError, match="collision"):
        dictionary.save_encoded(bad, str(tmp_path / "badstore"))
    # verify=False keeps the unchecked fast path available
    dictionary.save_encoded(bad, str(tmp_path / "uncheckedstore"), verify=False)


def test_graph_scope_quads(spark):
    quads = spark.createDataFrame(
        [
            ("a", "p", "1", "long", "g1"),
            ("a", "p", "2", "long", "g2"),
            ("b", "p", "3", "long", "g1"),
        ],
        "s string, p string, o_lex string, o_dt string, g string",
    )
    st = TripleStore(quads)
    out = evaluate(st, A.GraphScope("g1", A.SP(V("x"), "p", V("v"))))
    assert {(r["x"], r["v"]) for r in out.collect()} == {("a", "1"), ("b", "3")}
    # variable graph binds the graph name
    out2 = evaluate(st, A.GraphScope(V("g"), A.SP(V("x"), "p", V("v"))))
    assert {(r["g"], r["x"]) for r in out2.collect()} == {("g1", "a"), ("g1", "b"), ("g2", "a")}


def test_remote_service_vectored_values(spark):
    """Injectable transport exercises the full vectored SERVICE join:
    bindings chunked into VALUES blocks, remote rows reassembled."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.operators.service import remote_sparql_service
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    remote_rows = [
        ("a", "name", "Alice", "string"), ("b", "name", "Bob", "string"),
        ("c", "name", "Carol", "string"),
    ]
    remote_store = TripleStore(
        spark.createDataFrame(remote_rows, "s string, p string, o_lex string, o_dt string")
    )
    calls = []

    def transport(endpoint, text):
        calls.append(text)
        return [r.asDict() for r in run_sparql(remote_store, text).collect()]

    svc = remote_sparql_service("http://remote.example/sparql", transport)
    bindings = spark.createDataFrame([("a",), ("c",), ("zzz",)], "x string")
    out = svc(spark, {
        "query": "SELECT ?x ?n WHERE { {values} ?x <name> ?n }",
        "bindings": bindings,
        "chunk_size": 2,  # force 2 vectored calls
    })
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("a", "Alice"), ("c", "Carol")]
    assert len(calls) == 2 and all("VALUES (?x)" in c for c in calls)


def test_service_clause_bds_search_text(spark):
    """SERVICE <bds:search> { ?s bds:search "..." } in query text: matches
    subjects whose string literals hit the query, joined with the rest."""
    st = TripleStore(
        spark.createDataFrame(
            [
                ("d1", "title", "spark engine internals", "string"),
                ("d2", "title", "cooking with gas", "string"),
                ("d1", "year", "2024", "long"),
                ("d2", "year", "2020", "long"),
            ],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    out = run_sparql(
        st,
        """
        SELECT ?s ?y WHERE {
          SERVICE <bds:search> { ?lit <bds:search> "spark engi*" . ?lit <bds:matchAllTerms> "true" }
          ?s <title> ?lit .
          ?s <year> ?y
        }
        """,
    )
    assert [(r["s"], r["y"]) for r in out.collect()] == [("d1", "2024")]


def test_service_bds_relevance_rank_bindings(spark):
    """bds:relevance / bds:rank bind the hit's score and 1-based rank to
    variables (ref: BDS.java RELEVANCE/RANK magic predicates)."""
    st = TripleStore(
        spark.createDataFrame(
            [
                ("d1", "title", "spark spark spark", "string"),
                ("d2", "title", "spark once only here", "string"),
                ("d3", "title", "nothing relevant", "string"),
            ],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    out = run_sparql(
        st,
        """
        SELECT ?s ?score ?r WHERE {
          SERVICE <bds:search> {
            ?s <bds:search> "spark" .
            ?s <bds:relevance> ?score .
            ?s <bds:rank> ?r .
          }
        }
        """,
    ).collect()
    got = {r["s"]: (r["score"], r["r"]) for r in out}
    # literal contract: the search var binds the matched literal; cosine
    # relevance of the pure-"spark" literal is exactly 1.0
    assert set(got) == {"spark spark spark", "spark once only here"}
    assert got["spark spark spark"] == (1.0, 1)
    assert got["spark once only here"][1] == 2
    assert 0 < got["spark once only here"][0] < 1.0


def test_service_clause_remote_transport(spark):
    """SERVICE <http://...> dispatches the serialized block through a
    transport-backed registration."""
    from blazegraph_database_spark.model.store import TripleStore as TS
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.operators.service import (
        register_service, remote_sparql_service,
    )

    remote = TS(
        spark.createDataFrame(
            [("a", "name", "Alice", "string")], "s string, p string, o_lex string, o_dt string"
        )
    )

    def transport(endpoint, text):
        return [r.asDict() for r in run_sparql(remote, text).collect()]

    register_service("http://remote.example/sparql", remote_sparql_service("http://remote.example/sparql", transport))
    local = TS(
        spark.createDataFrame(
            [("a", "age", "30", "long")], "s string, p string, o_lex string, o_dt string"
        )
    )
    out = run_sparql(
        local,
        'SELECT ?x ?n ?a WHERE { SERVICE <http://remote.example/sparql> { ?x <name> ?n } ?x <age> ?a }',
    )
    assert [tuple(r) for r in out.select("x", "n", "a").collect()] == [("a", "Alice", "30")]


def test_service_silent_failure(spark):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("a", "age", "30", "long")], "s string, p string, o_lex string, o_dt string"
        )
    )
    out = run_sparql(
        st,
        'SELECT ?s ?a WHERE { SERVICE SILENT <no:such> { ?s <p> ?o } ?s <age> ?a }',
    )
    assert [(r["s"], r["a"]) for r in out.collect()] == [("a", "30")]
    # a built-in's failure (gas:service without gas:gasClass) is ignored
    # the same way (SPARQL 1.1 Federated Query §4)
    out = run_sparql(
        st,
        "SELECT ?s ?a WHERE { SERVICE SILENT gas:service { gas:program gas:out ?v } "
        "?s <age> ?a }",
    )
    assert [(r["s"], r["a"]) for r in out.collect()] == [("a", "30")]
    with pytest.raises(ValueError, match="gasClass"):
        run_sparql(st, "SELECT ?v WHERE { SERVICE gas:service { gas:program gas:out ?v } }")


def test_describe_var_where(spark):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [
                ("a", "age", "30", "long"),
                ("a", "name", "Alice", "string"),
                ("b", "age", "7", "long"),
            ],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    out = run_sparql(st, 'DESCRIBE ?x WHERE { ?x <age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> }')
    rows = {tuple(r) for r in out.select("s", "p", "o_lex", "o_dt").collect()}
    assert rows == {("a", "age", "30", "long"), ("a", "name", "Alice", "string")}


def _edge_store(spark, pairs, pred="link"):
    rows = [(a, pred, b, "iri") for a, b in pairs]
    return TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )


def test_gas_service_bfs_and_directions(spark):
    """SERVICE <gas:service> BFS: out/out1/out2 bind vertex/depth/pred
    (ref GASService.java + BFS.java Bindings); traversalDirection Reverse
    flips edges; the full-namespace IRI form resolves like gas:."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _edge_store(spark, [("a", "b"), ("b", "c")])
    q = """
    PREFIX gas: <http://www.bigdata.com/rdf/gas#>
    SELECT ?v ?d ?p WHERE {
      SERVICE <http://www.bigdata.com/rdf/gas#service> {
        gas:program gas:gasClass "com.bigdata.rdf.graph.analytics.BFS" .
        gas:program gas:in <a> .
        gas:program gas:linkType <link> .
        gas:program gas:out ?v .
        gas:program gas:out1 ?d .
        gas:program gas:out2 ?p .
      }
    }
    """
    got = {(r["v"], r["d"], r["p"]) for r in run_sparql(st, q).collect()}
    assert got == {("a", 0, None), ("b", 1, "a"), ("c", 2, "b")}
    qrev = q.replace("gas:in <a>", 'gas:in <c> . gas:program gas:traversalDirection "Reverse"')
    got = {(r["v"], r["d"]) for r in run_sparql(st, qrev).select("v", "d").collect()}
    assert got == {("c", 0), ("b", 1), ("a", 2)}


def test_gas_service_cc_pr_sssp(spark):
    """CC binds component labels, PR ranks sum to ~1, SSSP binds unit-hop
    distances; maxIterations caps BFS expansion; maxVisited truncates."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _edge_store(spark, [("a", "b"), ("c", "d")])
    tmpl = """
    PREFIX gas: <http://www.bigdata.com/rdf/gas#>
    SELECT %s WHERE {
      SERVICE gas:service {
        gas:program gas:gasClass "com.bigdata.rdf.graph.analytics.%s" .
        %s
        gas:program gas:out ?v .
        %s
      }
    }
    """
    cc = run_sparql(st, tmpl % ("?v ?c", "CC", "", "gas:program gas:out1 ?c .")).collect()
    comp = {r["v"]: r["c"] for r in cc}
    assert comp["a"] == comp["b"] and comp["c"] == comp["d"] and comp["a"] != comp["c"]

    pr = run_sparql(st, tmpl % ("?v ?r", "PR", "", "gas:program gas:out1 ?r .")).collect()
    assert abs(sum(r["r"] for r in pr) - 1.0) < 1e-6

    sssp = run_sparql(
        st,
        tmpl % ("?v ?dist", "SSSP", "gas:program gas:in <a> .", "gas:program gas:out1 ?dist ."),
    ).collect()
    assert {(r["v"], r["dist"]) for r in sssp} == {("a", 0.0), ("b", 1.0)}

    capped = run_sparql(
        st,
        tmpl
        % (
            "?v",
            "BFS",
            "gas:program gas:in <a> . gas:program gas:maxVisited 1 .",
            "",
        ),
    ).collect()
    assert [r["v"] for r in capped] == ["a"]


def test_geo_service_circle_and_time(spark):
    """SERVICE <geo:search> inCircle binds distanceValue; timeStart/timeEnd
    filter the literal's third dimension (lat#lon#time layout)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("e1", "loc", "10.0#20.0#100", "geo"),
        ("e2", "loc", "10.5#20.5#200", "geo"),
        ("e3", "loc", "80.0#170.0#150", "geo"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = """
    PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
    SELECT ?res ?d ?t WHERE {
      SERVICE geo:search {
        ?res geo:search "inCircle" .
        ?res geo:predicate <loc> .
        ?res geo:spatialCircleCenter "10#20" .
        ?res geo:spatialCircleRadius "200" .
        ?res geo:distanceValue ?d .
        ?res geo:timeValue ?t .
      }
    }
    """
    got = {(r["res"], r["t"]) for r in run_sparql(st, q).collect()}
    assert got == {("e1", 100), ("e2", 200)}
    q2 = q.replace('?res geo:distanceValue ?d .', '?res geo:distanceValue ?d . ?res geo:timeEnd 150 .')
    got = {r["res"] for r in run_sparql(st, q2).collect()}
    assert got == {"e1"}


def test_gas_service_weighted_sssp_link_attr(spark):
    """gas:linkAttrType resolves SSSP edge weights through RDR statement
    metadata (ref: GASService LINK_ATTR_TYPE via SIDs): `<<s link o>>
    <w> n` rows weight the edge; unannotated edges default to 1.0."""
    from blazegraph_database_spark.model.terms import sid_col
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [("a", "link", "b", "iri"), ("b", "link", "c", "iri"), ("a", "link", "c", "iri")],
        "s string, p string, o_lex string, o_dt string",
    )
    # weight a->c so the two-hop a->b->c route (1 + 1) beats it
    meta = base.filter("s = 'a' and o_lex = 'c'").select(
        sid_col().alias("s"), F.lit("w").alias("p"),
        F.lit("9.5").alias("o_lex"), F.lit("double").alias("o_dt"),
    )
    st = TripleStore(base.unionByName(meta))
    q = """
    PREFIX gas: <http://www.bigdata.com/rdf/gas#>
    SELECT ?v ?d WHERE {
      SERVICE gas:service {
        gas:program gas:gasClass "com.bigdata.rdf.graph.analytics.SSSP" .
        gas:program gas:in <a> .
        gas:program gas:linkType <link> .
        gas:program gas:linkAttrType <w> .
        gas:program gas:out ?v .
        gas:program gas:out1 ?d .
      }
    }
    """
    got = {(r["v"], r["d"]) for r in run_sparql(st, q).collect()}
    assert got == {("a", 0.0), ("b", 1.0), ("c", 2.0)}  # not 9.5 via the direct edge


def test_remote_service_binding_cap(spark):
    """VERDICT r4: the driver-vectored binding set is capped — a
    larger-than-cap set fails loud (with remedies) instead of dragging
    every row through the driver; the collect itself is bounded by
    limit(cap+1)."""
    import pytest as _pytest

    from blazegraph_database_spark.operators.service import remote_sparql_service

    def transport(endpoint, text):
        return []

    svc = remote_sparql_service("http://remote.example/sparql", transport)
    bindings = spark.range(50).selectExpr("CAST(id AS STRING) AS x")
    with _pytest.raises(ValueError, match="max_bindings"):
        svc(spark, {
            "query": "SELECT ?x WHERE { {values} ?x <p> ?o }",
            "bindings": bindings,
            "max_bindings": 10,
        })
    # at/below the cap: proceeds (empty remote result is fine)
    out = svc(spark, {
        "query": "SELECT ?x WHERE { {values} ?x <p> ?o }",
        "bindings": bindings,
        "max_bindings": 50,
    })
    assert out.count() == 0


def test_bd_sample_even_and_random(spark):
    """bd:sample EVEN (every total/N-th in key order) and seeded RANDOM
    (ref: SampleIndex.java SampleType)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [(f"s{i:02d}", "p", f"o{i}", "iri") for i in range(30)]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    base = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?s WHERE {{
      SERVICE <http://www.bigdata.com/rdf#sample> {{
        ?s <p> ?o .
        bd:serviceParam bd:sample.limit "6" .
        bd:serviceParam bd:sample.sampleType "{t}" .
        bd:serviceParam bd:sample.seed "7" .
      }}
    }}
    """
    even = sorted(r.s for r in run_sparql(st, base.format(t="EVEN")).collect())
    assert even == ["s00", "s05", "s10", "s15", "s20", "s25"]
    rnd1 = sorted(r.s for r in run_sparql(st, base.format(t="RANDOM")).collect())
    assert len(rnd1) == 6 and set(rnd1) <= {f"s{i:02d}" for i in range(30)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sampleType"):
        run_sparql(st, base.format(t="BOGUS"))


def test_stored_query_service(spark):
    """StoredQueryService analog (ref: storedquery/StoredQueryService.java):
    register SPARQL text or a callable; SERVICE <iri> { bd:serviceParam }
    invokes it with the parsed params."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.operators import service
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [(f"s{i}", "p", f"o{i}", "iri") for i in range(5)]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    service.register_stored_query(
        "http://app/stored#all", "SELECT ?s WHERE { ?s <p> ?o } ORDER BY ?s"
    )
    got = [r.s for r in run_sparql(
        st, "SELECT ?s WHERE { SERVICE <http://app/stored#all> { } }"
    ).collect()]
    assert got == [f"s{i}" for i in range(5)]

    def limited(store, params):
        n = int(params["http://app/limit"][0])
        return run_sparql(store, f"SELECT ?s WHERE {{ ?s <p> ?o }} ORDER BY ?s LIMIT {n}")

    service.register_stored_query("http://app/stored#limited", limited)
    q = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?s WHERE {
      SERVICE <http://app/stored#limited> { bd:serviceParam <http://app/limit> "2" }
    }
    """
    assert [r.s for r in run_sparql(st, q).collect()] == ["s0", "s1"]


def test_bd_values_service(spark):
    """bd:values — VALUES-as-service (ref: ValuesServiceFactory.java:92)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("a", "name", "Alice", "string"), ("b", "name", "Bob", "string"),
            ("c", "name", "Carol", "string")]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?x ?n WHERE {
      SERVICE <http://www.bigdata.com/rdf#values> {
        bd:serviceParam bd:values.var ?x .
        bd:serviceParam bd:values.val "a" .
        bd:serviceParam bd:values.val "c" .
      }
      ?x <name> ?n .
    }
    """
    got = sorted((r.x, r.n) for r in run_sparql(st, q).collect())
    assert got == [("a", "Alice"), ("c", "Carol")]


def test_bd_history_service(spark):
    """SERVICE <bd:history> — the history-index query surface over the
    MVCC changelog (ref: history/HistoryServiceFactory.java:1)."""
    import pytest as _pytest

    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.update.update import UpdatableStore

    df = spark.createDataFrame(
        [("a", "p", "1", "long")], "s string, p string, o_lex string, o_dt string"
    )
    us = UpdatableStore.from_store(TripleStore(df))
    us.insert_data(spark.createDataFrame([("b", "p", "2", "long")], df.schema))
    us.delete_data(spark.createDataFrame([("a", "p", "1", "long")], df.schema))
    q = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?s ?action ?commit WHERE {
      SERVICE <http://www.bigdata.com/rdf#history> {
        ?s <p> ?o .
        bd:serviceParam bd:history.action ?action .
        bd:serviceParam bd:history.commit ?commit .
      }
    }
    """
    got = {tuple(r) for r in run_sparql(us.query_store, q).collect()}
    assert got == {("b", "added", 1), ("a", "removed", 2)}
    # since= filters commits; constant-subject filters records
    q2 = q.replace("?s <p> ?o .", '?s <p> ?o . bd:serviceParam bd:history.since "1" .')
    assert {r.s for r in run_sparql(us.query_store, q2).collect()} == {"a"}
    # a bare store (no version list) refuses
    with _pytest.raises(ValueError, match="updatable"):
        run_sparql(TripleStore(df), q)


def test_fts_external_search_service(spark):
    """SERVICE <fts:search> — external fulltext federation (ref:
    fts/FulltextSearchServiceFactory.java + FTS.java vocabulary). A fake
    Solr transport returns response.docs-shaped hits; bindings carry the
    result, score and snippet vars."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("doc1", "title", "Spark", "string")]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    seen = {}

    def fake_solr(endpoint, query, params):
        seen.update(endpoint=endpoint, query=query, params=params)
        return [
            {"id": "doc1", "score": 2.5, "snippet": ["best match", "really"]},
            {"id": "doc2", "score": 1.0},
        ]

    st.fts_transport = fake_solr
    q = """
    PREFIX fts: <http://www.bigdata.com/rdf/fts#>
    SELECT ?res ?score ?snip WHERE {
      SERVICE <http://www.bigdata.com/rdf/fts#search> {
        ?res fts:search "spark streaming" .
        ?res fts:endpoint "http://solr:8983/solr/core/select" .
        ?res fts:params "defType=edismax" .
        ?res fts:score ?score .
        ?res fts:snippet ?snip .
      }
    }
    """
    got = sorted(tuple(r) for r in run_sparql(st, q).collect())
    assert got == [
        ("doc1", 2.5, "best match really"),  # array snippet flattens (ref)
        ("doc2", 1.0, None),
    ]
    assert seen["query"] == "spark streaming" and "solr" in seen["endpoint"]
    # endpoint required
    import pytest as _pytest

    st2 = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    with _pytest.raises(ValueError, match="endpoint"):
        run_sparql(
            st2,
            'SELECT ?r WHERE { SERVICE <http://www.bigdata.com/rdf/fts#search> '
            '{ ?r <http://www.bigdata.com/rdf/fts#search> "x" } }',
        )


def test_bd_history_constant_filters(spark):
    """Constant objects on bd:history.action / bd:history.commit FILTER the
    change records (a misleading 'unknown param' error previously made
    filtering impossible — review r5 finding)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.update.update import UpdatableStore

    df = spark.createDataFrame(
        [("a", "p", "1", "long")], "s string, p string, o_lex string, o_dt string"
    )
    us = UpdatableStore.from_store(TripleStore(df))
    us.insert_data(spark.createDataFrame([("b", "p", "2", "long")], df.schema))
    us.delete_data(spark.createDataFrame([("a", "p", "1", "long")], df.schema))
    q = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?s WHERE {{
      SERVICE <http://www.bigdata.com/rdf#history> {{
        ?s <p> ?o .
        {param}
      }}
    }}
    """
    only_added = run_sparql(
        us.query_store,
        q.format(param='bd:serviceParam bd:history.action "added" .'),
    )
    assert {r.s for r in only_added.collect()} == {"b"}
    only_c2 = run_sparql(
        us.query_store,
        q.format(param='bd:serviceParam bd:history.commit "2" .'),
    )
    assert {r.s for r in only_c2.collect()} == {"a"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="added.*removed|removed.*added"):
        run_sparql(
            us.query_store,
            q.format(param='bd:serviceParam bd:history.action "bogus" .'),
        )


def test_query_store_memoized_per_version(spark):
    """query_store hands out a fresh view per call, but the data memos (join
    stats, full-text indexes) live on the version every view shares, so they
    survive across requests; a new commit starts a fresh memo and a
    solution-set change shows up in the next view (review r5 finding)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.update.update import UpdatableStore

    df = spark.createDataFrame(
        [("a", "p", "1", "long")], "s string, p string, o_lex string, o_dt string"
    )
    us = UpdatableStore.from_store(TripleStore(df))
    qs1 = us.query_store
    assert qs1.updatable is us
    assert qs1 is not us.current  # back-pointer never lands on a shared version
    stats1 = qs1.stats()
    assert us.query_store.stats() is stats1  # built once, seen by the next view
    us.insert_data(spark.createDataFrame([("b", "p", "2", "long")], df.schema))
    stats2 = us.query_store.stats()
    assert stats2 is not stats1 and stats2["p"].count == 2  # new commit, fresh memo
    assert us.query_store.stats() is stats2
    mgr = us.solutions_manager()
    mgr.put("st", spark.createDataFrame([("x",)], "v string"))
    assert [r.v for r in us.query_store.named_sets["st"].collect()] == ["x"]
    mgr.put("st", spark.createDataFrame([("y",)], "v string"))
    assert [r.v for r in us.query_store.named_sets["st"].collect()] == ["y"]


def test_store_memo_builds_once_across_concurrent_views():
    """Concurrent requests share one memo: threads asking their own views of
    one store for the same entry run its build once and all get its result."""
    import sys
    import threading
    import time

    from blazegraph_database_spark.model.store import TripleStore

    st = TripleStore(df_factory=lambda: None)
    builds, got = [], []

    def build():
        builds.append(1)
        time.sleep(0.01)
        return object()

    threads = [
        threading.Thread(target=lambda: got.append(st.view(track_dt=True).memo("k", build)))
        for _ in range(16)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and len(got) == 16 and all(g is got[0] for g in got)


def test_rest_queries_share_the_lazy_union(spark, tmp_path, monkeypatch):
    """The melted union of a cached_store is built once per store, not once
    per REST query: the per-query views share the store's memo."""
    import shutil

    from conftest import SF_DIR

    from blazegraph_database_spark.server.rest import SparqlEndpoint
    from blazegraph_database_spark.sources import relational
    from blazegraph_database_spark.update.update import UpdatableStore

    for t in ("region", "nation"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    calls = []
    load = relational.load_tables
    monkeypatch.setattr(
        relational, "load_tables", lambda *a, **k: calls.append(a) or load(*a, **k)
    )
    store = relational.cached_store(spark, str(tmp_path), ("region", "nation"))
    ep = SparqlEndpoint(spark, UpdatableStore.from_store(store))
    for q in (
        "SELECT ?n WHERE { ?r <region#r_name> ?n }",
        "SELECT ?n WHERE { ?x <nation#n_name> ?n } LIMIT 3",
        "SELECT ?s ?p WHERE { ?s ?p <region:0> }",
    ):
        status, _ctype, _body = ep.query("kb", q)
        assert status == 200
    assert len(calls) == 1


def test_rest_selects_on_written_version_build_stats_once(spark, monkeypatch):
    """Two REST SELECTs on one written version compute the predicate stats
    once: the stats live on the version, not on the per-query view."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.server.rest import SparqlEndpoint
    from blazegraph_database_spark.update.update import UpdatableStore

    df = spark.createDataFrame(
        [("a", "p", "b", "iri"), ("b", "q", "1", "long")],
        "s string, p string, o_lex string, o_dt string",
    )
    ep = SparqlEndpoint(spark, UpdatableStore.from_store(TripleStore(df)))
    assert ep.update("kb", "INSERT DATA { <c> <p> <b> }")[0] == 200
    builds = []
    stats = TripleStore.stats

    def counting(self):
        if self._stats is None:
            builds.append(self)
        return stats(self)

    monkeypatch.setattr(TripleStore, "stats", counting)
    q = "SELECT ?x ?n WHERE { ?x <p> ?y . ?y <q> ?n }"
    for _ in range(2):
        status, _ctype, body = ep.query("kb", q)
        assert status == 200 and b'"1"' in body
    assert len(builds) == 1


def test_rest_graph_scope_builds_stats_once(spark, monkeypatch):
    """Three identical REST SELECTs through GRAPH <g1> on one quad version
    compute the stats once each for the version and for graph g1: the
    graph-scoped store lives in the version's memo, not per query."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.server.rest import SparqlEndpoint
    from blazegraph_database_spark.update.update import UpdatableStore

    df = spark.createDataFrame(
        [("a", "p", "b", "iri", "g1"), ("b", "q", "1", "long", "g1"),
         ("c", "p", "b", "iri", "g2")],
        "s string, p string, o_lex string, o_dt string, g string",
    )
    ep = SparqlEndpoint(spark, UpdatableStore.from_store(TripleStore(df)))
    builds = []
    stats = TripleStore.stats

    def counting(self):
        if self._stats is None:
            builds.append(self)
        return stats(self)

    monkeypatch.setattr(TripleStore, "stats", counting)
    q = "SELECT ?x ?n WHERE { GRAPH <g1> { ?x <p> ?y . ?y <q> ?n } }"
    counts = []
    for _ in range(3):
        status, _ctype, body = ep.query("kb", q)
        assert status == 200 and b'"1"' in body
        counts.append(len(builds))
    assert counts[0] >= 1
    assert counts == [counts[0]] * 3


def test_rest_bds_search_index_built_once_per_scope(spark, monkeypatch):
    """A bds:search sent twice through REST builds its full-text index once;
    the same search under FROM NAMED is a different dataset scope and gets
    its own memo entry, built once too."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.operators import fulltext
    from blazegraph_database_spark.server.rest import SparqlEndpoint
    from blazegraph_database_spark.update.update import UpdatableStore

    df = spark.createDataFrame(
        [("d1", "title", "spark engine", "string"), ("d2", "title", "cooking", "string")],
        "s string, p string, o_lex string, o_dt string",
    )
    ep = SparqlEndpoint(spark, UpdatableStore.from_store(TripleStore(df)))
    builds = []
    index = fulltext.inverted_index
    monkeypatch.setattr(
        fulltext, "inverted_index", lambda *a, **k: builds.append(1) or index(*a, **k)
    )
    q = 'SELECT ?lit WHERE { ?lit <bds:search> "spark" }'
    counts = []
    for text in (q, q, q.replace("SELECT ?lit", "SELECT ?lit FROM NAMED <g1>"),
                 q.replace("SELECT ?lit", "SELECT ?lit FROM NAMED <g1>")):
        status, _ctype, body = ep.query("kb", text)
        assert status == 200
        counts.append(len(builds))
    assert b"spark engine" in ep.query("kb", q)[2]
    assert counts[0] >= 1
    assert counts[1] == counts[0]  # repeated search: index reused
    assert counts[2] > counts[1]  # FROM NAMED: its own scope entry
    assert counts[3] == counts[2]


def test_fts_result_type_and_param_repeats(spark):
    """fts:searchResultType URI tags hits as IRIs; repeated fts:params keys
    reach the wire as repeats; unknown fts: predicates raise (review r5)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.operators.service import solr_transport
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("doc1", "title", "Spark", "string")]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    st.fts_transport = lambda e, q, p: [{"id": "http://x/doc1", "score": 1.0}]
    q = """
    PREFIX fts: <http://www.bigdata.com/rdf/fts#>
    SELECT ?res WHERE {{
      SERVICE <http://www.bigdata.com/rdf/fts#search> {{
        ?res fts:search "spark" .
        ?res fts:endpoint "http://solr/core/select" .
        {extra}
      }}
      FILTER(isURI(?res))
    }}
    """
    got = run_sparql(st, q.format(extra='?res fts:searchResultType "URI" .'))
    assert [r.res for r in got.collect()] == ["http://x/doc1"]
    # LITERAL (default) hits fail the isURI filter
    got2 = run_sparql(st, q.format(extra=""))
    assert got2.count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown fts"):
        run_sparql(st, q.format(extra='?res fts:snipet ?s .'))
    # multi-valued Solr params preserve repeats on the wire
    captured = {}

    class FakeResp:
        def __init__(self, url):
            captured["url"] = url

        def read(self):
            return b'{"response": {"docs": []}}'

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    import urllib.request as _ur

    orig = _ur.urlopen
    _ur.urlopen = lambda url, timeout=None: FakeResp(url)
    try:
        solr_transport()("http://solr/sel", "q1", "fq=type:doc&fq=lang:en")
    finally:
        _ur.urlopen = orig
    assert captured["url"].count("fq=") == 2


def test_bd_slice_and_even_plans_bounded(spark):
    """bd:slice bounds the sort to offset+limit rows before any window (no
    global single-partition WindowExec over the full pattern result) and
    still pages correctly (review r5 finding)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [(f"s{i:02d}", "p", f"o{i}", "iri") for i in range(30)]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?s WHERE {
      SERVICE <http://www.bigdata.com/rdf#slice> {
        ?s <p> ?o .
        bd:serviceParam bd:slice.offset "10" .
        bd:serviceParam bd:slice.limit "5" .
      }
    }
    """
    out = run_sparql(st, q)
    assert sorted(r.s for r in out.collect()) == [f"s{i}" for i in range(10, 15)]
    # the window input is the TakeOrdered-bounded set, not the raw scan:
    # GlobalLimit appears below the Window in the optimized plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" in plan and "Limit" in plan
    assert plan.index("Window") < plan.index("Limit")


def test_bds_search_in_search(spark):
    """SERVICE <bds:searchInSearch> filters incoming bindings to subjects
    holding a full-text-matched literal (ref:
    eval/SearchInSearchServiceFactory.java:91); matchAllTerms narrows to
    every-term subjects; unknown options raise."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("d1", "text", "spark streaming engine", "string"),
        ("d1", "cat", "a", "string"),
        ("d2", "text", "batch engine", "string"),
        ("d2", "cat", "b", "string"),
        ("d3", "text", "spark batch", "string"),
        ("d3", "cat", "c", "string"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = """
    SELECT ?s ?c WHERE {{
      ?s <cat> ?c .
      SERVICE <bds:searchInSearch> {{
        ?s <bds:searchInSearch> "spark streaming" .
        {extra}
      }}
    }}
    """
    got = {tuple(r) for r in run_sparql(st, q.format(extra="")).collect()}
    assert got == {("d1", "a"), ("d3", "c")}  # d2 has neither term
    all_terms = {
        tuple(r)
        for r in run_sparql(
            st, q.format(extra='?s <bds:matchAllTerms> "true" .')
        ).collect()
    }
    assert all_terms == {("d1", "a")}  # only d1 has both
    import pytest as _pytest

    with _pytest.raises(ValueError, match="searchInSearch"):
        run_sparql(st, q.format(extra='?s <bds:bogusOption> "1" .'))


def test_service_variable_endpoint(spark):
    """SERVICE ?ep with the endpoint bound by VALUES (ref:
    ServiceCallJoin.java — incoming solutions grouped by the as-bound
    serviceRef; each distinct endpoint called once). Unbound-endpoint
    groups error clearly; oversized endpoint sets are capped."""
    import pytest as _pytest

    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.operators import service
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(spark.createDataFrame(
        [("a", "p", "1", "long")], "s string, p string, o_lex string, o_dt string"
    ))
    service.register_stored_query(
        "http://app/svc1",
        lambda store, params: store.df.sparkSession.createDataFrame(
            [("one",)], "r string"),
    )
    service.register_stored_query(
        "http://app/svc2",
        lambda store, params: store.df.sparkSession.createDataFrame(
            [("two",), ("deux",)], "r string"),
    )
    q = """
    SELECT ?ep ?r WHERE {
      VALUES ?ep { <http://app/svc1> <http://app/svc2> }
      SERVICE ?ep { }
    }
    """
    got = sorted(tuple(x) for x in run_sparql(st, q).collect())
    assert got == [
        ("http://app/svc1", "one"),
        ("http://app/svc2", "deux"),
        ("http://app/svc2", "two"),
    ]
    # the endpoint var must be bound by a sibling
    with _pytest.raises(ValueError, match="binding it|binds"):
        run_sparql(st, "SELECT ?r WHERE { SERVICE ?ep { } }")


def test_service_variable_endpoint_deep_and_inner_binding(spark):
    """SERVICE ?ep review fixes: (a) the binding may sit ANYWHERE in the
    join conjunction, not just the direct sibling; (b) a block that itself
    binds the endpoint var join-filters on it instead of being
    overwritten; (c) zero bound endpoints yield an EMPTY result carrying
    the block's var columns."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.operators import service
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(spark.createDataFrame(
        [("a", "p", "1", "long")], "s string, p string, o_lex string, o_dt string"
    ))
    service.register_stored_query(
        "http://app/deep1",
        lambda store, params: store.df.sparkSession.createDataFrame(
            [("d1",)], "r string"),
    )
    # (a) SERVICE first, VALUES later in the same group
    q = """
    SELECT ?ep ?r WHERE {
      SERVICE ?ep { }
      ?s <p> ?o .
      VALUES ?ep { <http://app/deep1> }
    }
    """
    got = [tuple(r) for r in run_sparql(st, q).collect()]
    assert got == [("http://app/deep1", "d1")]
    # (b) inner block binding the endpoint var: join-filter, not overwrite
    service.register_stored_query(
        "http://app/echo",
        lambda store, params: store.df.sparkSession.createDataFrame(
            [("http://app/echo",), ("http://app/OTHER",)], "ep string"),
    )
    q2 = """
    SELECT ?ep WHERE {
      VALUES ?ep { <http://app/echo> }
      SERVICE ?ep { }
    }
    """
    got2 = [r.ep for r in run_sparql(st, q2).collect()]
    assert got2 == ["http://app/echo"]  # the OTHER row must be dropped
    # (c) no bound endpoint at all -> empty result, block vars projectable
    q3 = """
    SELECT ?r WHERE {
      ?s <p> ?o OPTIONAL { ?s <missing> ?ep }
      SERVICE ?ep { ?r <bds:search> "q" . }
    }
    """
    # OPTIONAL binds ?ep nowhere -> all-null endpoint set -> zero rows
    out3 = run_sparql(st, q3)
    assert out3.count() == 0 and "r" in out3.columns


# ------------------------------------------- SPARQL-XML result parsing ----
SRX_DOC = """<?xml version="1.0"?>
<sparql xmlns="http://www.w3.org/2005/sparql-results#">
  <head><variable name="x"/><variable name="n"/></head>
  <results>
    <result>
      <binding name="x"><uri>http://ex/a</uri></binding>
      <binding name="n"><literal datatype="http://www.w3.org/2001/XMLSchema#integer">7</literal></binding>
    </result>
    <result>
      <binding name="x"><bnode>b0</bnode></binding>
    </result>
  </results>
</sparql>"""


def test_parse_srx():
    from blazegraph_database_spark.operators.service import parse_results, parse_srx

    rows = parse_srx(SRX_DOC)
    assert rows == [{"x": "http://ex/a", "n": "7"}, {"x": "b0"}]
    # content-type dispatch
    assert parse_results(SRX_DOC, "application/sparql-results+xml;charset=utf-8") == rows
    assert parse_results('{"head":{"vars":["x"]},"results":{"bindings":[]}}', "application/sparql-results+json") == []


def test_http_transport_against_xml_only_endpoint(spark):
    """A remote endpoint that ONLY speaks SPARQL-XML federates correctly:
    the transport negotiates via Accept and dispatches on the response
    Content-Type."""
    import http.server
    import threading

    from blazegraph_database_spark.operators.service import http_transport

    class XmlOnly(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            assert "sparql-results+xml" in self.headers.get("Accept", "")
            body = SRX_DOC.encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/sparql-results+xml")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), XmlOnly)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        rows = http_transport()(f"http://127.0.0.1:{srv.server_port}/sparql", "SELECT * WHERE {}")
        assert rows == [{"x": "http://ex/a", "n": "7"}, {"x": "b0"}]
    finally:
        srv.shutdown()


# ----------------------------------------------------- bd:alp service ----
def _alp_store(spark):
    from blazegraph_database_spark.model.store import TripleStore

    # ring a->b->c->d->e->a via per-hop edge IRIs; edges e0..e3 typed "ok",
    # e4 typed "no"
    nodes = ["a", "b", "c", "d", "e"]
    rows = []
    for i, n in enumerate(nodes):
        rows.append((n, f"edge:{i}", nodes[(i + 1) % 5], "iri"))
        rows.append((f"edge:{i}", "etype", "ok" if i < 4 else "no", "string"))
    return TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )


def test_alp_service_bounds_and_constraints(spark):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _alp_store(spark)
    q = """
    SELECT ?v WHERE {
      SERVICE <http://www.bigdata.com/rdf#alp> {
        <a> ?edge ?v .
        hint:Prior hint:alp.pathExpr "true" .
        ?edge <etype> "ok" .
        hint:Group hint:alp.lowerBound 2 .
        hint:Group hint:alp.upperBound 3 .
      }
    }
    """
    # ok-edges: a->b->c->d->e (e->a excluded); 2..3 hops from a: c, d
    assert {r["v"] for r in run_sparql(st, q).collect()} == {"c", "d"}


def test_alp_service_bidirectional_and_unbounded(spark):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _alp_store(spark)
    q = """
    SELECT ?v WHERE {
      SERVICE <http://www.bigdata.com/rdf#alp> {
        <c> ?edge ?v .
        hint:Prior hint:alp.pathExpr "true" .
        ?edge <etype> "ok" .
        hint:Group hint:alp.bidirectional "true" .
      }
    }
    """
    # undirected ok-edge component reaches every node (default bounds 1..inf)
    assert {r["v"] for r in run_sparql(st, q).collect()} == {"a", "b", "d", "e", "c"}
    # no constraints: full ring, 1 hop from a
    q2 = """
    SELECT ?v WHERE {
      SERVICE <http://www.bigdata.com/rdf#alp> {
        <a> ?edge ?v .
        hint:Prior hint:alp.pathExpr "true" .
        hint:Group hint:alp.upperBound 1 .
      }
    }
    """
    assert {r["v"] for r in run_sparql(st, q2).collect()} == {"b"}


def test_alp_service_join_with_outer_pattern(spark):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _alp_store(spark)
    # ALP result joins the enclosing group on ?v
    q = """
    SELECT ?v ?t WHERE {
      SERVICE <http://www.bigdata.com/rdf#alp> {
        <a> ?edge ?v .
        hint:Prior hint:alp.pathExpr "true" .
        hint:Group hint:alp.upperBound 2 .
      }
      ?e2 <etype> ?t . FILTER(?e2 = "edge:1")
      FILTER(?v = "c")
    }
    """
    rows = {(r["v"], r["t"]) for r in run_sparql(st, q).collect()}
    assert rows == {("c", "ok")}


def test_alp_service_requires_path_marker(spark):
    import pytest as _pt

    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _alp_store(spark)
    with _pt.raises(ValueError, match="pathExpr"):
        run_sparql(
            st,
            'SELECT ?v WHERE { SERVICE <http://www.bigdata.com/rdf#alp> { <a> ?e ?v } }',
        ).collect()


def test_wikibase_label_service(spark):
    """SERVICE wikibase:label — the Wikidata deployment's label service
    (Wikidata runs the reference engine): automatic mode binds ?xLabel
    from the projection in the first preferred language, falling back to
    the term's local name; ?xDescription stays unbound without data."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("http://ex/Q1", "http://ex/p", "http://ex/Q2", "iri"),
        ("http://ex/Q3", "http://ex/p", "http://ex/Q2", "iri"),
        ("http://ex/Q1", "http://www.w3.org/2000/01/rdf-schema#label", "Douglas", "lang:en"),
        ("http://ex/Q1", "http://www.w3.org/2000/01/rdf-schema#label", "Duglas", "lang:de"),
        ("http://ex/Q3", "http://www.w3.org/2000/01/rdf-schema#label", "nur deutsch", "lang:de"),
        ("http://ex/Q1", "http://schema.org/description", "an author", "lang:en"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = """
    PREFIX wikibase: <http://wikiba.se/ontology#>
    SELECT ?s ?sLabel ?sDescription WHERE {
      ?s <http://ex/p> <http://ex/Q2> .
      SERVICE wikibase:label { bd:serviceParam wikibase:language "en,de" . }
    }
    """
    got = {r["s"]: (r["sLabel"], r["sDescription"]) for r in run_sparql(st, q).collect()}
    # Q1: english label preferred over german; description bound
    assert got["http://ex/Q1"] == ("Douglas", "an author")
    # Q3: no english label -> german; no description -> unbound (NULL)
    assert got["http://ex/Q3"] == ("nur deutsch", None)
    # manual mode: explicit target triple, single language, local-name fallback
    q2 = """
    PREFIX wikibase: <http://wikiba.se/ontology#>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT ?s ?lab WHERE {
      ?s <http://ex/p> <http://ex/Q2> .
      SERVICE wikibase:label {
        bd:serviceParam wikibase:language "en" .
        ?s rdfs:label ?lab .
      }
    }
    """
    got2 = {r["s"]: r["lab"] for r in run_sparql(st, q2).collect()}
    assert got2["http://ex/Q1"] == "Douglas"
    assert got2["http://ex/Q3"] == "Q3"  # local-name fallback, no en label


def test_wikibase_label_review_fixes(spark):
    """Review r5 fixes: ?xAltLabel resolves as ?x + AltLabel (never ?xAlt +
    Label); OPTIONAL { SERVICE wikibase:label } correlates with the LEFT
    solutions instead of decorrelating to the unit solution."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("http://ex/Q1", "http://ex/p", "http://ex/Q2", "iri"),
        ("http://ex/Q1", "http://www.w3.org/2004/02/skos/core#altLabel", "DNA", "lang:en"),
        ("http://ex/Q1", "http://www.w3.org/2000/01/rdf-schema#label", "Doug", "lang:en"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = """
    PREFIX wikibase: <http://wikiba.se/ontology#>
    SELECT ?s ?sAltLabel WHERE {
      ?s <http://ex/p> <http://ex/Q2> .
      SERVICE wikibase:label { bd:serviceParam wikibase:language "en" . }
    }
    """
    got = run_sparql(st, q).collect()
    assert got[0]["sAltLabel"] == "DNA"
    q2 = """
    PREFIX wikibase: <http://wikiba.se/ontology#>
    SELECT ?s ?sLabel WHERE {
      ?s <http://ex/p> <http://ex/Q2> .
      OPTIONAL { SERVICE wikibase:label { bd:serviceParam wikibase:language "en" . } }
    }
    """
    got2 = run_sparql(st, q2).collect()
    assert got2[0]["sLabel"] == "Doug"


def test_tail_modifier_group_without_aggregates(spark):
    """ASK ... GROUP BY without aggregates must not crash Spark's agg()."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("http://a", "http://p", "1", "long")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    assert run_sparql(st, "ASK { ?s ?p ?o } GROUP BY ?s") is True


def test_deferred_bind_chain(spark):
    """A deferred BIND referencing another deferred BIND's target applies in
    dependency order (?c = ?b + 1 where ?b = ?z * 2)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("http://x", "http://p", "5", "long")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    q = """
    SELECT ?c WHERE {
      BIND(?b + 1 AS ?c)
      BIND(?z * 2 AS ?b)
      ?x <http://p> ?z .
    }
    """
    got = run_sparql(st, q).collect()
    assert float(got[0]["c"]) == 11.0


def test_bd_describe_service(spark):
    """SERVICE <bd:describe> (ref: ServiceRegistry.java:151
    DescribeServiceFactory + ast/cache/DescribeCache.java): CBD of the
    listed resources as block-pattern bindings, MVCC-keyed LRU underneath."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.operators import service as svc
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    df = spark.createDataFrame(
        [
            ("ex:a", "ex:p", "ex:b", "iri"),
            ("ex:b", "ex:q", "1", "long"),   # one hop out from ex:a's CBD
            ("ex:c", "ex:p", "zzz", "string"),
        ],
        "s string, p string, o_lex string, o_dt string",
    )
    st = TripleStore(df)
    q = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?s ?p ?o WHERE {
      SERVICE <http://www.bigdata.com/rdf#describe> {
        ?s ?p ?o .
        bd:serviceParam bd:describe.iri <ex:a> .
      }
    }
    """
    got = {(r["s"], r["p"], r["o"]) for r in run_sparql(st, q).collect()}
    assert ("ex:a", "ex:p", "ex:b") in got
    assert ("ex:c", "ex:p", "zzz") not in got

    # cache: same store version + same iris = a hit (entry identity reused)
    before = len(svc._DESCRIBE_CACHE)
    run_sparql(st, q).collect()
    assert len(svc._DESCRIBE_CACHE) == before

    # a NEW store version (different DataFrame identity) never serves stale
    st2 = TripleStore(df.union(spark.createDataFrame(
        [("ex:a", "ex:r", "new", "string")],
        "s string, p string, o_lex string, o_dt string",
    )))
    got2 = {(r["s"], r["p"], r["o"]) for r in run_sparql(st2, q).collect()}
    assert ("ex:a", "ex:r", "new") in got2


def test_service_alias_resolution(spark):
    """ServiceRegistry.addAlias parity: an alias URI dispatches exactly like
    its target (here: a custom alias for <bd:sample>), and chains resolve."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.operators import service
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [(f"s{i:02d}", "p", f"o{i}", "iri") for i in range(10)]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    service.register_service_alias(
        "http://app/alias#sample", "http://www.bigdata.com/rdf#sample"
    )
    service.register_service_alias("http://app/alias#sample2", "http://app/alias#sample")
    q = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?s WHERE {
      SERVICE <http://app/alias#sample2> {
        ?s <p> ?o .
        bd:serviceParam bd:sample.limit "3" .
        bd:serviceParam bd:sample.sampleType "DENSE" .
      }
    }
    """
    got = sorted(r["s"] for r in run_sparql(st, q).collect())
    assert got == ["s00", "s01", "s02"]


def test_geo_inline_magic_and_units_and_wrap(spark):
    """Inline geo:search magic predicates (no SERVICE wrapper — the
    reference's ASTGeoSpatialOptimizer lifts them), geo:spatialUnit radius
    conversion, and antimeridian wraparound windows."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("e1", "loc", "0#179.5#1", "geo"),
        ("e2", "loc", "0#-179.5#1", "geo"),
        ("e3", "loc", "0#0#1", "geo"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    # inline form + circle crossing the antimeridian; 120 km ~ 1.08 deg lon
    q = """
    PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
    SELECT ?res WHERE {
      ?res geo:search "inCircle" .
      ?res geo:predicate <loc> .
      ?res geo:spatialCircleCenter "0#179.9" .
      ?res geo:spatialCircleRadius "120" .
    }
    """
    got = {r["res"] for r in run_sparql(st, q).collect()}
    assert got == {"e1", "e2"}  # both sides of the antimeridian
    # Miles: 40 miles ~ 64 km — only e1 (44.5km away) stays
    q2 = q.replace('"120"', '"40" . ?res geo:spatialUnit "Miles"')
    got2 = {r["res"] for r in run_sparql(st, q2).collect()}
    assert got2 == {"e1"}
    # wraparound rectangle [179,180] u [-180,-179]
    q3 = """
    PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
    SELECT ?res WHERE {
      ?res geo:search "inRectangle" .
      ?res geo:predicate <loc> .
      ?res geo:spatialRectangleSouthWest "-1#179" .
      ?res geo:spatialRectangleNorthEast "1#-179" .
    }
    """
    got3 = {r["res"] for r in run_sparql(st, q3).collect()}
    assert got3 == {"e1", "e2"}
    # out-of-range input: one solution, nothing bound
    q4 = q.replace('"0#179.9"', '"95#0"')
    rows4 = run_sparql(st, q4).collect()
    assert len(rows4) == 1 and rows4[0]["res"] is None


def test_geo_inline_magic_variable_param(spark):
    """Inline geo:search with a VARIABLE service param bound by a sibling
    pattern (ticket_bg1899's shape without the SERVICE wrapper) resolves per
    distinct binding — previously a bare TypeError (ADVICE r7)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("e1", "loc", "10.0#20.0", "geo"),
        ("e2", "loc", "10.2#20.2", "geo"),
        ("e3", "loc", "50.0#60.0", "geo"),
        ("cityA", "center", "10#20", "string"),
        ("cityB", "center", "50#60", "string"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = """
    PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
    SELECT ?city ?res WHERE {
      ?city <center> ?c .
      ?res geo:search "inCircle" .
      ?res geo:predicate <loc> .
      ?res geo:spatialCircleCenter ?c .
      ?res geo:spatialCircleRadius "50" .
    }
    """
    got = {(r["city"], r["res"]) for r in run_sparql(st, q).collect()}
    assert got == {("cityA", "e1"), ("cityA", "e2"), ("cityB", "e3")}
    # a VALUES-bound param: the inline form answers what the SERVICE form
    # answers (the inline group folds in over the VALUES solutions)
    group = """
      ?res geo:search "inCircle" .
      ?res geo:predicate <loc> .
      ?res geo:spatialCircleCenter ?c .
      ?res geo:spatialCircleRadius "50" .
    """
    expected = {("10#20", "e1"), ("10#20", "e2")}
    for body in (group, "SERVICE geo:search {" + group + "}"):
        q = (
            "PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>\n"
            'SELECT ?c ?res WHERE { VALUES ?c { "10#20" } ' + body + " }"
        )
        assert {(r["c"], r["res"]) for r in run_sparql(st, q).collect()} == expected
    # the param bound by another service that reads the solutions (here a
    # variable endpoint answering ?c): that service folds in first
    service.register_stored_query(
        "http://app/centers",
        lambda store, params: store.spark.createDataFrame([("10#20",)], "c string"),
    )
    q = (
        "PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>\n"
        "SELECT ?c ?res WHERE { VALUES ?ep { <http://app/centers> } "
        + group + " SERVICE ?ep { } }"
    )
    assert {(r["c"], r["res"]) for r in run_sparql(st, q).collect()} == expected


def test_alp_service_anchored_geared(spark):
    """bd:alp with a CONSTANT endpoint walks a frontier-seeded expansion —
    the all-pairs bounded_paths composition never runs (r9 verdict item 6:
    anchored alp routed through full-closure composition)."""
    import blazegraph_database_spark.operators.paths as P
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from pyspark.sql import functions as F

    # 600 disjoint chains x 50 hops (30k edges: data-sized)
    edges = spark.range(30000).select(
        F.concat(F.lit("n"), (F.col("id") % 600), F.lit("_"),
                 (F.col("id") / 600).cast("long")).alias("s"),
        F.lit("urn:next").alias("p"),
        F.concat(F.lit("n"), (F.col("id") % 600), F.lit("_"),
                 ((F.col("id") / 600).cast("long") + 1)).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    st = TripleStore(edges)
    q = """
    SELECT ?v WHERE {
      SERVICE <http://www.bigdata.com/rdf#alp> {
        <n0_45> ?edge ?v .
        hint:Prior hint:alp.pathExpr "true" .
      }
    }
    """
    orig_bp, orig_tc = P.bounded_paths, P.transitive_closure
    boom = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("all-pairs composition ran for anchored bd:alp")
    )
    P.bounded_paths, P.transitive_closure = boom, orig_tc
    import blazegraph_database_spark.operators.service as S
    S.bounded_paths = boom
    try:
        got = {r["v"] for r in run_sparql(st, q).collect()}
    finally:
        P.bounded_paths = orig_bp
        S.bounded_paths = orig_bp
    assert got == {f"n0_{i}" for i in range(46, 51)}
    # reverse gearing: constant object, finite bounds
    q2 = """
    SELECT ?v WHERE {
      SERVICE <http://www.bigdata.com/rdf#alp> {
        ?v ?edge <n1_50> .
        hint:Prior hint:alp.pathExpr "true" .
        hint:Group hint:alp.lowerBound 2 .
        hint:Group hint:alp.upperBound 4 .
      }
    }
    """
    assert {r["v"] for r in run_sparql(st, q2).collect()} == {
        f"n1_{i}" for i in range(46, 49)
    }


@pytest.mark.parametrize(
    "block",
    [
        # inline magic predicates
        '?lit <bds:search> "spark" . ?lit <bds:maxrank> "5" .',
        # bds:searchInSearch
        'SERVICE <bds:searchInSearch> { ?lit <bds:searchInSearch> "spark" . '
        '?lit <bds:maxrank> "5" . }',
        # the subjectSearch SERVICE form
        'SERVICE <bds:search> { ?lit <bds:search> "spark" . '
        '?lit <bds:subjectSearch> "true" . ?lit <bds:maxrank> "5" . }',
    ],
    ids=["inline", "searchInSearch", "subjectSearch"],
)
def test_bds_unknown_option_raises_in_every_form(spark, block):
    """Every bds: form reads its options through one parser, so a typo'd
    option (bds:maxrank for bds:maxRank) raises instead of vanishing."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(spark.createDataFrame(
        [("d1", "text", "spark engine", "string")],
        "s string, p string, o_lex string, o_dt string",
    ))
    with pytest.raises(ValueError, match="maxrank"):
        run_sparql(st, "SELECT ?lit WHERE { " + block + " }")


# ------------------------------------------------ one SERVICE dispatch ----
_DISPATCH_NS = {
    "bd": "http://www.bigdata.com/rdf#",
    "bds": "http://www.bigdata.com/rdf/search#",
    "gas": "http://www.bigdata.com/rdf/gas#",
    "geo": "http://www.bigdata.com/rdf/geospatial#",
    "fts": "http://www.bigdata.com/rdf/fts#",
    "wikibase": "http://wikiba.se/ontology#",
}
_SP = "<{bd}serviceParam>"
# service IRI (prefix, local) → (sibling patterns, block, expected ?v values);
# {pfx} stands for the namespace in the form under test
_DISPATCH_CASES = {
    ("gas", "service"): (
        "",
        '<{gas}program> <{gas}gasClass> "com.bigdata.rdf.graph.analytics.BFS" . '
        "<{gas}program> <{gas}in> <ex:a> . <{gas}program> <{gas}linkType> <ex:link> . "
        "<{gas}program> <{gas}out> ?v .",
        {"ex:a", "ex:b", "ex:c"},
    ),
    ("geo", "search"): (
        "",
        '?v <{geo}search> "inCircle" . ?v <{geo}predicate> <ex:loc> . '
        '?v <{geo}spatialCircleCenter> "10#20" . ?v <{geo}spatialCircleRadius> "50" .',
        {"ex:e1"},
    ),
    ("bds", "search"): ("", '?v <{bds}search> "spark" .', {"spark engine"}),
    ("bds", "searchInSearch"): ("", '?v <{bds}searchInSearch> "batch" .', {"ex:b"}),
    ("bd", "alp"): (
        "",
        '<ex:a> ?edge ?v . hint:Prior hint:alp.pathExpr "true" . ?edge <ex:kind> "hop" .',
        {"ex:b", "ex:c"},
    ),
    ("bd", "sample"): (
        "",
        f'?v <ex:link> ?o . {_SP} <{{bd}}sample.limit> "1" . '
        f'{_SP} <{{bd}}sample.sampleType> "DENSE" .',
        {"ex:a"},
    ),
    ("bd", "slice"): (
        "",
        f'?v <ex:link> ?o . {_SP} <{{bd}}slice.offset> "1" . {_SP} <{{bd}}slice.limit> "5" .',
        {"ex:b"},
    ),
    ("bd", "values"): (
        "", f'{_SP} <{{bd}}values.var> ?v . {_SP} <{{bd}}values.val> "x" .', {"x"}
    ),
    ("bd", "history"): (
        "", f'?v <ex:name> ?o . {_SP} <{{bd}}history.action> "added" .', {"ex:c"}
    ),
    ("bd", "describe"): (
        "", f"?v <ex:link> ?o . {_SP} <{{bd}}describe.iri> <ex:b> .", {"ex:b"}
    ),
    ("bd", "rdrhistory"): ("", "<<?v <ex:name> ?o>> <blaze:history:added> ?c .", {"ex:c"}),
    ("fts", "search"): (
        "", '?v <{fts}search> "spark" . ?v <{fts}endpoint> "http://solr/select" .', {"doc1"}
    ),
    ("wikibase", "label"): (
        "?s <ex:link> <ex:b> .",
        f'{_SP} <{{wikibase}}language> "en" . ?s <http://www.w3.org/2000/01/rdf-schema#label> ?v .',
        {"Alpha"},
    ),
}


@pytest.fixture(scope="module")
def dispatch_store(spark):
    from blazegraph_database_spark.update.update import UpdatableStore

    rows = [
        ("ex:a", "ex:link", "ex:b", "iri"),
        ("ex:b", "ex:link", "ex:c", "iri"),
        ("ex:link", "ex:kind", "hop", "string"),
        ("ex:a", "ex:name", "spark engine", "string"),
        ("ex:b", "ex:name", "batch tool", "string"),
        ("ex:e1", "ex:loc", "10.0#20.0", "geo"),
        ("ex:e2", "ex:loc", "50.0#60.0", "geo"),
        ("ex:a", "http://www.w3.org/2000/01/rdf-schema#label", "Alpha", "lang:en"),
    ]
    schema = "s string, p string, o_lex string, o_dt string"
    us = UpdatableStore.from_store(TripleStore(spark.createDataFrame(rows, schema)))
    us.insert_data(spark.createDataFrame([("ex:c", "ex:name", "new", "string")], schema))
    st = us.query_store
    st.fts_transport = lambda endpoint, query, params: [{"id": "doc1", "score": 1.0}]
    return st


def _dispatched(monkeypatch, st, iri, siblings, block):
    """Run ``SELECT ?v { siblings SERVICE <iri> { block } }``; return the
    ?v values and the registry keys the query looked up."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    seen = []
    lookup = service.lookup

    def spy(key):
        seen.append(service.canonical(key))
        return lookup(key)

    monkeypatch.setattr(service, "lookup", spy)
    q = f"SELECT ?v WHERE {{ {siblings} SERVICE <{iri}> {{ {block} }} }}"
    return {r["v"] for r in run_sparql(st, q).collect()}, seen


@pytest.mark.parametrize(
    "pfx,local", list(_DISPATCH_CASES), ids=[f"{p}:{l}" for p, l in _DISPATCH_CASES]
)
def test_builtin_service_dispatch(spark, dispatch_store, monkeypatch, pfx, local):
    """Every built-in answers through the one registry under its reference
    IRI, in the full form and in the compact (undeclared-prefix) form, with
    its magic predicates in the same form."""
    siblings, block, expected = _DISPATCH_CASES[(pfx, local)]
    for form in ("full", "compact"):
        ns = {p: (n if form == "full" else f"{p}:") for p, n in _DISPATCH_NS.items()}
        iri = ns[pfx] + local
        got, seen = _dispatched(
            monkeypatch, dispatch_store, iri, siblings, block.format(**ns)
        )
        assert got == expected, form
        assert _DISPATCH_NS[pfx] + local in seen, form


def test_registered_service_dispatch(spark, dispatch_store, monkeypatch):
    """An alias, a stored query and a registered mock dispatch through the
    same registry; a registered service gets {"query", "pattern", "store"}."""
    calls = []

    def mock(spark_, params):
        calls.append(params)
        return spark_.createDataFrame([("m",)], "v string")

    service.register_service("http://app/dispatch#mock", mock)
    service.register_stored_query(
        "http://app/dispatch#stored", "SELECT ?v WHERE { ?v <ex:link> ?o }"
    )
    service.register_service_alias(
        "http://app/dispatch#alias", "http://www.bigdata.com/rdf#values"
    )
    values = '<bd:serviceParam> <bd:values.var> ?v . <bd:serviceParam> <bd:values.val> "x" .'
    for iri, block, expected, key in (
        ("http://app/dispatch#mock", "?v <ex:p> ?o", {"m"}, "http://app/dispatch#mock"),
        ("http://app/dispatch#stored", "", {"ex:a", "ex:b"}, "http://app/dispatch#stored"),
        ("http://app/dispatch#alias", values, {"x"}, "http://www.bigdata.com/rdf#values"),
    ):
        got, seen = _dispatched(monkeypatch, dispatch_store, iri, "", block)
        assert got == expected and seen == [key], iri
    assert set(calls[0]) == {"query", "pattern", "store"}
    assert "?v <ex:p> ?o" in calls[0]["query"]

