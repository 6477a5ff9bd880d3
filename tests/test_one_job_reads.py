"""Reads that Spark can answer in one job run exactly one: the REST answer
comes to the driver in one bounded collect, a bound-subject star is one
scan, a fused star scan is built once per store, and fast-scan answers run
no job at all. Jobs are counted by job group."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.operators import driver_tier
from blazegraph_database_spark.plans import compiler
from blazegraph_database_spark.plans.sparql_parser import parse_sparql_query
from blazegraph_database_spark.plans.update_parser import apply_update
from blazegraph_database_spark.server import rest
from blazegraph_database_spark.server.rest import SparqlEndpoint
from blazegraph_database_spark.sources import relational
from blazegraph_database_spark.update.update import UpdatableStore

from conftest import SF_DIR

STAR = (
    "SELECT ?name ?bal ?seg ?nat WHERE { <customer:3> <customer#c_name> ?name ; "
    "<customer#c_acctbal> ?bal ; <customer#c_mktsegment> ?seg ; "
    "<customer#c_nationkey_ref> ?nat }"
)


def _rows(store, text):
    return [tuple(r) for r in compiler.evaluate(store, parse_sparql_query(text)[1]).collect()]


@pytest.fixture()
def rel_endpoint(spark):
    return SparqlEndpoint(spark, UpdatableStore.from_store(relational.cached_store(spark, SF_DIR)))


def test_bound_subject_star_is_one_scan(spark, spark_jobs, rel_endpoint):
    """A star on a constant subject compiles into ONE fused scan with no
    join, and over REST it is answered in one job."""
    store = relational.cached_store(spark, SF_DIR)
    df = compiler.evaluate(store, parse_sparql_query(STAR)[1])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # the answer equals the per-pattern join over the melted triples
    assert sorted(_rows(store, STAR)) == sorted(_rows(TripleStore(store.df), STAR))
    rel_endpoint.query("kb", STAR, query_id="star-warm")  # counts a warm read
    status, _ctype, body = rel_endpoint.query("kb", STAR, query_id="star-1")
    assert status == 200 and b"Customer#000000003" in body
    assert spark_jobs.count("rest-query-star-1") == 1


def test_bound_subject_star_leaves_out_literal_and_delta_subjects(spark):
    """Only IRI subjects fuse; a star over a Δ-touched predicate takes the
    join path, which composes the Δ."""
    store = relational.cached_store(spark, SF_DIR)
    lit_star = parse_sparql_query(
        'SELECT ?n ?b WHERE { "customer:3" <customer#c_name> ?n ; <customer#c_acctbal> ?b }'
    )[1]
    (bgp,) = [t for t in compiler.explain_trace(store, lit_star) if t.get("op") == "BGP"]
    assert bgp["star_fused_scans"] == 0
    # a literal is never a subject: the star and its single pattern match nothing
    assert compiler.evaluate(store, lit_star).collect() == []
    assert _rows(store, 'SELECT ?n WHERE { "customer:3" <customer#c_name> ?n }') == []
    us = UpdatableStore.from_store(store)
    apply_update(
        us,
        'DELETE DATA { <customer:3> <customer#c_mktsegment> "BUILDING" } ; '
        'INSERT DATA { <customer:3> <customer#c_mktsegment> "BENCH" }',
        spark,
    )
    cur = us.current
    assert cur.star_source(["customer#c_name", "customer#c_mktsegment"]) is None
    assert cur.star_source(["customer#c_name", "customer#c_acctbal"]) is not None
    (row,) = _rows(cur, STAR)
    assert row[0] == "Customer#000000003" and row[2] == "BENCH"


def test_fused_star_scan_is_memoized(spark, spark_jobs):
    """A second compile of a fused variable-subject star reads the scan from
    the store memo: no parquet schema job, no job at all."""
    store = relational.cached_store(spark, SF_DIR)
    q = parse_sparql_query(
        "SELECT ?c ?n ?s WHERE { ?c <customer#c_name> ?n ; <customer#c_mktsegment> ?s }"
    )[1]
    first = compiler.evaluate(store, q)
    second, jobs = spark_jobs.run(lambda: compiler.evaluate(store, q))
    assert jobs == 0
    assert sorted(map(tuple, first.collect())) == sorted(map(tuple, second.collect()))


def test_multi_partition_answer_is_one_job(spark, spark_jobs):
    """A 3-partition answer comes back in one job, where a per-partition
    stream paid one job per partition. The range's 30 rows are a known
    bound under the cap, so Catalyst drops the collect's limit."""
    triples = spark.range(0, 30, numPartitions=3).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        F.lit("p").alias("p"),
        F.col("id").cast("string").alias("o_lex"),
        F.lit("string").alias("o_dt"),
    )
    ep = SparqlEndpoint(spark, UpdatableStore.from_store(TripleStore(triples)))
    q = "SELECT ?s ?o WHERE { ?s <p> ?o }"
    store = ep.namespaces["kb"].query_store
    assert compiler.evaluate(store, parse_sparql_query(q)[1]).rdd.getNumPartitions() == 3
    status, _ctype, body = ep.query("kb", q, query_id="three-parts")
    assert status == 200 and len(json.loads(body)["results"]["bindings"]) == 30
    assert spark_jobs.count("rest-query-three-parts") == 1


def test_row_cap_fires_at_cap_plus_one(spark):
    rows = [(f"s{i}", "p", f"o{i}", "iri") for i in range(11)]
    df = spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    ep = SparqlEndpoint(spark, UpdatableStore.from_store(TripleStore(df)), max_result_rows=10)
    q = "SELECT ?s ?o WHERE { ?s <p> ?o }"
    status, _ctype, body = ep.dispatch("GET", "/sparql", {"query": q}, "", b"")
    assert status == 413 and "row cap (10)" in json.loads(body)["error"]
    status, _ctype, body = ep.dispatch("GET", "/sparql", {"query": q + " LIMIT 10"}, "", b"")
    assert status == 200 and len(json.loads(body)["results"]["bindings"]) == 10


def _streamed(df, cap):
    """The per-partition stream the endpoint served before the bounded
    collect: the reference the bodies must match byte for byte."""
    for n, row in enumerate(df.toLocalIterator(), 1):
        if cap is not None and n > cap:
            raise rest.ResultTooLarge(cap)
        yield row


@pytest.mark.parametrize(
    "query, formats",
    [
        (
            "SELECT ?o ?p ?d WHERE { ?o <orders#o_totalprice> ?p ; <orders#o_orderdate> ?d }",
            rest._SELECT_FMTS,
        ),
        (
            "SELECT ?o ?p ?c WHERE { ?o <orders#o_totalprice> ?p ; <orders#o_custkey_ref> ?c } "
            "ORDER BY DESC(?p) ?o",
            rest._SELECT_FMTS,
        ),
        (
            "SELECT ?seg (COUNT(*) AS ?k) WHERE { ?c <customer#c_mktsegment> ?seg } "
            "GROUP BY ?seg ORDER BY ?seg",
            rest._SELECT_FMTS,
        ),
        (
            "CONSTRUCT { ?c <urn:x#name> ?n ; <urn:x#nation> ?nat } "
            "WHERE { ?c <customer#c_name> ?n ; <customer#c_nationkey_ref> ?nat }",
            rest._GRAPH_FMTS,
        ),
    ],
    ids=["select", "order_by", "group_by", "construct"],
)
def test_bodies_match_the_per_partition_stream(spark, rel_endpoint, monkeypatch, query, formats):
    for accept in formats:
        status, _ctype, body = rel_endpoint.query("kb", query, accept=accept)
        assert status == 200
        with monkeypatch.context() as m:
            m.setattr(rest, "_iter_rows", _streamed)
            _status, _ctype, streamed = rel_endpoint.query("kb", query, accept=accept)
        assert body == streamed, accept


@pytest.mark.parametrize(
    "query",
    [
        "SELECT (COUNT(*) AS ?c) WHERE { ?x <p> ?y }",
        "SELECT DISTINCT ?p WHERE { ?x ?p ?y }",
        "SELECT ?p (COUNT(*) AS ?c) WHERE { ?x ?p ?y } GROUP BY ?p",
    ],
    ids=["count", "distinct_p", "group_count"],
)
def test_fast_scan_answers_run_no_job(spark, spark_jobs, monkeypatch, query):
    """Compiled directly and through the endpoint (which compiles with
    ``track_dt``), the answer runs no job; the endpoint's body is the one
    the compiled scan gives."""
    rows = [("a", "p", "b", "iri"), ("b", "p", "c", "iri"), ("a", "q", "1", "long")]
    store = TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    store.stats()  # the stats build is the store's, not the query's
    got, jobs = spark_jobs.run(
        lambda: compiler.evaluate(store, parse_sparql_query(query)[1]).collect()
    )
    assert jobs == 0
    assert len(got) >= 1
    ep = SparqlEndpoint(spark, UpdatableStore.from_store(store))
    qid = f"fast-{abs(hash(query))}"
    status, _ctype, body = ep.query("kb", query, query_id=qid)
    assert status == 200 and spark_jobs.count(f"rest-query-{qid}") == 0
    monkeypatch.setattr(compiler, "_fast_scan_rewrite", lambda store, node: None)
    assert ep.query("kb", query)[2] == body


def test_tiny_seed_is_the_build_side(spark):
    """An FK hop from a bound subject broadcasts its 1-row seed, not the
    customer-name source it joins."""
    store = relational.cached_store(spark, SF_DIR)
    text = (
        "SELECT ?c ?name WHERE { <orders:7> <orders#o_custkey_ref> ?c . "
        "?c <customer#c_name> ?name }"
    )
    (bgp,) = [t for t in compiler.explain_trace(store, parse_sparql_query(text)[1])
              if t.get("op") == "BGP"]
    order = bgp["join_order"]
    assert [j["broadcast"] for j in order] == [True, False]
    assert order[0]["est_rows"] < order[1]["est_rows"]
    assert _rows(store, text) == _rows(TripleStore(store.df), text)


# ---- driver-held rows stay on the driver: an update_mix-shaped sequence ----
TAG = "urn:bench#tag"
LINK = "urn:bench#link"
GAS_BFS = (
    "PREFIX gas: <http://www.bigdata.com/rdf/gas#>\n"
    "SELECT ?v ?d WHERE { SERVICE gas:service { "
    'gas:program gas:gasClass "com.bigdata.rdf.graph.analytics.BFS" . '
    f"gas:program gas:in <urn:bench:n0> . gas:program gas:linkType <{LINK}> . "
    "gas:program gas:out ?v . gas:program gas:out1 ?d . } }"
)


def _rewrite(k: int, seg: str) -> str:
    return (
        f"DELETE {{ <customer:{k}> <customer#c_mktsegment> ?s }} "
        f'INSERT {{ <customer:{k}> <customer#c_mktsegment> "{seg}" }} '
        f"WHERE {{ <customer:{k}> <customer#c_mktsegment> ?s }}"
    )


def _bindings(body: bytes) -> list[tuple]:
    rows = json.loads(body)["results"]["bindings"]
    return sorted(tuple(b[v]["value"] for v in sorted(b)) for b in rows)


def test_update_mix_cycle_job_counts(spark, spark_jobs, rel_endpoint):
    """The writes and reads of one update_mix cycle start Spark only for
    base data: INSERT/DELETE DATA of new predicates and the tag scan run no
    job, a BFS over Δ-only edges none, a warm DELETE…INSERT…WHERE one WHERE
    pass (its one pattern settles the template rows, so no probe), and the
    point read of the rewritten triple two: its removed row is a literal
    filter, not a broadcast job, and the take reads the base scan's
    partition, then the added rows' one."""

    def update(text):
        return spark_jobs.run(lambda: rel_endpoint.update("kb", text))[1]

    edges = " ".join(
        f"<urn:bench:n{a}> <{LINK}> <urn:bench:n{b}> ." for a, b in ((0, 1), (0, 2), (1, 3))
    )
    assert [
        update(f"INSERT DATA {{ {edges} }}"),
        update(f'INSERT DATA {{ <customer:3> <{TAG}> "t1" . }}'),
        update(f'DELETE DATA {{ <urn:bench:n1> <{LINK}> <urn:bench:n3> . }}'),
    ] == [0, 0, 0]
    status, _ctype, body = rel_endpoint.query("kb", GAS_BFS, query_id="um-bfs")
    assert status == 200 and spark_jobs.count("rest-query-um-bfs") == 0
    assert _bindings(body) == [("0", "urn:bench:n0"), ("1", "urn:bench:n1"), ("1", "urn:bench:n2")]
    update(_rewrite(4, "WARM"))  # pays the one-time schema read
    assert update(_rewrite(5, "BENCH")) == 1
    status, _ctype, body = rel_endpoint.query(
        "kb", f"SELECT ?c ?t WHERE {{ ?c <{TAG}> ?t }}", query_id="um-tags"
    )
    assert spark_jobs.count("rest-query-um-tags") == 0
    assert _bindings(body) == [("customer:3", "t1")]
    status, _ctype, body = rel_endpoint.query(
        "kb", "SELECT ?seg WHERE { <customer:5> <customer#c_mktsegment> ?seg }", query_id="um-point"
    )
    assert status == 200 and _bindings(body) == [("BENCH",)]
    assert spark_jobs.count("rest-query-um-point") == 2


def test_data_verbs_probe_only_base_held_predicates(spark, spark_jobs):
    """INSERT DATA and DELETE DATA hand their parsed rows straight to the Δ:
    rows of a predicate the base holds cost the one probe job, rows of a
    new predicate none."""
    us = UpdatableStore.from_store(relational.cached_store(spark, SF_DIR))

    def update(text):
        return spark_jobs.run(lambda: apply_update(us, text, spark))[1]

    seg = "<customer:7> <customer#c_mktsegment>"
    update('INSERT DATA { <customer:1> <customer#c_mktsegment> "WARM" }')  # the schema read
    assert update(f'INSERT DATA {{ {seg} "PROBED" }}') <= 1
    assert update(f'DELETE DATA {{ {seg} "PROBED" }}') == 0  # the Δ decides it
    assert update(f'DELETE DATA {{ {seg} "NOPE" }}') <= 1
    assert update(f'INSERT DATA {{ <customer:7> <{TAG}> "new" }}') == 0
    assert update(f'DELETE DATA {{ <customer:7> <{TAG}> "new" }}') == 0
    assert update(f'DELETE DATA {{ <customer:7> <{TAG}> "never" }}') == 0
    assert _rows(us.current, f"SELECT ?s WHERE {{ {seg} ?s }}") == [("HOUSEHOLD",)]


def test_one_pattern_where_settles_without_a_probe(spark, spark_jobs):
    """A warm DELETE…INSERT…WHERE whose WHERE is one triple pattern runs
    its one WHERE job; a two-pattern WHERE still probes the base."""
    us = UpdatableStore.from_store(relational.cached_store(spark, SF_DIR))

    def update(text):
        return spark_jobs.run(lambda: apply_update(us, text, spark))[1]

    update(_rewrite(4, "WARM"))  # pays the one-time schema read
    assert update(_rewrite(6, "ONE")) == 1
    two = (
        "DELETE { <customer:8> <customer#c_mktsegment> ?s } "
        'INSERT { <customer:8> <customer#c_mktsegment> "TWO" } '
        "WHERE { <customer:8> <customer#c_mktsegment> ?s ; <customer#c_name> ?n }"
    )
    update(two.replace("customer:8", "customer:9"))  # warms the two-pattern plan
    where = parse_sparql_query(
        "SELECT * WHERE { <customer:8> <customer#c_mktsegment> ?s ; <customer#c_name> ?n }"
    )[1]
    _, where_jobs = spark_jobs.run(lambda: driver_tier.collect_rows(
        compiler.evaluate(us.current.view(track_dt=True), where), driver_tier.DRIVER_TIER_MAX_ROWS
    ))
    assert update(two) == where_jobs + 1  # the WHERE, then the probe
    for k, seg in ((4, "WARM"), (6, "ONE"), (8, "TWO")):
        q = f"SELECT ?s WHERE {{ <customer:{k}> <customer#c_mktsegment> ?s }}"
        assert _rows(us.current, q) == [(seg,)]
    # the Δ keeps removed ⊆ base and added ∩ base = ∅
    seg = "customer#c_mktsegment"
    assert {(r[0], r[2]) for r in us.current.removed[seg]} == {
        ("customer:4", "MACHINERY"), ("customer:6", "BUILDING"),
        ("customer:8", "FURNITURE"), ("customer:9", "BUILDING"),
    }
    assert {r[2] for r in us.current.added[seg]} == {"WARM", "ONE", "TWO"}


def test_limit_over_a_three_partition_store(spark):
    """A LIMIT over a store of three partitions answers right. A bare LIMIT
    compiles to a top-N over the projected vars, so it is deterministic."""
    triples = spark.range(0, 30, numPartitions=3).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        F.lit("p").alias("p"),
        F.col("id").cast("string").alias("o_lex"),
        F.lit("string").alias("o_dt"),
    ).localCheckpoint()
    store = TripleStore(triples)
    store.stats()  # the stats build is the store's, not the query's
    ep = SparqlEndpoint(spark, UpdatableStore.from_store(store))
    q = "SELECT ?s ?o WHERE { ?s <p> ?o }"
    status, _ctype, body = ep.query("kb", q)
    assert status == 200 and len(_bindings(body)) == 30
    status, _ctype, body = ep.query("kb", q + " ORDER BY ?o LIMIT 1")
    assert status == 200 and _bindings(body) == [("0", "s0")]
    status, _ctype, body = ep.query("kb", q + " LIMIT 1")
    assert status == 200 and _bindings(body) == [("0", "s0")]


def test_delete_insert_where_past_the_gate_matches_the_delta(spark, monkeypatch):
    """The past-gate rewrite filters the one flagged frame the Δ path
    collects: same answers, a repeated insert row and all."""
    from blazegraph_database_spark.operators import driver_tier

    text = (
        "DELETE { ?c <customer#c_mktsegment> ?s } "
        'INSERT { ?c <customer#c_mktsegment> "MOVED" . <urn:x> <urn:p> "same" } '
        'WHERE { ?c <customer#c_mktsegment> ?s . FILTER(?s = "BUILDING") }'
    )
    queries = [
        "SELECT ?s (COUNT(*) AS ?n) WHERE { ?c <customer#c_mktsegment> ?s } GROUP BY ?s",
        "SELECT ?o WHERE { <urn:x> <urn:p> ?o }",
    ]

    def answers(gate):
        monkeypatch.setattr(driver_tier, "DRIVER_TIER_MAX_ROWS", gate)
        us = UpdatableStore.from_store(relational.cached_store(spark, SF_DIR))
        apply_update(us, text, spark)
        return [sorted(_rows(us.query_store, q)) for q in queries]

    delta, compacted = answers(driver_tier.DRIVER_TIER_MAX_ROWS), answers(0)
    assert delta == compacted
    assert ("BUILDING", 0) not in delta[0] and delta[1] == [("same",)]
