"""Property-graph facade tests (ref: bigdata-blueprints BigdataGraph —
TestBigdataGraph vertex/edge/property round-trips)."""

from __future__ import annotations

from blazegraph_database_spark.blueprints import PropertyGraph
from blazegraph_database_spark.model.store import TripleStore


def _empty_store(spark):
    return TripleStore(
        spark.createDataFrame([], "s string, p string, o_lex string, o_dt string")
    )


def test_vertices_edges_properties(spark):
    g = PropertyGraph(_empty_store(spark))
    g.add_vertex("v:ann", name="Ann", age=34)
    g.add_vertex("v:bob", name="Bob")
    g.add_edge("v:ann", "knows", "v:bob", since=2019)
    assert sorted(r["id"] for r in g.vertices().collect()) == ["v:ann", "v:bob"]
    assert g.vertex("v:ann") == {"name": "Ann", "age": "34"}
    # typed literal tags survive the mapping
    dts = {r["name"]: r["dt"] for r in g.vertex_properties("v:ann").collect()}
    assert dts == {"name": "string", "age": "long"}
    assert [tuple(r) for r in g.edges().collect()] == [("v:ann", "knows", "v:bob")]
    assert g.edge_properties("v:ann", "knows", "v:bob") == {"since": "2019"}


def test_vertex_and_edge_writes_run_no_job(spark, spark_jobs):
    """add_vertex and add_edge hand their rows to the store as rows: over a
    base whose stats rule their predicates out they run no Spark job."""
    store = _empty_store(spark)
    store.stats()  # the stats build is the store's, not the write's
    g = PropertyGraph(store)
    assert spark_jobs.run(lambda: g.add_vertex("v:ann", name="Ann", age=34))[1] == 0
    assert spark_jobs.run(lambda: g.add_edge("v:ann", "knows", "v:bob", since=2019))[1] == 0
    assert g.vertex("v:ann") == {"name": "Ann", "age": "34"}
    assert g.edge_properties("v:ann", "knows", "v:bob") == {"since": "2019"}


def test_traversals_and_degrees(spark):
    g = PropertyGraph(_empty_store(spark))
    for v in ("v:a", "v:b", "v:c"):
        g.add_vertex(v)
    g.add_edge("v:a", "knows", "v:b")
    g.add_edge("v:a", "likes", "v:c")
    g.add_edge("v:c", "knows", "v:a")
    assert sorted(r["id"] for r in g.out_neighbors("v:a").collect()) == ["v:b", "v:c"]
    assert [r["id"] for r in g.out_neighbors("v:a", label="knows").collect()] == ["v:b"]
    assert [r["id"] for r in g.in_neighbors("v:a").collect()] == ["v:c"]
    assert sorted(r["id"] for r in g.both_neighbors("v:a").collect()) == ["v:b", "v:c"]
    deg = {r["id"]: r["degree"] for r in g.degrees("out").collect()}
    assert deg == {"v:a": 2, "v:c": 1}
    both = {r["id"]: r["degree"] for r in g.degrees("both").collect()}
    assert both == {"v:a": 3, "v:b": 1, "v:c": 2}


def test_remove_edge_drops_properties(spark):
    g = PropertyGraph(_empty_store(spark))
    g.add_edge("v:a", "knows", "v:b", w=1)
    g.remove_edge("v:a", "knows", "v:b")
    assert g.edges().isEmpty()
    assert g.edge_properties("v:a", "knows", "v:b") == {}


def test_gas_handoff(spark):
    from blazegraph_database_spark.operators import gas

    g = PropertyGraph(_empty_store(spark))
    g.add_edge("v:a", "knows", "v:b")
    g.add_edge("v:b", "knows", "v:c")
    out = {r["node"]: r["depth"] for r in gas.bfs(g.as_gas_edges(), ["v:a"]).collect()}
    assert out == {"v:a": 0, "v:b": 1, "v:c": 2}


def test_versioning_inherits_snapshot_isolation(spark):
    g = PropertyGraph(_empty_store(spark))
    g.add_vertex("v:a")
    v0 = g.store.current
    g.add_vertex("v:b")
    assert v0.df.count() == 1  # old version untouched
    assert g.vertices().count() == 2


def test_mutation_listener_counts(spark):
    """MutationListener tallies inserted/removed edit records per commit
    (ref: bigdata-blueprints MutationListener.java counters over IChangeLog
    change events; wired here to the MVCC changelog)."""
    from blazegraph_database_spark.blueprints import MutationListener

    g = PropertyGraph(_empty_store(spark))
    ml = MutationListener()
    g.add_listener(ml)
    g.add_vertex("v:a", name="Alice")      # vertex + 1 property = 2 edits
    g.add_edge("v:a", "knows", "v:b", w=1)  # edge + 1 property = 2 edits
    assert (ml.n_inserted, ml.n_removed, ml.n_commits) == (4, 0, 2)
    g.remove_edge("v:a", "knows", "v:b")   # edge + its property removed
    assert (ml.n_inserted, ml.n_removed, ml.n_commits) == (4, 2, 3)
    g.remove_listener(ml)
    g.add_vertex("v:c")
    assert ml.n_commits == 3  # detached: no further events


def test_graph_listener_edit_records(spark):
    """graph_edited receives typed edit records (action/element/id/label/
    name/value) — the BigdataGraphEdit/GraphAtom analog, DataFrame-valued."""
    from blazegraph_database_spark.blueprints import GraphListener

    seen = []

    class Capture(GraphListener):
        def graph_edited(self, edits):
            seen.extend(
                (r["action"], r["element"], r["id"], r["label"], r["name"], r["value"])
                for r in edits.collect()
            )

    g = PropertyGraph(_empty_store(spark))
    g.add_listener(Capture())
    g.add_edge("v:a", "knows", "v:b", since=2020)
    assert ("added", "edge", "v:a", "knows", None, "v:b") in seen
    sid = "<<v:a|pg:edge:knows|v:b|iri>>"
    assert ("added", "property", sid, None, "since", "2020") in seen


def test_bulk_load_single_commit(spark):
    """PropertyGraphBulkLoad buffers elements and relational loads, landing
    everything as ONE commit (ref: BigdataGraphBulkLoad.java:55 buffered
    unisolated connection; DataLoader-style bulk path)."""
    from blazegraph_database_spark.blueprints import (
        MutationListener, PropertyGraphBulkLoad,
    )

    g = PropertyGraph(_empty_store(spark))
    ml = MutationListener()
    g.add_listener(ml)
    bl = PropertyGraphBulkLoad(g)
    bl.add_vertex("v:a", name="Alice")
    bl.add_edge("v:a", "knows", "v:b")
    bl.set_property("v:a", "age", 30)
    people = spark.createDataFrame(
        [("v:c", "Carol", 7), ("v:d", "Dan", None)], "vid string, name string, rank int"
    )
    bl.load_vertices(people, "vid", ["name", "rank"])
    bl.load_edges(
        spark.createDataFrame([("v:c", "v:d")], "src string, dst string"),
        "src", "dst", "follows",
    )
    assert g.vertices().count() == 0  # nothing visible before commit
    bl.commit()
    # vertex(2 explicit+2 loaded? v:a + v:c + v:d) -- v:b only appears as
    # an edge target (same as the embedded facade)
    assert {r["id"] for r in g.vertices().collect()} == {"v:a", "v:c", "v:d"}
    assert g.vertex("v:c") == {"name": "Carol", "rank": "7"}
    assert g.vertex("v:d") == {"name": "Dan"}  # NULL prop row dropped
    assert {(r["out"], r["label"], r["in"]) for r in g.edges().collect()} == {
        ("v:a", "knows", "v:b"), ("v:c", "follows", "v:d"),
    }
    assert ml.n_commits == 1  # ONE commit for the whole load
    # a second commit with an empty buffer is a no-op
    bl.commit()
    assert ml.n_commits == 1


def test_bulk_load_rollback(spark):
    from blazegraph_database_spark.blueprints import PropertyGraphBulkLoad

    g = PropertyGraph(_empty_store(spark))
    bl = PropertyGraphBulkLoad(g)
    bl.add_vertex("v:x")
    bl.rollback()
    bl.commit()
    assert g.vertices().count() == 0


def test_property_graph_client_over_rest(spark):
    """Remote graph client (ref: BigdataGraphClient.java:57 — the
    blueprints facade over a SPARQL endpoint URL): writes are SPARQL
    UPDATEs, reads SPARQL SELECTs over real HTTP; interoperates with the
    embedded facade's pg: encoding (same store, same statement ids)."""
    from blazegraph_database_spark.blueprints import PropertyGraphClient
    from blazegraph_database_spark.server import SparqlEndpoint, start_background
    from blazegraph_database_spark.update.update import UpdatableStore

    store = UpdatableStore.from_store(_empty_store(spark))
    ep = SparqlEndpoint(spark, store)
    srv, port = start_background(ep)
    try:
        c = PropertyGraphClient(f"http://127.0.0.1:{port}")
        c.add_vertex("v:a", name="Alice", age=30)
        c.add_vertex("v:b", name="Bob")
        sid = c.add_edge("v:a", "knows", "v:b", weight=1.5, since=2020)
        assert sid == "<<v:a|pg:edge:knows|v:b|iri>>"

        assert c.vertices() == ["v:a", "v:b"]
        assert c.vertex("v:a") == {"name": "Alice", "age": "30"}
        assert c.edges() == [("v:a", "knows", "v:b")]
        assert c.edges("knows") == [("v:a", "knows", "v:b")]
        assert c.edge_properties("v:a", "knows", "v:b") == {
            "weight": "1.5", "since": "2020",
        }
        assert c.out_neighbors("v:a") == ["v:b"]
        assert c.in_neighbors("v:b", "knows") == ["v:a"]

        # the embedded facade sees the client's writes (same store/ids)
        g = PropertyGraph(store)
        assert g.edge_properties("v:a", "knows", "v:b") == {
            "weight": "1.5", "since": "2020",
        }

        c.remove_edge("v:a", "knows", "v:b")
        assert c.edges() == []
        assert c.edge_properties("v:a", "knows", "v:b") == {}
        assert c.vertices() == ["v:a", "v:b"]  # vertices untouched
    finally:
        srv.shutdown()


def test_client_rejects_illegal_iri_operands():
    """Vertex ids / edge labels / property names containing characters the
    IRIREF production forbids must be rejected before interpolation into
    generated SPARQL (r9 advisor: '>' or quotes in an id yields malformed
    or injectable query text)."""
    import pytest

    from blazegraph_database_spark.blueprints import PropertyGraphClient

    c = PropertyGraphClient("http://127.0.0.1:1")  # never contacted
    for bad in ("v>x", 'v"x', "v x", "v{x", "v\\x", "v`x", "v\nx"):
        with pytest.raises(ValueError):
            c._iri(bad)
        with pytest.raises(ValueError):
            c.add_vertex(bad)  # raises before any HTTP I/O
    with pytest.raises(ValueError):
        c.add_edge("v:a", "knows> <urn:x> <urn:y> . <urn:z", "v:b")
    with pytest.raises(ValueError):
        c.add_vertex("v:a", **{"na me": 1})
    assert c._iri("v:ok") == "<v:ok>"


def test_client_posts_large_queries(spark):
    """Queries past the URL-size threshold go as a form-encoded POST body
    (the reference client POSTs; GETs hit URL-length caps)."""
    from blazegraph_database_spark.blueprints import PropertyGraphClient
    from blazegraph_database_spark.server import SparqlEndpoint, start_background
    from blazegraph_database_spark.update.update import UpdatableStore

    store = UpdatableStore.from_store(_empty_store(spark))
    ep = SparqlEndpoint(spark, store)
    srv, port = start_background(ep)
    try:
        c = PropertyGraphClient(f"http://127.0.0.1:{port}")
        c.add_vertex("v:a", name="Alice")
        pad = " ".join("# pad" for _ in range(400))  # > _GET_MAX_QUERY chars
        rows = c._select(
            "SELECT ?id WHERE { ?id <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
            "<pg:Vertex> }\n" + pad
        )
        assert [r["id"] for r in rows] == ["v:a"]
    finally:
        srv.shutdown()
