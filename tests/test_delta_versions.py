"""Δ versions (update/update.py, model/store.DeltaStore): a write under the
driver gate is its base plus exact added/removed row sets. Every answer
read from a Δ version must equal the answer from compacting the same write
sequence, which is what a driver gate of 0 forces on every write."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blazegraph_database_spark.model.store import DeltaStore, TripleStore
from blazegraph_database_spark.operators import driver_tier
from blazegraph_database_spark.plans.sparql_parser import run_sparql
from blazegraph_database_spark.plans.update_parser import apply_update
from blazegraph_database_spark.sources import relational
from blazegraph_database_spark.update.update import UpdatableStore

from conftest import SF_DIR

SCHEMA = "s string, p string, o_lex string, o_dt string"
PLAIN_ROWS = [
    ("customer:3", "customer#c_name", "Customer#000000003", "string"),
    ("customer:3", "customer#c_mktsegment", "BUILDING", "string"),
    ("customer:4", "customer#c_name", "Customer#000000004", "string"),
    ("customer:4", "customer#c_mktsegment", "MACHINERY", "string"),
    ("orders:7", "orders#o_totalprice", "202233.52", "double"),
]


def _relational(spark):
    return relational.cached_store(spark, SF_DIR)


def _plain(spark):
    return TripleStore(spark.createDataFrame(PLAIN_ROWS, SCHEMA))


STORES = {"relational": _relational, "plain": _plain}


def _answer(store, query):
    return sorted((tuple(r) for r in run_sparql(store, query).collect()), key=repr)


def _replay(spark, make, updates, monkeypatch=None, compact=False):
    if compact:
        monkeypatch.setattr(driver_tier, "DRIVER_TIER_MAX_ROWS", 0)
    us = UpdatableStore.from_store(make(spark))
    for text in updates:
        apply_update(us, text, spark)
    if compact:
        monkeypatch.undo()
    return us


def _same_as_compacted(spark, monkeypatch, make, updates, queries):
    """Answers on the Δ version, checked against the compacted replay. The Δ
    side runs twice: with its rows entering plans as literal predicates (the
    default ``LITERAL_MAX_ROWS``) and as broadcast joins (pinned at 0)."""
    compacted = _replay(spark, make, updates, monkeypatch, compact=True)
    assert not isinstance(compacted.current, DeltaStore)
    want = [_answer(compacted.query_store, q) for q in queries]
    for literal_max in (driver_tier.LITERAL_MAX_ROWS, 0):
        with monkeypatch.context() as m:
            m.setattr(driver_tier, "LITERAL_MAX_ROWS", literal_max)
            delta = _replay(spark, make, updates)
            assert (
                isinstance(delta.current, DeltaStore)
                or not updates
                or delta.current is delta.versions[0]
            )
            got = [_answer(delta.query_store, q) for q in queries]
        assert got == want, literal_max
    return delta, got


NAMES = "SELECT ?c ?n WHERE { ?c <customer#c_name> ?n }"
COUNT_NAMES = "SELECT (COUNT(*) AS ?k) WHERE { ?c <customer#c_name> ?n }"
SEG3 = "SELECT ?s WHERE { <customer:3> <customer#c_mktsegment> ?s }"


@pytest.mark.parametrize("kind", sorted(STORES))
def test_insert_of_a_held_triple_adds_no_row(spark, monkeypatch, kind):
    held = '<customer:3> <customer#c_name> "Customer#000000003"'
    before = _answer(UpdatableStore.from_store(STORES[kind](spark)).query_store, COUNT_NAMES)
    us, (names, count) = _same_as_compacted(
        spark, monkeypatch, STORES[kind], [f"INSERT DATA {{ {held} }}"], [NAMES, COUNT_NAMES]
    )
    assert count == before
    assert names.count(("customer:3", "Customer#000000003")) == 1
    assert us.current is us.versions[0]  # the Δ stayed empty
    assert us.current.stats()["customer#c_name"].count == before[0][0]


@pytest.mark.parametrize("kind", sorted(STORES))
def test_delete_of_an_absent_triple_is_a_no_op(spark, monkeypatch, kind):
    base = _answer(UpdatableStore.from_store(STORES[kind](spark)).query_store, NAMES)
    _, (names,) = _same_as_compacted(
        spark, monkeypatch, STORES[kind],
        ['DELETE DATA { <customer:3> <customer#c_name> "nobody" }'], [NAMES],
    )
    assert names == base


@pytest.mark.parametrize("kind", sorted(STORES))
def test_insert_then_delete_and_delete_then_reinsert(spark, monkeypatch, kind):
    new = '<customer:3> <urn:t#tag> "x"'
    held = '<customer:3> <customer#c_mktsegment> "BUILDING"'
    tags = "SELECT ?c ?t WHERE { ?c <urn:t#tag> ?t }"
    us, (t, seg) = _same_as_compacted(
        spark, monkeypatch, STORES[kind],
        [f"INSERT DATA {{ {new} }}", f"DELETE DATA {{ {new} }}",
         f"DELETE DATA {{ {held} }}", f"INSERT DATA {{ {held} }}"],
        [tags, SEG3],
    )
    assert t == [] and seg == [("BUILDING",)]
    assert us.current is us.versions[0]  # both pairs cancel out of the Δ


def test_numeric_filter_over_a_rewritten_native_typed_predicate(spark, monkeypatch):
    """The typed virtual source serves o_totalprice as a native double; the
    Δ's lexical rows are cast to that type before the union."""
    xsd = "http://www.w3.org/2001/XMLSchema#double"
    rewrite = (
        "DELETE { <orders:7> <orders#o_totalprice> ?p } "
        f'INSERT {{ <orders:7> <orders#o_totalprice> "999999.5"^^<{xsd}> }} '
        "WHERE { <orders:7> <orders#o_totalprice> ?p }"
    )
    q = "SELECT ?o ?tp WHERE { ?o <orders#o_totalprice> ?tp FILTER(?tp > 900000) }"
    us, (got,) = _same_as_compacted(spark, monkeypatch, _relational, [rewrite], [q])
    assert got == [("orders:7", "999999.5")]
    assert us.current.pred_dt["orders#o_totalprice"] == "double"


def test_subject_star_with_one_delta_touched_predicate(spark, monkeypatch):
    q = "SELECT ?c ?n ?s WHERE { ?c <customer#c_name> ?n ; <customer#c_mktsegment> ?s }"
    base = _answer(UpdatableStore.from_store(_relational(spark)).query_store, q)
    _, (got,) = _same_as_compacted(
        spark, monkeypatch, _relational,
        ['DELETE DATA { <customer:3> <customer#c_mktsegment> "BUILDING" } ; '
         'INSERT DATA { <customer:3> <customer#c_mktsegment> "BENCH" }'],
        [q],
    )
    assert len(got) == len(base)
    assert [r for r in got if r[0] == "customer:3"][0][2] == "BENCH"


def test_quad_store_default_graph_delete(spark, monkeypatch):
    rows = [
        ("a", "p", "b", "iri", None),
        ("a", "p", "b", "iri", "g1"),
        ("c", "p", "d", "iri", None),
    ]

    def quads(spark):
        return TripleStore(spark.createDataFrame(rows, SCHEMA + ", g string"))

    us, got = _same_as_compacted(
        spark, monkeypatch, quads,
        ["DELETE DATA { <a> <p> <b> }", "INSERT DATA { GRAPH <g2> { <e> <p> <f> } }"],
        ["SELECT ?s ?o WHERE { ?s <p> ?o }", "SELECT ?g ?s WHERE { GRAPH ?g { ?s <p> ?o } }"],
    )
    assert got[0] == [("a", "b"), ("c", "d"), ("e", "f")]  # the g1 copy survives
    assert got[1] == [("g1", "a"), ("g2", "e")]  # GRAPH ?g skips the default graph
    assert us.current.removed == {"p": frozenset({("a", "p", "b", "iri", None)})}


def test_timestamp_read_of_an_earlier_version(spark, monkeypatch):
    updates = [
        'INSERT DATA { <customer:3> <urn:t#tag> "v1" }',
        'DELETE DATA { <customer:3> <customer#c_mktsegment> "BUILDING" }',
        'INSERT DATA { <customer:3> <urn:t#tag> "v3" }',
    ]
    q = "SELECT ?p ?o WHERE { <customer:3> ?p ?o }"
    delta = _replay(spark, _relational, updates)
    compacted = _replay(spark, _relational, updates, monkeypatch, compact=True)
    answers = [_answer(v, q) for v in delta.versions]
    assert answers == [_answer(v, q) for v in compacted.versions]
    assert ("urn:t#tag", "v1") in answers[1] and ("urn:t#tag", "v3") not in answers[2]


def test_transaction_rollback_and_collapse(spark):
    def tag(v):
        return spark.createDataFrame([("customer:3", "urn:t#tag", v, "string")], SCHEMA)

    us = UpdatableStore.from_store(_relational(spark))
    with pytest.raises(RuntimeError):
        with us.transaction():
            us.insert_data(tag("gone"))
            raise RuntimeError("boom")
    assert len(us.versions) == 1 and us.current is us.versions[0]
    with us.transaction():
        us.insert_data(tag("a"))
        us.insert_data(tag("b"))
        us.delete_data(tag("a"))
    assert len(us.versions) == 2
    assert us.current.added == {"urn:t#tag": frozenset({("customer:3", "urn:t#tag", "b", "string")})}
    log = {(r["commit"], r["action"], r["o_lex"]) for r in us.changelog().collect()}
    assert log == {(1, "added", "b")}


def test_point_read_after_a_write_keeps_the_virtual_index(spark):
    """After one INSERT DATA, a constant-predicate point read still scans
    the orders parquet through its virtual index, not the melted union."""
    us = UpdatableStore.from_store(_relational(spark))
    apply_update(us, 'INSERT DATA { <customer:3> <urn:t#tag> "x" }', spark)
    df = run_sparql(us.query_store, "SELECT ?tp WHERE { <orders:7> <orders#o_totalprice> ?tp }")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "orders.parquet" in plan
    assert "customer.parquet" not in plan and "Generate" not in plan
    assert [r["tp"] for r in df.collect()] == [
        r[0] for r in _relational(spark).pattern_source("orders#o_totalprice")
        .filter(F.col("s") == "orders:7").select("o_lex").collect()
    ]


def test_changelog_of_delta_commits_runs_no_job(spark, spark_jobs):
    us = UpdatableStore.from_store(_relational(spark))
    apply_update(us, 'INSERT DATA { <customer:3> <urn:t#tag> "x" }', spark)
    apply_update(us, 'DELETE DATA { <customer:3> <urn:t#tag> "x" }', spark)
    rows, jobs = spark_jobs.run(lambda: us.changelog().collect())
    assert jobs == 0
    assert sorted((r["commit"], r["action"]) for r in rows) == [(1, "added"), (2, "removed")]
