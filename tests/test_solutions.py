"""Persisted named solution sets (ref: ssets/SolutionSetManager.java,
ISolutionSetManager.putSolutions replace semantics, AST2BOpUpdate.java
INSERT INTO / DELETE FROM solution-set evaluation, sparql.jjt
InsertClause/DeleteClause/SolutionsRef grammar)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.plans.sparql_parser import run_sparql
from blazegraph_database_spark.plans.update_parser import apply_update, parse_update
from blazegraph_database_spark.update.solutions import (
    SolutionSetDoesNotExistError,
    SolutionSetExistsError,
    SolutionSetManager,
)
from blazegraph_database_spark.update.update import UpdatableStore


@pytest.fixture()
def us(spark):
    rows = [
        ("a", "score", "10", "long"),
        ("b", "score", "20", "long"),
        ("c", "score", "30", "long"),
        ("a", "tag", "x", "string"),
        ("b", "tag", "y", "string"),
        ("c", "tag", "y", "string"),
    ]
    return UpdatableStore.from_store(
        TripleStore(
            spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
        )
    )


def test_parse_solution_set_ops():
    ops = parse_update(
        "CREATE SOLUTIONS %a ; "
        "INSERT INTO %a SELECT ?s WHERE { ?s <p> ?o } ; "
        "DELETE FROM %a SELECT DISTINCT ?s ?o WHERE { ?s <q> ?o } ; "
        "DROP SILENT SOLUTIONS %a"
    )
    assert [o["op"] for o in ops] == [
        "create_solutions",
        "solutions_modify",
        "solutions_modify",
        "drop_solutions",
    ]
    assert ops[1]["action"] == "insert" and ops[1]["project"] == ["s"]
    assert ops[2]["action"] == "delete" and ops[2]["distinct"]
    assert ops[3]["silent"] is True


def test_insert_include_roundtrip(spark, us):
    apply_update(
        us, "INSERT INTO %hi SELECT ?s WHERE { ?s <score> ?v FILTER(?v > 15) }"
    )
    got = run_sparql(
        us.query_store, "SELECT ?s ?t WHERE { INCLUDE %hi . ?s <tag> ?t }"
    )
    assert sorted(tuple(r) for r in got.collect()) == [("b", "y"), ("c", "y")]
    # a persisted set joined by a var that two patterns also bind: the
    # join is on the set's lexical column, never a cross join
    rows = [
        ("a", "knows", "b", "iri"),
        ("b", "name", "Bob", "string"),
        ("c", "knows", "d", "iri"),
        ("d", "name", "Dan", "string"),
        ("b", "flag", "1", "long"),
    ]
    us2 = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    apply_update(us2, "INSERT INTO %hi SELECT ?y WHERE { ?y <flag> ?f }")
    got = run_sparql(
        us2.query_store, "SELECT ?n WHERE { INCLUDE %hi . ?x <knows> ?y . ?y <name> ?n }"
    )
    assert [tuple(r) for r in got.collect()] == [("Bob",)]


def test_insert_replaces_not_appends(spark, us):
    apply_update(us, "INSERT INTO %x SELECT ?s WHERE { ?s <score> ?v }")
    assert us.solutions_manager().get("x").count() == 3
    # putSolutions REPLACES (ref ISolutionSetManager.putSolutions:94)
    apply_update(
        us, "INSERT INTO %x SELECT ?s WHERE { ?s <score> ?v FILTER(?v > 25) }"
    )
    assert us.solutions_manager().get("x").count() == 1


def test_delete_from_is_minus(spark, us):
    apply_update(us, "INSERT INTO %x SELECT ?s WHERE { ?s <score> ?v }")
    apply_update(
        us, 'DELETE FROM %x SELECT ?s WHERE { ?s <tag> ?t FILTER(?t = "y") }'
    )
    assert [r.s for r in us.solutions_manager().get("x").collect()] == ["a"]


def test_delete_from_missing_set_raises(spark, us):
    with pytest.raises(SolutionSetDoesNotExistError):
        apply_update(us, "DELETE FROM %nope SELECT ?s WHERE { ?s <score> ?v }")


def test_create_exists_and_silent(spark, us):
    apply_update(us, "CREATE SOLUTIONS %a")
    with pytest.raises(SolutionSetExistsError):
        apply_update(us, "CREATE SOLUTIONS %a")
    apply_update(us, "CREATE SILENT SOLUTIONS %a")  # no raise
    apply_update(us, "DROP SOLUTIONS %a")
    with pytest.raises(SolutionSetDoesNotExistError):
        apply_update(us, "DROP SOLUTIONS %a")
    apply_update(us, "DROP SILENT SOLUTIONS %a")  # no raise


def test_persisted_across_managers(spark, us, tmp_path):
    path = str(tmp_path / "ssets")
    us.solutions_manager(path)
    apply_update(us, "INSERT INTO %hi SELECT ?s WHERE { ?s <score> ?v FILTER(?v > 15) }")
    # a brand-new manager over the same path = new request/process
    m2 = SolutionSetManager(spark, path)
    assert m2.names() == ["hi"]
    assert m2.get("hi").count() == 2
    # and MVCC: a reader holding the old DataFrame survives a re-put
    old = m2.get("hi")
    apply_update(us, "INSERT INTO %hi SELECT ?s WHERE { ?s <score> ?v FILTER(?v > 25) }")
    assert old.count() == 2
    assert SolutionSetManager(spark, path).get("hi").count() == 1


def test_query_local_with_shadows_persisted(spark, us):
    apply_update(us, "INSERT INTO %x SELECT ?s WHERE { ?s <score> ?v }")
    got = run_sparql(
        us.query_store,
        'SELECT ?s WITH { SELECT ?s WHERE { ?s <tag> ?t FILTER(?t = "x") } } AS %x '
        "WHERE { INCLUDE %x }",
    )
    assert [r.s for r in got.collect()] == ["a"]


def test_include_persisted_is_scan_not_recompute(spark, us, tmp_path):
    """The INCLUDE of a parquet-backed set compiles to a parquet scan of
    the set's files — not a re-evaluation of the defining WHERE."""
    us.solutions_manager(str(tmp_path / "s"))
    apply_update(us, "INSERT INTO %hi SELECT ?s WHERE { ?s <score> ?v FILTER(?v > 15) }")
    df = us.query_store.named_sets["hi"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan and "Join" not in plan


def test_include_inside_update_where(spark, us):
    """Review r5-4: INCLUDE %set inside an UPDATE's WHERE clause — the
    reference's compute-once-then-modify-the-graph use case."""
    apply_update(us, "INSERT INTO %hi SELECT ?s WHERE { ?s <score> ?v FILTER(?v > 15) }")
    apply_update(
        us,
        'INSERT { ?s <flag> "hi" } WHERE { INCLUDE %hi . ?s <tag> ?t }',
    )
    got = sorted(
        r.s for r in us.current.df.filter(F.col("p") == "flag").select("s").collect()
    )
    assert got == ["b", "c"]
