"""GOM generic-object-model facade tests (ref: bigdata-gom IGPO.java /
IObjectManager.java / ObjectMgrModel.java)."""

from __future__ import annotations

import pytest

from blazegraph_database_spark.gom import ObjectManager
from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.update.update import UpdatableStore


@pytest.fixture()
def om(spark):
    rows = [
        ("a", "name", "Alice", "string"),
        ("a", "age", "30", "long"),
        ("a", "knows", "b", "iri"),
        ("b", "name", "Bob", "string"),
        ("c", "knows", "a", "iri"),
    ]
    us = UpdatableStore.from_store(
        TripleStore(
            spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
        )
    )
    return ObjectManager(us)


def test_gpo_reads_and_links(om):
    a = om.get_gpo("a")
    assert a.get_value("name") == ("Alice", "string")
    assert a.get_value("age") == ("30", "long")
    assert a.is_bound("knows") and not a.is_bound("nope")
    assert len(a.get_statements()) == 3
    # links out: knows → b (interned: same GPO instance)
    out = a.get_links_out("knows")
    assert not out.is_link_set_in() and len(out) == 1
    b = om.get_gpo("b")
    assert b in out
    assert next(iter(out)) is b
    # links in: c knows a
    inset = a.get_links_in("knows")
    assert inset.is_link_set_in() and [g.id for g in inset] == ["c"]
    assert a.get_reverse_link_properties() == {"knows": 1}


def test_gpo_mutations_commit_as_one_version(om):
    a = om.get_gpo("a")
    n_versions = len(om.store.versions)
    a.set_value("name", "Alicia")
    a.add_value("tag", "x")
    a.remove_value("knows", "b", "iri")
    # buffered: store unchanged until commit, but the GPO view reflects it
    assert a.get_value("name") == ("Alicia", "string")
    assert len(om.store.versions) == n_versions
    om.commit()
    assert len(om.store.versions) == n_versions + 1  # ONE commit point
    fresh = ObjectManager(om.store).get_gpo("a")
    assert fresh.get_value("name") == ("Alicia", "string")
    assert fresh.get_value("tag") == ("x", "string")
    assert not fresh.is_bound("knows")


def test_gpo_commit_of_new_predicates_runs_no_job(om, spark_jobs):
    """A commit hands its buffered rows to the store as rows: with the
    base's stats built, rows of predicates the base cannot hold, and rows
    the Δ already decides, settle with no Spark job."""
    om.store.current.stats()  # the stats build is the store's, not the commit's
    a = om.get_gpo("a")
    a.add_value("tag", "x")
    a.add_value("tag", "y")
    assert spark_jobs.run(om.commit)[1] == 0
    a.remove_value("tag", "x", "string")
    assert spark_jobs.run(om.commit)[1] == 0
    assert ObjectManager(om.store).get_gpo("a").get_value("tag") == ("y", "string")


def test_gpo_remove_object(om):
    om.get_gpo("a").remove()
    om.commit()
    cur = om.store.current.df
    assert cur.filter("s = 'a'").count() == 0
    assert cur.filter("o_lex = 'a' AND o_dt = 'iri'").count() == 0  # c→a gone
    assert cur.filter("s = 'b'").count() == 1  # b untouched


def test_om_abort_discards(om):
    a = om.get_gpo("a")
    a.set_value("name", "Zed")
    om.abort()
    assert om.get_gpo("a").get_value("name") == ("Alice", "string")
    om.commit()  # nothing buffered: no new version
    assert len(om.store.versions) == 1


def test_om_init_gpos_batch(om):
    gpos = om.init_gpos(["a", "b"])
    assert gpos["a"].get_value("name") == ("Alice", "string")
    assert gpos["b"].get_value("name") == ("Bob", "string")


def test_om_evaluate_and_execute(om):
    got = {r.n for r in om.evaluate("SELECT ?n WHERE { ?s <name> ?n }").collect()}
    assert got == {"Alice", "Bob"}
    a = om.get_gpo("a")
    a.add_value("tag", "t1")  # buffered edit must flush before the update
    om.execute('INSERT DATA { <d> <name> "Dave" }')
    fresh = ObjectManager(om.store)
    assert fresh.get_gpo("d").get_value("name") == ("Dave", "string")
    assert fresh.get_gpo("a").get_value("tag") == ("t1", "string")


def test_gpo_add_then_remove_nets_out(om):
    """Buffered add/remove pairs cancel: a value added then removed (or
    overwritten twice via set_value) before commit must NOT be resurrected
    by the removals-then-additions replay (review r5 finding)."""
    a = om.get_gpo("a")
    a.set_value("name", "Alicia")
    a.set_value("name", "Zed")
    b = om.get_gpo("b")
    b.add_value("tag", "x")
    b.remove_values("tag")
    n_versions = len(om.store.versions)
    om.commit()
    df = om.store.current.df
    names = sorted(
        r.o_lex for r in df.filter("s = 'a' and p = 'name'").collect()
    )
    assert names == ["Zed"]  # 'Alicia' must not survive
    assert df.filter("s = 'b' and p = 'tag'").count() == 0
    # in-memory view agrees with the store
    assert a.get_values("name") == [("Zed", "string")]
    assert b.get_values("tag") == []
    # exactly one new commit point (b's netted-out edit adds none)
    assert len(om.store.versions) == n_versions + 1


def test_gpo_remove_then_add_same_value_is_noop(om):
    """Removing a stored value then re-adding it nets to nothing: no
    spurious commit point, value still present."""
    a = om.get_gpo("a")
    a.remove_value("name", "Alice")
    a.add_value("name", "Alice")
    n_versions = len(om.store.versions)
    om.commit()
    assert len(om.store.versions) == n_versions  # no-op commit
    assert a.get_value("name") == ("Alice", "string")
    assert om.store.current.df.filter("s = 'a' and p = 'name'").count() == 1


def test_remove_cancels_pending_links(om):
    """remove() cancels OTHER GPOs' buffered adds that point at the removed
    object — commit must not re-link a removed object."""
    b = om.get_gpo("b")
    c = om.get_gpo("c")
    c.add_value("likes", "b", "iri")  # pending link INTO b
    b.remove()
    om.commit()
    df = om.store.current.df
    assert df.filter("s = 'b'").count() == 0
    assert df.filter("o_lex = 'b' and o_dt in ('iri','bnode')").count() == 0
