"""RDFS closure + SPARQL UPDATE tests on hand ontologies with known
closures (modeled on the reference's TestRuleFastClosure / TestUpdate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blazegraph_database_spark.inference import rdfs
from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.model.terms import Lit, Var as V
from blazegraph_database_spark.plans import algebra as A
from blazegraph_database_spark.update.update import UpdatableStore


def _store(spark, rows):
    return TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))


@pytest.fixture(scope="module")
def onto(spark):
    T = "iri"
    return _store(
        spark,
        [
            # schema
            ("Dog", "rdfs:subClassOf", "Mammal", T),
            ("Mammal", "rdfs:subClassOf", "Animal", T),
            ("hasPet", "rdfs:subPropertyOf", "likes", T),
            ("likes", "rdfs:subPropertyOf", "knowsOf", T),
            ("hasPet", "rdfs:domain", "Person", T),
            ("hasPet", "rdfs:range", "Animal", T),
            # data
            ("rex", "rdf:type", "Dog", T),
            ("ann", "hasPet", "rex", T),
        ],
    )


def test_rdfs_closure_rules(onto):
    closed = rdfs.rdfs_closure(onto)
    triples = {(r["s"], r["p"], r["o_lex"]) for r in closed.df.collect()}
    assert ("Dog", "rdfs:subClassOf", "Animal") in triples            # rdfs11
    assert ("rex", "rdf:type", "Mammal") in triples                   # rdfs9
    assert ("rex", "rdf:type", "Animal") in triples                   # rdfs9 transitive
    assert ("ann", "likes", "rex") in triples                         # rdfs7
    assert ("ann", "knowsOf", "rex") in triples                       # rdfs7 via rdfs5
    assert ("ann", "rdf:type", "Person") in triples                   # rdfs2
    assert ("rex", "rdf:type", "Animal") in triples                   # rdfs3
    assert ("hasPet", "rdfs:subPropertyOf", "knowsOf") in triples     # rdfs5


def test_closure_idempotent(onto):
    once = rdfs.rdfs_closure(onto)
    twice = rdfs.rdfs_closure(once)
    assert once.df.count() == twice.df.count()


def test_inverse_of(spark):
    st = _store(
        spark,
        [
            ("hasChild", "owl:inverseOf", "hasParent", "iri"),
            ("mary", "hasChild", "bob", "iri"),
            ("carl", "hasParent", "mary", "iri"),
        ],
    )
    out = {(r["s"], r["p"], r["o_lex"]) for r in rdfs.inverse_of_closure(st.df).collect()}
    assert ("bob", "hasParent", "mary") in out
    assert ("mary", "hasChild", "carl") in out  # symmetric declaration


def test_transitive_property(spark):
    st = _store(
        spark,
        [
            ("partOf", "rdf:type", "owl:TransitiveProperty", "iri"),
            ("finger", "partOf", "hand", "iri"),
            ("hand", "partOf", "arm", "iri"),
            ("arm", "partOf", "body", "iri"),
        ],
    )
    out = {(r["s"], r["o_lex"]) for r in rdfs.transitive_property_closure(st.df).filter(F.col("p") == "partOf").collect()}
    assert ("finger", "body") in out and ("hand", "body") in out


def test_same_as(spark):
    st = _store(
        spark,
        [
            ("clark", "owl:sameAs", "superman", "iri"),
            ("superman", "owl:sameAs", "kal-el", "iri"),
            ("clark", "worksAt", "planet", "iri"),
            ("kal-el", "livesIn", "metropolis", "iri"),
            ("lois", "knows", "superman", "iri"),
        ],
    )
    out = rdfs.apply_same_as(st.df)
    rows = {(r["s"], r["p"], r["o_lex"]) for r in out.collect()}
    # all three aliases collapse to the min id 'clark'
    assert ("clark", "worksAt", "planet") in rows
    assert ("clark", "livesIn", "metropolis") in rows
    assert ("lois", "knows", "clark") in rows
    assert not any("superman" in (s, o) or "kal-el" in (s, o) for s, _, o in rows)


def test_has_value(spark):
    """RuleOwlHasValue: (x type a)+(a type Restriction)+(a onProperty p)+
    (a hasValue v) => (x p v) — mirrors the reference rule's premise set."""
    st = _store(
        spark,
        [
            ("R", "rdf:type", "owl:Restriction", "iri"),
            ("R", "owl:onProperty", "color", "iri"),
            ("R", "owl:hasValue", "red", "string"),
            ("thing1", "rdf:type", "R", "iri"),
            ("thing2", "rdf:type", "R", "iri"),
            # typed with a non-restriction class: no inference
            ("thing3", "rdf:type", "C", "iri"),
            # restriction missing its hasValue: no inference
            ("R2", "rdf:type", "owl:Restriction", "iri"),
            ("R2", "owl:onProperty", "shape", "iri"),
            ("thing4", "rdf:type", "R2", "iri"),
        ],
    )
    out = rdfs.has_value_closure(st.df)
    rows = {(r["s"], r["p"], r["o_lex"], r["o_dt"]) for r in out.collect()}
    assert ("thing1", "color", "red", "string") in rows  # literal dt kept
    assert ("thing2", "color", "red", "string") in rows
    assert not any(s == "thing3" and p == "color" for s, p, _, _ in rows)
    assert not any(p == "shape" for _, p, _, _ in rows)


def test_inverse_functional_property(spark):
    """RuleOwlInverseFunctionalProperty: (p type IFP)+(b p a)+(c p a), b!=c
    => (b sameAs c); sharing under a NON-IFP predicate must not merge, and
    same-lexical values under different datatypes are different terms."""
    st = _store(
        spark,
        [
            ("email", "rdf:type", "owl:InverseFunctionalProperty", "iri"),
            ("alice", "email", "a@x.org", "string"),
            ("alice2", "email", "a@x.org", "string"),
            ("alice3", "email", "a@x.org", "string"),
            ("bob", "email", "b@x.org", "string"),
            # same lexical, different datatype: not the same term
            ("eve", "email", "42", "string"),
            ("mallory", "email", "42", "long"),
            # shared value under a non-IFP predicate: no inference
            ("carol", "nick", "cc", "string"),
            ("carol2", "nick", "cc", "string"),
        ],
    )
    out = rdfs.inverse_functional_property_sameas(st.df)
    same = {(r["s"], r["o_lex"]) for r in out.filter(F.col("p") == "owl:sameAs").collect()}
    # linearized: min subject 'alice' is canonical for the 3-clique
    assert same == {("alice2", "alice"), ("alice3", "alice")}
    # ...and the sameAs CC merge restores the full equivalence
    merged = rdfs.apply_same_as(out)
    subs = {r["s"] for r in merged.filter(F.col("p") == "email").collect()}
    assert "alice2" not in subs and "alice3" not in subs and "alice" in subs
    assert {"bob", "eve", "mallory"} <= subs


# ------------------------------------------------------------------ UPDATE --
def test_insert_delete_data(spark):
    st = UpdatableStore.from_store(_store(spark, [("a", "p", "1", "long")]))
    v0 = st.current
    st.insert_data(_store(spark, [("b", "p", "2", "long")]).df)
    assert st.current.df.count() == 2
    st.delete_data(_store(spark, [("a", "p", "1", "long")]).df)
    assert [r["s"] for r in st.current.df.collect()] == ["b"]
    # snapshot isolation: old version unchanged
    assert v0.df.count() == 1


def test_delete_insert_where(spark):
    st = UpdatableStore.from_store(
        _store(spark, [("a", "status", "old", "string"), ("b", "status", "old", "string"), ("c", "status", "new", "string")])
    )
    st.delete_insert_where(
        A.SP(V("x"), "status", Lit("old")),
        delete_template=[(V("x"), "status", Lit("old"))],
        insert_template=[(V("x"), "status", Lit("migrated"))],
    )
    rows = {(r["s"], r["o_lex"]) for r in st.current.df.collect()}
    assert rows == {("a", "migrated"), ("b", "migrated"), ("c", "new")}


def test_graph_ops(spark):
    df = spark.createDataFrame(
        [("s1", "p", "1", "long", "g1"), ("s2", "p", "2", "long", "g2")],
        "s string, p string, o_lex string, o_dt string, g string",
    )
    st = UpdatableStore.from_store(TripleStore(df))
    st.copy_graph("g1", "g3")
    assert st.current.df.filter(F.col("g") == "g3").count() == 1
    st.move_graph("g2", "g4")
    gs = {r["g"] for r in st.current.df.select("g").distinct().collect()}
    assert gs == {"g1", "g3", "g4"}
    st.clear_graph("g3")
    assert st.current.df.filter(F.col("g") == "g3").count() == 0


def test_snapshot_roundtrip(spark, tmp_path):
    st = UpdatableStore.from_store(_store(spark, [("a", "p", "x", "string")]))
    path = str(tmp_path / "snap1")
    st.snapshot(path)
    st2 = UpdatableStore.load_snapshot(spark, path)
    assert st2.current.df.collect() == st.current.df.collect()


def test_insert_with_closure(spark):
    st = UpdatableStore.from_store(
        _store(spark, [("Dog", "rdfs:subClassOf", "Animal", "iri")])
    )
    st.insert_with_closure(_store(spark, [("rex", "rdf:type", "Dog", "iri")]).df)
    rows = {(r["s"], r["p"], r["o_lex"]) for r in st.current.df.collect()}
    assert ("rex", "rdf:type", "Animal") in rows


def _closure_set(df):
    return {(r["s"], r["p"], r["o_lex"]) for r in df.collect()}


def test_delete_with_closure_matches_full_recompute(spark, onto):
    """DRed retraction must equal recompute-from-explicit for every delete
    shape: sole support (inference dies), alternative explicit support
    (inference survives), and re-derivable-as-inference deletes."""
    cases = [
        [("ann", "hasPet", "rex", "iri")],          # kills likes/knowsOf/Person/rdfs3-Animal
        [("rex", "rdf:type", "Dog", "iri")],        # Mammal/Animal types survive via rdfs3? no — die
        [("ann", "hasPet", "rex", "iri"), ("rex", "rdf:type", "Dog", "iri")],
    ]
    for doomed in cases:
        st = UpdatableStore.from_store(TripleStore(onto.df))
        st.insert_with_closure(_store(spark, []).df)  # initial full closure
        st.delete_with_closure(_store(spark, doomed).df)
        got = _closure_set(st.current.df)
        want = _closure_set(rdfs.rdfs_closure(TripleStore(st._explicit)).df)
        assert got == want, (doomed, got ^ want)


def test_delete_with_closure_alternative_support_survives(spark):
    """An inference with a second, surviving derivation must NOT be
    retracted (the DRed re-derive step)."""
    st = UpdatableStore.from_store(
        _store(
            spark,
            [
                ("Dog", "rdfs:subClassOf", "Animal", "iri"),
                ("Cat", "rdfs:subClassOf", "Animal", "iri"),
                ("rex", "rdf:type", "Dog", "iri"),
                ("rex", "rdf:type", "Cat", "iri"),  # second support for (rex type Animal)
            ],
        )
    )
    st.insert_with_closure(_store(spark, []).df)
    st.delete_with_closure(_store(spark, [("rex", "rdf:type", "Dog", "iri")]).df)
    rows = _closure_set(st.current.df)
    assert ("rex", "rdf:type", "Dog") not in rows
    assert ("rex", "rdf:type", "Cat") in rows
    assert ("rex", "rdf:type", "Animal") in rows  # re-derived from Cat


def test_delete_with_closure_rederives_deleted_explicit(spark):
    """Deleting an explicit triple that is still derivable as an inference
    keeps it in the closure (it merely stops being asserted)."""
    st = UpdatableStore.from_store(
        _store(
            spark,
            [
                ("hasPet", "rdfs:subPropertyOf", "likes", "iri"),
                ("ann", "hasPet", "rex", "iri"),
                ("ann", "likes", "rex", "iri"),  # also explicitly asserted
            ],
        )
    )
    st.insert_with_closure(_store(spark, []).df)
    st.delete_with_closure(_store(spark, [("ann", "likes", "rex", "iri")]).df)
    rows = _closure_set(st.current.df)
    assert ("ann", "likes", "rex") in rows  # survives as an inference
    st.delete_with_closure(_store(spark, [("ann", "hasPet", "rex", "iri")]).df)
    rows = _closure_set(st.current.df)
    assert ("ann", "likes", "rex") not in rows  # last support gone


def test_data_delete_never_recomputes_closure(spark, onto, monkeypatch):
    """The cost contract: once a closure exists, data-only deltas must go
    through delta maintenance — rdfs_closure (the full recompute) must not
    run (VERDICT r3: delete cost scales with the delta, not the corpus)."""
    st = UpdatableStore.from_store(TripleStore(onto.df))
    st.insert_with_closure(_store(spark, []).df)  # seeds + closes (full, once)

    def boom(*a, **k):  # pragma: no cover - called only on regression
        raise AssertionError("full closure recompute on a data-only delta")

    monkeypatch.setattr(rdfs, "rdfs_closure", boom)
    st.insert_with_closure(_store(spark, [("bob", "hasPet", "felix", "iri")]).df)
    assert ("bob", "rdf:type", "Person") in _closure_set(st.current.df)
    st.delete_with_closure(_store(spark, [("bob", "hasPet", "felix", "iri")]).df)
    assert ("bob", "rdf:type", "Person") not in _closure_set(st.current.df)
    # schema deltas DO recompute (and must hit the boom)
    with pytest.raises(AssertionError):
        st.delete_with_closure(_store(spark, [("Dog", "rdfs:subClassOf", "Mammal", "iri")]).df)


def test_property_chain_axiom(spark):
    """owl:propertyChainAxiom (OWL RL prp-spo2): hasParent∘hasParent ⊑
    hasGrandparent, including re-firing when a chain head feeds another."""
    T = "iri"
    st = _store(
        spark,
        [
            # hasGrandparent <- hasParent o hasParent (rdf list schema)
            ("hasGrandparent", "owl:propertyChainAxiom", "_:l1", T),
            ("_:l1", "rdf:first", "hasParent", T),
            ("_:l1", "rdf:rest", "_:l2", T),
            ("_:l2", "rdf:first", "hasParent", T),
            ("_:l2", "rdf:rest", "rdf:nil", T),
            # hasGreatGrandparent <- hasGrandparent o hasParent (chained chains)
            ("hasGGp", "owl:propertyChainAxiom", "_:m1", T),
            ("_:m1", "rdf:first", "hasGrandparent", T),
            ("_:m1", "rdf:rest", "_:m2", T),
            ("_:m2", "rdf:first", "hasParent", T),
            ("_:m2", "rdf:rest", "rdf:nil", T),
            ("a", "hasParent", "b", T),
            ("b", "hasParent", "c", T),
            ("c", "hasParent", "d", T),
        ],
    )
    out = {(r["s"], r["p"], r["o_lex"]) for r in rdfs.property_chain_closure(st.df).collect()}
    assert ("a", "hasGrandparent", "c") in out
    assert ("b", "hasGrandparent", "d") in out
    assert ("a", "hasGGp", "d") in out  # needs the second firing round
    assert ("a", "hasGrandparent", "d") not in out


def test_transaction_commit_collapses_versions(spark):
    st = UpdatableStore.from_store(_store(spark, [("a", "p", "1", "long")]))
    n0 = len(st.versions)
    with st.transaction():
        st.insert_data(_store(spark, [("b", "p", "2", "long")]).df)
        st.insert_data(_store(spark, [("c", "p", "3", "long")]).df)
        assert st.current.df.count() == 3  # read-your-writes inside the txn
    assert len(st.versions) == n0 + 1  # one commit point for both verbs
    assert st.current.df.count() == 3


def test_transaction_abort_rolls_back(spark):
    st = UpdatableStore.from_store(_store(spark, [("a", "p", "1", "long")]))
    n0 = len(st.versions)
    with pytest.raises(RuntimeError):
        with st.transaction():
            st.insert_data(_store(spark, [("b", "p", "2", "long")]).df)
            raise RuntimeError("boom")
    assert len(st.versions) == n0
    assert [r["s"] for r in st.current.df.collect()] == ["a"]
    # TM bookkeeping also rolls back: closure state is as before
    st2 = UpdatableStore.from_store(
        _store(spark, [("Dog", "rdfs:subClassOf", "Animal", "iri")])
    )
    st2.insert_with_closure(_store(spark, []).df)
    explicit_before = st2._explicit
    with pytest.raises(RuntimeError):
        with st2.transaction():
            st2.insert_with_closure(_store(spark, [("rex", "rdf:type", "Dog", "iri")]).df)
            raise RuntimeError("boom")
    assert st2._explicit is explicit_before
    assert not {(r["s"]) for r in st2.current.df.collect() if r["s"] == "rex"}


def test_plain_verb_invalidates_closure_bookkeeping(spark):
    """A plain verb between closure calls must force the next closure call
    to re-seed and recompute (code-review r4: stale _closed_valid/_explicit
    made delta_assert fire against an unclosed schema)."""
    st = UpdatableStore.from_store(
        _store(spark, [("B", "rdfs:subClassOf", "C", "iri"), ("y", "rdf:type", "B", "iri")])
    )
    st.insert_with_closure(_store(spark, []).df)
    assert ("y", "rdf:type", "C") in _closure_set(st.current.df)
    # plain verb adds NEW SCHEMA (not via the closure path)
    st.insert_data(_store(spark, [("C", "rdfs:subClassOf", "D", "iri")]).df)
    assert st._closed_valid is False and st._explicit is None
    # next closure call must recompute from the live store: y gets type D
    st.insert_with_closure(_store(spark, [("x", "rdf:type", "B", "iri")]).df)
    closed = _closure_set(st.current.df)
    assert ("y", "rdf:type", "D") in closed
    assert ("x", "rdf:type", "D") in closed


def _closure_set(df):
    return {(r["s"], r["p"], r["o_lex"]) for r in df.collect()}


def test_counting_retract_matches_full_recompute(spark, onto):
    """Support-count TM (SURVEY R5): decrement-only retraction must land on
    the same closure as recomputing from the remaining explicit set."""
    explicit = onto.df
    closed = rdfs.rdfs_closure(onto).df
    counts = rdfs.build_support_counts(closed, explicit)
    delta = spark.createDataFrame(
        [("ann", "hasPet", "rex", "iri")], "s string, p string, o_lex string, o_dt string"
    )
    explicit_new = explicit.join(delta, on=["s", "p", "o_lex", "o_dt"], how="left_anti")
    _, new_closed = rdfs.counting_retract(counts, explicit_new, delta, closed)
    recomputed = rdfs.rdfs_closure(TripleStore(explicit_new)).df
    assert _closure_set(new_closed) == _closure_set(recomputed)
    triples = _closure_set(new_closed)
    assert ("ann", "likes", "rex") not in triples          # lost with the premise
    assert ("rex", "rdf:type", "Mammal") in triples        # still from rex type Dog
    assert ("hasPet", "rdfs:subPropertyOf", "knowsOf") in triples  # schema closure survives


def test_counting_retract_shared_support_survives(spark):
    """A derived triple with two independent explicit premises must survive
    deleting one of them (the diamond case counting handles exactly)."""
    T = "iri"
    st = _store(
        spark,
        [
            ("p1", "rdfs:subPropertyOf", "q", T),
            ("p2", "rdfs:subPropertyOf", "q", T),
            ("a", "p1", "b", T),
            ("a", "p2", "b", T),
        ],
    )
    explicit = st.df
    closed = rdfs.rdfs_closure(st).df
    counts = rdfs.build_support_counts(closed, explicit)
    # (a, q, b) has two derivations
    row = [r for r in counts.collect() if (r["s"], r["p"], r["o_lex"]) == ("a", "q", "b")]
    assert row and row[0]["cnt"] == 2
    delta = spark.createDataFrame([("a", "p1", "b", T)], "s string, p string, o_lex string, o_dt string")
    explicit_new = explicit.join(delta, on=["s", "p", "o_lex", "o_dt"], how="left_anti")
    new_counts, new_closed = rdfs.counting_retract(counts, explicit_new, delta, closed)
    triples = _closure_set(new_closed)
    assert ("a", "q", "b") in triples and ("a", "p1", "b") not in triples
    row = [r for r in new_counts.collect() if (r["s"], r["p"], r["o_lex"]) == ("a", "q", "b")]
    assert row and row[0]["cnt"] == 1


def test_tm_store_chain_matches_recompute(spark, onto):
    """UpdatableStore truth maintenance: an insert→delete→delete chain keeps
    the closure equal to a from-scratch closure of the explicit set after
    every step, and a rolled-back delete restores the bookkeeping."""
    us = UpdatableStore.from_store(TripleStore(onto.df))
    empty = spark.createDataFrame([], "s string, p string, o_lex string, o_dt string")
    us.insert_with_closure(empty)  # seed the closure
    ins = spark.createDataFrame(
        [("bob", "hasPet", "felix", "iri")], "s string, p string, o_lex string, o_dt string"
    )
    dele = spark.createDataFrame(
        [("ann", "hasPet", "rex", "iri")], "s string, p string, o_lex string, o_dt string"
    )

    def recomputed(explicit):
        return _closure_set(rdfs.rdfs_closure(TripleStore(explicit)).df)

    key = ["s", "p", "o_lex", "o_dt"]
    us.insert_with_closure(ins)
    explicit = onto.df.unionByName(ins)
    assert _closure_set(us.current.df) == recomputed(explicit)
    assert ("bob", "knowsOf", "felix") in _closure_set(us.current.df)
    us.delete_with_closure(dele)
    explicit = explicit.join(dele, on=key, how="left_anti")
    assert _closure_set(us.current.df) == recomputed(explicit)
    assert ("ann", "likes", "rex") not in _closure_set(us.current.df)
    us.delete_with_closure(ins)
    explicit = explicit.join(ins, on=key, how="left_anti")
    assert _closure_set(us.current.df) == recomputed(explicit)
    assert ("felix", "rdf:type", "Animal") not in _closure_set(us.current.df)
    # rollback restores the truth-maintenance bookkeeping
    before = (us._explicit, us._inferred, us.current)
    try:
        with us.transaction():
            us.delete_with_closure(dele)
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert (us._explicit, us._inferred, us.current) == before


def test_tm_reinsert_then_delete_drops_inferences(spark):
    """Re-inserting an already-explicit triple is a no-op: a later delete
    still removes its no-longer-derivable inferences."""
    T = "iri"
    st = _store(spark, [("C", "rdfs:subClassOf", "D", T), ("x", "rdf:type", "C", T)])
    us = UpdatableStore.from_store(TripleStore(st.df))
    empty = spark.createDataFrame([], "s string, p string, o_lex string, o_dt string")
    us.insert_with_closure(empty)
    t = spark.createDataFrame([("x", "rdf:type", "C", T)], "s string, p string, o_lex string, o_dt string")
    us.delete_with_closure(t)
    us.insert_with_closure(t)   # re-insert
    us.insert_with_closure(t)   # re-insert AGAIN (already explicit — no-op)
    us.delete_with_closure(t)   # must remove (x type D)
    triples = _closure_set(us.current.df)
    assert ("x", "rdf:type", "D") not in triples and ("x", "rdf:type", "C") not in triples


def test_tm_noop_delete_keeps_support(spark):
    """Deleting a never-asserted triple is a no-op: it must not remove an
    inference that other explicit premises still derive."""
    T = "iri"
    st = _store(
        spark,
        [
            ("p1", "rdfs:subPropertyOf", "q", T),
            ("p2", "rdfs:subPropertyOf", "q", T),
            ("a", "p1", "b", T),
        ],
    )
    us = UpdatableStore.from_store(TripleStore(st.df))
    empty = spark.createDataFrame([], "s string, p string, o_lex string, o_dt string")
    us.insert_with_closure(empty)
    ghost = spark.createDataFrame([("a", "p2", "b", T)], "s string, p string, o_lex string, o_dt string")
    us.delete_with_closure(ghost)  # 'a p2 b' was never asserted
    triples = _closure_set(us.current.df)
    assert ("a", "q", "b") in triples  # still derived from 'a p1 b'


def test_tc_retract_matches_recompute(spark):
    """DRed for the recursive TC rule (rdfs.tc_retract): retraction result
    equals a from-scratch closure of the surviving edges, on chains,
    diamonds (multiple support), and cycles."""
    import itertools

    from blazegraph_database_spark.inference.rdfs import tc_retract, transitive_closure

    def tc_py(edges):
        nodes = set(itertools.chain(*edges)) or {"x"}
        reach = {n: set() for n in nodes}
        for a, b in edges:
            reach[a].add(b)
        changed = True
        while changed:
            changed = False
            for a in nodes:
                add = set().union(*(reach.get(m, set()) for m in reach[a])) if reach[a] else set()
                if not add <= reach[a]:
                    reach[a] |= add
                    changed = True
        return {(a, b) for a in nodes for b in reach[a]}

    cases = [
        # chain: delete middle edge splits reachability
        ([("a", "b"), ("b", "c"), ("c", "d")], [("b", "c")]),
        # diamond: (a,d) keeps alternate support after one branch dies
        ([("a", "b"), ("b", "d"), ("a", "c"), ("c", "d")], [("b", "d")]),
        # cycle: counting TM would not terminate here; DRed must
        ([("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], [("b", "c")]),
        # delete everything
        ([("a", "b"), ("b", "a")], [("a", "b"), ("b", "a")]),
    ]
    for edges, deleted in cases:
        kept = [e for e in edges if e not in deleted]
        tc_old = spark.createDataFrame(sorted(tc_py(edges)), "src string, dst string")
        e_new = (
            spark.createDataFrame(kept, "src string, dst string")
            if kept
            else tc_old.limit(0)
        )
        dele = spark.createDataFrame(deleted, "src string, dst string")
        got = {(r["src"], r["dst"]) for r in tc_retract(tc_old, e_new, dele).collect()}
        assert got == tc_py(kept), (edges, deleted)


# --------------------------------------------------------------- changelog --
def test_changelog_records_adds_and_removes(spark):
    """History service analog (ref: HistoryServiceFactory.java /
    RDRHistory.java): per-commit added/removed statement records."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.update.update import UpdatableStore

    df = spark.createDataFrame(
        [("a", "p", "1", "long"), ("b", "p", "2", "long")],
        "s string, p string, o_lex string, o_dt string",
    )
    us = UpdatableStore.from_store(TripleStore(df))
    us.insert_data(
        spark.createDataFrame([("c", "p", "3", "long")], df.schema)
    )
    us.delete_data(spark.createDataFrame([("a", "p", "1", "long")], df.schema))
    log = {(r.commit, r.action, r.s) for r in us.changelog().collect()}
    assert log == {(1, "added", "c"), (2, "removed", "a")}
    # windowed: only commit 2
    log2 = {(r.commit, r.action, r.s) for r in us.changelog(since=1).collect()}
    assert log2 == {(2, "removed", "a")}
    # empty window
    assert us.changelog(since=2).count() == 0
    import pytest as _pytest

    with _pytest.raises(IndexError):
        us.changelog(since=5)


def test_changelog_quad_upgrade(spark):
    """A commit that upgrades the store to quads diffs correctly (prev
    version aligned into the default graph)."""
    from pyspark.sql import functions as F

    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.update.update import UpdatableStore

    df = spark.createDataFrame(
        [("a", "p", "1", "long")], "s string, p string, o_lex string, o_dt string"
    )
    us = UpdatableStore.from_store(TripleStore(df))
    us.insert_data(
        spark.createDataFrame(
            [("b", "p", "2", "long", "g1")],
            "s string, p string, o_lex string, o_dt string, g string",
        )
    )
    log = [(r.commit, r.action, r.s, r.g) for r in us.changelog().collect()]
    assert log == [(1, "added", "b", "g1")]


def test_entailments_update_verbs(spark):
    """The reference's CREATE/DROP/DISABLE/ENABLE ENTAILMENTS UPDATE verbs
    (ref: ast/CreateEntailments.java et al., AST2BOpUpdate:446): CREATE
    materializes the closure, DROP keeps only asserted statements, ENABLE
    routes data ops through truth maintenance, DISABLE stops maintaining."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.update_parser import apply_update
    from blazegraph_database_spark.update.update import UpdatableStore

    rdfs_sub = "rdfs:subClassOf"
    rdf_type = "rdf:type"
    rows = [
        ("c1", rdfs_sub, "c2", "iri"),
        ("c2", rdfs_sub, "c3", "iri"),
        ("x", rdf_type, "c1", "iri"),
    ]
    us = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    n0 = us.current.df.count()
    apply_update(us, "CREATE ENTAILMENTS", spark)
    closed = us.current.df
    types = {r["o_lex"] for r in closed.filter(F.col("s") == "x").collect()}
    assert {"c1", "c2", "c3"} <= types  # subclass closure materialized
    assert closed.count() > n0

    # ENABLE: subsequent INSERT DATA maintains the closure incrementally
    apply_update(us, 'ENABLE ENTAILMENTS ; INSERT DATA { <y> <rdf:type> <c2> }', spark)
    types_y = {r["o_lex"] for r in us.current.df.filter(F.col("s") == "y").collect()}
    assert {"c2", "c3"} <= types_y

    # DISABLE: data ops stop maintaining
    apply_update(us, 'DISABLE ENTAILMENTS ; INSERT DATA { <z> <rdf:type> <c1> }', spark)
    types_z = {r["o_lex"] for r in us.current.df.filter(F.col("s") == "z").collect()}
    assert types_z == {"c1"}

    # DROP: only asserted statements survive
    apply_update(us, "DROP ENTAILMENTS", spark)
    types_x = {r["o_lex"] for r in us.current.df.filter(F.col("s") == "x").collect()}
    assert types_x == {"c1"}
    # the explicit inserts survive the drop
    assert us.current.df.filter(F.col("s") == "z").count() == 1


def test_drop_entailments_safe_after_interleaved_modify(spark):
    """A verb that doesn't maintain the Explicit/Inferred partition (e.g.
    DELETE/INSERT WHERE) drops the partition, so a later DROP ENTAILMENTS
    degrades to a safe no-op instead of deleting asserted rows; the DATA
    verbs DO maintain it across pushes."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.update_parser import apply_update
    from blazegraph_database_spark.update.update import UpdatableStore

    rows = [
        ("c1", "rdfs:subClassOf", "c2", "iri"),
        ("x", "rdf:type", "c1", "iri"),
    ]
    us = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    apply_update(us, "CREATE ENTAILMENTS", spark)
    # a modify verb rewrites rows without telling the partition tracker
    apply_update(
        us, 'INSERT { <y> <rdf:type> <c2> } WHERE { <x> <rdf:type> ?c }', spark
    )
    n_before = us.current.df.count()
    apply_update(us, "DROP ENTAILMENTS", spark)
    # partition was invalidated -> safe no-op, nothing deleted
    assert us.current.df.count() == n_before
    # once the partition is lost, a re-CREATE treats the surviving rows as
    # asserted (closing an already-closed set infers nothing new), so a
    # later DROP keeps them — and DELETE DATA maintains the partition
    apply_update(us, "CREATE ENTAILMENTS ; DELETE DATA { <y> <rdf:type> <c2> }", spark)
    apply_update(us, "DROP ENTAILMENTS", spark)
    assert us.current.df.filter(F.col("s") == "y").count() == 0  # deleted
    types_x = {r["o_lex"] for r in us.current.df.filter(F.col("s") == "x").collect()}
    assert types_x == {"c1", "c2"}  # pre-loss inferences now count as asserted


def test_rollback_restores_entailment_bookkeeping(spark):
    """A rolled-back transaction must not leak TM state (r8): an in-tx
    DROP ENTAILMENTS clears the inferred-set bookkeeping; after the abort
    the next DROP must still remove exactly the inferred rows."""
    from blazegraph_database_spark.plans.update_parser import apply_update

    rows = [
        ("x", "rdf:type", "c1", "iri"),
        ("c1", "rdfs:subClassOf", "c2", "iri"),
    ]
    us = UpdatableStore.from_store(
        TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    )
    apply_update(us, "CREATE ENTAILMENTS", spark)
    closed = us.current.df.count()
    assert closed > len(rows)  # x rdf:type c2 inferred

    class Abort(Exception):
        pass

    try:
        with us.transaction():
            us.drop_entailments()
            us.insert_data(
                spark.createDataFrame(
                    [("x", "tag", "tx", "string")],
                    "s string, p string, o_lex string, o_dt string",
                )
            )
            raise Abort()
    except Abort:
        pass
    assert us.current.df.count() == closed  # rollback kept the closure
    apply_update(us, "DROP ENTAILMENTS", spark)
    got = {(r["s"], r["p"], r["o_lex"]) for r in us.current.df.collect()}
    assert got == {("x", "rdf:type", "c1"), ("c1", "rdfs:subClassOf", "c2")}
