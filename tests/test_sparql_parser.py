"""SPARQL SELECT parser tests: parse → compile → evaluate on the tiny
hand-built store, checked against known answers (the reference's grammar
test approach, minus the TCK plumbing)."""

from __future__ import annotations

import pytest

from blazegraph_database_spark.plans.compiler import evaluate
from blazegraph_database_spark.plans.sparql_parser import parse_sparql_select


def run(store, q):
    return evaluate(store, parse_sparql_select(q))


def test_basic_bgp(tiny_store):
    out = run(tiny_store, 'SELECT ?x ?n WHERE { ?x <knows> ?y . ?x <name> ?n }')
    rows = {(r["x"], r["n"]) for r in out.collect()}
    assert rows == {("a", "Alice"), ("b", "Bob"), ("c", "Carol")}


def test_filter_and_bind(tiny_store):
    q = """
    SELECT ?x ?up WHERE {
      ?x <name> ?n .
      ?x <age> ?age .
      FILTER (?age > 26)
      BIND (UCASE(?n) AS ?up)
    }
    """
    rows = {(r["x"], r["up"]) for r in run(tiny_store, q).collect()}
    assert rows == {("a", "ALICE")}


def test_optional_union_minus(tiny_store):
    q = "SELECT ?x ?age WHERE { ?x <name> ?n OPTIONAL { ?x <age> ?age } }"
    rows = {(r["x"], r["age"]) for r in run(tiny_store, q).collect()}
    assert ("d", None) in rows and ("a", "30") in rows

    q2 = "SELECT ?x WHERE { { ?x <knows> <b> } UNION { ?x <knows> <d> } }"
    assert {r["x"] for r in run(tiny_store, q2).collect()} == {"a", "c"}

    q3 = "SELECT ?x WHERE { ?x <name> ?n MINUS { ?x <knows> ?y } }"
    assert {r["x"] for r in run(tiny_store, q3).collect()} == {"d", "e"}


def test_exists_not_exists(tiny_store):
    q = "SELECT ?x WHERE { ?x <name> ?n FILTER NOT EXISTS { ?x <age> ?a } }"
    assert {r["x"] for r in run(tiny_store, q).collect()} == {"c", "d", "e"}
    q2 = "SELECT ?x WHERE { ?x <name> ?n FILTER EXISTS { ?x <age> ?a } }"
    assert {r["x"] for r in run(tiny_store, q2).collect()} == {"a", "b"}


def test_property_paths(tiny_store):
    q = "SELECT ?z WHERE { <a> <knows>/<knows> ?z }"
    assert {r["z"] for r in run(tiny_store, q).collect()} == {"c"}
    q2 = "SELECT ?z WHERE { <a> <knows>+ ?z }"
    assert {r["z"] for r in run(tiny_store, q2).collect()} == {"b", "c", "d"}
    # x ^p y  ⇔  y p x  (SPARQL 1.1 §9.1): so ?z ^knows b  ⇔  b knows ?z
    q3 = "SELECT ?z WHERE { ?z ^<knows> <b> }"
    assert {r["z"] for r in run(tiny_store, q3).collect()} == {"c"}
    q4 = "SELECT ?z WHERE { <a> <knows>|<name> ?z }"
    assert {r["z"] for r in run(tiny_store, q4).collect()} == {"b", "Alice"}


def test_group_order_limit(tiny_store):
    q = """
    SELECT ?x (COUNT(*) AS ?n) WHERE { ?x <knows> ?y } GROUP BY ?x
    ORDER BY DESC(?n) ?x LIMIT 2
    """
    rows = [(r["x"], r["n"]) for r in run(tiny_store, q).collect()]
    assert rows == [("a", 1), ("b", 1)]


def test_values_and_semicolon_syntax(tiny_store):
    q = """
    SELECT ?x ?n WHERE {
      ?x <name> ?n ; <age> ?a .
      VALUES ?n { "Alice" "Bob" }
    }
    """
    assert {r["x"] for r in run(tiny_store, q).collect()} == {"a", "b"}


def test_distinct_and_prefixes(tiny_store):
    q = """
    PREFIX ex: <http://unused/>
    SELECT DISTINCT ?p WHERE { ?s ?p ?o } ORDER BY ?p
    """
    ps = [r["p"] for r in run(tiny_store, q).collect()]
    assert ps == sorted(set(ps)) and "knows" in ps


def test_aggregates_without_group(tiny_store):
    q = "SELECT (COUNT(*) AS ?n) WHERE { ?s <name> ?o }"
    assert run(tiny_store, q).collect()[0]["n"] == 5


def test_object_list_comma(tiny_store):
    q = 'SELECT ?x WHERE { ?x <knows> <b>, <c> }'
    # a knows b only; nobody knows both b and c
    assert run(tiny_store, q).count() == 0


def test_syntax_errors():
    with pytest.raises(SyntaxError):
        parse_sparql_select("SELECT ?x WHERE { ?x <p> }")
    with pytest.raises(SyntaxError):
        parse_sparql_select("SELECT ?x WHERE { ?x <p> ?y } trailing")
    with pytest.raises(SyntaxError):
        parse_sparql_select("FOO ?x WHERE { }")


# ------------------------------------------------- other query forms --
def test_ask_form(tiny_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    assert run_sparql(tiny_store, "ASK { ?x <knows> <b> }") is True
    assert run_sparql(tiny_store, "ASK WHERE { ?x <knows> <nobody> }") is False


def test_construct_form(tiny_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    out = run_sparql(
        tiny_store,
        'CONSTRUCT { ?y <knownBy> ?x . ?x a <Knower> } WHERE { ?x <knows> ?y }',
    )
    rows = {(r["s"], r["p"], r["o_lex"]) for r in out.collect()}
    assert ("b", "knownBy", "a") in rows
    assert ("a", "rdf:type", "Knower") in rows
    assert len([r for r in rows if r[1] == "knownBy"]) == 3


def test_named_subquery_include_twice(tiny_store):
    # one WITH set, two INCLUDEs — both resolve to the same materialized set
    q = """
    SELECT ?x ?y
    WITH { SELECT ?x WHERE { ?x <age> ?ag . FILTER(?ag > 20) } } AS %adults
    WHERE {
      { INCLUDE %adults . ?x <knows> ?y }
      UNION
      { INCLUDE %adults . ?y <knows> ?x }
    }
    """
    got = sorted((r["x"], r["y"]) for r in run(tiny_store, q).collect())
    assert got == [("a", "b"), ("b", "a"), ("b", "c")]


def test_text_subselect_in_group(tiny_store):
    q = """
    SELECT ?x ?n WHERE {
      { SELECT ?x (COUNT(?y) AS ?n) WHERE { ?x <knows> ?y } GROUP BY ?x }
      ?x <age> ?age .
    }
    """
    rows = {r["x"]: r["n"] for r in run(tiny_store, q).collect()}
    assert rows == {"a": 1, "b": 1}


def test_include_undeclared_raises(tiny_store):
    with pytest.raises(ValueError):
        run(tiny_store, "SELECT ?x WHERE { INCLUDE %missing }").collect()


def test_construct_where_shorthand(tiny_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    df = run_sparql(tiny_store, "CONSTRUCT WHERE { ?x <knows> ?y }")
    got = sorted((r["s"], r["p"], r["o_lex"]) for r in df.collect())
    assert got == [("a", "knows", "b"), ("b", "knows", "c"), ("c", "knows", "d")]


def test_trailing_values_clause(tiny_store):
    q = """
    SELECT ?x ?n WHERE { ?x <name> ?n } VALUES ?x { <a> <b> }
    """
    rows = sorted((r["x"], r["n"]) for r in run(tiny_store, q).collect())
    assert rows == [("a", "Alice"), ("b", "Bob")]


def test_adjacent_statements_merge_into_one_bgp():
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans.sparql_parser import parse_sparql_select

    plan = parse_sparql_select(
        "SELECT ?a ?b WHERE { ?a <p> ?x . ?x <q> ?b . ?b <r> <z> }"
    )
    # Project(BGP) — one merged BGP of 3 patterns, not Join(Join(BGP,BGP),BGP)
    assert isinstance(plan, A.Project)
    assert isinstance(plan.child, A.BGP)
    assert len(plan.child.patterns) == 3


def test_query_hints_parse_and_apply(tiny_store):
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans.sparql_parser import parse_sparql_select

    q = """
    SELECT ?x ?n WHERE {
      hint:Query hint:optimizer "None" .
      ?x <knows> ?y .
      hint:Prior hint:runLast "true" .
      ?x <name> ?n .
    }
    """
    plan = parse_sparql_select(q)
    bgp = plan.child
    assert isinstance(bgp, A.BGP)
    assert len(bgp.patterns) == 2  # hint triples stripped from the pattern set
    assert bgp.hints["optimizer"] == "None"
    assert bgp.hints["run_last"] == frozenset({0})  # the pattern before the hint
    rows = {(r["x"], r["n"]) for r in run(tiny_store, q).collect()}
    assert rows == {("a", "Alice"), ("b", "Bob"), ("c", "Carol")}


def test_query_hints_declared_prefix(tiny_store):
    """A conformant query that declares PREFIX hint: <queryHints#> expands the
    hint terms to full IRIs — they must still be recognized and stripped, not
    left in the BGP as never-matching patterns (ADVICE r3)."""
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans.sparql_parser import parse_sparql_select

    q = """
    PREFIX hint: <http://www.bigdata.com/queryHints#>
    SELECT ?x ?n WHERE {
      hint:Query hint:optimizer "None" .
      ?x <knows> ?y .
      hint:Prior hint:runLast "true" .
      ?x <name> ?n .
    }
    """
    plan = parse_sparql_select(q)
    bgp = plan.child
    assert isinstance(bgp, A.BGP)
    assert len(bgp.patterns) == 2
    assert bgp.hints["optimizer"] == "None"
    assert bgp.hints["run_last"] == frozenset({0})
    rows = {(r["x"], r["n"]) for r in run(tiny_store, q).collect()}
    assert rows == {("a", "Alice"), ("b", "Bob"), ("c", "Carol")}


def test_group_by_expression(tiny_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    out = run_sparql(
        tiny_store,
        "SELECT ?dec (COUNT(*) AS ?n) WHERE { ?x <age> ?a } "
        "GROUP BY (SUBSTR(?a, 1, 1) AS ?dec)",
    ).collect()
    got = {r["dec"]: r["n"] for r in out}
    assert got == {"3": 1, "2": 1}  # ages 30, 25


def test_group_concat_separator_and_xsd_casts(tiny_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    g = run_sparql(
        tiny_store,
        'SELECT ?x (GROUP_CONCAT(?y; separator="|") AS ?ys) '
        "WHERE { ?x <knows> ?y } GROUP BY ?x ORDER BY ?x",
    ).collect()
    assert all("|" in r["ys"] or "," not in r["ys"] for r in g)
    # xsd constructor-function casts, compact and declared-prefix forms
    out = run_sparql(
        tiny_store,
        "SELECT (SUM(xsd:integer(?a)) AS ?total) WHERE { ?x <age> ?a }",
    ).collect()
    out2 = run_sparql(
        tiny_store,
        "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        "SELECT (SUM(xsd:integer(?a)) AS ?total) WHERE { ?x <age> ?a }",
    ).collect()
    assert out[0]["total"] == out2[0]["total"] and out[0]["total"] is not None
    # cast in ORDER BY expression: numeric, not lexicographic
    rows = run_sparql(
        tiny_store,
        "SELECT ?x ?a WHERE { ?x <age> ?a } ORDER BY DESC(xsd:integer(?a))",
    ).collect()
    ages = [int(r["a"]) for r in rows]
    assert ages == sorted(ages, reverse=True)


def test_describe_form(tiny_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    out = run_sparql(tiny_store, "DESCRIBE <a>")
    rows = {(r["p"], r["o_lex"]) for r in out.collect()}
    assert rows == {("knows", "b"), ("name", "Alice"), ("age", "30")}


def test_star_fusion_matches_join_path(spark):
    """Star-fused BGP result must equal the pure join-based evaluation
    (fusion disabled by dropping the store's star hooks)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.model.terms import Var as V
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans.compiler import evaluate
    from blazegraph_database_spark.sources.relational import cached_store

    st = cached_store(spark, "/root/testdata/sf0.001")
    bgp = A.BGP(
        [
            A.SP(V("c"), "customer#c_custkey", V("ck")),
            A.SP(V("c"), "customer#c_acctbal", V("ab")),
            A.SP(V("c"), "customer#c_mktsegment", V("seg")),
        ]
    )
    fused = evaluate(st, bgp)
    plain = TripleStore(st.df, _stats=st._stats, pred_sources=st.pred_sources)
    unfused = evaluate(plain, bgp)
    assert set(fused.columns) == set(unfused.columns)
    a = {tuple(r) for r in fused.select("c", "ck", "ab", "seg").collect()}
    b = {tuple(r) for r in unfused.select("c", "ck", "ab", "seg").collect()}
    assert a == b


def test_order_by_aggregate(tiny_store):
    """ORDER BY DESC(COUNT(?y)) — the aggregate hoists into the Group and
    the sort applies before the projection drops the hidden alias."""
    q = "SELECT ?x WHERE { ?x <knows> ?y } GROUP BY ?x ORDER BY DESC(COUNT(?y)) ?x"
    out = [r["x"] for r in run(tiny_store, q).collect()]
    counts = {}
    q2 = "SELECT ?x (COUNT(?y) AS ?n) WHERE { ?x <knows> ?y } GROUP BY ?x"
    for r in run(tiny_store, q2).collect():
        counts[r["x"]] = r["n"]
    assert out == sorted(counts, key=lambda x: (-counts[x], x))
    # bare Constraint form (no ASC/DESC wrapper)
    q3 = "SELECT ?x WHERE { ?x <knows> ?y } GROUP BY ?x ORDER BY COUNT(?y) ?x LIMIT 1"
    low = run(tiny_store, q3).collect()[0]["x"]
    assert counts[low] == min(counts.values())


def test_order_by_aggregate_distinct_rejected(tiny_store):
    with pytest.raises(SyntaxError, match="DISTINCT"):
        run(
            tiny_store,
            "SELECT DISTINCT ?x WHERE { ?x <knows> ?y } GROUP BY ?x ORDER BY DESC(COUNT(?y))",
        )


@pytest.fixture(scope="module")
def term_store(spark):
    from blazegraph_database_spark.model.store import TripleStore

    rows = [
        ("a1", "ex:name", "Alice", "string"), ("a1", "ex:age", "30", "long"),
        ("a1", "ex:knows", "b1", "iri"), ("b1", "ex:name", "Bob", "string"),
        ("b1", "ex:label", "Bob", "lang:en"), ("c1", "ex:label", "Robert", "lang:fr"),
        ("b1", "ex:knows", "_:c9", "iri"), ("c1", "ex:name", "Carol", "string"),
    ]
    return TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )


def test_bnode_property_lists(term_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    # [ ... ] as a complete statement, as an object, and _:label scoping
    assert run_sparql(term_store, "SELECT ?n WHERE { [ <ex:name> ?n ] }").count() == 3
    got = run_sparql(term_store, "SELECT ?n WHERE { ?x <ex:knows> [ <ex:label> ?n ] }").collect()
    assert [r["n"] for r in got] == ["Bob"]
    got = run_sparql(
        term_store, "SELECT ?n WHERE { _:x <ex:name> ?n . _:x <ex:age> ?a }"
    ).collect()
    assert [r["n"] for r in got] == ["Alice"]


def test_lang_literals_and_term_functions(term_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    assert [r["x"] for r in run_sparql(term_store, 'SELECT ?x WHERE { ?x <ex:label> "Bob"@en }').collect()] == ["b1"]
    got = {r["x"]: r["lg"] for r in run_sparql(
        term_store, "SELECT ?x (LANG(?l) AS ?lg) WHERE { ?x <ex:label> ?l }"
    ).collect()}
    assert got == {"b1": "en", "c1": "fr"}
    assert [r["x"] for r in run_sparql(
        term_store, 'SELECT ?x WHERE { ?x <ex:label> ?l FILTER(LANGMATCHES(LANG(?l), "en")) }'
    ).collect()] == ["b1"]
    got = run_sparql(
        term_store, "SELECT (DATATYPE(?a) AS ?dt) WHERE { ?x <ex:age> ?a }"
    ).collect()
    assert got[0]["dt"] == "http://www.w3.org/2001/XMLSchema#integer"
    # term tests across positions, including `_:`-lexical bnodes
    assert run_sparql(term_store, "SELECT ?o WHERE { ?s <ex:knows> ?o FILTER(ISBLANK(?o)) }").collect()[0]["o"] == "_:c9"
    assert [r["o"] for r in run_sparql(term_store, "SELECT ?o WHERE { ?s <ex:knows> ?o FILTER(ISIRI(?o)) }").collect()] == ["b1"]
    assert run_sparql(term_store, "SELECT ?s WHERE { ?s <ex:name> ?n FILTER(ISIRI(?s)) }").count() == 3
    # companions are stripped from the result when auto-enabled
    out = run_sparql(term_store, "SELECT ?x (LANG(?l) AS ?lg) WHERE { ?x <ex:label> ?l }")
    assert not [c for c in out.columns if c.endswith("__dt")]


def test_strlang_strdt(term_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    got = run_sparql(
        term_store,
        'SELECT ?lg WHERE { ?x <ex:name> "Alice" BIND(STRLANG("hi", "en") AS ?v) BIND(LANG(?v) AS ?lg) }',
    ).collect()
    assert [r["lg"] for r in got] == ["en"]
    got = run_sparql(
        term_store,
        'SELECT (STRDT("5", <http://www.w3.org/2001/XMLSchema#integer>) AS ?five) WHERE { ?x <ex:name> "Alice" }',
    )
    assert got.collect()[0]["five"] == "5"
    # unknown datatype IRIs keep dt:<iri> TERM IDENTITY through STRDT (r8):
    # DATATYPE of the constructed literal reports the app IRI verbatim
    got = run_sparql(
        term_store,
        'SELECT ?dt WHERE { ?x <ex:name> "Alice" '
        'BIND(STRDT("v1", <http://app/type#T>) AS ?t) BIND(DATATYPE(?t) AS ?dt) }',
    )
    assert [r["dt"] for r in got.collect()] == ["http://app/type#T"]


def test_zero_arg_functions(tiny_store):
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    q = """SELECT ?n ?u ?b ?now WHERE {
      ?x <name> ?n .
      BIND(STRUUID() AS ?u) BIND(BNODE() AS ?b) BIND(NOW() AS ?now)
      FILTER(RAND() >= 0)
    }"""
    rows = run_sparql(tiny_store, q).collect()
    assert len(rows) == 5
    assert all(r["b"].startswith("_:b") and len(r["u"]) == 36 for r in rows)
    assert len({r["u"] for r in rows}) == 5  # fresh per row
    tz = run_sparql(tiny_store, "SELECT (TZ(NOW()) AS ?z) WHERE { ?x <name> ?n } LIMIT 1")
    assert tz.collect()[0]["z"] == "Z"


def test_strlang_subexpression_not_lang_typed(term_store):
    """STRLANG inside a larger expression types nothing: the CONCAT result
    is a plain string, so LANG() is empty."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    got = run_sparql(
        term_store,
        'SELECT ?lg WHERE { ?x <ex:name> "Alice" '
        'BIND(CONCAT(STRLANG("a", "en"), "b") AS ?v) BIND(LANG(?v) AS ?lg) }',
    ).collect()
    assert [r["lg"] for r in got] == [""]
    with pytest.raises(SyntaxError, match="STRLANG"):
        run_sparql(term_store, 'SELECT ?v WHERE { ?x <ex:name> ?n BIND(STRLANG(?n, ?n) AS ?v) }')


def test_bnode_join_across_positions(spark):
    """A shared var bound as OBJECT in one pattern and SUBJECT in another
    must join even for bnode-valued terms under dt tracking (companion
    tags normalize to the iri space)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("a", "ex:p", "_:c9", "iri"),      # reader convention: bnode tagged iri
        ("_:c9", "ex:q", "end", "string"),
        ("b", "ex:p", "_:d1", "bnode"),    # model convention: bnode tag
        ("_:d1", "ex:q", "end2", "string"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    ).view(track_dt=True)
    got = {
        (r["a"], r["b"])
        for r in run_sparql(st, "SELECT ?a ?b WHERE { ?a <ex:p> ?x . ?x <ex:q> ?b }").collect()
    }
    assert got == {("a", "end"), ("b", "end2")}


def test_exists_as_value_expression(spark):
    """[NOT] EXISTS inside filter expressions (SPARQL 1.1 expression
    operator; ref: ExistsNode/NotExistsNode as value expressions): combined
    with &&, ||, and IF; correlated and uncorrelated blocks; flag columns
    never leak into results."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("a", "knows", "b", "iri"), ("b", "knows", "c", "iri"),
            ("a", "age", "30", "long"), ("b", "age", "7", "long"),
            ("c", "age", "9", "long")]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )

    def q(text, want):
        out = run_sparql(st, text)
        assert not [c for c in out.columns if c.startswith("__ex")], out.columns
        assert {tuple(r) for r in out.collect()} == want

    q('SELECT ?s WHERE { ?s <age> ?a FILTER(EXISTS { ?s <knows> ?x } && ?a > "1") }',
      {("a",), ("b",)})
    q('SELECT ?s WHERE { ?s <age> ?a FILTER(NOT EXISTS { ?s <knows> ?x } || ?a = "30") }',
      {("a",), ("c",)})
    q('SELECT ?s WHERE { ?s <age> ?a FILTER(IF(EXISTS { ?s <knows> ?x }, ?a > "10", false)) }',
      {("a",), ("b",)})  # untyped literals compare lexically: "7" > "10"
    # uncorrelated EXISTS: scalar truth of an unrelated pattern
    q('SELECT ?s WHERE { ?s <age> ?a FILTER(EXISTS { ?x <knows> <zzz> } || ?a = "9") }',
      {("c",)})
    q('SELECT ?s WHERE { ?s <age> ?a FILTER(EXISTS { ?x <knows> <c> } && ?a = "9") }',
      {("c",)})


def test_empty_group_unit_solution(spark):
    """The empty group pattern has exactly one (empty) solution, so
    BIND-only and VALUES-only groups work (SPARQL 1.1 GroupGraphPattern)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("a", "knows", "b", "iri")], "s string, p string, o_lex string, o_dt string"
        )
    )
    out = run_sparql(st, 'SELECT ?x WHERE { BIND("q" AS ?x) }')
    assert [tuple(r) for r in out.collect()] == [("q",)]
    out = run_sparql(st, "SELECT ?x ?y WHERE { VALUES (?x ?y) { (<a> <b>) (<c> UNDEF) } }")
    assert sorted(tuple(r) for r in out.collect()) == [("a", "b"), ("c", None)]


def test_order_by_numeric_literals(spark):
    """ORDER BY over a datatype-tracked var follows the SPARQL operator
    mapping: numeric literals compare numerically ("9" < "10"), IRIs sort
    before literals (ref: IVComparator ordering)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("a", "age", "9", "long"), ("b", "age", "10", "long"),
            ("c", "age", "100", "long"), ("d", "age", "2", "long")]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    ).view(track_dt=True)
    out = run_sparql(st, "SELECT ?s ?a WHERE { ?s <age> ?a } ORDER BY ?a LIMIT 2")
    assert [r["s"] for r in out.collect()] == ["d", "a"]  # 2, 9 — not "10","100"
    out = run_sparql(st, "SELECT ?s WHERE { ?s <age> ?a } ORDER BY DESC(?a) LIMIT 1")
    assert [r["s"] for r in out.collect()] == ["c"]  # 100 numerically largest


def test_exists_in_select_having_order(spark):
    """Review r4c: expression-level EXISTS outside group bodies — in SELECT
    expressions, HAVING, and ORDER BY — binds its flag over the right frame
    instead of leaving an orphaned __exN column."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("a", "knows", "b", "iri"), ("b", "knows", "c", "iri"),
            ("a", "age", "30", "long"), ("b", "age", "7", "long"),
            ("c", "age", "9", "long")]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    out = run_sparql(st, "SELECT ?s (EXISTS { ?s <knows> ?x } AS ?e) WHERE { ?s <age> ?a }")
    # boolean projections serialize as xsd:boolean LEXICALS (r6)
    assert {(r["s"], r["e"]) for r in out.collect()} == {
        ("a", "true"), ("b", "true"), ("c", "false")
    }
    out = run_sparql(
        st,
        "SELECT ?s (COUNT(*) AS ?n) WHERE { ?s <age> ?a } GROUP BY ?s "
        "HAVING(EXISTS { ?s <knows> ?x })",
    )
    assert {r["s"] for r in out.collect()} == {"a", "b"}
    # SELECT * never leaks the flag column
    out = run_sparql(st, "SELECT * WHERE { ?s <age> ?a } ORDER BY (NOT EXISTS { ?s <knows> ?x }) LIMIT 1")
    assert not [c for c in out.columns if c.startswith("__ex")]


def test_literal_comparisons_not_rewritten(spark):
    """Review r4c: FILTER(1 < 2) / FILTER(true = 1)-style literal-vs-literal
    comparisons must not be mistaken for bare vars by the typed-view
    rewrite."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("a", "age", "30", "long")], "s string, p string, o_lex string, o_dt string"
        )
    )
    assert run_sparql(st, "SELECT ?s WHERE { ?s <age> ?a FILTER(1 < 2) }").count() == 1
    assert run_sparql(st, "SELECT ?s WHERE { ?s <age> ?a FILTER(2 < 1) }").count() == 0


def test_zero_length_path_all_terms(spark):
    """SPARQL ZeroLengthPath: `P*`/`P?` zero-length matches EVERY graph term
    (ref: ZeroLengthPathOp), which makes stars nested under sequences
    correct — knows*/age must reach nodes with an age but no knows edge."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("a", "knows", "b", "iri"), ("b", "knows", "c", "iri"),
            ("d", "age", "7", "long")]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    got = {tuple(r) for r in run_sparql(st, "SELECT ?x ?y WHERE { ?x <knows>* ?y }").collect()}
    assert got == {("a", "a"), ("a", "b"), ("a", "c"), ("b", "b"), ("b", "c"),
                   ("c", "c"), ("d", "d"), ("7", "7")}
    got = {tuple(r) for r in run_sparql(st, "SELECT ?x ?y WHERE { ?x <knows>*/<age> ?y }").collect()}
    assert got == {("d", "7")}
    got = {tuple(r) for r in run_sparql(st, "SELECT ?y WHERE { <zzz> <knows>* ?y }").collect()}
    assert got == {("zzz",)}  # spec ALP: a constant start matches itself


def test_zero_length_const_through_wrappers(spark):
    """Review r4c-2: nullable-path detection covers Inv/Alt/Seq wrappers —
    ^p*, (p*|q), and p?/q? all zero-length-match a constant endpoint."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("a", "knows", "b", "iri")], "s string, p string, o_lex string, o_dt string"
        )
    )
    assert {r["y"] for r in run_sparql(st, "SELECT ?y WHERE { <zzz> ^<knows>* ?y }").collect()} == {"zzz"}
    assert "zzz" in {
        r["y"] for r in run_sparql(st, "SELECT ?y WHERE { <zzz> (<knows>*|<likes>) ?y }").collect()
    }
    assert "zzz" in {
        r["y"] for r in run_sparql(st, "SELECT ?y WHERE { <zzz> <knows>?/<likes>? ?y }").collect()
    }
    # a non-nullable seq must NOT self-match
    assert {r["y"] for r in run_sparql(st, "SELECT ?y WHERE { <zzz> <knows>*/<knows> ?y }").collect()} == set()


def test_base_declaration(spark):
    """BASE <iri> prologue: relative IRI references resolve against it;
    absolute IRIs pass through untouched."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("http://ex.org/a", "http://ex.org/p", "http://ex.org/b", "iri")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    out = run_sparql(st, "BASE <http://ex.org/> SELECT ?o WHERE { <a> <p> ?o }")
    assert [r["o"] for r in out.collect()] == ["http://ex.org/b"]
    out = run_sparql(
        st, "BASE <http://zzz/> SELECT ?o WHERE { <http://ex.org/a> <http://ex.org/p> ?o }"
    )
    assert out.count() == 1


def test_base_applies_everywhere(spark):
    """Review r4c-3: BASE resolves relative IRIs in FILTER expressions and
    ^^datatype positions, not just triple patterns; malformed BASE is a
    parse error."""
    import pytest

    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("http://ex.org/a", "http://ex.org/p", "http://ex.org/b", "iri")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    out = run_sparql(
        st, "BASE <http://ex.org/> SELECT ?o WHERE { ?s <p> ?o FILTER(?o = <b>) }"
    )
    assert out.count() == 1
    with pytest.raises(SyntaxError):
        run_sparql(st, "BASE SELECT ?s WHERE { ?s <p> ?o }")


def test_arithmetic_coerces_bare_vars(spark):
    """SPARQL arithmetic on bare vars takes the numeric view (Spark refuses
    string operands for * + - / outright); literal operands untouched."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("a", "x", "3", "long"), ("a", "y", "4", "long")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    out = run_sparql(
        st, "SELECT (?x * ?y + 1 AS ?v) WHERE { ?s <x> ?x . ?s <y> ?y }"
    )
    assert [r["v"] for r in out.collect()] == [13.0]


def test_substr_replace_functions(spark):
    """SUBSTR (2- and 3-arg) and REPLACE parse in expression position."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("a", "name", "foobar", "string")], "s string, p string, o_lex string, o_dt string"
        )
    )
    out = run_sparql(st, 'SELECT (SUBSTR(?n, 4) AS ?t) (SUBSTR(?n, 1, 3) AS ?h) '
                         '(REPLACE(?n, "o+", "0") AS ?r) WHERE { ?s <name> ?n }')
    assert [tuple(r) for r in out.collect()] == [("bar", "foo", "f0bar")]


def test_base_rfc3986_resolution(spark):
    """ADVICE r4: BASE resolution follows RFC 3986 — sibling refs replace
    the last path segment, ../ steps up, //host/p is network-relative."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("http://ex.org/a/c", "http://ex.org/a/p", "1", "long"),
        ("http://ex.org/x", "http://ex.org/a/p", "2", "long"),
        ("http://other/p2", "http://ex.org/a/p", "3", "long"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    base = "BASE <http://ex.org/a/b> "
    # sibling: 'c' against .../a/b → .../a/c (NOT .../a/bc)
    out = run_sparql(st, base + "SELECT ?o WHERE { <c> <p> ?o }")
    assert [r.o for r in out.collect()] == ["1"]
    # dot-segment: '../x' → http://ex.org/x
    out = run_sparql(st, base + "SELECT ?o WHERE { <../x> <p> ?o }")
    assert [r.o for r in out.collect()] == ["2"]
    # network-relative: '//other/p2' → http://other/p2
    out = run_sparql(st, base + "SELECT ?o WHERE { <//other/p2> <p> ?o }")
    assert [r.o for r in out.collect()] == ["3"]
    # fragment-style base keeps suffix append
    rows2 = [("http://ex.org/ns#a", "http://ex.org/ns#p", "9", "long")]
    st2 = TripleStore(
        spark.createDataFrame(rows2, "s string, p string, o_lex string, o_dt string")
    )
    out = run_sparql(st2, "BASE <http://ex.org/ns#> SELECT ?o WHERE { <a> <p> ?o }")
    assert [r.o for r in out.collect()] == ["9"]


def test_base_urn_scheme_suffix_append(spark):
    """Review r5-3: urn:/tag: bases are non-hierarchical — urljoin would
    return the bare relative ref; suffix append applies instead."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("urn:example:ns/foo", "urn:example:ns/p", "1", "long")]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    out = run_sparql(st, "BASE <urn:example:ns/> SELECT ?o WHERE { <foo> <p> ?o }")
    assert [r.o for r in out.collect()] == ["1"]


def test_graph_over_triples_only_store_is_empty(spark):
    """Triples-mode GRAPH semantics (r6, reference parity — its
    triples-mode evaluation has no quad index to scope by; fixture
    ticket_bg1760): GRAPH <const> still yields zero solutions, but
    GRAPH ?var evaluates the plain pattern with ?var UNBOUND."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = TripleStore(
        spark.createDataFrame(
            [("a", "p", "x", "iri")], "s string, p string, o_lex string, o_dt string"
        )
    )
    out = run_sparql(st, "SELECT ?s WHERE { GRAPH <g> { ?s <p> ?o } }")
    assert out.count() == 0
    out = run_sparql(st, "SELECT ?s ?g WHERE { GRAPH ?g { ?s <p> ?o } }")
    assert out.columns == ["s", "g"]
    assert [(r["s"], r["g"]) for r in out.collect()] == [("a", None)]
    # and the default-graph pattern still matches
    out = run_sparql(st, "SELECT ?s WHERE { { GRAPH ?g { ?s <p> ?o } } UNION { ?s <p> ?o } }")
    assert out.count() == 2


def test_describe_mode_query_hint(spark):
    """hint:Query hint:describeMode / hint:describeIterationLimit inside
    DESCRIBE ?x WHERE (ref: QueryHints.java:587 DESCRIBE_MODE): ForwardOneStep
    stops at depth-0 forward arcs; the default CBD recurses through bnodes."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("a", "p", "_:b1", "bnode"),
        ("_:b1", "q", "deep", "string"),
        ("x", "r", "a", "iri"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = """
    DESCRIBE ?d WHERE {{
      ?d <p> ?o .
      {hint}
    }}
    """
    # default CBD: recurses into _:b1's statements
    full = {tuple(r) for r in run_sparql(st, q.format(hint="")).collect()}
    assert ("_:b1", "q", "deep", "string") in {t[:4] for t in full}
    # iteration limit 0: no bnode recursion
    lim = {
        tuple(r)[:4]
        for r in run_sparql(
            st,
            q.format(hint='hint:Query hint:describeIterationLimit "0" .'),
        ).collect()
    }
    assert ("a", "p", "_:b1", "bnode") in lim
    assert ("_:b1", "q", "deep", "string") not in lim
    # SymmetricOneStep: adds the reverse arc, still no recursion
    sym = {
        tuple(r)[:4]
        for r in run_sparql(
            st,
            q.format(hint='hint:Query hint:describeMode "SymmetricOneStep" .'),
        ).collect()
    }
    assert ("x", "r", "a", "iri") in sym
    assert ("_:b1", "q", "deep", "string") not in sym


def test_virtual_graph_expansion_and_error(spark):
    """FROM [NAMED] VIRTUAL GRAPH <vg> expands bd:virtualGraph membership
    triples into the dataset; an undeclared virtual graph is an error
    (ref: ASTDeferredIVResolution.java 'Not declared')."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("a", "p", "1", "long", "g1"),
        ("b", "p", "2", "long", "g2"),
        ("c", "p", "3", "long", "g3"),
        ("vg:x", "http://www.bigdata.com/rdf#virtualGraph", "g1", "iri", None),
        ("vg:x", "http://www.bigdata.com/rdf#virtualGraph", "g2", "iri", None),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string, g string")
    )
    out = run_sparql(st, "SELECT ?s FROM VIRTUAL GRAPH <vg:x> WHERE { ?s <p> ?o }")
    assert {r["s"] for r in out.collect()} == {"a", "b"}
    out2 = run_sparql(
        st, "SELECT ?g FROM NAMED VIRTUAL GRAPH <vg:x> WHERE { GRAPH ?g { ?s <p> ?o } }"
    )
    assert {r["g"] for r in out2.collect()} == {"g1", "g2"}
    import pytest as _pt

    with _pt.raises(ValueError, match="not declared"):
        run_sparql(st, "SELECT ?s FROM VIRTUAL GRAPH <vg:none> WHERE { ?s <p> ?o }").collect()


def test_select_expression_over_group_key(tiny_store):
    """A non-aggregate SELECT expression over a grouping variable must
    survive the Group (SPARQL algebra binds it AFTER aggregation): here the
    key is re-projected through UCASE next to a COUNT."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    q = """
    SELECT (UCASE(?n) AS ?uname) (COUNT(*) AS ?cnt) WHERE {
      ?x <name> ?n .
    } GROUP BY ?n
    """
    rows = {(r["uname"], r["cnt"]) for r in run_sparql(tiny_store, q).collect()}
    assert ("ALICE", 1) in rows and len(rows) == 5


def test_bottom_up_out_of_scope_filter_and_bind(tiny_store):
    """Bottom-up semantics (ref: ASTBottomUpOptimizer): a FILTER in an inner
    group referencing a variable bound only outside sees it as UNBOUND —
    type error for every row, so the group is empty and the join yields
    nothing. A BIND over a never-in-scope variable keeps the row and binds
    nothing."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    q = "SELECT ?x WHERE { ?x <knows> ?y . { FILTER(?y = <b>) } }"
    assert run_sparql(tiny_store, q).count() == 0
    q2 = "SELECT ?x ?z WHERE { ?x <knows> ?y . BIND(STR(?nope) AS ?z) }"
    rows = run_sparql(tiny_store, q2).collect()
    assert len(rows) > 0 and all(r["z"] is None for r in rows)


def test_unknown_predicate_is_plan_empty(tiny_store, spark):
    """Unknown-term shortcut (ref: ASTUnknownTermOptimizer): a constant
    predicate the store's range counts have never seen compiles to an empty
    local relation — zero rows AND no table scan in the plan."""
    import contextlib
    import io

    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    tiny_store.stats()  # materialize range counts
    df = run_sparql(tiny_store, "SELECT ?s WHERE { ?s <never-seen-pred> ?o }")
    assert df.count() == 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    p = buf.getvalue()
    assert "LocalTableScan" in p or "EmptyRelation" in p, p
    assert "ExistingRDD" in p or "Scan parquet" not in p


def test_inline_uri_value_order(spark):
    """Inline-URI handlers (ref: internal/InlineURIFactory.java +
    InlineIPv4URIHandler.java): range FILTERs over urn:ipv4: URIs compare
    in PACKED value order — "10.9.0.0" sorts below "10.10.0.0" even though
    lexicographic string order says otherwise; non-handler URIs key to
    NULL and drop out (type error)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("h1", "ex:ip", "urn:ipv4:10.9.0.0", "iri"),
        ("h2", "ex:ip", "urn:ipv4:10.10.0.0", "iri"),
        ("h3", "ex:ip", "urn:ipv4:10.200.0.0", "iri"),
        ("h4", "ex:ip", "ex:not-an-ip", "iri"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    got = {
        r["s"]
        for r in run_sparql(
            st,
            "SELECT ?s WHERE { ?s <ex:ip> ?ip . "
            "FILTER(?ip > <urn:ipv4:10.9.0.0> && ?ip < <urn:ipv4:10.199.0.0>) }",
        ).collect()
    }
    assert got == {"h2"}  # 10.10.0.0 is between; lexicographic order would say otherwise

    # extension point: integer handler registered by the app
    from blazegraph_database_spark.model import inline_uris as IU

    IU.register_inline_uri_handler("ex:v/", "integer")
    try:
        rows2 = [(f"n{i}", "ex:n", f"ex:v/{i}", "iri") for i in (2, 10, 30)]
        st2 = TripleStore(
            spark.createDataFrame(rows2, "s string, p string, o_lex string, o_dt string")
        )
        got2 = {
            r["s"]
            for r in run_sparql(
                st2, "SELECT ?s WHERE { ?s <ex:n> ?v . FILTER(?v >= <ex:v/10>) }"
            ).collect()
        }
        assert got2 == {"n10", "n30"}
    finally:
        del IU._HANDLERS["ex:v/"]


def test_conditional_bind_rebinding_in_scope_var(spark):
    """Re-binding an in-scope var is a SPARQL syntax error; the reference
    accepts it with ConditionalBind semantics (ref: internal/constraints/
    ConditionalBind.java:160 — bind where unbound; where bound, the value
    must EQUAL the existing binding or the solution fails). The row whose
    ?o is bound to a different value is dropped; the OPTIONAL-miss row
    gets the BIND value."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("ex:a", "ex:p", "1", "long"),
        ("ex:b", "ex:p", "2", "long"),
        ("ex:a", "ex:q", "x", "string"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    out = {
        (r["s"], r["o"])
        for r in run_sparql(
            st,
            """
            SELECT ?s ?o WHERE {
              ?s <ex:p> ?v .
              OPTIONAL { ?s <ex:q> ?o }
              BIND("fallback" AS ?o)
            }
            """,
        ).collect()
    }
    assert out == {("ex:b", "fallback")}  # ex:a bound to "x" != "fallback" -> dropped


def test_xsd_date_value_comparison_bc_years(spark):
    """xsd:date comparisons under dt tracking are chronological, not
    lexical — BC years reverse lexical order (ref CompareBOp over date IVs;
    the bg1748 fixture family)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    dtag = "dt:http://www.w3.org/2001/XMLSchema#date"
    rows = [
        ("e1", "d", "-0523-12-30", dtag),
        ("e2", "d", "-0486-12-29", dtag),
        ("e3", "d", "0044-03-15", dtag),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    ).view(track_dt=True)
    got = {
        r["s"]
        for r in run_sparql(
            st,
            'SELECT ?s WHERE { ?s <d> ?x . FILTER(?x < "-0500-01-01"^^'
            "<http://www.w3.org/2001/XMLSchema#date>) }",
        ).collect()
    }
    assert got == {"e1"}  # -523 < -500 chronologically; lexical would flip it
    # var-var ordering
    got2 = run_sparql(
        st,
        "SELECT ?a WHERE { ?a <d> ?x . ?b <d> ?y . FILTER(?x < ?y && ?b = <e3>) }",
    ).collect()
    assert {r["a"] for r in got2} == {"e1", "e2"}
    # a PLAIN string constant shaped like a date must NOT get chronological
    # semantics — only a declared ^^xsd:date constant does (ADVICE r7): the
    # untyped form keeps the engine's lexical default, where "-0523-12-30"
    # 's lexical order differs from the chronological one
    got3 = {
        r["s"]
        for r in run_sparql(
            st, 'SELECT ?s WHERE { ?s <d> ?x . FILTER(?x < "-0500-01-01") }'
        ).collect()
    }
    # lexical: "-0486.." < "-0500.." ('4'<'5'), "-0523.." > "-0500..",
    # "0044.." > "-0500.." ('0'>'-') — chronological would give {e1}
    assert got3 == {"e2"}


def _dt_store(spark, rows):
    from blazegraph_database_spark.model.store import TripleStore

    df = spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    return TripleStore(df).view(track_dt=True)


def test_arith_over_aggregate_aliases(spark):
    """SELECT (SUM(?a)+SUM(?b) AS ?t) under dt tracking: hoisted aggregate
    aliases (__agg0) have a __dtc per-group companion, not __dt — the
    typed-arith path must use it (exact result), never reference the
    nonexistent __agg0__dt (ADVICE r8: AnalysisException UNRESOLVED_COLUMN)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _dt_store(spark, [
        ("urn:x1", "urn:a", "3", "long"),
        ("urn:x1", "urn:b", "4", "long"),
        ("urn:x2", "urn:a", "0.1", "decimal"),
        ("urn:x2", "urn:b", "0.2", "decimal"),
    ])
    q = """
    SELECT ?s ((SUM(?a) + SUM(?b)) AS ?t) WHERE {
      ?s <urn:a> ?a ; <urn:b> ?b .
    } GROUP BY ?s ORDER BY ?s
    """
    got = {(r["s"], r["t"]) for r in run_sparql(st, q).collect()}
    # integer groups stay integer-exact, decimal groups BigDecimal-exact
    # (0.1 + 0.2 is 0.3, never 0.30000000000000004)
    assert got == {("urn:x1", "7"), ("urn:x2", "0.3")}


def test_arith_decimal_constants_exact(spark):
    """Constant-involving arithmetic rides the exact path: bare `0.1` is
    xsd:decimal per the SPARQL grammar, and ?v * 0.1 / BIND(0.1+0.2) must
    not pick up binary double rounding (ADVICE r8)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _dt_store(spark, [("urn:x1", "urn:v", "0.3", "decimal")])
    q = """
    SELECT ?w ?c WHERE {
      ?s <urn:v> ?v .
      BIND((?v + 0.1) AS ?w)
      BIND((0.1 + 0.2) AS ?c)
    }
    """
    r = run_sparql(st, q).collect()[0]
    assert (r["w"], r["c"]) == ("0.4", "0.3")
    # declared xsd:double constants keep the double path
    q2 = (
        "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        'SELECT (("1.0"^^xsd:double + "2.0"^^xsd:double) AS ?d) '
        "WHERE { ?s <urn:v> ?v }"
    )
    assert run_sparql(st, q2).collect()[0]["d"] == 3.0


def test_arith_lexical_scoped_per_parse(spark):
    """The numeric-valued-string annotation must not leak across queries:
    a LATER query re-binding the same var names with a genuinely STRING
    expression keeps string ConditionalBind semantics even if an earlier
    query registered an arith expression (r8 VERDICT: the module-global
    repr-keyed registry was a cross-query side channel)."""
    from blazegraph_database_spark.plans.sparql_parser import (
        Parser, parse_sparql_select,
    )
    import blazegraph_database_spark.plans.algebra as A

    q1 = "SELECT ?t WHERE { ?s <urn:a> ?a ; <urn:b> ?b . BIND((?a + ?b) AS ?t) }"
    p1 = Parser(q1, dt_mode=True)
    p1.parse_select()
    assert p1._arith_lexical  # the arith expr registered on THIS parser

    # a second parse of a non-arith BIND: its Extend node must NOT carry
    # the arith flag, whatever earlier parses registered
    q2 = "SELECT ?t WHERE { ?s <urn:a> ?a ; <urn:b> ?b . BIND(CONCAT(?a, ?b) AS ?t) }"
    node = parse_sparql_select(q2, dt_mode=True)
    flags = []

    def walk(n):
        if isinstance(n, A.Extend):
            flags.append(n.arith_lexical)
        for attr in ("child", "left", "right"):
            c = getattr(n, attr, None)
            if c is not None and hasattr(c, "__class__") and not isinstance(c, (str, tuple)):
                try:
                    walk(c)
                except RecursionError:
                    pass

    walk(node)
    assert flags and not any(flags)
    # and no module-global registry exists anymore
    import blazegraph_database_spark.plans.sparql_parser as sp
    assert not hasattr(sp, "ARITH_LEXICAL_EXPRS")


def test_typed_sum_overflow_demotes_to_double(spark):
    """A group whose members all fit DECIMAL(38,12) but whose TOTAL
    overflows it must demote to the double result, not render an unbound
    total (ADVICE r8: non-ANSI decimal sum overflow yields NULL)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    big = str(10 ** 25)  # fits DEC_T (26 integer digits); 2 of them overflow
    st = _dt_store(spark, [
        ("urn:x1", "urn:v", big, "long"),
        ("urn:x2", "urn:v", big, "long"),
    ])
    q = "SELECT (SUM(?v) AS ?t) WHERE { ?s <urn:v> ?v }"
    r = run_sparql(st, q).collect()[0]
    assert r["t"] is not None
    assert abs(float(r["t"]) - 2e25) / 2e25 < 1e-9


def test_float_identity_tag(spark):
    """xsd:float is a first-class IDENTITY tag (round 9; ref: XSDNumericIV
    float distinctness): DATATYPE reports xsd:float, the cast constructor
    tags its result, float-vs-double compares by VALUE, and a float member
    demotes a typed SUM group to the double path (inexact family)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    ftag = "dt:http://www.w3.org/2001/XMLSchema#float"
    st = _dt_store(spark, [
        ("urn:x1", "urn:f", "1.5", ftag),
        ("urn:x1", "urn:d", "1.5", "double"),
        ("urn:x1", "urn:v", "2.5", ftag),
        ("urn:x1", "urn:v", "0.1", "decimal"),
    ])
    q = """
    PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
    SELECT (DATATYPE(?f) AS ?fdt) (xsd:float(?d) AS ?fc) (DATATYPE(?fc) AS ?cdt)
    WHERE { ?s <urn:f> ?f ; <urn:d> ?d . FILTER(?f = ?d) }
    """
    r = run_sparql(st, q).collect()
    assert len(r) == 1  # float = double compares numerically, not type-error
    assert r[0]["fdt"] == "http://www.w3.org/2001/XMLSchema#float"
    assert r[0]["fc"] == "1.5" and r[0]["cdt"] == "http://www.w3.org/2001/XMLSchema#float"
    # a float member is INEXACT: the group demotes to double accumulation
    # (no decimal-exact "2.6"; the double sum prints the binary artifact)
    tot = run_sparql(
        st, "SELECT (SUM(?v) AS ?t) WHERE { ?s <urn:v> ?v }"
    ).collect()[0]["t"]
    assert tot is not None and abs(float(tot) - 2.6) < 1e-9


def test_float_roundtrips_ntriples(spark, tmp_path):
    """A ^^xsd:float literal survives N-Triples write -> read with its
    identity tag (previously collapsed to double on load)."""
    from blazegraph_database_spark.sources import ntriples

    p = str(tmp_path / "f.nt")
    with open(p, "w") as fh:
        fh.write(
            '<urn:s> <urn:p> "1.5"^^<http://www.w3.org/2001/XMLSchema#float> .\n'
        )
    df = ntriples.read_ntriples(spark, p)
    row = df.collect()[0]
    assert (row["o_lex"], row["o_dt"]) == (
        "1.5", "dt:http://www.w3.org/2001/XMLSchema#float"
    )


def test_agg_order_by_and_having_compare_numerically(spark):
    """Typed SUM results are string lexicals — ORDER BY and HAVING over
    them must still go by numeric VALUE ('9' < '10'), and SUM-vs-SUM
    compares by value across int/decimal promotion (r9 review)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _dt_store(spark, [
        ("urn:g1", "urn:v", "9", "long"),
        ("urn:g2", "urn:v", "5", "long"),
        ("urn:g2", "urn:v", "5", "decimal"),  # two terms, sum 10
    ])
    q = """
    SELECT ?s (SUM(?v) AS ?t) WHERE { ?s <urn:v> ?v }
    GROUP BY ?s ORDER BY DESC(SUM(?v))
    """
    rows = [(r["s"], r["t"]) for r in run_sparql(st, q).collect()]
    assert rows == [("urn:g2", "10"), ("urn:g1", "9")]  # 10 above 9
    q2 = """
    SELECT ?s WHERE { ?s <urn:v> ?v } GROUP BY ?s HAVING (SUM(?v) > 9)
    """
    assert {r["s"] for r in run_sparql(st, q2).collect()} == {"urn:g2"}
    # SUM = SUM across groups of different promoted types
    st2 = _dt_store(spark, [
        ("urn:x", "urn:a", "10", "long"),
        ("urn:x", "urn:b", "10.0", "decimal"),
    ])
    q3 = "SELECT ?s WHERE { ?s <urn:a> ?a ; <urn:b> ?b } GROUP BY ?s HAVING (SUM(?a) = SUM(?b))"
    assert {r["s"] for r in run_sparql(st2, q3).collect()} == {"urn:x"}


def test_decimal_beyond_scale12_keeps_double_semantics(spark):
    """Lexicals deeper than DEC_T's 12-digit scale must NOT round into the
    exact path ('…0001' = '…0002' would merge distinct terms): they keep
    the double path at eq/order/arith/SUM gates (r9 review)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _dt_store(spark, [
        ("urn:e1", "urn:a", "0.0000000000001", "decimal"),
        ("urn:e1", "urn:b", "0.0000000000002", "decimal"),
    ])
    q = "SELECT ?s WHERE { ?s <urn:a> ?a ; <urn:b> ?b . FILTER(?a = ?b) }"
    assert run_sparql(st, q).count() == 0  # distinct at digit 13
    q2 = "SELECT ?s WHERE { ?s <urn:a> ?a ; <urn:b> ?b . FILTER(?a < ?b) }"
    assert run_sparql(st2 := st, q2).count() == 1
    tot = run_sparql(
        st, "SELECT (SUM(?x) AS ?t) WHERE { ?s ?p ?x }"
    ).collect()[0]["t"]
    assert tot is not None and abs(float(tot) - 3e-13) < 1e-25


def test_bare_integer_literal_beyond_long(spark):
    """A bare integer constant past 2^63-1 (unsignedLong domain) must
    parse and compare by value, not crash py4j (r9 review)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    big = str(2 ** 64 - 1)
    st = _dt_store(spark, [
        ("urn:u", "urn:v", big, "dt:http://www.w3.org/2001/XMLSchema#unsignedLong"),
    ])
    q = f"SELECT ?s WHERE {{ ?s <urn:v> ?v . FILTER(?v = {big}) }}"
    assert {r["s"] for r in run_sparql(st, q).collect()} == {"urn:u"}


def test_minmax_dt_companion_same_row(spark):
    """MAX's value and DATATYPE come from the SAME winning row even on
    exact-key ties (r9 review: two independent max_bys could split)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("urn:s", "urn:v", "42", "dt:http://www.w3.org/2001/XMLSchema#int"),
            ("urn:s", "urn:v", "42", "dt:http://www.w3.org/2001/XMLSchema#long")]
    st = _dt_store(spark, rows)
    q = "SELECT (MAX(?v) AS ?m) WHERE { ?s <urn:v> ?v }"
    df = run_sparql(st, q)
    r = df.collect()[0]
    assert r["m"] == "42"
    if "m__dt" in df.columns:  # companion rides under dt tracking
        assert r["m__dt"] in (
            "dt:http://www.w3.org/2001/XMLSchema#int",
            "dt:http://www.w3.org/2001/XMLSchema#long",
        )


def test_anchored_path_seeded_expansion(spark):
    """`<const> p+ ?o` over a data-sized base takes the GEARED seeded
    expansion (reference: the gearing query hint / anchored ALP) instead
    of the all-pairs closure, and matches the full-closure answer."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans.compiler import _anchored_path_pairs
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.model.terms import Var
    from pyspark.sql import functions as F

    # 30k-edge graph: 600 disjoint chains of 50 hops each — only the
    # seed's chain is reachable, and diameter stays inside the frontier cap
    edges = spark.range(30000).select(
        F.concat(F.lit("n"), (F.col("id") % 600), F.lit("_"), (F.col("id") / 600).cast("long")).alias("s"),
        F.lit("urn:next").alias("p"),
        F.concat(F.lit("n"), (F.col("id") % 600), F.lit("_"), ((F.col("id") / 600).cast("long") + 1)).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    st = TripleStore(edges)
    node = A.PathPattern(s="n0_40", path=A.Plus("urn:next"), o=Var("o"), g=None)
    pairs = _anchored_path_pairs(st, node, with_graph=False)
    assert pairs is not None  # the seeded branch FIRED
    got = {r["o"] for r in pairs.collect()}
    assert got == {f"n0_{i}" for i in range(41, 51)}  # 10 hops to chain end
    # end-to-end through the text parser, reverse gearing (const object)
    q = "SELECT ?s WHERE { ?s <urn:next>+ <n1_50> }"
    back = {r["s"] for r in run_sparql(st, q).collect()}
    assert back == {f"n1_{i}" for i in range(0, 50)}  # every chain-1 ancestor


def test_seeded_closure_deep_chain_no_truncation(spark, each_tier):
    """A deep chain must NOT silently truncate: a seeded walk runs until its
    frontier is empty, so every hop of a chain resolves, on both tiers."""
    from blazegraph_database_spark.operators.paths import seeded_closure_from

    edges = spark.createDataFrame(
        [(f"c{i}", f"c{i+1}") for i in range(30)], "s string, o string"
    )
    seeds = spark.createDataFrame([("c0",)], "o string")
    for _ in each_tier():
        got = {r["o"] for r in seeded_closure_from(edges, seeds).collect()}
        assert got == {f"c{i}" for i in range(1, 31)}  # all 30 hops


def test_frontier_walk_batches_empty_checks(spark, each_tier):
    """Driver-sync budget (r10 verdict item 6 + r11 review): on the
    distributed tier a DEEP walk fires an isEmpty probe every round only
    for the first EMPTY_CHECK_EVERY rounds, then once per stride — a
    30-hop chain runs ~k + rounds/k probes, not one per round (the old
    regime's 31). A SHALLOW walk keeps per-round probes and pays zero no-op
    tail rounds. The driver tier runs no probe; it checks the answers."""
    from pyspark.sql import DataFrame

    from blazegraph_database_spark.operators.gas import EMPTY_CHECK_EVERY
    from blazegraph_database_spark.operators.paths import seeded_closure_from

    orig = DataFrame.isEmpty
    seeds = spark.createDataFrame([("c0",)], "o string")

    def walk_probes(depth):
        edges = spark.createDataFrame(
            [(f"c{i}", f"c{i+1}") for i in range(depth)], "s string, o string"
        )
        calls = {"n": 0}

        def counting(self):
            calls["n"] += 1
            return orig(self)

        DataFrame.isEmpty = counting
        try:
            got = {r["o"] for r in seeded_closure_from(edges, seeds).collect()}
        finally:
            DataFrame.isEmpty = orig
        assert got == {f"c{i}" for i in range(1, depth + 1)}
        return calls["n"]

    k = EMPTY_CHECK_EVERY
    for tier in each_tier():
        deep, shallow = walk_probes(30), walk_probes(3)
        if tier == "distributed":
            # deep: k per-round probes + ceil(rounds/k) stride probes + final
            assert deep <= k + (30 + k) // k + 3
            # shallow (depth < stride): per-round probes, immediate
            # detection — the stride must not make a 3-hop walk run 8 rounds
            assert shallow <= 3 + 3


def _chain_store(spark, extra_rows=()):
    """600 disjoint 50-hop <urn:next> chains (30k edges — data-sized) plus
    caller-supplied extra edges."""
    from blazegraph_database_spark.model.store import TripleStore
    from pyspark.sql import functions as F

    edges = spark.range(30000).select(
        F.concat(F.lit("n"), (F.col("id") % 600), F.lit("_"),
                 (F.col("id") / 600).cast("long")).alias("s"),
        F.lit("urn:next").alias("p"),
        F.concat(F.lit("n"), (F.col("id") % 600), F.lit("_"),
                 ((F.col("id") / 600).cast("long") + 1)).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    if extra_rows:
        extra = spark.createDataFrame(
            list(extra_rows), "s string, p string, o_lex string, o_dt string"
        )
        edges = edges.unionByName(extra)
    return TripleStore(edges)


def test_anchored_seq_path_geared(spark):
    """`<const> :a/:b+ ?x` gears through the SEQUENCE (r9 verdict item 1):
    the constant seed flows into the `+` component's Δ-expansion, and the
    full all-pairs closure of :b is NEVER materialized (transitive_closure
    is patched to raise)."""
    import blazegraph_database_spark.operators.paths as P
    from blazegraph_database_spark.model.terms import Var
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans.compiler import _anchored_path_pairs
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _chain_store(spark, [("root0", "urn:first", "n0_40", "iri")])
    node = A.PathPattern(
        s="root0", path=A.Seq(A.Link("urn:first"), A.Plus("urn:next")),
        o=Var("x"), g=None,
    )
    orig = P.transitive_closure
    P.transitive_closure = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("all-pairs closure materialized in geared Seq")
    )
    try:
        pairs = _anchored_path_pairs(st, node, with_graph=False)
        assert pairs is not None  # the geared branch FIRED on a Seq
        got = {r["o"] for r in pairs.collect()}
    finally:
        P.transitive_closure = orig
    assert got == {f"n0_{i}" for i in range(41, 51)}
    # end-to-end text parser, both gears
    fwd = {r["x"] for r in run_sparql(
        st, "SELECT ?x WHERE { <root0> <urn:first>/<urn:next>+ ?x }"
    ).collect()}
    assert fwd == got
    back = {r["s"] for r in run_sparql(
        st, "SELECT ?s WHERE { ?s <urn:next>+/<urn:next> <n1_50> }"
    ).collect()}
    assert back == {f"n1_{i}" for i in range(0, 49)}


def test_path_anchored_dense_runs_geared_branch(spark):
    """The driver-scorable `path_anchored_dense` oracle (r10 verdict item
    4) really executes the GEARED branch at gate scale: its lineitem-chain
    base is ~75k edges at sf0.01, and the same
    store/query combo the correctness gate runs must never materialize the
    edge set's all-pairs closure (transitive_closure patched to raise)."""
    import blazegraph_database_spark.operators.paths as P
    from blazegraph_database_spark.queries_core import path_anchored_dense

    orig = P.transitive_closure
    P.transitive_closure = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("all-pairs closure materialized in path_anchored_dense")
    )
    try:
        out = path_anchored_dense(spark, "/root/testdata/sf0.01")
        n = out.count()
    finally:
        P.transitive_closure = orig
    assert n > 10_000  # data-sized: depth>=2 reachable layer at sf0.01


def test_geared_reach_parity_all_shapes(spark, each_tier):
    """geared_reach matches the full compile_path + endpoint filter for
    every composite path shape over a small cyclic graph (seeded-vs-full
    parity, the r9 gearing fixtures' model extended to sequences), and for
    the seeded walk's edge shapes on both tiers."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.operators.paths import compile_path, geared_reach
    from blazegraph_database_spark.plans import algebra as A
    from pyspark.sql import functions as F

    rows = []
    # two interleaved rings + a tree on :b, so closures are nontrivial
    for i in range(8):
        rows.append((f"v{i}", "urn:a", f"v{(i + 1) % 8}", "iri"))
    for i in range(6):
        rows.append((f"v{i}", "urn:b", f"w{i}", "iri"))
        rows.append((f"w{i}", "urn:b", f"w{(i + 2) % 6}", "iri"))
    rows.append(("v0", "urn:c", "v3", "iri"))
    st = TripleStore(spark.createDataFrame(
        rows, "s string, p string, o_lex string, o_dt string"))

    shapes = [
        A.Seq(A.Link("urn:a"), A.Plus("urn:b")),
        A.Seq(A.Plus("urn:a"), A.Link("urn:b")),
        A.Seq(A.Star("urn:a"), A.Link("urn:b")),
        A.Seq(A.Link("urn:c"), A.Star("urn:b")),
        A.Alt(A.Plus("urn:a"), A.Seq(A.Link("urn:c"), A.Plus("urn:b"))),
        A.Seq(A.Inv(A.Link("urn:a")), A.Plus("urn:b")),
        A.Inv(A.Seq(A.Link("urn:b"), A.Plus("urn:b"))),
        A.Seq(A.ZeroOrOne(A.Link("urn:a")), A.Plus("urn:b")),
        A.Seq(A.Bounded(A.Link("urn:a"), 1, 3), A.Plus("urn:b")),
        A.Seq(A.Bounded(A.Link("urn:a"), 2, None), A.Link("urn:b")),
        A.Seq(A.Link("urn:a"), A.Bounded(A.Link("urn:b"), 0, 2)),
    ]
    for seed, forward in (("v0", True), ("w2", False)):
        frontier = spark.createDataFrame([(seed,)], "o string")
        for shape in shapes:
            full = compile_path(st, shape, with_graph=False)
            col = "s" if forward else "o"
            want = {
                r["o" if forward else "s"]
                for r in full.filter(F.col(col) == seed).collect()
            }
            got = {
                r["o"]
                for r in geared_reach(st, shape, frontier, False, forward).collect()
            }
            assert got == want, (shape, seed, forward, got ^ want)

    # edge shapes, on both tiers: a seed on a cycle and a seed with a
    # self-loop reach themselves, an absent seed and an empty base reach
    # nothing, and a graph-keyed base walks each graph apart
    edge = TripleStore(spark.createDataFrame([
        ("r0", "urn:r", "r1", "iri"), ("r1", "urn:r", "r2", "iri"),
        ("r2", "urn:r", "r0", "iri"),
        ("s0", "urn:s", "s0", "iri"), ("s0", "urn:s", "s1", "iri"),
    ], "s string, p string, o_lex string, o_dt string"))
    quads = TripleStore(spark.createDataFrame([
        ("r0", "urn:r", "r1", "iri", "g1"), ("r1", "urn:r", "r0", "iri", "g1"),
        ("r0", "urn:r", "r2", "iri", "g2"),
    ], "s string, p string, o_lex string, o_dt string, g string"))
    cases = [
        (edge, A.Plus("urn:r"), "r0", {("r0",), ("r1",), ("r2",)}),
        (edge, A.Plus("urn:s"), "s0", {("s0",), ("s1",)}),
        (edge, A.Plus("urn:r"), "ghost", set()),
        (edge, A.Plus("urn:none"), "r0", set()),
        (quads, A.Plus("urn:r"), "r0", {("g1", "r0"), ("g1", "r1"), ("g2", "r2")}),
    ]
    for tier in each_tier():
        for store, shape, seed, expect in cases:
            keyed = store is quads
            k = ["g"] if keyed else []
            frontier = spark.createDataFrame([(seed,)], "o string")
            if keyed:
                frontier = store.df.select("g").distinct().crossJoin(frontier)
            full = compile_path(store, shape, with_graph=keyed)
            want = {tuple(r) for r in full.filter(F.col("s") == seed).select(*k, "o").collect()}
            got = {
                tuple(r)
                for r in geared_reach(store, shape, frontier, keyed, True).select(*k, "o").collect()
            }
            assert got == want == expect, (tier, shape, seed, got, want)


def test_chained_exact_arithmetic(spark):
    """Multi-operand exact chains stay on the DECIMAL path end-to-end
    (r9 advisor: ?a + ?b + ?c used to demote to double after the first
    operator — 0.1+0.2 exact but 0.1+0.2+0.3 not), while a chain through
    a double operand keeps XPath double promotion per-row."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _dt_store(spark, [
        ("urn:s", "urn:a", "0.1", "decimal"),
        ("urn:s", "urn:b", "0.2", "decimal"),
        ("urn:s", "urn:c", "0.3", "decimal"),
        ("urn:s", "urn:d", "0.5", "double"),
    ])
    def one(q):
        return run_sparql(st, q).collect()[0]["t"]

    pre = "?s <urn:a> ?a ; <urn:b> ?b ; <urn:c> ?c ; <urn:d> ?d ."
    assert one(f"SELECT ?t WHERE {{ {pre} BIND(?a + ?b + ?c AS ?t) }}") == "0.6"
    assert one(f"SELECT ?t WHERE {{ {pre} BIND(?a + ?b + ?c + ?a AS ?t) }}") == "0.7"
    assert one(f"SELECT ?t WHERE {{ {pre} BIND(0.1 + 0.2 + 0.3 AS ?t) }}") == "0.6"
    assert one(f"SELECT ?t WHERE {{ {pre} BIND(?a * ?b - ?c AS ?t) }}") == "-0.28"
    # any double operand demotes THAT row's chain (XPath promotion lattice)
    assert one(f"SELECT ?t WHERE {{ {pre} BIND(?a + ?d + ?c AS ?t) }}") == repr(0.1 + 0.5 + 0.3)


def test_geared_nested_closure_no_allpairs(spark):
    """`<c> (:p+)? ?x` and `<c> (:next/:next)+ ?x` over a data-sized base:
    the geared evaluator recurses through nested closures — neither the
    probe nor the evaluation may materialize an all-pairs closure
    (r10 review: ZeroOrOne/Bounded compiled their inner atomically)."""
    import blazegraph_database_spark.operators.paths as P
    from blazegraph_database_spark.model.terms import Var
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans.compiler import _anchored_path_pairs

    st = _chain_store(spark)
    orig = P.transitive_closure
    P.transitive_closure = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("all-pairs closure materialized under nested gearing")
    )
    try:
        node = A.PathPattern(
            s="n0_48", path=A.ZeroOrOne(A.Plus("urn:next")), o=Var("x"), g=None
        )
        pairs = _anchored_path_pairs(st, node, with_graph=False)
        assert pairs is not None
        got = {r["o"] for r in pairs.collect()}
        assert got == {f"n0_{i}" for i in range(48, 51)}  # self + 2 hops
        node2 = A.PathPattern(
            s="n0_44", path=A.Plus(A.Seq(A.Link("urn:next"), A.Link("urn:next"))),
            o=Var("x"), g=None,
        )
        pairs2 = _anchored_path_pairs(st, node2, with_graph=False)
        assert pairs2 is not None
        got2 = {r["o"] for r in pairs2.collect()}
        assert got2 == {"n0_46", "n0_48", "n0_50"}  # even hops only
        # {1,} over a closure-containing inner recurses too
        node3 = A.PathPattern(
            s="n0_47", path=A.Bounded(A.Plus("urn:next"), 1, None),
            o=Var("x"), g=None,
        )
        pairs3 = _anchored_path_pairs(st, node3, with_graph=False)
        assert pairs3 is not None
        assert {r["o"] for r in pairs3.collect()} == {f"n0_{i}" for i in range(48, 51)}
        # TOP-LEVEL closure over a closure-containing inner recurses too
        node4 = A.PathPattern(
            s="n0_46", path=A.Plus(A.Seq(A.Link("urn:next"), A.Plus("urn:next"))),
            o=Var("x"), g=None,
        )
        pairs4 = _anchored_path_pairs(st, node4, with_graph=False)
        assert pairs4 is not None
        # (next/next+)+ from n0_46 = everything >= 2 hops down the chain
        assert {r["o"] for r in pairs4.collect()} == {"n0_48", "n0_49", "n0_50"}
        # FINITE-bounded over a nested closure gears too (r10 review: a
        # finite-Bounded inner was skipped, so (:p+){1,2} never geared and
        # closed :p globally)
        node5 = A.PathPattern(
            s="n0_47", path=A.Bounded(A.Plus("urn:next"), 1, 2),
            o=Var("x"), g=None,
        )
        pairs5 = _anchored_path_pairs(st, node5, with_graph=False)
        assert pairs5 is not None
        assert {r["o"] for r in pairs5.collect()} == {f"n0_{i}" for i in range(48, 51)}
    finally:
        P.transitive_closure = orig


def test_bounded_zero_lower_const_endpoint_parity(spark):
    """`<c> :p{0,2} ?x` zero-matches the constant itself on a small and a
    data-sized store alike (r10 review: _path_nullable missed
    Bounded(lower=0), so the answer flipped with predicate cardinality)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    # small store; constant ABSENT from the graph
    st_small = TripleStore(spark.createDataFrame(
        [("a", "urn:next", "b", "iri")],
        "s string, p string, o_lex string, o_dt string",
    ))
    got_small = {r["x"] for r in run_sparql(
        st_small, "SELECT ?x WHERE { <ghost> <urn:next>{0,2} ?x }"
    ).collect()}
    assert got_small == {"ghost"}
    # data-sized store; same shape must agree
    st_big = _chain_store(spark)
    got_big = {r["x"] for r in run_sparql(
        st_big, "SELECT ?x WHERE { <ghost> <urn:next>{0,2} ?x }"
    ).collect()}
    assert got_big == {"ghost"}
    got_real = {r["x"] for r in run_sparql(
        st_big, "SELECT ?x WHERE { <n0_48> <urn:next>{0,2} ?x }"
    ).collect()}
    assert got_real == {"n0_48", "n0_49", "n0_50"}
    # epsilon through nullable INNERS too: (p*)+ and (p?){2,2} contain the
    # empty word, so the absent constant zero-matches itself on both stores
    # (r10 review x2: _path_nullable fell through to False for these)
    for q in (
        "SELECT ?x WHERE { <ghost> (<urn:next>*)+ ?x }",
        "SELECT ?x WHERE { <ghost> (<urn:next>?){2,2} ?x }",
    ):
        assert {r["x"] for r in run_sparql(st_small, q).collect()} == {"ghost"}, q
        assert {r["x"] for r in run_sparql(st_big, q).collect()} == {"ghost"}, q
    # an INVERTED range {m,n} with n<m is the EMPTY language: no epsilon
    # even with a nullable inner, so a present constant endpoint must NOT
    # gain a zero-length identity row (r11 advice: _path_nullable reported
    # epsilon for (p?){2,1}). The text grammar rejects n<m, so build the
    # algebra node directly — compile_path yields no pairs and the nullable
    # identity union must not re-add one.
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans.compiler import _compile, _path_nullable
    from blazegraph_database_spark.model.terms import Var

    empty_path = A.Bounded(A.ZeroOrOne(A.Link("urn:next")), 2, 1)
    assert not _path_nullable(empty_path)
    for st in (st_small, st_big):
        node = A.PathPattern(s="a", path=empty_path, o=Var("x"), g=None)
        assert _compile(node, st).count() == 0
