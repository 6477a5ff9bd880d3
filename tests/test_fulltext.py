"""Full-text search tests on a hand corpus with hand-checkable relevance
(modeled on the reference's TestFullTextIndex / TestSearch suites)."""

from __future__ import annotations

import pytest

from blazegraph_database_spark.operators import fulltext


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark spark spark engine"),          # tf(spark)=3, dl=4
        (2, "spark engine for queries"),          # tf(spark)=1, dl=4
        (3, "duckdb is a query engine too"),      # no 'spark'
        (4, "nothing relevant here at all"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def index(corpus):
    return fulltext.inverted_index(corpus).cache()


def test_index_shape(index):
    rows = {(r["term"], r["id"]): (r["tf"], r["dl"]) for r in index.collect()}
    assert rows[("spark", 1)] == (3, 4)
    assert rows[("spark", 2)] == (1, 4)
    assert ("spark", 3) not in rows


def test_search_ranking_and_relevance(index):
    out = fulltext.search(index, [("spark", False)]).collect()
    assert [r["id"] for r in out] == [1, 2]
    assert [r["rank"] for r in out] == [1, 2]
    # contribution = round(tf * 1e6 * N / (dl * df)); N=4, df(spark)=2
    assert out[0]["score_ppm"] == round(3 * 1e6 * 4 / (4 * 2))
    assert out[1]["score_ppm"] == round(1 * 1e6 * 4 / (4 * 2))


def test_search_min_relevance_and_max_rank(index):
    hi = fulltext.search(index, [("spark", False)], min_relevance_ppm=1_000_000)
    assert [r["id"] for r in hi.collect()] == [1]
    top1 = fulltext.search(index, [("spark", False)], max_rank=1)
    assert [r["id"] for r in top1.collect()] == [1]


def test_search_match_all_and_prefix(index):
    both = fulltext.search(index, [("spark", False), ("engine", False)], match_all=True)
    assert sorted(r["id"] for r in both.collect()) == [1, 2]
    pre = fulltext.search(index, [("quer", True)])
    assert sorted(r["id"] for r in pre.collect()) == [2, 3]  # queries, query
    none = fulltext.search(index, [("zzz", False)])
    assert none.count() == 0


def test_bm25_orders_by_rarity(index):
    out = fulltext.bm25_search(index, ["spark", "query"])
    scores = {r["id"]: r["bm25"] for r in out.collect()}
    assert scores[1] > scores[2]  # higher tf of 'spark'
    assert 3 in scores  # matches rarer 'query'
    assert all(s > 0 for s in scores.values())


def test_min_rank_paging(spark):
    """bds:minRank + bds:maxRank page through the ranked hits: page 2 picks
    up exactly where page 1 ended (ref: BDS.java MIN_RANK/MAX_RANK)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    docs = [(f"d{i}", "p#text", " ".join(["spark"] * (10 - i) + ["pad"] * i), "string") for i in range(6)]
    st = TripleStore(spark.createDataFrame(docs, "s string, p string, o_lex string, o_dt string"))
    def page(lo, hi):
        q = ('SELECT ?s ?r WHERE { SERVICE <bds:search> { ?s <bds:search> "spark" . '
             f'?s <bds:minRank> "{lo}" . ?s <bds:maxRank> "{hi}" . ?s <bds:rank> ?r }} }}')
        return [(r["s"], r["r"]) for r in run_sparql(st, q).orderBy("r").collect()]
    p1, p2 = page(1, 3), page(4, 6)
    assert [r for _, r in p1] == [1, 2, 3] and [r for _, r in p2] == [4, 5, 6]
    both = page(1, 6)
    assert p1 + p2 == both


def test_bds_extended_options(spark):
    """bds:maxRelevance / bds:matchExact / bds:matchRegex / bds:rangeCount
    (ref: BDS.java MAX_RELEVANCE, MATCH_EXACT, MATCH_REGEX, RANGE_COUNT)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("d1", "txt", "alpha beta gamma", "string"),
        ("d2", "txt", "alpha alpha beta", "string"),
        ("d3", "txt", "beta delta", "string"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )

    def hits(block):
        q = "SELECT * WHERE { SERVICE <bds:search> { %s } }" % block
        return run_sparql(st, q).collect()

    # matchExact: the matched LITERAL must contain the exact phrase
    # (reference contract: the search var binds the matched literal)
    got = {r["lit"] for r in hits('?lit <bds:search> "alpha beta" . ?lit <bds:matchExact> "true"')}
    assert got == {"alpha beta gamma", "alpha alpha beta"}  # no "alpha beta" in d3's text
    # matchRegex post-filter
    got = {r["lit"] for r in hits('?lit <bds:search> "beta" . ?lit <bds:matchRegex> "delta$"')}
    assert got == {"beta delta"}
    # rangeCount: ONE solution binding only the total (ref:
    # SearchServiceFactory.java:649 — hits are not enumerated), and a
    # zero-hit search observably binds 0 (ADVICE r4)
    out = hits('?lit <bds:search> "beta" . ?lit <bds:rangeCount> ?n')
    assert len(out) == 1 and out[0]["n"] == 3
    out = hits('?lit <bds:search> "zzzznohit" . ?lit <bds:rangeCount> ?n')
    assert len(out) == 1 and out[0]["n"] == 0
    # maxRelevance excludes the top-scoring doc that minRelevance keeps
    all_rel = {r["lit"]: r["rel"] for r in hits('?lit <bds:search> "alpha" . ?lit <bds:relevance> ?rel')}
    assert len(all_rel) == 2
    cap = min(all_rel.values())
    got = {r["lit"] for r in hits(f'?lit <bds:search> "alpha" . ?lit <bds:maxRelevance> "{cap}"')}
    assert got == {lit for lit, rel in all_rel.items() if rel <= cap}
    assert all(lit.startswith("alpha") for lit in all_rel)  # literal contract


def test_bds_subject_search(spark):
    """bds:subjectSearch searches the SUBJECT URIs' text instead of the
    literal index (ref: BDS.java SUBJECT_SEARCH)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("product:42", "label", "a table", "string"),
            ("order:7", "label", "a product order", "string")]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = ('SELECT * WHERE { SERVICE <bds:search> { ?s <bds:search> "product" . '
         '?s <bds:subjectSearch> "true" } }')
    got = {r["s"] for r in run_sparql(st, q).collect()}
    assert got == {"product:42"}  # the literal index would match order:7


def test_bds_rangecount_is_total_prerank(spark):
    """Review r4c: bds:rangeCount binds the TOTAL hit count (pre-maxRank),
    and matchExact applies before the rank cut."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [(f"d{i}", "txt", f"beta word{i}", "string") for i in range(30)]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = ('SELECT * WHERE { SERVICE <bds:search> { ?s <bds:search> "beta" . '
         '?s <bds:maxRank> "5" . ?s <bds:rangeCount> ?n } }')
    out = run_sparql(st, q).collect()
    assert len(out) == 1 and out[0]["n"] == 30


def test_bds_rangecount_with_other_vars_projected(spark):
    """Review r5-5: rangeCount + other service vars — one solution, count
    bound, the rest unbound (NULL), projection does not raise."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [("d1", "txt", "beta one", "string"), ("d2", "txt", "beta two", "string")]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = ('SELECT ?s ?n WHERE { SERVICE <bds:search> { ?s <bds:search> "beta" . '
         "?s <bds:rangeCount> ?n } }")
    out = run_sparql(st, q).collect()
    assert len(out) == 1 and out[0]["n"] == 2 and out[0]["s"] is None


# ------------------------------------------------ analyzer profiles (r6) --


def test_analyzer_en_stopwords_and_stem(spark):
    """The `en` profile drops Lucene's English stop set and light-stems in
    the scan expression (ref: search/ConfigurableAnalyzerFactory.java —
    language ranges -> analyzers with configurable stopwords)."""
    df = spark.createDataFrame(
        [(1, "the streaming tables are merged")], "doc_id long, text string"
    )
    idx = fulltext.inverted_index(df, analyzer="en")
    terms = {r["term"] for r in idx.collect()}
    assert terms == {"stream", "table", "merg"}
    # dl counts post-stopword tokens only
    assert {r["dl"] for r in idx.collect()} == {3}


def test_analyzer_query_doc_parity(spark):
    """Python-side query analysis must mirror the executor-side expression
    rule for rule: every analyzed doc token equals the analyzed query token
    for the same word."""
    words = [
        "glasses", "queries", "process", "tables", "gas", "is",
        "streaming", "merged", "sing", "red", "bed", "classes",
    ]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    doc_terms = {
        r["id"]: r["term"]
        for r in fulltext.inverted_index(df, analyzer="en").collect()
    }
    for i, w in enumerate(words):
        got = fulltext.analyze_query(w, analyzer="en")
        if w in fulltext.ENGLISH_STOPWORDS:
            assert got == [] and i not in doc_terms
        else:
            assert [t for t, _ in got] == [doc_terms[i]], (w, got, doc_terms.get(i))


def test_analyzer_prefix_token_skips_stem_and_stopwords():
    # prefix tokens skip stopword filtering AND stemming (the reference
    # keeps stopwords for prefix match: FullTextIndex tokenize() passes
    # filterStopwords=false when prefixMatch)
    assert fulltext.analyze_query("the* merges", analyzer="en") == [
        ("the", True),
        ("merge", False),
    ]


def test_analyzer_keyword_and_ws(spark):
    df = spark.createDataFrame([(1, "Alpha Beta-2")], "doc_id long, text string")
    kw = {r["term"] for r in fulltext.inverted_index(df, analyzer="keyword").collect()}
    assert kw == {"Alpha Beta-2"}
    ws = {r["term"] for r in fulltext.inverted_index(df, analyzer="ws").collect()}
    assert ws == {"Alpha", "Beta-2"}


def test_analyzer_language_routing():
    assert fulltext.analyzer_for_language("en-US") is fulltext.ANALYZERS["en"]
    assert fulltext.analyzer_for_language("en") is fulltext.ANALYZERS["en"]
    assert fulltext.analyzer_for_language("fr") is fulltext.ANALYZERS["default"]
    assert fulltext.analyzer_for_language(None) is fulltext.ANALYZERS["default"]
    fulltext.register_analyzer(
        "fr", fulltext.AnalyzerProfile(stopwords=frozenset({"le", "la"}))
    )
    try:
        assert fulltext.analyzer_for_language("fr-CA") is fulltext.ANALYZERS["fr"]
    finally:
        del fulltext.ANALYZERS["fr"]


def test_stemmed_search_end_to_end(spark):
    df = spark.createDataFrame(
        [
            (1, "the streams merge quickly"),
            (2, "a stream merges"),
            (3, "no relevant words"),
        ],
        "doc_id long, text string",
    )
    idx = fulltext.inverted_index(df, analyzer="en")
    pats = fulltext.analyze_query("streaming merges", analyzer="en")
    got = {r["id"] for r in fulltext.search(idx, pats, match_all=True).collect()}
    assert got == {1, 2}


def test_bds_prefix_match_and_search_timeout(spark):
    """bds:prefixMatch "true" makes every query token a prefix (ref:
    BDS.PREFIX_MATCH); bds:searchTimeout is accepted (advisory — deadlines
    ride the REST job groups)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("d1", "p", "sparkling water fountain", "string"),
        ("d2", "p", "spark plug", "string"),
        ("d3", "p", "unrelated words here", "string"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    q = """
    PREFIX bds: <http://www.bigdata.com/rdf/search#>
    SELECT ?lit WHERE {
      ?lit bds:search "spark" .
      ?lit bds:prefixMatch "true" .
      ?lit bds:searchTimeout "1000" .
    }
    """
    got = {r["lit"] for r in run_sparql(st, q).collect()}
    assert got == {"sparkling water fountain", "spark plug"}


def test_bds_rangecount_under_graph(spark):
    """bds:rangeCount inside GRAPH ?g binds one count per named graph that
    holds hits, with ?g bound; GRAPH <g1> and the ungraphed form count the
    same hits."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    rows = [
        ("d1", "txt", "spark engine", "string", "g1"),
        ("d2", "txt", "spark query", "string", "g1"),
        ("d3", "txt", "duck engine", "string", "g2"),
    ]
    st = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string, g string")
    )
    prefix = "PREFIX bds: <http://www.bigdata.com/rdf/search#> "
    block = '?lit bds:search "spark" . ?lit bds:rangeCount ?n'

    def run(q):
        return sorted(map(tuple, run_sparql(st, prefix + q).collect()))

    assert run("SELECT ?g ?n WHERE { GRAPH ?g { %s } }" % block) == [("g1", 2)]
    assert run("SELECT ?n WHERE { GRAPH <g1> { %s } }" % block) == [(2,)]
    assert run("SELECT ?n WHERE { %s }" % block) == [(2,)]
    # a graph variable named like an internal hit column
    assert run("SELECT ?id ?n WHERE { GRAPH ?id { %s } }" % block) == [("g1", 2)]
    assert run("SELECT ?rank ?n WHERE { GRAPH ?rank { %s } }" % block) == [("g1", 2)]
    hits = '?lit bds:search "spark" . ?lit bds:rank ?r . ?lit bds:relevance ?score_ppm'
    assert run("SELECT ?id ?lit ?r WHERE { GRAPH ?id { %s } }" % hits) == [
        ("g1", "spark engine", 1),
        ("g1", "spark query", 2),
    ]
    assert run("SELECT ?rank ?lit WHERE { GRAPH ?rank { %s } }" % hits) == [
        ("g1", "spark engine"),
        ("g1", "spark query"),
    ]
