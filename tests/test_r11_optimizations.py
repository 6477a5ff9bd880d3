"""Focused tests for the r11 optimization-round operator changes: the
functional-chain closure tier, the stats-bearing full-text index, the regex
word shingles, and the lazy-checkpoint loop equivalences."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blazegraph_database_spark.operators import fulltext, paths
from blazegraph_database_spark.operators.paths import _closure_local
from blazegraph_database_spark.operators.text import word_shingles, words


def _py_closure(edges):
    out = _closure_local(edges)
    assert out is not None
    return sorted(set(out))


class TestChainClosureTier:
    def test_matches_reference_on_mixed_graph(self, spark):
        # chain + 3-cycle + self-loop + forest — every functional edge case
        edges = [
            ("a", "b"), ("b", "c"), ("c", "a"),          # cycle
            ("x", "y"), ("y", "z"),                       # chain
            ("q", "q"),                                   # self-loop
            ("m", "n"),                                   # lone edge
        ]
        df = spark.createDataFrame(edges, "s string, o string")
        got = sorted(tuple(r) for r in paths._chain_closure(df, []).collect())
        assert got == _py_closure(edges)

    def test_reverse_functional_direction(self, spark):
        # in-degree-1 fan-out graph (one root, many children): functional
        # only in the o→s direction — transitive_closure must flip, close,
        # and flip back with identical pairs
        edges = [("r", f"c{i}") for i in range(30)] + [
            (f"c{i}", f"g{i}") for i in range(30)
        ]
        df = spark.createDataFrame(edges, "s string, o string")
        assert paths._functional_direction(df, []) == "rev"
        got = sorted(
            tuple(r) for r in paths._chain_closure(
                df.select(F.col("o").alias("s"), F.col("s").alias("o")), []
            ).select(F.col("o").alias("s"), F.col("s").alias("o")).collect()
        )
        assert got == _py_closure(edges)

    def test_transitive_closure_dispatches_to_chain_tier(self, spark, monkeypatch, force_distributed):
        # a >20k-pair functional base must take the chain tier, not the
        # semi-naive loop (the sf1.0 scale-suite path)
        import pandas as pd

        n = 25_000
        pdf = pd.DataFrame(
            {"s": [str(k) for k in range(2, n)], "o": [str(k // 2) for k in range(2, n)]}
        )
        base = spark.createDataFrame(pdf)
        called = {}
        real = paths._chain_closure

        def spy(known, keys):
            called["hit"] = True
            return real(known, keys)

        monkeypatch.setattr(paths, "_chain_closure", spy)
        # force past the r12 numpy driver tier so the distributed chain
        # tier (the >500k-pair path) is what answers
        force_distributed()
        out = paths.transitive_closure(base)
        assert called.get("hit"), "functional base did not gear into the chain tier"
        # spot-check: ancestors of 12 are 6, 3, 1
        anc12 = {r["o"] for r in out.filter(F.col("s") == "12").collect()}
        assert anc12 == {"6", "3", "1"}
        # total pair count equals sum of chain depths (independent arithmetic)
        expect = sum(len(bin(k)) - 3 for k in range(2, n))  # depth of k = floor(log2 k)
        assert out.count() == expect


class TestStatsBearingFulltextIndex:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (1, "spark window functions over streams"),
            (2, "spark spark spark tuning guide"),
            (3, "window seat on the train"),
            (4, "completely unrelated text about cooking"),
            (5, "queries and tables and windows"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_index_carries_stats(self, corpus):
        idx = fulltext.inverted_index(corpus)
        assert {"df", "n", "dmag"} <= set(idx.columns)
        rows = idx.collect()
        n_docs = {r["n"] for r in rows}
        assert n_docs == {5}
        spark_df = {r["df"] for r in rows if r["term"] == "spark"}
        assert spark_df == {2}

    @pytest.mark.parametrize("scoring", ["tfidf", "cosine"])
    def test_stats_path_equals_fallback(self, corpus, scoring):
        idx = fulltext.inverted_index(corpus)
        bare = idx.drop("df", "n", "dmag")  # forces the compute-at-search path
        pats = [("spark", False), ("window", True)]
        a = sorted(
            tuple(r)
            for r in fulltext.search(idx, pats, max_rank=10, scoring=scoring).collect()
        )
        b = sorted(
            tuple(r)
            for r in fulltext.search(bare, pats, max_rank=10, scoring=scoring).collect()
        )
        assert a == b and a, "stats fast path diverged from the fallback"

    def test_bm25_unaffected_by_stats_columns(self, corpus):
        idx = fulltext.inverted_index(corpus)
        rows = fulltext.bm25_search(idx, ["spark", "window"], max_rank=5).collect()
        assert rows and rows[0]["id"] in (1, 2)


class TestRegexWordShingles:
    CASES = [
        "one two three four five",
        "  leading and   multi   spaces  ",
        "tab\tand\nnewline separated words here",
        "two words",
        "single",
        "",
        "   ",
        "a b c d e f g h",
    ]

    @pytest.mark.parametrize("n", [2, 3, 8])
    def test_matches_python_reference(self, spark, n):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(self.CASES)], "i long, t string")
        got = {
            r["i"]: list(r["sh"])
            for r in df.select("i", word_shingles(F.col("t"), n).alias("sh")).collect()
        }
        for i, t in enumerate(self.CASES):
            ws = t.split()
            expect = [" ".join(ws[j : j + n]) for j in range(max(len(ws) - n + 1, 0))]
            assert got[i] == expect, f"case {i!r} n={n}"

    def test_n1_is_plain_words(self, spark):
        df = spark.createDataFrame([(0, "a  b\tc")], "i long, t string")
        got = df.select(word_shingles(F.col("t"), 1).alias("w")).first()["w"]
        assert list(got) == ["a", "b", "c"]


class TestLazyCheckpointLoops:
    def test_pagerank_matches_fixture(self, spark):
        # 4-node fixture with a dangling node; hand-computed two rounds
        edges = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")], "src string, dst string"
        )
        from blazegraph_database_spark.operators.gas import pagerank

        out = {r["node"]: r["rank"] for r in pagerank(edges, damping=0.85, iters=2).collect()}
        # round 0: all 0.25. round 1: d dangling mass 0.25 →
        # a = .0375 + .85*(0+.0625)=.090625 ; b = .0375+.85*(.125+.0625)
        n = 4
        base = 0.15 / n
        r1 = {
            "a": base + 0.85 * (0.25 / 4),
            "b": base + 0.85 * (0.125 + 0.25 / 4),
            "c": base + 0.85 * (0.125 + 0.25 + 0.25 / 4),
            "d": base + 0.85 * (0.25 + 0.25 / 4),
        }
        dm = r1["d"] / 4
        r2 = {
            "a": base + 0.85 * dm,
            "b": base + 0.85 * (r1["a"] / 2 + dm),
            "c": base + 0.85 * (r1["a"] / 2 + r1["b"] + dm),
            "d": base + 0.85 * (r1["c"] + dm),
        }
        for k, v in r2.items():
            assert out[k] == pytest.approx(v, abs=1e-12), k

    def test_label_prop_cc_and_bfs_depths(self, spark):
        from blazegraph_database_spark.operators.gas import bfs, connected_components

        edges = spark.createDataFrame(
            [("1", "2"), ("2", "3"), ("4", "5")], "src string, dst string"
        )
        comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
        assert comp == {"1": "1", "2": "1", "3": "1", "4": "4", "5": "4"}
        out = {r["node"]: r["depth"] for r in bfs(edges, ["1"]).collect()}
        assert out == {"1": 0, "2": 1, "3": 2}
