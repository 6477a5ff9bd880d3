"""Focused tests for the r12 optimization-round changes: the GAS driver tier
(union-find CC, python BFS/SSSP, numpy PageRank) must be output-identical to
the distributed loops it short-circuits, and dispatch must respect the
size gate so at-scale inputs keep the distributed path."""

from __future__ import annotations

from pyspark.sql import functions as F

from blazegraph_database_spark.operators import gas


# chain + cycle + self-loop + hub + disconnected pieces: every CC edge case
CC_EDGES = [
    ("b", "a"), ("c", "b"), ("d", "c"),            # chain into 'a'
    ("p", "q"), ("q", "r"), ("r", "p"),            # 3-cycle
    ("z", "z"),                                     # self-loop only
    ("h", "x1"), ("h", "x2"), ("h", "x3"),          # hub fan-out
    ("m", "n"),                                     # lone edge
]

# directed tree + a cross edge + an unreachable island (general BFS shape)
BFS_EDGES = [
    ("1", "2"), ("1", "3"), ("2", "4"), ("2", "5"), ("3", "6"),
    ("5", "6"),                                      # second parent for 6
    ("9", "10"),                                     # unreachable from 1
]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


class TestCcDriverTier:
    def test_matches_distributed_label_prop(self, spark, force_distributed):
        df = spark.createDataFrame(CC_EDGES, "src string, dst string")
        tier = _rows(gas.connected_components(df))
        force_distributed()
        dist = _rows(gas.connected_components(df))
        assert tier == dist
        # labels are the component minimum
        comp = dict(tier)
        assert comp["d"] == "a" and comp["r"] == "p" and comp["z"] == "z"
        assert comp["x3"] == "h" and comp["h"] == "h"

    def test_bipartite_short_circuit_matches_distributed(self, spark, force_distributed):
        edges = [(f"p:{i}", f"s:{i % 3}") for i in range(12)] + [("p:0", "s:9")]
        df = spark.createDataFrame(edges, "src string, dst string")
        tier = _rows(gas.connected_components_bipartite(df))
        force_distributed()
        dist = _rows(gas.connected_components_bipartite(df))
        assert tier == dist

    def test_dispatch_spy(self, spark, monkeypatch, force_distributed):
        df = spark.createDataFrame(CC_EDGES, "src string, dst string")
        called = {}
        orig = gas._cc_driver

        def spy(e):
            called["tier"] = True
            return orig(e)

        monkeypatch.setattr(gas, "_cc_driver", spy)
        gas.connected_components(df).collect()
        assert called.get("tier")
        called.clear()
        force_distributed()
        gas.connected_components(df).collect()
        assert "tier" not in called


class TestBfsDriverTier:
    def test_matches_general_bfs(self, spark, force_distributed):
        df = spark.createDataFrame(BFS_EDGES, "src string, dst string")
        tier = _rows(gas.bfs(df, ["1"]))
        force_distributed()
        dist = _rows(gas.bfs(df, ["1"]))
        assert tier == dist
        # node 6 is reached at depth 2 via min-pred "3" (not depth-3 via 5)
        assert ("6", 2, "3") in tier

    def test_matches_functional_pointer_doubling(self, spark, force_distributed):
        edges = [(str(k // 2), str(k)) for k in range(2, 200)]
        df = spark.createDataFrame(edges, "src string, dst string")
        tier = _rows(gas.bfs(df, ["1"]))
        force_distributed()
        dist = _rows(gas.bfs(df, ["1"]))
        assert tier == dist

    def test_max_depth_bound(self, spark, force_distributed):
        df = spark.createDataFrame(BFS_EDGES, "src string, dst string")
        tier = _rows(gas.bfs(df, ["1"], max_depth=1))
        force_distributed()
        dist = _rows(gas.bfs(df, ["1"], max_depth=1))
        assert tier == dist
        assert {r[0] for r in tier} == {"1", "2", "3"}

    def test_multi_source(self, spark, force_distributed):
        df = spark.createDataFrame(BFS_EDGES, "src string, dst string")
        tier = _rows(gas.bfs(df, ["2", "9"]))
        force_distributed()
        dist = _rows(gas.bfs(df, ["2", "9"]))
        assert tier == dist


class TestSsspDriverTier:
    def test_matches_general_sssp(self, spark, force_distributed):
        edges = [
            ("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0),  # shorter 2-hop
            ("c", "d", 2.5), ("x", "y", 0.5),
        ]
        df = spark.createDataFrame(edges, "src string, dst string, weight double")
        tier = _rows(gas.sssp(df, ["a"]))
        force_distributed()
        dist = _rows(gas.sssp(df, ["a"]))
        assert tier == dist
        assert ("c", 2.0) in tier and ("d", 4.5) in tier

    def test_hop_bound_parity(self, spark, force_distributed):
        # cheaper-but-longer path beyond the hop bound must be cut in both
        edges = [("a", "e", 10.0)] + [
            (u, v, 1.0) for u, v in [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
        ]
        df = spark.createDataFrame(edges, "src string, dst string, weight double")
        tier = _rows(gas.sssp(df, ["a"], max_iters=2))
        force_distributed()
        dist = _rows(gas.sssp(df, ["a"], max_iters=2))
        assert tier == dist
        assert ("e", 10.0) in tier  # 4-hop unit path cut at max_iters=2


class TestPagerankDriverTier:
    def _ppb(self, df):
        return sorted(
            tuple(r)
            for r in df.select(
                "node", F.round(F.col("rank") * F.lit(1e9)).cast("long").alias("ppb")
            ).collect()
        )

    def test_matches_distributed_at_ppb(self, spark, force_distributed):
        edges = [(str(k // 2), str(k)) for k in range(2, 300)]
        df = spark.createDataFrame(edges, "src string, dst string")
        tier = self._ppb(gas.pagerank(df, iters=10))
        force_distributed()
        dist = self._ppb(gas.pagerank(df, iters=10))
        assert tier == dist

    def test_dangling_mass_graph(self, spark, force_distributed):
        # hub + many dangling leaves: dmass dominates the recurrence
        edges = [("h", f"l{i}") for i in range(50)]
        df = spark.createDataFrame(edges, "src string, dst string")
        tier = self._ppb(gas.pagerank(df, iters=10))
        force_distributed()
        dist = self._ppb(gas.pagerank(df, iters=10))
        assert tier == dist


class TestFunctionalClosureDriverTier:
    def _pairs(self, df):
        return sorted(tuple(r) for r in df.collect())

    def test_matches_chain_tier_above_schema_bound(self, spark, force_distributed):
        from blazegraph_database_spark.operators import paths
        import pandas as pd

        n = 25_000
        pdf = pd.DataFrame(
            {"s": [str(k) for k in range(2, n)], "o": [str(k // 2) for k in range(2, n)]}
        )
        base = spark.createDataFrame(pdf)
        tier = self._pairs(paths.transitive_closure(base))
        force_distributed()
        dist = self._pairs(paths.transitive_closure(base))
        assert tier == dist

    def test_reverse_functional_and_cycle_fallback(self, spark):
        from blazegraph_database_spark.operators import paths

        # fan-out graph: functional only in the o->s direction
        edges = [("r", f"c{i}") for i in range(40)] + [(f"c{i}", f"g{i}") for i in range(40)]
        df = spark.createDataFrame(edges, "s string, o string")
        got = self._pairs(paths.transitive_closure(df))
        assert ("r", "g7") in got and ("c3", "g3") in got and len(got) == 120
        # cycle: the driver walk must bail; result still exact via fallback
        cyc = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], "s string, o string"
        )
        got = self._pairs(paths.transitive_closure(cyc))
        assert len(got) == 9  # every node reaches every node incl. itself

    def test_driver_walk_direct(self):
        import pandas as pd

        from blazegraph_database_spark.operators.paths import _functional_closure_driver

        pdf = pd.DataFrame({"s": ["b", "c", "d"], "o": ["a", "b", "c"]})
        out = _functional_closure_driver(pdf)
        got = sorted(map(tuple, out.values))
        assert got == [
            ("b", "a"), ("c", "a"), ("c", "b"), ("d", "a"), ("d", "b"), ("d", "c"),
        ]
        # non-functional both ways -> None
        bad = pd.DataFrame({"s": ["a", "a", "b", "c"], "o": ["x", "y", "x", "y"]})
        assert _functional_closure_driver(bad) is None


class TestDriverTierFallbacks:
    def test_null_ids_fall_back_to_distributed(self, spark):
        df = spark.createDataFrame(
            [("a", "b"), (None, "c"), ("c", "d")], "src string, dst string"
        )
        # must not raise: null rows route the whole call to the distributed loop
        out = _rows(gas.connected_components(df))
        assert ("d", "c") in out or ("d", None) in out
