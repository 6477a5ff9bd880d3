"""The shared driver tier (operators/driver_tier.py) used by gas, paths and
rdfs: edge-shape inputs return the declared schema on both tiers, the rdfs
closure survives its distributed path, and a driver-tier GAS call costs one
Spark job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blazegraph_database_spark.inference import rdfs
from blazegraph_database_spark.operators import driver_tier, gas, paths

EDGES = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]


def _fields(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


@pytest.fixture()
def edges(spark):
    return spark.createDataFrame(EDGES, "src string, dst string")


class TestEmptyInputs:
    def test_paths_unreachable_target(self, edges, tier):
        out = gas.paths(edges, "a", "zz", 4)
        assert out.collect() == []
        assert _fields(out) == [("path", "string"), ("hops", "int")]

    def test_bfs_no_sources(self, edges, tier):
        out = gas.bfs(edges, [], 3)
        assert out.collect() == []
        assert _fields(out) == [("node", "string"), ("depth", "int"), ("pred", "string")]

    def test_sssp_no_sources(self, spark, tier):
        e = spark.createDataFrame(
            [(s, d, 1.0) for s, d in EDGES], "src string, dst string, weight double"
        )
        out = gas.sssp(e, [], 3)
        assert out.collect() == []
        assert _fields(out) == [("node", "string"), ("dist", "double")]

    def test_bfs_from_df_empty_seeds(self, spark, edges, tier):
        seeds = spark.createDataFrame([], "node string")
        out = gas.bfs_from_df(edges, seeds, 3)
        assert out.collect() == []
        assert _fields(out) == [("node", "string"), ("depth", "int")]

    def test_pagerank_empty_edges(self, spark, tier):
        out = gas.pagerank(spark.createDataFrame([], "src string, dst string"))
        assert out.collect() == []
        assert _fields(out) == [("node", "string"), ("rank", "double")]

    def test_bfs_unmatched_source_is_seed_only(self, edges, tier):
        out = gas.bfs(edges, ["nowhere"], 3)
        assert [tuple(r) for r in out.collect()] == [("nowhere", 0, None)]


class TestRdfsClosureTiers:
    @pytest.mark.parametrize("extra", [[], ["cast(1 as string) AS src", "cast(9 as string) AS dst"]])
    def test_distributed_matches_driver(self, spark, force_distributed, extra):
        # 8-edge tree k -> k div 2 over spark.range ids (the shape whose
        # distributed closure used to fail with "key not found: src#N");
        # the extra 1 -> 9 edge closes a cycle, so the base is no longer
        # functional and the doubling tier answers
        tree = spark.range(2, 10).selectExpr(
            "cast(id as string) AS src", "cast(id div 2 as string) AS dst"
        )
        if extra:
            tree = tree.unionByName(spark.range(1).selectExpr(*extra))

        def closure():
            return sorted(tuple(r) for r in rdfs.transitive_closure(tree).collect())

        on_driver = closure()
        force_distributed()
        assert closure() == on_driver
        assert ("8", "1") in on_driver and ("9", "1") in on_driver
        if extra:
            assert ("1", "1") in on_driver and ("4", "9") in on_driver

    def test_same_as_components_min_label(self, spark, tier):
        df = spark.createDataFrame(
            [
                ("clark", "owl:sameAs", "superman", "iri"),
                ("superman", "owl:sameAs", "kal-el", "iri"),
                ("x", "owl:sameAs", "x", "iri"),
            ],
            "s string, p string, o_lex string, o_dt string",
        )
        got = sorted(tuple(r) for r in rdfs.same_as_components(df).collect())
        assert got == [
            ("clark", "clark"), ("kal-el", "clark"), ("superman", "clark"), ("x", "x"),
        ]


def test_collect_bounded_gate_and_nulls(spark, monkeypatch):
    df = spark.range(5).selectExpr("cast(id as string) AS src", "cast(id + 1 as string) AS dst")
    nulls = df.select("src", F.when(F.col("src") == "3", None).otherwise(F.col("dst")).alias("dst"))
    monkeypatch.setattr(driver_tier, "DRIVER_TIER_MAX_ROWS", 5)
    frame, pdf = driver_tier.collect_bounded(df)
    assert len(pdf) == 5 and frame.count() == 5
    assert driver_tier.collect_bounded(nulls)[1] is None
    monkeypatch.setattr(driver_tier, "DRIVER_TIER_MAX_ROWS", 4)
    frame, pdf = driver_tier.collect_bounded(df)
    assert pdf is None and frame.count() == 5
    monkeypatch.setattr(driver_tier, "DRIVER_TIER_MAX_ROWS", 0)
    assert driver_tier.collect_bounded(df)[1] is None


@pytest.mark.parametrize(
    "run",
    [
        lambda e: gas.pagerank(e, iters=3),
        lambda e: gas.paths(e, "2", "1", 4),
        lambda e: paths.transitive_closure(e.select(F.col("src").alias("s"), F.col("dst").alias("o"))),
        lambda e: gas.bfs(e, ["8"], 4),
        # flipped, the k -> k div 2 edges are a tree: the pointer-jump loop
        lambda e: gas.bfs(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")), ["1"], 4),
        lambda e: gas.sssp(e.withColumn("weight", F.lit(1.0)), ["8"], 4),
        lambda e: gas.bfs_from_df(e, e.sparkSession.createDataFrame([("8",)], "node string"), 4),
    ],
    ids=["pagerank", "paths", "closure", "bfs", "bfs_tree", "sssp", "bfs_from_df"],
)
def test_over_gate_input_is_computed_once(spark, monkeypatch, run):
    """An input over the gate falls through to the distributed loop, which
    reads the checkpoint the bounded collect materialized: every input row
    is computed exactly once."""
    computed = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tick(v):
        computed.add(1)
        return v

    # both endpoints come from the ticked id, so a job reading either one
    # off the input (the in-degree probe reads only dst) counts
    edges = (
        spark.range(2, 12)
        .select(tick(F.col("id").cast("string")).alias("k"))
        .select(F.col("k").alias("src"), F.expr("cast(cast(k as bigint) div 2 as string)").alias("dst"))
    )
    monkeypatch.setattr(driver_tier, "DRIVER_TIER_MAX_ROWS", 3)
    out = run(edges).collect()
    assert out
    assert computed.value == 10


def test_driver_tier_bfs_runs_one_job(spark, spark_jobs, edges):
    """The driver tier reads the edges in one bounded collect: no
    checkpoint job and no separate count job before the result exists."""
    out, jobs = spark_jobs.run(lambda: gas.bfs(edges, ["a"], 3))
    assert jobs == 1
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", 0, None), ("b", 1, "a"), ("c", 2, "b"), ("d", 3, "c"),
    ]
