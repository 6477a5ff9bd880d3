"""GAS graph-analytics query catalog (ref: bigdata-gas analytics suite).

Edge sets are derived deterministically from the harness tables:
- customer binary tree: parent(k) = k // 2 for k >= 2 (dense custkeys) —
  exercised via the engine's CONSTRUCT + triple store, then GAS.
- part↔supplier bipartite graph from high-quantity lineitems.
Oracles are DuckDB recursive CTEs (BFS/SSSP/CC/PATHS); PageRank is rows-only
(validated against hand-computed fixtures in tests/test_gas.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.model.terms import Var as V
from blazegraph_database_spark.operators import gas
from blazegraph_database_spark.plans import algebra as A
from blazegraph_database_spark.plans.compiler import construct, evaluate
from blazegraph_database_spark.sources.relational import cached_store, read_parquet

QUERIES: dict[str, dict] = {}


def register(name: str, sql: str | None):
    def deco(f):
        QUERIES[name] = {"fn": f, "sql": sql}
        return f

    return deco


def edges_from_predicate(store: TripleStore, pred: str) -> DataFrame:
    """Extract an edge DataFrame from a triple predicate (GAS-over-store
    integration point; ref: IGraphAccessor over the SPO index)."""
    df = evaluate(store, A.SP(V("src"), pred, V("dst")))
    return df.select("src", "dst")


_TREE_EDGE_CACHE: dict = {}


def _tree_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parent→child edges of the custkey binary tree, via CONSTRUCT.

    Evaluated against the store's virtual per-predicate source, so the BGP
    compiles to a column-pruned scan of customer.parquet alone. The
    materialized edge set is memoized per (session, sf_dir) — the GAS suite
    runs several algorithms over the same graph, and re-deriving the edge
    index each time is the analog of rebuilding a B+Tree per query."""
    key = (id(spark), sf_dir)
    if key in _TREE_EDGE_CACHE:
        return _TREE_EDGE_CACHE[key]
    from blazegraph_database_spark.functions.sparql_funcs import lng

    st = cached_store(spark, sf_dir)
    base = A.Filter(lng("ck") >= 2, A.SP(V("c"), "customer#c_custkey", V("ck")))
    with_parent = A.Extend(base, "pk", (lng("ck") / 2).cast("long").cast("string"))
    with_parent = A.Extend(with_parent, "cks", lng("ck").cast("string"))
    edges = construct(st, with_parent, [(V("pk"), "childOf_inv", V("cks"))])
    out = edges.select(F.col("s").alias("src"), F.col("o_lex").alias("dst")).localCheckpoint(eager=True)
    _TREE_EDGE_CACHE[key] = out
    return out


@register(
    "gas_bfs_tree",
    """
    WITH RECURSIVE b AS (
        SELECT CAST(1 AS BIGINT) AS node_id, 0 AS depth, CAST(NULL AS BIGINT) AS pred
        UNION ALL
        SELECT c_custkey, b.depth + 1, b.node_id
        FROM customer JOIN b ON c_custkey // 2 = b.node_id WHERE c_custkey >= 2
    )
    SELECT node_id, depth, pred FROM b
    """,
)
def gas_bfs_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS levels + predecessors from the tree root (ref: BFS.java)."""
    edges = _tree_edges(spark, sf_dir)
    out = gas.bfs(edges, ["1"])
    return out.select(
        F.col("node").cast("long").alias("node_id"),
        F.col("depth").cast("int").alias("depth"),
        F.col("pred").cast("long").alias("pred"),
    )


@register(
    "gas_sssp_tree",
    """
    WITH RECURSIVE d AS (
        SELECT CAST(1 AS BIGINT) AS node_id, CAST(0 AS DOUBLE) AS dist
        UNION ALL
        SELECT c_custkey, d.dist + 1 + (c_custkey % 3)
        FROM customer JOIN d ON c_custkey // 2 = d.node_id WHERE c_custkey >= 2
    )
    SELECT node_id, ROUND(dist, 1) AS dist FROM d
    """,
)
def gas_sssp_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP over the tree, weight(edge→k) = 1 + k%3 (ref: SSSP.java)."""
    edges = _tree_edges(spark, sf_dir).withColumn(
        "weight", (F.lit(1) + F.col("dst").cast("long") % 3).cast("double")
    )
    out = gas.sssp(edges, ["1"])
    return out.select(F.col("node").cast("long").alias("node_id"), F.round("dist", 1).alias("dist"))


@register(
    "gas_cc_bipartite",
    """
    WITH RECURSIVE e1 AS (
        SELECT DISTINCT 'p:' || l_partkey AS a, 's:' || l_suppkey AS b
        FROM lineitem WHERE l_quantity > 49
    ),
    edges AS (SELECT a, b FROM e1 UNION SELECT b, a FROM e1),
    reach AS (
        SELECT a AS node, a AS r FROM edges
        UNION
        SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
    )
    SELECT node, MIN(r) AS comp FROM reach GROUP BY node
    """,
)
def gas_cc_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on the part↔supplier co-occurrence graph (ref:
    CC.java). The query KNOWS the graph is bipartite with p: < s: ids, so it
    uses the contracted strategy (right side folded away, CC at half
    diameter; gas.connected_components_bipartite)."""
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    edges = (
        li.filter(F.col("l_quantity") > 49)
        .select(
            F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return gas.connected_components_bipartite(edges).select("node", "comp")


def _pagerank_oracle(iters: int = 10, damping: float = 0.85) -> str:
    """Fixed-iteration PageRank unrolled as chained CTEs (DuckDB disallows
    aggregates in recursive terms). Comparison surface is integer ppb ranks:
    both engines do the same IEEE double arithmetic, summation-order drift is
    ~1e-15 relative and vanishes at the ppb rounding."""
    sql = """
    WITH edges AS (SELECT c_custkey // 2 AS src, c_custkey AS dst FROM customer WHERE c_custkey >= 2),
    nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    deg AS (SELECT n.node, COUNT(e.src) AS deg FROM nodes n LEFT JOIN edges e ON e.src = n.node GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS MATERIALIZED (SELECT d.node, d.deg, 1.0/nn.n AS rank FROM deg d CROSS JOIN nn)"""
    for k in range(1, iters + 1):
        sql += f""",
    r{k} AS MATERIALIZED (
      SELECT d.node, d.deg,
             (1.0-{damping})/nn.n + {damping}*(COALESCE(inf.inflow,0) + dang.dmass/nn.n) AS rank
      FROM deg d CROSS JOIN nn
      CROSS JOIN (SELECT COALESCE(SUM(rank),0) AS dmass FROM r{k-1} WHERE deg = 0) dang
      LEFT JOIN (SELECT e.dst AS node, SUM(r.rank/r.deg) AS inflow
                 FROM r{k-1} r JOIN edges e ON r.node = e.src WHERE r.deg > 0 GROUP BY 1) inf
        ON inf.node = d.node
    )"""
    sql += f"""
    SELECT node AS node_id, CAST(ROUND(rank*1000000000) AS BIGINT) AS rank_ppb FROM r{iters}"""
    return sql


@register("gas_pagerank", _pagerank_oracle(iters=10, damping=0.85))
def gas_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the tree graph (ref: PR.java). Deterministic: fixed 10
    iterations; integer-ppb ranks are the cross-engine comparison surface."""
    edges = _tree_edges(spark, sf_dir)
    out = gas.pagerank(edges, damping=0.85, iters=10)
    return out.select(
        F.col("node").cast("long").alias("node_id"),
        F.round(F.col("rank") * F.lit(1000000000.0)).cast("long").alias("rank_ppb"),
    )


@register(
    "gas_paths",
    """
    WITH RECURSIVE up AS (
        SELECT CAST(100 AS BIGINT) AS node, CAST('100' AS VARCHAR) AS path, 0 AS hops
        UNION ALL
        SELECT node // 2, CAST(node // 2 AS VARCHAR) || '->' || path, hops + 1
        FROM up WHERE node >= 2
    )
    SELECT path, hops FROM up WHERE node = 1
    """,
)
def gas_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded path enumeration 1→100 in the tree (ref: impl/bd/PATHS.java)."""
    edges = _tree_edges(spark, sf_dir)
    return gas.paths(edges, "1", "100", max_length=8).select("path", F.col("hops").cast("int"))


@register(
    "gas_fuzzy_sssp",
    """
    WITH RECURSIVE e AS (
        SELECT c_custkey // 2 AS s, c_custkey AS o FROM customer WHERE c_custkey >= 2
    ),
    chains AS (  -- upward chain from each target with hop index
        SELECT t.tgt, t.tgt AS node, 0 AS hop FROM (VALUES (100), (150)) t(tgt)
        UNION ALL
        SELECT tgt, node // 2, hop + 1 FROM chains WHERE node >= 2
    ),
    pathset AS (  -- segment target..source for (source,target) pairs where source is an ancestor
        SELECT DISTINCT c.node
        FROM (VALUES (2), (3)) s(src) JOIN chains hit ON hit.tgt IN (100, 150) AND hit.node = s.src
        JOIN chains c ON c.tgt = hit.tgt AND c.hop <= hit.hop
    ),
    b AS (  -- multi-source BFS outward (descendants), min depth per node
        SELECT node, 0 AS d FROM pathset
        UNION
        SELECT e.o, b.d + 1 FROM b JOIN e ON e.s = b.node
    ),
    md AS (SELECT node, MIN(d) AS dist FROM b GROUP BY node)
    -- order by node AS TEXT: the engine's vertex ids are term lexicals
    SELECT CAST(node AS BIGINT) AS node_id, CAST(dist AS INT) AS dist
    FROM md ORDER BY dist, CAST(node AS VARCHAR) LIMIT 40
    """,
)
def gas_fuzzy_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzySSSP (ref: analytics/FuzzySSSP.java): vertices near the shortest
    paths from sources {2,3} to targets {100,150} in the custkey tree,
    expanded by BFS to at most 40 vertices."""
    edges = _tree_edges(spark, sf_dir)
    verts, _st = gas.fuzzy_sssp(edges, ["2", "3"], ["100", "150"], n_max=40)
    return verts.select(
        F.col("node").cast("long").alias("node_id"), F.col("dist").cast("int").alias("dist")
    )


@register(
    "gas_service_bfs",
    """
    WITH RECURSIVE b AS (
        SELECT CAST(1 AS BIGINT) AS node_id, 0 AS depth, CAST(NULL AS BIGINT) AS pred
        UNION ALL
        SELECT c_custkey, b.depth + 1, b.node_id
        FROM customer JOIN b ON c_custkey // 2 = b.node_id WHERE c_custkey >= 2
    )
    SELECT node_id, depth, pred FROM b
    """,
)
def gas_service_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS invoked through the SERVICE <gas:service> text syntax (ref:
    GASService.java usage doc — gas:program gas:gasClass/in/linkType/out
    magic triples), over the custkey tree loaded as childOf_inv triples.
    Result surface identical to gas_bfs_tree's direct-API call."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    edges = _tree_edges(spark, sf_dir)
    triples = edges.select(
        F.col("src").alias("s"),
        F.lit("childOf_inv").alias("p"),
        F.col("dst").alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    st = TripleStore(triples)
    q = """
    PREFIX gas: <http://www.bigdata.com/rdf/gas#>
    SELECT ?node ?depth ?pred WHERE {
      SERVICE gas:service {
        gas:program gas:gasClass "com.bigdata.rdf.graph.analytics.BFS" .
        gas:program gas:in <1> .
        gas:program gas:linkType <childOf_inv> .
        gas:program gas:out ?node .
        gas:program gas:out1 ?depth .
        gas:program gas:out2 ?pred .
      }
    }
    """
    out = run_sparql(st, q)
    return out.select(
        F.col("node").cast("long").alias("node_id"),
        F.col("depth").cast("int").alias("depth"),
        F.col("pred").cast("long").alias("pred"),
    )


@register(
    "gas_service_sssp_weighted",
    """
    WITH RECURSIVE d AS (
        SELECT CAST(1 AS BIGINT) AS node_id, CAST(0 AS DOUBLE) AS dist
        UNION ALL
        SELECT c_custkey, d.dist + 1 + (c_custkey % 3)
        FROM customer JOIN d ON c_custkey // 2 = d.node_id WHERE c_custkey >= 2
    )
    SELECT node_id, ROUND(dist, 1) AS dist FROM d
    """,
)
def gas_service_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP through SERVICE <gas:service> with gas:linkAttrType:
    edge weights ride RDR statement metadata (`<<parent childOf_inv child>>
    <w> (1 + child%3)`), resolved via sid equi-join — the reference's
    link-attribute-through-SIDs mechanism, driver-checked against the same
    recursive-CTE oracle as the direct-API gas_sssp_tree."""
    from blazegraph_database_spark.model.terms import sid_col
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    edges = _tree_edges(spark, sf_dir)
    base = edges.select(
        F.col("src").alias("s"),
        F.lit("childOf_inv").alias("p"),
        F.col("dst").alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    meta = base.select(
        sid_col().alias("s"),
        F.lit("w").alias("p"),
        (F.lit(1) + F.col("o_lex").cast("long") % 3).cast("double").cast("string").alias("o_lex"),
        F.lit("double").alias("o_dt"),
    )
    st = TripleStore(base.unionByName(meta))
    q = """
    PREFIX gas: <http://www.bigdata.com/rdf/gas#>
    SELECT ?v ?d WHERE {
      SERVICE gas:service {
        gas:program gas:gasClass "com.bigdata.rdf.graph.analytics.SSSP" .
        gas:program gas:in <1> .
        gas:program gas:linkType <childOf_inv> .
        gas:program gas:linkAttrType <w> .
        gas:program gas:out ?v .
        gas:program gas:out1 ?d .
      }
    }
    """
    out = run_sparql(st, q)
    return out.select(
        F.col("v").cast("long").alias("node_id"), F.round("d", 1).alias("dist")
    )
