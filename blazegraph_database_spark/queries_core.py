"""Core SPARQL-algebra query catalog with ANSI-SQL oracles.

Each entry exercises one operator family from SURVEY.md §2.3 over the
relational→RDF direct-mapped testdata (sources/relational.py). Because the
mapping is lossless, every query has an exact relational oracle that DuckDB
runs on the raw parquet — the driver's correctness gate.

Every computed column is aliased identically on both sides; numerics are cast
(lng/num) because variables bind lexical strings; float aggregates are rounded
on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blazegraph_database_spark.functions import sparql_funcs as fn
from blazegraph_database_spark.functions.sparql_funcs import lng, num
from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.model.terms import Lit, Var as V
from blazegraph_database_spark.plans import algebra as A
from blazegraph_database_spark.plans.compiler import construct, evaluate
from blazegraph_database_spark.sources.relational import cached_store

QUERIES: dict[str, dict] = {}


def register(name: str, sql: str | None):
    def deco(f):
        QUERIES[name] = {"fn": f, "sql": sql}
        return f

    return deco


@register(
    "bgp_join_agg",
    """
    SELECT n_name AS nname, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def bgp_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 4-pattern BGP star/chain join + GROUP BY aggregates."""
    st = cached_store(spark, sf_dir)
    plan = A.Group(
        A.BGP(
            [
                A.SP(V("o"), "orders#o_custkey_ref", V("c")),
                A.SP(V("c"), "customer#c_nationkey_ref", V("n")),
                A.SP(V("n"), "nation#n_name", V("nname")),
                A.SP(V("o"), "orders#o_totalprice", V("tp")),
            ]
        ),
        keys=("nname",),
        aggs=[("n_orders", fn.COUNT()), ("sum_price", F.round(fn.SUM("tp"), 2))],
    )
    return evaluate(st, plan)


@register(
    "optional_count",
    """
    SELECT c_custkey AS c_id, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY c_custkey
    """,
)
def optional_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL (left join) preserving order-less customers, COUNT(?var)."""
    st = cached_store(spark, sf_dir)
    plan = A.Group(
        A.LeftJoin(
            A.BGP(
                [
                    A.SP(V("c"), "customer#c_mktsegment", Lit("BUILDING")),
                    A.SP(V("c"), "customer#c_custkey", V("ck")),
                ]
            ),
            A.SP(V("o"), "orders#o_custkey_ref", V("c")),
        ),
        keys=("ck",),
        aggs=[("n_orders", fn.COUNT("o"))],
    )
    return evaluate(st, A.Project(A.Extend(plan, "c_id", lng("ck")), ["c_id", "n_orders"]))


@register(
    "union_filter",
    """
    SELECT 'order' AS kind, o_orderkey AS id, ROUND(o_totalprice, 2) AS val
    FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT 'customer' AS kind, c_custkey AS id, ROUND(c_acctbal, 2) AS val
    FROM customer WHERE c_acctbal > 9000
    """,
)
def union_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION of two filtered arms with aligned columns."""
    st = cached_store(spark, sf_dir)

    def arm(kind, subj_p, key_p, val_p, thresh):
        p = A.Filter(
            num("v") > thresh,
            A.BGP([A.SP(V("x"), val_p, V("v")), A.SP(V("x"), key_p, V("k"))]),
        )
        p = A.Extend(p, "kind", F.lit(kind))
        p = A.Extend(p, "id", lng("k"))
        p = A.Extend(p, "val", F.round(num("v"), 2))
        return A.Project(p, ["kind", "id", "val"])

    plan = A.Union2(
        arm("order", "orders", "orders#o_orderkey", "orders#o_totalprice", 400000),
        arm("customer", "customer", "customer#c_custkey", "customer#c_acctbal", 9000),
    )
    return evaluate(st, plan)


@register(
    "filter_funcs",
    """
    SELECT p_partkey AS p_id, UPPER(p_name) AS uname, ROUND(p_retailprice * 1.1, 2) AS taxed
    FROM part
    WHERE (p_name LIKE 'red %' OR regexp_matches(p_name, 'gear$')) AND contains(p_type, 'ECO') AND p_size >= 10
    """,
)
def filter_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER with STRSTARTS/REGEX/CONTAINS + numeric compare; BIND with UCASE/arith."""
    st = cached_store(spark, sf_dir)
    base = A.BGP(
        [
            A.SP(V("p"), "part#p_partkey", V("pk")),
            A.SP(V("p"), "part#p_name", V("pname")),
            A.SP(V("p"), "part#p_type", V("ptype")),
            A.SP(V("p"), "part#p_size", V("psize")),
            A.SP(V("p"), "part#p_retailprice", V("price")),
        ]
    )
    cond = (fn.STRSTARTS("pname", "red ") | fn.REGEX("pname", "gear$")) & fn.CONTAINS("ptype", "ECO") & (lng("psize") >= 10)
    plan = A.Extend(A.Extend(A.Extend(A.Filter(cond, base), "p_id", lng("pk")), "uname", fn.UCASE("pname")), "taxed", F.round(num("price") * 1.1, 2))
    return evaluate(st, A.Project(plan, ["p_id", "uname", "taxed"]))


@register(
    "minus_no_orders",
    "SELECT c_custkey AS c_id FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
)
def minus_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINUS: customers that never ordered (anti-join on shared var)."""
    st = cached_store(spark, sf_dir)
    plan = A.Minus(
        A.SP(V("c"), "customer#c_custkey", V("ck")),
        A.SP(V("o"), "orders#o_custkey_ref", V("c")),
    )
    return evaluate(st, A.Project(A.Extend(plan, "c_id", lng("ck")), ["c_id"]))


@register(
    "exists_bigqty",
    """
    SELECT p_partkey AS p_id, p_name AS pname FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 48)
    """,
)
def exists_bigqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER EXISTS with embedded condition (semi-join)."""
    st = cached_store(spark, sf_dir)
    plan = A.Exists(
        A.BGP([A.SP(V("p"), "part#p_partkey", V("pk")), A.SP(V("p"), "part#p_name", V("pname"))]),
        A.Filter(
            num("qty") > 48,
            A.BGP([A.SP(V("l"), "lineitem#l_partkey_ref", V("p")), A.SP(V("l"), "lineitem#l_quantity", V("qty"))]),
        ),
    )
    return evaluate(st, A.Project(A.Extend(plan, "p_id", lng("pk")), ["p_id", "pname"]))


@register(
    "values_inline",
    """
    SELECT n_name AS nname, COUNT(*) AS n_cust FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
    GROUP BY n_name
    """,
)
def values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES inline bindings joined into a BGP."""
    st = cached_store(spark, sf_dir)
    plan = A.Group(
        A.Values(
            [{"nname": "NATION_3"}, {"nname": "NATION_7"}, {"nname": "NATION_11"}],
            child=A.BGP(
                [
                    A.SP(V("c"), "customer#c_nationkey_ref", V("n")),
                    A.SP(V("n"), "nation#n_name", V("nname")),
                ]
            ),
        ),
        keys=("nname",),
        aggs=[("n_cust", fn.COUNT())],
    )
    return evaluate(st, plan)


@register(
    "topk_customers",
    """
    SELECT c_custkey AS c_id, ROUND(c_acctbal, 2) AS bal FROM customer
    ORDER BY bal DESC, c_id ASC LIMIT 10 OFFSET 5
    """,
)
def topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT/OFFSET (deterministic tiebreak)."""
    st = cached_store(spark, sf_dir)
    base = A.BGP([A.SP(V("c"), "customer#c_custkey", V("ck")), A.SP(V("c"), "customer#c_acctbal", V("b"))])
    p = A.Extend(A.Extend(base, "c_id", lng("ck")), "bal", F.round(num("b"), 2))
    p = A.Slice(A.OrderBy(A.Project(p, ["c_id", "bal"]), [(F.col("bal"), False), (F.col("c_id"), True)]), limit=10, offset=5)
    return evaluate(st, p)


@register(
    "group_having",
    "SELECT o_orderpriority AS pri, COUNT(*) AS n FROM orders GROUP BY 1 HAVING COUNT(*) > 2990",
)
def group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING."""
    st = cached_store(spark, sf_dir)
    plan = A.Group(
        A.SP(V("o"), "orders#o_orderpriority", V("pri")),
        keys=("pri",),
        aggs=[("n", fn.COUNT())],
        having=F.col("n") > 2990,
    )
    return evaluate(st, plan)


@register(
    "agg_suite",
    """
    SELECT l_returnflag AS rf, l_linestatus AS ls,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(MIN(l_discount), 2) AS min_disc,
           ROUND(MAX(l_tax), 2) AS max_tax
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped full aggregate suite over the star-join of lineitem
    attribute patterns (COUNT/SUM/AVG/MIN/MAX)."""
    st = cached_store(spark, sf_dir)
    bgp = A.BGP(
        [
            A.SP(V("l"), "lineitem#l_returnflag", V("rf")),
            A.SP(V("l"), "lineitem#l_linestatus", V("ls")),
            A.SP(V("l"), "lineitem#l_quantity", V("qty")),
            A.SP(V("l"), "lineitem#l_extendedprice", V("price")),
            A.SP(V("l"), "lineitem#l_discount", V("disc")),
            A.SP(V("l"), "lineitem#l_tax", V("tax")),
            A.SP(V("l"), "lineitem#l_shipdate", V("sd")),
        ]
    )
    plan = A.Group(
        A.Filter(fn.ts("sd") <= F.lit("2000-09-02").cast("timestamp"), bgp),
        keys=("rf", "ls"),
        aggs=[
            ("n", fn.COUNT()),
            ("sum_qty", F.round(fn.SUM("qty"), 2)),
            ("avg_price", F.round(fn.AVG("price"), 4)),
            ("min_disc", F.round(F.min(num("disc")), 2)),
            ("max_tax", F.round(F.max(num("tax")), 2)),
        ],
    )
    return evaluate(st, plan)


@register(
    "subquery_avg_orders",
    """
    SELECT n_name AS nname, ROUND(AVG(cnt), 4) AS avg_orders
    FROM (SELECT o_custkey, CAST(COUNT(*) AS DOUBLE) AS cnt FROM orders GROUP BY 1) t
    JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def subquery_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-select: aggregate of an aggregate (orders per customer → avg per nation)."""
    st = cached_store(spark, sf_dir)
    inner = A.Group(A.SP(V("o"), "orders#o_custkey_ref", V("c")), keys=("c",), aggs=[("cnt", fn.COUNT())])
    joined = A.Join(
        inner,
        A.BGP([A.SP(V("c"), "customer#c_nationkey_ref", V("n")), A.SP(V("n"), "nation#n_name", V("nname"))]),
    )
    plan = A.Group(joined, keys=("nname",), aggs=[("avg_orders", F.round(F.avg(F.col("cnt").cast("double")), 4))])
    return evaluate(st, plan)


@register(
    "path_two_hop",
    """
    SELECT c_custkey AS c_id, COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def path_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence property path lineitem / order / customer (fixed length)."""
    st = cached_store(spark, sf_dir)
    plan = A.Group(
        A.PathPattern(V("l"), A.Seq("lineitem#l_orderkey_ref", "orders#o_custkey_ref"), V("c")),
        keys=("c",),
        aggs=[("n_items", fn.COUNT())],
    )
    plan = A.Project(A.Extend(plan, "c_id", lng(fn.STRAFTER("c", ":"))), ["c_id", "n_items"])
    return evaluate(st, plan)


def _parent_tree(spark: SparkSession, sf_dir: str) -> TripleStore:
    """Binary ancestor tree over the DENSE customer keys (the same synthetic
    hierarchy path_closure_ancestors closes over): customer:k hasParent
    customer:k//2 for k >= 2. No window/global sort — the construction is
    one narrow projection, 100 TB-clean."""
    st = cached_store(spark, sf_dir)
    base = A.Filter(lng("ck") >= 2, A.SP(V("c"), "customer#c_custkey", V("ck")))
    with_parent = A.Extend(
        base, "par",
        F.concat(F.lit("customer:"), (lng("ck") / 2).cast("long").cast("string")),
    )
    return TripleStore(construct(st, with_parent, [(V("c"), "hasParent", V("par"))]))


@register(
    "path_closure_ancestors",
    """
    WITH RECURSIVE anc AS (
        SELECT c_custkey AS child, c_custkey // 2 AS a FROM customer WHERE c_custkey >= 2
        UNION
        SELECT anc.child, anc.a // 2 FROM anc WHERE anc.a >= 2
    )
    SELECT child AS child_id, COUNT(*) AS n_anc FROM anc GROUP BY child
    """,
)
def path_closure_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-length path `hasParent+`: CONSTRUCT a binary-tree parent edge
    from custkeys, then transitive closure (ref: ArbitraryLengthPathNode)."""
    tree = _parent_tree(spark, sf_dir)
    plan = A.Group(
        A.PathPattern(V("child"), A.Plus("hasParent"), V("anc")),
        keys=("child",),
        aggs=[("n_anc", fn.COUNT())],
    )
    plan = A.Project(A.Extend(plan, "child_id", lng(fn.STRAFTER("child", ":"))), ["child_id", "n_anc"])
    return evaluate(tree, plan)


@register(
    "path_bounded",
    """
    WITH RECURSIVE anc(child, a, d) AS (
      SELECT c_custkey, c_custkey // 2, 1 FROM customer WHERE c_custkey >= 2
      UNION ALL
      SELECT child, a // 2, d + 1 FROM anc WHERE a >= 2 AND d < 3
    )
    SELECT child AS child_id, CAST(COUNT(DISTINCT a) AS BIGINT) AS n_anc
    FROM anc WHERE d BETWEEN 2 AND 3
    GROUP BY child
    """,
)
def path_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-length property path `hasParent{2,3}` over the same binary
    ancestor tree as path_closure_ancestors (ref:
    ArbitraryLengthPathNode.java:95 LOWER_BOUND/UPPER_BOUND — hop bounds
    beyond the `? + *` sugar). Round-capped composition: exactly-k pairs
    per round, <= upper barriers, result from round lower — never an
    unbounded closure. Oracle: depth-tracked recursive CTE with the same
    [2,3] band."""
    tree = _parent_tree(spark, sf_dir)
    plan = A.Group(
        A.PathPattern(V("child"), A.Bounded("hasParent", 2, 3), V("anc")),
        keys=("child",),
        aggs=[("n_anc", fn.COUNT())],
    )
    plan = A.Project(
        A.Extend(plan, "child_id", lng(fn.STRAFTER("child", ":"))), ["child_id", "n_anc"]
    )
    return evaluate(tree, plan)


@register(
    "path_anchored_seq",
    """
    WITH RECURSIVE anc(a, d) AS (
        SELECT 100 // 2, 1
        UNION ALL
        SELECT a // 2, d + 1 FROM anc WHERE a >= 2
    )
    SELECT CAST(a AS BIGINT) AS anc_id FROM anc WHERE d >= 2
    """,
)
def path_anchored_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTANT-anchored path SEQUENCE `<customer:100> hasParent/hasParent+
    ?anc` through the SPARQL text parser — the r10 geared-Seq shape (ref:
    anchored ALP evaluation + the gearing query hint, TestGearingQueryHint):
    the constant seed flows forward through the sequence, so the `+`
    component expands a frontier from the seed's parent instead of closing
    the whole edge relation (plans/compiler._anchored_path_pairs +
    operators/paths.geared_reach; the `+` walk is a seeded GAS BFS, on
    the driver tier at this size). Oracle: the seed's ancestor chain at
    depth >= 2."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    tree = _parent_tree(spark, sf_dir)
    out = run_sparql(
        tree, "SELECT ?anc WHERE { <customer:100> <hasParent>/<hasParent>+ ?anc }"
    )
    return out.select(
        F.substring(F.col("anc"), 10, 30).cast("long").alias("anc_id")
    )


@register(
    "path_anchored_seq_rev",
    """
    SELECT CAST(c_custkey AS BIGINT) AS desc_id FROM customer WHERE c_custkey >= 4
    """,
)
def path_anchored_seq_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVERSE-geared anchored sequence `?desc hasParent+/hasParent
    <customer:1>`: the constant OBJECT seeds the walk right-to-left with
    each component's base flipped (r10 geared-Seq, reverse gear).
    Descendants reaching the root in >= 2 hops are exactly the custkeys
    >= 4 in the binary tree — a data-sized, SF-sensitive result."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    tree = _parent_tree(spark, sf_dir)
    out = run_sparql(
        tree, "SELECT ?desc WHERE { ?desc <hasParent>+/<hasParent> <customer:1> }"
    )
    return out.select(
        F.substring(F.col("desc"), 10, 30).cast("long").alias("desc_id")
    )


def _lineitem_chain_store(spark: SparkSession, sf_dir: str) -> TripleStore:
    """Dense `next` edge graph derived from lineitem: a root node 0 fans
    out to every order's entry node, and each lineitem row chains
    K*10+i -> K*10+i+1 (linenumber <= 7, so node ids never collide).
    ~75k edges at sf0.01 — a data-sized base, unlike the customer parent
    tree (~1.5k at sf0.01); anchored paths over either store take the
    geared walk, here a deep one with a wide frontier."""
    from blazegraph_database_spark.sources.relational import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    node = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
    chain = li.select(
        F.concat(F.lit("n:"), node).alias("s"),
        F.lit("next").alias("p"),
        F.concat(F.lit("n:"), node + 1).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    roots = (
        li.select((F.col("l_orderkey") * 10 + 1).cast("long").alias("entry"))
        .distinct()
        .select(
            F.lit("n:0").alias("s"),
            F.lit("next").alias("p"),
            F.concat(F.lit("n:"), F.col("entry")).alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        )
    )
    return TripleStore(chain.unionByName(roots))


@register(
    "path_anchored_dense",
    """
    WITH RECURSIVE edges AS (
        SELECT l_orderkey * 10 + l_linenumber AS s,
               l_orderkey * 10 + l_linenumber + 1 AS o
        FROM lineitem
        UNION ALL
        SELECT 0, l_orderkey * 10 + 1
        FROM (SELECT DISTINCT l_orderkey FROM lineitem)
    ),
    reach(o, d) AS (
        SELECT o, 1 FROM edges WHERE s = 0
        UNION ALL
        SELECT e.o, r.d + 1 FROM reach r JOIN edges e ON e.s = r.o
    )
    SELECT DISTINCT CAST(o AS BIGINT) AS node_id FROM reach WHERE d >= 2
    """,
)
def path_anchored_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTANT-anchored sequence `<n:0> next/next+ ?x` over a DENSE base
    (~75k `next` edges at sf0.01) — the r10 geared-Seq shape on a
    data-sized base (ref: anchored ALP evaluation + the gearing query hint,
    TestGearingQueryHint). The constant root's frontier flows through the
    Seq: one hop to the entry layer, then a seeded GAS BFS walk down the
    per-order chains (driver tier at sf0.01) — never the edge set's
    all-pairs closure (a companion unit test patches
    transitive_closure to raise on this exact store/query combo). Oracle:
    depth-tracked recursive CTE over the identically-derived edges."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _lineitem_chain_store(spark, sf_dir)
    out = run_sparql(st, "SELECT ?x WHERE { <n:0> <next>/<next>+ ?x }")
    return out.select(F.substring(F.col("x"), 3, 30).cast("long").alias("node_id"))


@register(
    "bind_datatype_funcs",
    """
    SELECT o_orderkey AS o_id,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           substr(o_orderpriority, 1, 1) AS pri_code,
           md5(o_orderstatus) AS status_hash
    FROM orders WHERE o_totalprice > 450000
    """,
)
def bind_datatype_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIND with date extraction, SUBSTR, MD5 (ref: DateBOp/SubstrBOp/DigestBOp)."""
    st = cached_store(spark, sf_dir)
    base = A.Filter(
        num("tp") > 450000,
        A.BGP(
            [
                A.SP(V("o"), "orders#o_orderkey", V("ok")),
                A.SP(V("o"), "orders#o_totalprice", V("tp")),
                A.SP(V("o"), "orders#o_orderdate", V("od")),
                A.SP(V("o"), "orders#o_orderpriority", V("pri")),
                A.SP(V("o"), "orders#o_orderstatus", V("stat")),
            ]
        ),
    )
    p = base
    p = A.Extend(p, "o_id", lng("ok"))
    p = A.Extend(p, "yr", fn.YEAR("od").cast("int"))
    p = A.Extend(p, "mo", fn.MONTH("od").cast("int"))
    p = A.Extend(p, "pri_code", fn.SUBSTR("pri", 1, 1))
    p = A.Extend(p, "status_hash", fn.MD5("stat"))
    return evaluate(st, A.Project(p, ["o_id", "yr", "mo", "pri_code", "status_hash"]))


@register(
    "sparql_text_join_agg",
    """
    SELECT n_name AS nname, COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def sparql_text_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SPARQL *text* → parse → compile → evaluate (§2.12:
    plans/sparql_parser.py); same shape as the flagship BGP query."""
    from blazegraph_database_spark.plans.sparql_parser import parse_sparql_select

    st = cached_store(spark, sf_dir)
    plan = parse_sparql_select(
        """
        SELECT ?nname (COUNT(*) AS ?n_orders) WHERE {
          ?o <orders#o_custkey_ref> ?c .
          ?c <customer#c_nationkey_ref> ?n .
          ?n <nation#n_name> ?nname .
        } GROUP BY ?nname
        """
    )
    return evaluate(st, plan)


@register(
    "sparql_query_hints",
    """
    SELECT c_mktsegment AS seg, COUNT(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 100000.0
    GROUP BY c_mktsegment
    """,
)
def sparql_query_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blazegraph query hints in text (ref: QueryHints.java /
    ASTQueryHintOptimizer.java): hint:Query hint:optimizer "None" pins the
    written join order; hint:Prior hint:runFirst promotes its preceding
    pattern. Hints steer the physical plan only — results are identical,
    which is what the oracle checks."""
    from blazegraph_database_spark.plans.sparql_parser import parse_sparql_select

    st = cached_store(spark, sf_dir)
    plan = parse_sparql_select(
        """
        SELECT ?seg (COUNT(*) AS ?n) WHERE {
          hint:Query hint:optimizer "None" .
          ?o <orders#o_totalprice> ?tp .
          hint:Prior hint:runFirst "true" .
          ?o <orders#o_custkey_ref> ?c .
          ?c <customer#c_mktsegment> ?seg .
          FILTER(?tp > 100000.0)
        } GROUP BY ?seg
        """
    )
    return evaluate(st, plan)


@register(
    "sparql_rto_hint",
    """
    SELECT n_name AS nname, COUNT(*) AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 9000.0
    GROUP BY n_name
    """,
)
def sparql_rto_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime query optimizer (ref: bop/joinGraph/rto/JGraph.java via
    hint:optimizer "Runtime"): join order comes from bounded MEASURED
    pattern cardinalities instead of static stats — the probe counts run on
    the column-pruned scans. Results are identical to the static plan,
    which is what the oracle checks."""
    from blazegraph_database_spark.plans.sparql_parser import parse_sparql_select

    st = cached_store(spark, sf_dir)
    plan = parse_sparql_select(
        """
        PREFIX hint: <http://www.bigdata.com/queryHints#>
        SELECT ?nname (COUNT(*) AS ?n) WHERE {
          hint:Query hint:optimizer "Runtime" .
          ?c <customer#c_acctbal> ?bal .
          ?c <customer#c_nationkey_ref> ?nat .
          ?nat <nation#n_name> ?nname .
          FILTER(?bal > 9000.0)
        } GROUP BY ?nname
        """
    )
    return evaluate(st, plan)


@register(
    "sparql_named_subquery",
    """
    SELECT n_name AS nname, COUNT(*) AS n_rich
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 5000.0
    GROUP BY n_name
    """,
)
def sparql_named_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blazegraph named subquery in query text: WITH { SELECT ... } AS %set
    evaluates once into a materialized solution set, INCLUDE %set joins it
    (ref: NamedSubqueryRoot.java / NamedSubqueryInclude.java)."""
    from blazegraph_database_spark.plans.sparql_parser import parse_sparql_select

    st = cached_store(spark, sf_dir)
    plan = parse_sparql_select(
        """
        SELECT ?nname (COUNT(*) AS ?n_rich)
        WITH { SELECT ?c WHERE { ?c <customer#c_acctbal> ?b . FILTER(?b > 5000.0) } } AS %rich
        WHERE {
          INCLUDE %rich .
          ?c <customer#c_nationkey_ref> ?n .
          ?n <nation#n_name> ?nname .
        } GROUP BY ?nname
        """
    )
    return evaluate(st, plan)


@register(
    "sparql_text_filter_path",
    """
    SELECT CAST(o_orderkey AS VARCHAR) AS ok FROM orders
    JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 450000.0 AND c_mktsegment = 'BUILDING'
    """,
)
def sparql_text_filter_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL text with FILTER + a sequence property path."""
    from blazegraph_database_spark.plans.sparql_parser import parse_sparql_select

    st = cached_store(spark, sf_dir)
    plan = parse_sparql_select(
        """
        SELECT ?ok WHERE {
          ?o <orders#o_orderkey> ?ok ;
             <orders#o_totalprice> ?tp ;
             <orders#o_custkey_ref>/<customer#c_mktsegment> ?seg .
          FILTER (?tp > 450000.0)
          FILTER (?seg = "BUILDING")
        }
        """
    )
    return evaluate(st, plan)


@register(
    "sparql_tpch_q3",
    """
    SELECT CAST(o_orderkey AS VARCHAR) AS okey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) / 100 AS revenue
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND o_custkey = c_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1996-06-15' AND l_shipdate > TIMESTAMP '1996-06-15'
    GROUP BY o_orderkey ORDER BY revenue DESC, okey LIMIT 10
    """,
)
def sparql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) as SPARQL text over the direct-mapped
    store: 3-table star/chain BGP, typed date filters, revenue aggregate,
    ORDER/LIMIT — the full parser→compiler→id-join stack on the classic
    warehouse query shape."""
    from blazegraph_database_spark.plans.sparql_parser import parse_sparql_select

    st = cached_store(spark, sf_dir)
    plan = parse_sparql_select(
        """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?okey (ROUND(SUM(xsd:double(?ep) * (1 - xsd:double(?disc))) * 100) / 100 AS ?revenue)
        WHERE {
          ?c <customer#c_mktsegment> "BUILDING" .
          ?o <orders#o_custkey_ref> ?c .
          ?o <orders#o_orderkey> ?okey .
          ?o <orders#o_orderdate> ?od .
          ?l <lineitem#l_orderkey_ref> ?o .
          ?l <lineitem#l_extendedprice> ?ep .
          ?l <lineitem#l_discount> ?disc .
          ?l <lineitem#l_shipdate> ?sd .
          FILTER(xsd:dateTime(?od) < xsd:dateTime("1996-06-15 00:00:00")
                 && xsd:dateTime(?sd) > xsd:dateTime("1996-06-15 00:00:00"))
        }
        GROUP BY ?okey
        ORDER BY DESC(?revenue) ?okey
        LIMIT 10
        """
    )
    return evaluate(st, plan)


@register(
    "exists_expr_filter",
    """
    SELECT c_custkey AS ck, c_acctbal AS bal
    FROM customer
    WHERE (c_acctbal > 9000 AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
       OR c_acctbal > 9900
    """,
)
def exists_expr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a VALUE EXPRESSION composed with && and || inside one
    FILTER (SPARQL 1.1 expression operator; ref: ExistsNode as a value
    expression), through the text parser end-to-end."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = cached_store(spark, sf_dir)
    q = """
    PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
    SELECT (xsd:long(?k) AS ?ck) (xsd:double(?b) AS ?bal) WHERE {
      ?c <customer#c_custkey> ?k .
      ?c <customer#c_acctbal> ?b .
      FILTER((EXISTS { ?o <orders#o_custkey_ref> ?c } && ?b > 9000) || ?b > 9900)
    }
    """
    return run_sparql(st, q)
