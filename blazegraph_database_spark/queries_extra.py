"""Extra operator-coverage catalog (SURVEY.md §2): query forms and
inference/federation/encoding paths that previously had only unit tests —
CONSTRUCT, ASK, DESCRIBE, GROUP_CONCAT, ORDER BY+OFFSET paging, GRAPH
scoping over quads, owl:inverseOf / owl:sameAs closures, SERVICE
(bds:search), and the dictionary-encoded (64-bit id) join path. Every
entry has an exact DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blazegraph_database_spark.functions import sparql_funcs as fn
from blazegraph_database_spark.functions.sparql_funcs import lng, num
from blazegraph_database_spark.inference import rdfs
from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.model.terms import Lit, Var as V
from blazegraph_database_spark.plans import algebra as A
from blazegraph_database_spark.plans.compiler import ask, construct, describe, evaluate
from blazegraph_database_spark.sources.relational import cached_store, read_parquet

QUERIES: dict[str, dict] = {}


def register(name: str, sql: str | None):
    def deco(f):
        QUERIES[name] = {"fn": f, "sql": sql}
        return f

    return deco


@register(
    "construct_pred_counts",
    """
    SELECT 'derived#segment' AS p, COUNT(*) AS n FROM customer WHERE c_acctbal > 9000
    UNION ALL
    SELECT 'derived#highValue' AS p, COUNT(*) AS n FROM customer WHERE c_acctbal > 9000
    """,
)
def construct_pred_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT: instantiate two templates per solution, count the produced
    triples per predicate (ref: ConstructNode)."""
    st = cached_store(spark, sf_dir)
    base = A.Filter(
        num("bal") > 9000,
        A.BGP(
            [
                A.SP(V("c"), "customer#c_acctbal", V("bal")),
                A.SP(V("c"), "customer#c_mktsegment", V("seg")),
            ]
        ),
    )
    out = construct(
        st, base, [(V("c"), "derived#segment", V("seg")), (V("c"), "derived#highValue", Lit("true"))]
    )
    return out.groupBy("p").agg(F.count(F.lit(1)).alias("n"))


@register(
    "ask_negative_balance",
    "SELECT CAST(COUNT(*) > 0 AS INT) AS answer FROM supplier WHERE s_acctbal < -900",
)
def ask_negative_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASK (boolean query) lowered to a take(1) probe (ref: QueryType.ASK)."""
    st = cached_store(spark, sf_dir)
    b = ask(st, A.Filter(num("ab") < -900, A.SP(V("sup"), "supplier#s_acctbal", V("ab"))))
    return spark.createDataFrame([(int(b),)], "answer int")


@register(
    "describe_customer",
    """
    SELECT 'customer:1' AS s, 'customer#c_custkey' AS p, CAST(c_custkey AS VARCHAR) AS o_lex, 'long' AS o_dt
    FROM customer WHERE c_custkey = 1
    UNION ALL SELECT 'customer:1', 'customer#c_name', c_name, 'string' FROM customer WHERE c_custkey = 1
    UNION ALL SELECT 'customer:1', 'customer#c_nationkey', CAST(c_nationkey AS VARCHAR), 'long' FROM customer WHERE c_custkey = 1
    UNION ALL SELECT 'customer:1', 'customer#c_nationkey_ref', 'nation:' || c_nationkey, 'iri' FROM customer WHERE c_custkey = 1
    UNION ALL SELECT 'customer:1', 'customer#c_acctbal', CAST(c_acctbal AS VARCHAR), 'double' FROM customer WHERE c_custkey = 1
    UNION ALL SELECT 'customer:1', 'customer#c_mktsegment', c_mktsegment, 'string' FROM customer WHERE c_custkey = 1
    """,
)
def describe_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE via forward CBD over the full melted store (the general,
    variable-predicate path — exercises the lazy union view; ref: eval/CBD.java)."""
    st = cached_store(spark, sf_dir)
    return describe(st, ["customer:1"])


@register(
    "group_concat_segments",
    """
    SELECT c_nationkey AS nk_id,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segs,
           COUNT(*) AS n_cust
    FROM customer GROUP BY 1
    """,
)
def group_concat_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP_CONCAT (sorted-distinct for determinism) per group
    (ref: GroupByNode + GROUP_CONCAT aggregate)."""
    st = cached_store(spark, sf_dir)
    plan = A.Group(
        A.BGP(
            [
                A.SP(V("c"), "customer#c_mktsegment", V("seg")),
                A.SP(V("c"), "customer#c_nationkey", V("nk")),
            ]
        ),
        keys=("nk",),
        aggs=[
            ("segs", F.array_join(F.array_sort(F.collect_set("seg")), ",")),
            ("n_cust", fn.COUNT()),
        ],
    )
    plan = A.Project(A.Extend(plan, "nk_id", lng("nk")), ["nk_id", "segs", "n_cust"])
    return evaluate(st, plan)


@register(
    "orderby_offset_page",
    """
    SELECT c_custkey AS c_id, c_acctbal AS bal FROM customer
    ORDER BY c_acctbal DESC, c_custkey LIMIT 10 OFFSET 20
    """,
)
def orderby_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + OFFSET + LIMIT pagination (ref: OrderByNode + SliceNode)."""
    st = cached_store(spark, sf_dir)
    base = A.BGP(
        [
            A.SP(V("c"), "customer#c_custkey", V("ck")),
            A.SP(V("c"), "customer#c_acctbal", V("ab")),
        ]
    )
    plan = A.Extend(A.Extend(base, "bal", num("ab")), "c_id", lng("ck"))
    plan = A.Slice(A.OrderBy(plan, [("bal", False), ("c_id", True)]), limit=10, offset=20)
    return evaluate(st, A.Project(plan, ["c_id", "bal"]))


@register(
    "graph_scoped_count",
    """
    SELECT 'g:cust' AS g, COUNT(*) AS n FROM customer WHERE c_mktsegment IS NOT NULL
    UNION ALL
    SELECT 'g:ord' AS g, COUNT(*) AS n FROM orders WHERE o_orderstatus IS NOT NULL
    """,
)
def graph_scoped_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH ?g scoping over a quad store: triples per named graph
    (ref: DatasetNode / quads mode)."""
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
        F.lit("customer#c_mktsegment").alias("p"),
        F.col("c_mktsegment").alias("o_lex"),
        F.lit("string").alias("o_dt"),
        F.lit("g:cust").alias("g"),
    )
    ords = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
        F.lit("orders#o_orderstatus").alias("p"),
        F.col("o_orderstatus").alias("o_lex"),
        F.lit("string").alias("o_dt"),
        F.lit("g:ord").alias("g"),
    )
    qst = TripleStore(cust.unionByName(ords).filter(F.col("o_lex").isNotNull()))
    plan = A.Group(
        A.SP(V("s"), V("p"), V("o"), V("g")), keys=("g",), aggs=[("n", fn.COUNT())]
    )
    return evaluate(qst, plan)


@register(
    "owl_inverse_orders",
    """
    SELECT cnt AS n_orders, COUNT(*) AS n_cust
    FROM (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1) t GROUP BY 1
    """,
)
def owl_inverse_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:inverseOf: orderedBy⁻¹ = hasOrder; histogram of inferred hasOrder
    fan-out per customer (ref: fast-closure owl:inverseOf step)."""
    data = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
        F.lit("orderedBy").alias("p"),
        F.concat(F.lit("customer:"), F.col("o_custkey")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    schema = spark.createDataFrame(
        [("orderedBy", rdfs.OWL_INVERSE, "hasOrder", "iri")],
        "s string, p string, o_lex string, o_dt string",
    )
    closed = rdfs.inverse_of_closure(data.unionByName(schema))
    per_cust = (
        closed.filter(F.col("p") == "hasOrder")
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_cust"))


@register(
    "owl_sameas_merge",
    """
    SELECT COUNT(*) AS n FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
    """,
)
def owl_sameas_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs canonicalization: facts asserted under two different IRIs
    for the same entity join after merge (ref: fast-closure sameAs steps)."""
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    seg_t = cust.select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
        F.lit("hasSeg").alias("p"),
        F.col("c_mktsegment").alias("o_lex"),
        F.lit("string").alias("o_dt"),
    )
    bal_t = cust.select(
        F.concat(F.lit("alias:"), F.col("c_custkey")).alias("s"),
        F.lit("hasBal").alias("p"),
        F.col("c_acctbal").cast("string").alias("o_lex"),
        F.lit("double").alias("o_dt"),
    )
    same = cust.select(
        F.concat(F.lit("alias:"), F.col("c_custkey")).alias("s"),
        F.lit(rdfs.OWL_SAMEAS).alias("p"),
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    merged = rdfs.apply_same_as(seg_t.unionByName(bal_t).unionByName(same))
    seg = merged.filter((F.col("p") == "hasSeg") & (F.col("o_lex") == "BUILDING")).select("s")
    bal = merged.filter(
        (F.col("p") == "hasBal") & (F.col("o_lex").cast("double") > 5000)
    ).select("s")
    return seg.join(bal, on="s").agg(F.count(F.lit(1)).alias("n"))


def _ft_oracle() -> str:
    from blazegraph_database_spark.queries_search import _FT_CTE

    return _FT_CTE.format(
        pats="('stream', true), ('batch', false)", where="score_ppm >= 0", max_rank=12
    )


@register("service_bds_search", None)  # sql attached below (import-order)
def service_bds_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bds:search over the document corpus: "stream* batch", a prefix term
    and an exact term, top 12 by relevance (ref: bds:search, BDS.java
    prefix match and maxRank)."""
    from blazegraph_database_spark.operators import fulltext
    from blazegraph_database_spark.queries_search import _docs_index

    idx = _docs_index(spark, sf_dir)
    return fulltext.search(idx, [("stream", True), ("batch", False)], max_rank=12)


QUERIES["service_bds_search"]["sql"] = _ft_oracle()


@register(
    "dict_encoded_join",
    """
    SELECT n_name AS nname, COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def dict_encoded_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoded join path: term IRIs hashed to 64-bit ids
    (xxhash64, stateless — ref: lexicon TERM2ID), chain join runs on longs
    (half the shuffle width of lexical keys), literals decode-free."""
    st = cached_store(spark, sf_dir)

    def h(col: str):
        return F.xxhash64(F.lit("iri"), F.col(col))

    o2c = st.pattern_source("orders#o_custkey_ref").select(h("o_lex").alias("c_id"))
    c2n = st.pattern_source("customer#c_nationkey_ref").select(
        h("s").alias("c_id"), h("o_lex").alias("n_id")
    )
    n_name = st.pattern_source("nation#n_name").select(
        h("s").alias("n_id"), F.col("o_lex").alias("nname")
    )
    return (
        o2c.join(c2n, on="c_id")
        .join(F.broadcast(n_name), on="n_id")
        .groupBy("nname")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "path_negated",
    """
    SELECT o_orderpriority AS o, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
    """,
)
def path_negated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated property set !(<orderedBy>) parsed from text (ref: PathNode +
    ASTPropertyPathOptimizer): over a two-predicate store, the NPS leaves
    exactly the hasPriority edges."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    triples = orders.select(
        F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
        F.lit("orderedBy").alias("p"),
        F.concat(F.lit("customer:"), F.col("o_custkey")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    ).unionByName(
        orders.select(
            F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
            F.lit("hasPriority").alias("p"),
            F.col("o_orderpriority").alias("o_lex"),
            F.lit("string").alias("o_dt"),
        )
    )
    st = TripleStore(triples)
    return run_sparql(
        st, "SELECT ?o (COUNT(*) AS ?n) WHERE { ?s !(<orderedBy>) ?o } GROUP BY ?o"
    )


@register(
    "graph_var_path",
    """
    WITH RECURSIVE e AS (
        SELECT 'g:' || (c_custkey % 2) AS g,
               CAST(c_custkey AS VARCHAR) AS s, CAST(c_custkey // 2 AS VARCHAR) AS o
        FROM customer WHERE c_custkey >= 2
    ),
    r AS (
        SELECT g, s, o FROM e
        UNION
        SELECT r.g, r.s, e.o FROM r JOIN e ON r.g = e.g AND r.o = e.s
    )
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY g
    """,
)
def graph_var_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-length path inside GRAPH ?var: per-graph transitive closure
    (the closure join carries the graph key; ref: ArbitraryLengthPathNode
    under DatasetNode scoping)."""
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet").filter(F.col("c_custkey") >= 2)
    quads = cust.select(
        F.col("c_custkey").cast("string").alias("s"),
        F.lit("parent").alias("p"),
        (F.col("c_custkey") / 2).cast("long").cast("string").alias("o_lex"),
        F.lit("iri").alias("o_dt"),
        F.concat(F.lit("g:"), (F.col("c_custkey") % 2).cast("string")).alias("g"),
    )
    qst = TripleStore(quads)
    plan = A.Group(
        A.GraphScope(V("g"), A.PathPattern(V("x"), A.Plus("parent"), V("a"))),
        keys=("g",),
        aggs=[("n", fn.COUNT())],
    )
    return evaluate(qst, plan)


@register(
    "dataset_from_named",
    """
    SELECT 'g:ord' AS g, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderstatus IS NOT NULL
    UNION ALL
    SELECT 'default' AS g, CAST(COUNT(*) AS BIGINT) AS n
    FROM customer WHERE c_mktsegment IS NOT NULL
    """,
)
def dataset_from_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM / FROM NAMED dataset clauses in the text parser (ref:
    DatasetNode): default-graph patterns see only FROM graphs, GRAPH ?g is
    restricted to FROM NAMED graphs."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
        F.lit("customer#c_mktsegment").alias("p"),
        F.col("c_mktsegment").alias("o_lex"),
        F.lit("string").alias("o_dt"),
        F.lit("g:cust").alias("g"),
    )
    ords = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
        F.lit("orders#o_orderstatus").alias("p"),
        F.col("o_orderstatus").alias("o_lex"),
        F.lit("string").alias("o_dt"),
        F.lit("g:ord").alias("g"),
    )
    qst = TripleStore(cust.unionByName(ords).filter(F.col("o_lex").isNotNull()))
    return run_sparql(
        qst,
        """
        SELECT ?g (COUNT(*) AS ?n) FROM <g:cust> FROM NAMED <g:ord> WHERE {
          { GRAPH ?g { ?s ?p ?o } } UNION { ?s ?p ?o BIND("default" AS ?g) }
        } GROUP BY ?g
        """,
    )


@register(
    "rdr_provenance",
    """
    SELECT o_orderstatus AS st, COUNT(*) AS n_orders,
           COUNT(DISTINCT o_orderpriority) AS n_prios
    FROM orders WHERE o_totalprice > 200000
    GROUP BY o_orderstatus ORDER BY st
    """,
)
def rdr_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF-star / RDR: statement-level provenance. High-value order status
    statements are annotated `<<order status st>> verifiedBy clerk`; the
    SPARQL-star text query joins metadata back to the statements via the
    deterministic sid encoding (ref: SidIV.java; RDR mode of
    BigdataNTriplesParser). Exercises the `<<?s <p> ?o>>` parser syntax and
    the compiler's sid equi-join — one shuffle on the sid key, no cartesian."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    ords = read_parquet(spark, f"{sf_dir}/orders.parquet")
    base = ords.select(
        F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
        F.lit("status").alias("p"),
        F.col("o_orderstatus").alias("o_lex"),
        F.lit("string").alias("o_dt"),
    )
    sid = F.concat(
        F.lit("<<order:"), F.col("o_orderkey"), F.lit("|status|"),
        F.col("o_orderstatus"), F.lit("|string>>"),
    )
    meta = ords.filter(F.col("o_totalprice") > 200000).select(
        sid.alias("s"), F.lit("verifiedBy").alias("p"),
        F.col("o_orderpriority").alias("o_lex"), F.lit("string").alias("o_dt"),
    )
    st = TripleStore(base.unionByName(meta))
    return run_sparql(
        st,
        """
        SELECT ?st (COUNT(?s) AS ?n_orders) (COUNT(DISTINCT ?prio) AS ?n_prios)
        WHERE { <<?s <status> ?st>> <verifiedBy> ?prio }
        GROUP BY ?st ORDER BY ?st
        """,
    )


@register(
    "update_graph_ops",
    """
    WITH hi AS (SELECT COUNT(*) AS n FROM customer WHERE c_acctbal > 5000),
         lo AS (SELECT COUNT(*) AS n FROM customer WHERE c_acctbal <= 5000)
    SELECT 'g:all' AS g, CAST(hi.n + lo.n AS BIGINT) AS n FROM hi, lo
    UNION ALL SELECT 'g:low', CAST(n AS BIGINT) FROM lo
    """,
)
def update_graph_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-management verbs through the UPDATE text parser: COPY + ADD +
    DROP on a quad store (ref: CopyGraph/AddGraph/MoveGraph in
    AST2BOpUpdate.java). g:all = COPY g:high then ADD g:low; g:high dropped;
    per-graph counts checked relationally."""
    from blazegraph_database_spark.plans.update_parser import apply_update
    from blazegraph_database_spark.update.update import UpdatableStore

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    quads = cust.select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
        F.lit("customer#c_acctbal").alias("p"),
        F.col("c_acctbal").cast("string").alias("o_lex"),
        F.lit("double").alias("o_dt"),
        F.when(F.col("c_acctbal") > 5000, "g:high").otherwise("g:low").alias("g"),
    )
    us = UpdatableStore.from_store(TripleStore(quads))
    apply_update(
        us,
        "COPY GRAPH <g:high> TO GRAPH <g:all> ; ADD GRAPH <g:low> TO GRAPH <g:all> ; DROP GRAPH <g:high>",
        spark,
    )
    return (
        us.current.df.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("g")
    )


@register(
    "store_roundtrip",
    """
    SELECT 'customer#c_acctbal' AS p, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS nsubj
    FROM customer
    UNION ALL
    SELECT 'nation#n_name', CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT n_nationkey) AS BIGINT)
    FROM nation
    """,
)
def store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk load → persistent POS layout → read back (ref: DataLoader.java
    + the SPO/POS index write path): the persisted store's per-predicate
    contents and its write-time stats must both equal the source. Exercises
    write_pos_layout / read_store end-to-end on real data."""
    import tempfile

    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.sources import parquet_store
    from blazegraph_database_spark.sources.relational import read_parquet, table_to_triples

    cust = table_to_triples(read_parquet(spark, f"{sf_dir}/customer.parquet"), "customer", "c_custkey", {})
    nat = table_to_triples(read_parquet(spark, f"{sf_dir}/nation.parquet"), "nation", "n_nationkey", {})
    st = TripleStore(cust.unionByName(nat))
    path = tempfile.mkdtemp(prefix="store_rt_")
    parquet_store.write_pos_layout(st, path)
    back = parquet_store.read_store(spark, path)
    preds = ["customer#c_acctbal", "nation#n_name"]
    return (
        back.df.filter(F.col("p").isin(preds))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("s").alias("nsubj"))
    )


@register(
    "ntriples_roundtrip",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triples,
           CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS n_subjects,
           MIN(n_name) AS first_name
    FROM nation
    """,
)
def ntriples_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize the nation table as real N-Triples lines, parse them back
    with the distributed N-Triples reader, and aggregate — the parser's
    lexical round-trip checked against the source data (ref: the rio
    N-Triples parser feeding DataLoader)."""
    import tempfile

    from blazegraph_database_spark.sources import ntriples
    from blazegraph_database_spark.sources.relational import read_parquet

    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    lines = nat.select(
        F.concat(
            F.lit("<nation:"), F.col("n_nationkey").cast("string"), F.lit("> "),
            F.lit("<nation#n_name> "),
            F.lit('"'), F.col("n_name"), F.lit('" .'),
        ).alias("value")
    )
    path = tempfile.mkdtemp(prefix="nt_rt_") + "/nation.nt"
    lines.coalesce(1).write.mode("overwrite").text(path)
    parsed = ntriples.read_ntriples(spark, path)
    return parsed.agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("s").alias("n_subjects"),
        F.min("o_lex").alias("first_name"),
    )


@register(
    "sparql_lang_functions",
    """
    SELECT 'doc:' || doc_id AS x, lang AS lg, COUNT(*) OVER () AS n_en_fr
    FROM documents WHERE lang IN ('en', 'fr') ORDER BY x LIMIT 20
    """,
)
def sparql_lang_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-tagged literals end to end: documents become lang-tagged
    label triples (o_dt = lang:<tag>, the engine's langString encoding),
    then a textual SPARQL query filters with LANGMATCHES(LANG(?l), ...)
    and projects the tag with LANG (ref: LangBOp / LangMatchesBOp)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    st = TripleStore(
        docs.select(
            F.concat(F.lit("doc:"), F.col("doc_id")).alias("s"),
            F.lit("doc#label").alias("p"),
            F.col("text").alias("o_lex"),
            F.concat(F.lit("lang:"), F.col("lang")).alias("o_dt"),
        )
    )
    out = run_sparql(
        st,
        'SELECT ?x (LANG(?l) AS ?lg) WHERE { ?x <doc#label> ?l '
        'FILTER(LANGMATCHES(LANG(?l), "en") || LANGMATCHES(LANG(?l), "fr")) } ORDER BY ?x',
    )
    total = out.count()
    return (
        out.withColumn("n_en_fr", F.lit(total).cast("long")).orderBy("x").limit(20)
    )


@register(
    "turtle_roundtrip",
    """
    SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_triples,
           CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS n_subjects,
           CAST(SUM(n_regionkey) AS BIGINT) AS region_sum,
           MIN(n_name) AS first_name
    FROM nation
    """,
)
def turtle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize the nation table as a Turtle document (@prefix, `;`
    predicate lists, typed integer literals), parse it back with the
    full-grammar Turtle reader, and aggregate — checked against the source
    rows (ref: rio Turtle parser feeding DataLoader). 2 triples/subject:
    n_triples doubles the row count, region_sum checks the typed literal
    lexicals survive the trip."""
    import tempfile

    from blazegraph_database_spark.sources.rdf_formats import read_turtle
    from blazegraph_database_spark.sources.relational import read_parquet

    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    stmts = nat.select(
        F.concat(
            F.lit("n:"), F.col("n_nationkey").cast("string"),
            F.lit(' <nation#n_name> "'), F.col("n_name"),
            F.lit('" ; <nation#n_regionkey> "'), F.col("n_regionkey").cast("string"),
            F.lit('"^^<http://www.w3.org/2001/XMLSchema#integer> .'),
        ).alias("value")
    )
    header = spark.createDataFrame([("@prefix n: <nation:> .",)], "value string")
    path = tempfile.mkdtemp(prefix="ttl_rt_") + "/nation.ttl"
    header.unionByName(stmts).coalesce(1).write.mode("overwrite").text(path)
    parsed = read_turtle(spark, path)
    names = parsed.filter(F.col("p") == "nation#n_name")
    regions = parsed.filter(F.col("p") == "nation#n_regionkey")
    return (
        names.agg(
            F.count(F.lit(1)).alias("n_names"),
            F.countDistinct("s").alias("n_subjects"),
            F.min("o_lex").alias("first_name"),
        )
        .crossJoin(
            regions.agg(
                F.count(F.lit(1)).alias("n_regions"),
                F.sum(F.col("o_lex").cast("long")).alias("region_sum"),
            )
        )
        .select(
            (F.col("n_names") + F.col("n_regions")).alias("n_triples"),
            "n_subjects", "region_sum", "first_name",
        )
    )


@register(
    "trig_roundtrip",
    """
    SELECT 'region:' || r_regionkey AS g, CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def trig_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize nations into per-region TriG graph blocks, parse with the
    TriG reader, count statements per graph — named-graph structure checked
    against the join (ref: rio TriG parser)."""
    import tempfile

    from blazegraph_database_spark.sources.rdf_formats import read_trig
    from blazegraph_database_spark.sources.relational import read_parquet

    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    reg = read_parquet(spark, f"{sf_dir}/region.parquet")
    joined = nat.join(reg, nat["n_regionkey"] == reg["r_regionkey"])
    blocks = joined.groupBy("r_regionkey").agg(
        F.concat(
            F.lit("<region:"), F.col("r_regionkey").cast("string"), F.lit("> {\n"),
            F.concat_ws(
                "\n",
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.lit("<nation:"), F.col("n_nationkey").cast("string"),
                            F.lit('> <nation#n_name> "'), F.col("n_name"), F.lit('" .'),
                        )
                    )
                ),
            ),
            F.lit("\n}"),
        ).alias("value")
    ).select("value")
    path = tempfile.mkdtemp(prefix="trig_rt_") + "/nations.trig"
    blocks.coalesce(1).write.mode("overwrite").text(path)
    parsed = read_trig(spark, path)
    return parsed.groupBy(F.col("g")).agg(F.count(F.lit(1)).alias("n_nations")).select(
        F.col("g"), "n_nations"
    )


@register(
    "jsonld_roundtrip",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triples,
           CAST(COUNT(DISTINCT r_regionkey) AS BIGINT) AS n_subjects,
           MIN(r_name) AS first_name
    FROM region
    """,
)
def jsonld_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize the region table as a JSON-LD @graph document, parse it
    back with the JSON-LD reader, aggregate — checked against the source
    rows (ref: rio JSON-LD parser)."""
    import tempfile

    from blazegraph_database_spark.sources.rdf_formats import read_jsonld
    from blazegraph_database_spark.sources.relational import read_parquet

    reg = read_parquet(spark, f"{sf_dir}/region.parquet")
    nodes = reg.select(
        F.to_json(
            F.struct(
                F.concat(F.lit("region:"), F.col("r_regionkey").cast("string")).alias("@id"),
                F.col("r_name").alias("region#r_name"),
            )
        ).alias("j")
    )
    doc = nodes.agg(
        F.concat(
            F.lit('{"@graph": ['),
            F.concat_ws(",", F.array_sort(F.collect_list("j"))),
            F.lit("]}"),
        ).alias("value")
    )
    path = tempfile.mkdtemp(prefix="jld_rt_") + "/regions.jsonld"
    doc.coalesce(1).write.mode("overwrite").text(path)
    parsed = read_jsonld(spark, path)
    return parsed.agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("s").alias("n_subjects"),
        F.min("o_lex").alias("first_name"),
    )


@register(
    "trix_roundtrip",
    """
    SELECT 'region:' || r_regionkey AS g, CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def trix_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize nations into per-region TriX graph blocks, parse with the
    TriX reader, count per graph (ref: rio TriX parser)."""
    import tempfile

    from blazegraph_database_spark.sources.rdf_formats import read_trix
    from blazegraph_database_spark.sources.relational import read_parquet

    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    triple = F.concat(
        F.lit("<triple><uri>nation:"), F.col("n_nationkey").cast("string"),
        F.lit("</uri><uri>nation#n_name</uri><plainLiteral>"), F.col("n_name"),
        F.lit("</plainLiteral></triple>"),
    )
    blocks = nat.groupBy("n_regionkey").agg(
        F.concat(
            F.lit("<graph><uri>region:"), F.col("n_regionkey").cast("string"), F.lit("</uri>"),
            F.concat_ws("", F.array_sort(F.collect_list(triple))),
            F.lit("</graph>"),
        ).alias("block")
    )
    doc = blocks.agg(
        F.concat(F.lit("<TriX>"), F.concat_ws("", F.array_sort(F.collect_list("block"))), F.lit("</TriX>")).alias("value")
    )
    path = tempfile.mkdtemp(prefix="trix_rt_") + "/nations.trix"
    doc.coalesce(1).write.mode("overwrite").text(path)
    parsed = read_trix(spark, path)
    return parsed.groupBy("g").agg(F.count(F.lit(1)).alias("n_nations"))


@register(
    "rdfxml_roundtrip",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triples,
           CAST(COUNT(DISTINCT r_regionkey) AS BIGINT) AS n_subjects,
           MIN(r_name) AS first_name
    FROM region
    """,
)
def rdfxml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize the region table as RDF/XML Descriptions, parse with the
    RDF/XML reader, aggregate (ref: rio RDF/XML parser)."""
    import tempfile

    from blazegraph_database_spark.sources.rdf_formats import read_rdfxml
    from blazegraph_database_spark.sources.relational import read_parquet

    reg = read_parquet(spark, f"{sf_dir}/region.parquet")
    desc = reg.select(
        F.concat(
            F.lit('<rdf:Description rdf:about="region:'),
            F.col("r_regionkey").cast("string"),
            F.lit('"><x:r_name>'), F.col("r_name"), F.lit("</x:r_name></rdf:Description>"),
        ).alias("d")
    )
    doc = desc.agg(
        F.concat(
            F.lit(
                '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
                'xmlns:x="region#">'
            ),
            F.concat_ws("", F.array_sort(F.collect_list("d"))),
            F.lit("</rdf:RDF>"),
        ).alias("value")
    )
    path = tempfile.mkdtemp(prefix="rx_rt_") + "/regions.rdf"
    doc.coalesce(1).write.mode("overwrite").text(path)
    parsed = read_rdfxml(spark, path)
    return parsed.agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("s").alias("n_subjects"),
        F.min("o_lex").alias("first_name"),
    )


@register(
    "sparql_tpch_q6",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def sparql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) as PURE SPARQL text: date
    range + numeric band + quantity filters and a product aggregate. The
    numeric comparisons take the typed double view, so at the plan level
    this is a single star-fused lineitem scan with the discount/quantity
    range predicates pushed to parquet."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.sources.relational import cached_store

    st = cached_store(spark, sf_dir)
    q = """
    SELECT (SUM(?ep * ?disc) AS ?rev) WHERE {
      ?l <lineitem#l_shipdate> ?sd .
      ?l <lineitem#l_extendedprice> ?ep .
      ?l <lineitem#l_discount> ?disc .
      ?l <lineitem#l_quantity> ?q .
      FILTER(?sd >= "1996-01-01 00:00:00" && ?sd < "1997-01-01 00:00:00"
             && ?disc >= 0.05 && ?disc <= 0.07 && ?q < 24)
    }
    """
    return run_sparql(st, q).select(F.round("rev", 2).alias("revenue"))


@register(
    "solution_set_include",
    """
    SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n
    FROM customer
    WHERE c_acctbal > 5000 AND c_nationkey >= 10
    GROUP BY c_mktsegment
    """,
)
def solution_set_include(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted named solution sets across requests (ref:
    ssets/SolutionSetManager.java + ast/cache/CacheConnectionImpl.java;
    UPDATE grammar sparql.jjt InsertClause/DeleteClause): request 1 writes
    the set with ``INSERT INTO %big SELECT``, request 2 narrows it with
    ``DELETE FROM %big SELECT`` (INCLUDE-MINUS semantics,
    AST2BOpUpdate.java:728), and a THIRD request — a brand-new store +
    manager over the same parquet-backed path, i.e. a different process —
    joins it via ``INCLUDE %big``. The persisted set is re-read as a plain
    parquet scan, never recomputed."""
    import tempfile

    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.plans.update_parser import apply_update
    from blazegraph_database_spark.sources.relational import table_to_triples
    from blazegraph_database_spark.update.update import UpdatableStore

    cust = table_to_triples(
        read_parquet(spark, f"{sf_dir}/customer.parquet"), "customer", "c_custkey", {}
    )
    path = tempfile.mkdtemp(prefix="ssets_")
    us1 = UpdatableStore.from_store(TripleStore(cust))
    us1.solutions_manager(path)
    apply_update(
        us1,
        "INSERT INTO %big SELECT ?c WHERE "
        "{ ?c <customer#c_acctbal> ?b FILTER(?b > 5000) } ; "
        "DELETE FROM %big SELECT ?c WHERE "
        "{ ?c <customer#c_nationkey> ?n FILTER(?n < 10) }",
        spark,
    )
    us2 = UpdatableStore.from_store(TripleStore(cust))  # fresh "request"
    us2.solutions_manager(path)
    out = run_sparql(
        us2.query_store,
        "SELECT ?seg (COUNT(?c) AS ?n) WHERE "
        "{ INCLUDE %big . ?c <customer#c_mktsegment> ?seg } GROUP BY ?seg",
    )
    return out.select(F.col("seg"), F.col("n").cast("long").alias("n"))


def _writer_roundtrip(spark, sf_dir, writer_name, reader_name, ext):
    """Shared harness: nation table → triples → WRITER doc → READER →
    per-predicate aggregate. Exercises the writer/reader pair end to end
    (ref: ConnegUtil's writer registry must round-trip with rio's parsers)."""
    import os
    import tempfile

    from blazegraph_database_spark.sources import rdf_formats, rdf_writers
    from blazegraph_database_spark.sources.relational import read_parquet, table_to_triples

    nat = table_to_triples(
        read_parquet(spark, f"{sf_dir}/nation.parquet"), "nation", "n_nationkey", {}
    )
    doc = getattr(rdf_writers, writer_name)(nat)
    path = os.path.join(tempfile.mkdtemp(prefix="wrt_"), f"doc.{ext}")
    with open(path, "w") as f:
        f.write(doc)
    back = getattr(rdf_formats, reader_name)(spark, path)
    return (
        back.filter(F.col("p").isin("nation#n_name", "nation#n_regionkey"))
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("s").cast("long").alias("nsubj"),
            F.min("o_lex").alias("lo"),
        )
    )


_WRT_SQL = """
    SELECT 'nation#n_name' AS p, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS nsubj, MIN(n_name) AS lo
    FROM nation
    UNION ALL
    SELECT 'nation#n_regionkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT n_nationkey) AS BIGINT),
           CAST(MIN(n_regionkey) AS VARCHAR)
    FROM nation
"""


@register("turtle_writer_roundtrip", _WRT_SQL)
def turtle_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle WRITER (prefixes + `;` blocks) → full Turtle reader."""
    return _writer_roundtrip(spark, sf_dir, "turtle_doc", "read_turtle", "ttl")


@register("rdfxml_writer_roundtrip", _WRT_SQL)
def rdfxml_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF/XML WRITER (per-element xmlns, rdf:datatype) → RDF/XML reader."""
    return _writer_roundtrip(spark, sf_dir, "rdfxml_doc", "read_rdfxml", "rdf")


@register("jsonld_writer_roundtrip", _WRT_SQL)
def jsonld_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD WRITER (@graph node objects via to_json) → JSON-LD reader."""
    return _writer_roundtrip(spark, sf_dir, "jsonld_doc", "read_jsonld", "jsonld")


@register(
    "trig_writer_roundtrip",
    """
    SELECT 'region:' || n_regionkey AS g, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(n_name) AS lo
    FROM nation GROUP BY n_regionkey
    """,
)
def trig_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TriG WRITER (per-graph `{}` blocks) → TriG reader: nations land in
    their region's named graph; per-graph counts survive the trip."""
    import os
    import tempfile

    from blazegraph_database_spark.sources import rdf_formats, rdf_writers
    from blazegraph_database_spark.sources.relational import read_parquet, table_to_triples

    nat_tbl = read_parquet(spark, f"{sf_dir}/nation.parquet")
    nat = table_to_triples(nat_tbl, "nation", "n_nationkey", {}).join(
        nat_tbl.select(
            F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("s"),
            F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias("g"),
        ),
        on="s",
    )
    doc = rdf_writers.trig_doc(nat)
    path = os.path.join(tempfile.mkdtemp(prefix="wrt_"), "doc.trig")
    with open(path, "w") as f:
        f.write(doc)
    back = rdf_formats.read_trig(spark, path)
    return (
        back.filter(F.col("p") == "nation#n_name")
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.min("o_lex").alias("lo"))
    )


@register(
    "history_changelog",
    """
    SELECT 1 AS commit, 'added' AS action, 'tag#high' AS p,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer WHERE c_acctbal > 5000
    UNION ALL
    SELECT 2, 'removed', 'customer#c_mktsegment', CAST(COUNT(*) AS BIGINT)
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def history_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History/changelog service over MVCC commits (ref:
    ast/service/history/HistoryServiceFactory.java:1 + RDRHistory.java —
    per-commit added/removed statement records): commit 1 inserts a derived
    tag for high-balance customers, commit 2 deletes the BUILDING segment
    triples; the changelog between commit points 0..2 reads both commits
    off the Δs the two versions hold over their shared base."""
    from blazegraph_database_spark.plans.update_parser import apply_update
    from blazegraph_database_spark.sources.relational import table_to_triples
    from blazegraph_database_spark.update.update import UpdatableStore

    cust = table_to_triples(
        read_parquet(spark, f"{sf_dir}/customer.parquet"), "customer", "c_custkey", {}
    )
    us = UpdatableStore.from_store(TripleStore(cust))
    apply_update(
        us,
        'INSERT { ?c <tag#high> "1" } WHERE '
        "{ ?c <customer#c_acctbal> ?b FILTER(?b > 5000) } ; "
        "DELETE { ?c <customer#c_mktsegment> ?seg } WHERE "
        '{ ?c <customer#c_mktsegment> ?seg FILTER(?seg = "BUILDING") }',
        spark,
    )
    return (
        us.changelog()
        .groupBy("commit", "action", "p")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "service_bd_slice",
    """
    SELECT c, seg FROM (
      SELECT 'customer:' || c_custkey AS c, c_mktsegment AS seg
      FROM customer ORDER BY c, seg OFFSET 100 LIMIT 20
    ) ORDER BY c
    """,
)
def service_bd_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVICE <bd:slice> — direct offset/limit slice of an access path in
    key order (ref: eval/SliceServiceFactory.java:110): the dispatcher
    routes the magic IRI, bd:serviceParam triples carry the bounds, the
    slice is a row_number window over the pattern's binding order."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.sources.relational import cached_store

    st = cached_store(spark, sf_dir)
    q = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?c ?seg WHERE {
      SERVICE <http://www.bigdata.com/rdf#slice> {
        ?c <customer#c_mktsegment> ?seg .
        bd:serviceParam bd:slice.offset "100" .
        bd:serviceParam bd:slice.limit "20" .
      }
    }
    """
    return run_sparql(st, q)


@register(
    "service_bd_sample",
    """
    SELECT c, seg FROM (
      SELECT 'customer:' || c_custkey AS c, c_mktsegment AS seg
      FROM customer ORDER BY c, seg LIMIT 25
    ) ORDER BY c
    """,
)
def service_bd_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVICE <bd:sample> with sampleType DENSE (ref:
    eval/SampleServiceFactory.java:101 + bop/ap/SampleIndex.java — DENSE =
    the first N tuples in key order, the deterministic member of the
    DENSE/EVEN/RANDOM enum; EVEN and seeded RANDOM are unit-tested)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.sources.relational import cached_store

    st = cached_store(spark, sf_dir)
    q = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?c ?seg WHERE {
      SERVICE <http://www.bigdata.com/rdf#sample> {
        ?c <customer#c_mktsegment> ?seg .
        bd:serviceParam bd:sample.limit "25" .
        bd:serviceParam bd:sample.sampleType "DENSE" .
      }
    }
    """
    return run_sparql(st, q)


@register(
    "mvcc_snapshot_read",
    """
    SELECT 0 AS version, (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS n
    UNION ALL
    SELECT 1, (SELECT COUNT(*) FROM nation) + (SELECT COUNT(*) FROM region)
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM nation WHERE n_nationkey >= 10)
              + (SELECT COUNT(*) FROM region)
    ORDER BY version
    """,
)
def mvcc_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation over the MVCC version list (ref: the journal's
    commit points — every commit is an immutable snapshot, and a read at
    commit point N sees exactly that state regardless of later updates).
    Three commit points (load / insert / delete), then ALL THREE are read
    AFTER the last update — earlier versions must be untouched."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.sources.relational import read_parquet
    from blazegraph_database_spark.update.update import UpdatableStore

    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    reg = read_parquet(spark, f"{sf_dir}/region.parquet")
    nat_t = nat.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
        F.lit("nation#n_name").alias("p"),
        F.col("n_name").alias("o_lex"),
        F.lit("string").alias("o_dt"),
    )
    reg_t = reg.select(
        F.concat(F.lit("region:"), F.col("r_regionkey")).alias("s"),
        F.lit("region#r_name").alias("p"),
        F.col("r_name").alias("o_lex"),
        F.lit("string").alias("o_dt"),
    )
    us = UpdatableStore.from_store(TripleStore(nat_t))       # version 0
    us.insert_data(reg_t)                                    # version 1
    us.delete_data(nat_t.join(                               # version 2
        nat.filter(F.col("n_nationkey") < 10).select(
            F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s")
        ),
        on="s",
    ))
    parts = [
        us.versions[i].df.agg(
            F.lit(i).alias("version"), F.count(F.lit(1)).alias("n")
        )
        for i in range(3)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")


@register(
    "path_zero_or_one",
    """
    SELECT 'customer:1' AS y
    UNION
    SELECT 'nation:' || c_nationkey FROM customer WHERE c_custkey = 1
    UNION
    SELECT 'ghost:99'
    ORDER BY y
    """,
)
def path_zero_or_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-true zero-length paths (ref: ZeroLengthPathOp; W3C
    ZeroOrOnePath): `<customer:1> <nat>? ?y` yields the start term ITSELF
    plus its one-hop targets, and a constant endpoint absent from the
    graph (`<ghost:99>`) still zero-length-matches itself."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.sources.relational import read_parquet

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    st = TripleStore(
        cust.select(
            F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
            F.lit("nat").alias("p"),
            F.concat(F.lit("nation:"), F.col("c_nationkey")).alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        )
    )
    out = run_sparql(
        st,
        """
        SELECT DISTINCT ?y WHERE {
          { <customer:1> <nat>? ?y } UNION { <ghost:99> <nat>? ?y }
        } ORDER BY ?y
        """,
    )
    return out


@register(
    "sparql_hash_functions",
    """
    SELECT 'doc:' || doc_id AS d, md5(text) AS m, sha256(text) AS h
    FROM documents WHERE doc_id < 20 ORDER BY d
    """,
)
def sparql_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL hash functions MD5/SHA256 in expression position through the
    text parser, bit-for-bit vs DuckDB's digests (ref: DigestBOp — SHA1/
    384/512 are unit-tested; DuckDB only ships md5/sha256)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.sources.relational import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    st = TripleStore(
        docs.filter(F.col("doc_id") < 20).select(
            F.concat(F.lit("doc:"), F.col("doc_id")).alias("s"),
            F.lit("text").alias("p"),
            F.col("text").alias("o_lex"),
            F.lit("string").alias("o_dt"),
        )
    )
    return run_sparql(
        st,
        """
        SELECT ?d (MD5(?t) AS ?m) (SHA256(?t) AS ?h)
        WHERE { ?d <text> ?t } ORDER BY ?d
        """,
    ).select(F.col("d"), "m", "h")


@register(
    "custom_function",
    """
    SELECT l_returnflag AS rf,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS margin
    FROM lineitem WHERE l_quantity < 10
    GROUP BY l_returnflag ORDER BY rf
    """,
)
def custom_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Application-registered custom function invoked by IRI from SPARQL
    text (ref: sparql/ast/FunctionRegistry.java add()/Factory,
    eval/TestCustomFunction.java): <http://example.org/fn#margin> compiles
    straight into the Catalyst plan (pure Column arithmetic, whole-stage
    codegen — no Python UDF), aggregated per return flag."""
    from blazegraph_database_spark.functions import registry as freg
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    freg.register_function(
        "http://example.org/fn#margin",
        lambda p, d: p.cast("double") * (1 - d.cast("double")),
        replace=True,
    )
    st = cached_store(spark, sf_dir)
    q = """
    SELECT ?rf (SUM(<http://example.org/fn#margin>(?ep, ?disc)) AS ?m) WHERE {
      ?l <lineitem#l_returnflag> ?rf .
      ?l <lineitem#l_extendedprice> ?ep .
      ?l <lineitem#l_discount> ?disc .
      ?l <lineitem#l_quantity> ?q .
      FILTER(?q < 10)
    }
    GROUP BY ?rf
    ORDER BY ?rf
    """
    return run_sparql(st, q).select("rf", F.round("m", 2).alias("margin"))


@register(
    "agg_distinct",
    """
    SELECT l_returnflag AS rf,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS suppliers,
           ROUND(SUM(DISTINCT CAST(l_quantity AS DOUBLE)), 2) AS qty_sum,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
    FROM lineitem GROUP BY l_returnflag ORDER BY rf
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT-qualified aggregates COUNT/SUM/GROUP_CONCAT(DISTINCT ...)
    through the text parser (SPARQL 1.1 §18.5.1 set-quantified aggregates;
    ref: AggregateBase.Annotations.DISTINCT on every reference aggregate
    bop) — dedup happens inside the aggregation, partial-agg friendly."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = cached_store(spark, sf_dir)
    q = """
    SELECT ?rf (COUNT(DISTINCT ?sk) AS ?suppliers)
               (SUM(DISTINCT ?qty) AS ?qs)
               (GROUP_CONCAT(DISTINCT ?ls; separator=",") AS ?statuses) WHERE {
      ?l <lineitem#l_returnflag> ?rf .
      ?l <lineitem#l_suppkey> ?sk .
      ?l <lineitem#l_quantity> ?qty .
      ?l <lineitem#l_linestatus> ?ls .
    }
    GROUP BY ?rf
    ORDER BY ?rf
    """
    return run_sparql(st, q).select(
        "rf", "suppliers", F.round("qs", 2).alias("qty_sum"), "statuses"
    )


@register(
    "rdr_reify_roundtrip",
    """
    SELECT o_orderstatus AS st, COUNT(*) AS n_orders,
           COUNT(DISTINCT o_orderpriority) AS n_prios
    FROM orders WHERE o_totalprice > 200000
    GROUP BY o_orderstatus ORDER BY st
    """,
)
def rdr_reify_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDR ↔ standard reification migration (ref: SidIV.java — Blazegraph
    positions RDR as the reification replacement; converting legacy
    reified corpora is the operational path in): the RDR provenance store
    is REIFIED into rdf:Statement/subject/predicate/object scaffolding
    with deterministic md5 statement nodes, then UNREIFIED back, and the
    same SPARQL-star query must still hold — proving both converters are
    exact inverses over real data, not just on toy rows
    (operators/reification.reify/unreify)."""
    from blazegraph_database_spark.operators import reification as R
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    ords = read_parquet(spark, f"{sf_dir}/orders.parquet")
    base = ords.select(
        F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
        F.lit("status").alias("p"),
        F.col("o_orderstatus").alias("o_lex"),
        F.lit("string").alias("o_dt"),
    )
    sid = F.concat(
        F.lit("<<order:"), F.col("o_orderkey"), F.lit("|status|"),
        F.col("o_orderstatus"), F.lit("|string>>"),
    )
    meta = ords.filter(F.col("o_totalprice") > 200000).select(
        sid.alias("s"), F.lit("verifiedBy").alias("p"),
        F.col("o_orderpriority").alias("o_lex"), F.lit("string").alias("o_dt"),
    )
    roundtripped = R.unreify(R.reify(base.unionByName(meta)))
    return run_sparql(
        TripleStore(roundtripped),
        """
        SELECT ?st (COUNT(?s) AS ?n_orders) (COUNT(DISTINCT ?prio) AS ?n_prios)
        WHERE { <<?s <status> ?st>> <verifiedBy> ?prio }
        GROUP BY ?st ORDER BY ?st
        """,
    )


@register(
    "skew_salted_agg",
    """
    WITH a AS (
        SELECT l_returnflag AS rf, CAST(SUM(l_quantity) AS BIGINT) AS qty,
               CAST(COUNT(*) AS BIGINT) AS n, MAX(l_extendedprice) AS mx
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT a.rf, a.qty, a.n, a.mx, UPPER(a.rf) AS label
    FROM a ORDER BY a.rf
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation operators under oracle check (SURVEY §6; the
    power-law-key patterns AQE cannot fix): two-phase salted aggregation
    over the 3-key lineitem returnflag distribution (each hot key spreads
    over 16 reducers, partials combine exactly) and a salted replicate-join
    of the result against a small dimension — both must be bit-identical
    to the unsalted plan, which is what the DuckDB oracle computes."""
    from blazegraph_database_spark.operators import skew

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    agg = skew.salted_groupby_agg(
        li.select(F.col("l_returnflag").alias("rf"), "l_quantity", "l_extendedprice"),
        key="rf",
        aggs=[("qty", "sum", "l_quantity"), ("n", "count", "rf"), ("mx", "max", "l_extendedprice")],
        salts=16,
    )
    dim = (
        li.select(F.col("l_returnflag").alias("rf"))
        .distinct()
        .withColumn("label", F.upper(F.col("rf")))
    )
    out = skew.salted_join(agg, dim, on="rf", salts=8)
    return out.select(
        "rf", F.col("qty").cast("long").alias("qty"), "n", "mx", "label"
    ).orderBy("rf")


@register(
    "virtual_graph_dataset",
    """
    SELECT 'default' AS g, CAST(COUNT(*) AS BIGINT) AS n FROM customer
    WHERE c_mktsegment IS NOT NULL AND c_nationkey < 12
    UNION ALL
    SELECT 'named' AS g,
           CAST((SELECT COUNT(*) FROM customer WHERE c_mktsegment IS NOT NULL AND c_nationkey >= 12)
              + (SELECT COUNT(*) FROM orders WHERE o_orderstatus IS NOT NULL) AS BIGINT) AS n
    ORDER BY g
    """,
)
def virtual_graph_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Virtual graphs (ref: BD.java:199 bd:virtualGraph +
    sparql.jjt:329 `FROM [NAMED] VIRTUAL GRAPH`): a virtual graph is a
    store-declared collection of graphs — `<vg> bd:virtualGraph <member>`
    membership triples — expanded into the dataset at evaluation
    (ASTDeferredIVResolution.java:530). Here FROM VIRTUAL GRAPH <vg:lo>
    covers the low-nation customer graph, FROM NAMED VIRTUAL GRAPH
    <vg:rest> covers the high-nation customer graph AND the orders graph,
    and the query counts both scopes."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
        F.lit("customer#c_mktsegment").alias("p"),
        F.col("c_mktsegment").alias("o_lex"),
        F.lit("string").alias("o_dt"),
        F.when(F.col("c_nationkey") < 12, F.lit("g:lo")).otherwise(F.lit("g:hi")).alias("g"),
    )
    ords = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
        F.lit("orders#o_orderstatus").alias("p"),
        F.col("o_orderstatus").alias("o_lex"),
        F.lit("string").alias("o_dt"),
        F.lit("g:ord").alias("g"),
    )
    members = spark.createDataFrame(
        [
            ("vg:lo", "http://www.bigdata.com/rdf#virtualGraph", "g:lo", "iri", None),
            ("vg:rest", "http://www.bigdata.com/rdf#virtualGraph", "g:hi", "iri", None),
            ("vg:rest", "http://www.bigdata.com/rdf#virtualGraph", "g:ord", "iri", None),
        ],
        "s string, p string, o_lex string, o_dt string, g string",
    )
    qst = TripleStore(
        cust.unionByName(ords).filter(F.col("o_lex").isNotNull()).unionByName(members)
    )
    return run_sparql(
        qst,
        """
        SELECT ?g (COUNT(*) AS ?n)
        FROM VIRTUAL GRAPH <vg:lo> FROM NAMED VIRTUAL GRAPH <vg:rest> WHERE {
          { ?s <customer#c_mktsegment> ?o BIND("default" AS ?g) }
          UNION { GRAPH ?ng { ?s ?p ?o } BIND("named" AS ?g) }
        } GROUP BY ?g ORDER BY ?g
        """,
    )


@register(
    "service_alp",
    """
    WITH RECURSIVE e AS (
        SELECT 'nation:' || n_nationkey AS s,
               'nation:' || ((n_nationkey + 1) % 25) AS o
        FROM nation WHERE n_nationkey % 3 < 2
    ),
    r AS (
        SELECT o AS v, 1 AS d FROM e WHERE s = 'nation:0'
        UNION ALL
        SELECT e.o, r.d + 1 FROM r JOIN e ON e.s = r.v WHERE r.d < 4
    )
    SELECT DISTINCT v FROM r WHERE d BETWEEN 2 AND 4 ORDER BY v
    """,
)
def service_alp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVICE bd:alp — the configurable arbitrary-length-path service
    (ref: ASTALPServiceOptimizer.java, BD.java:239 ALP_SERVICE): path
    bounds {2,4} over a nation-ring whose per-hop edge IRIs carry a type
    constraint (?edge <etype> "ok") — edge-constrained bounded traversal,
    checked against a depth-tracked recursive CTE over the same derived
    edge set."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    edges = nat.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
        F.concat(F.lit("edge:"), F.col("n_nationkey")).alias("p"),
        F.concat(F.lit("nation:"), (F.col("n_nationkey") + 1) % 25).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    etypes = nat.select(
        F.concat(F.lit("edge:"), F.col("n_nationkey")).alias("s"),
        F.lit("etype").alias("p"),
        F.when(F.col("n_nationkey") % 3 < 2, F.lit("ok")).otherwise(F.lit("no")).alias("o_lex"),
        F.lit("string").alias("o_dt"),
    )
    st = TripleStore(edges.unionByName(etypes))
    return run_sparql(
        st,
        """
        SELECT ?v WHERE {
          SERVICE <http://www.bigdata.com/rdf#alp> {
            <nation:0> ?edge ?v .
            hint:Prior hint:alp.pathExpr "true" .
            ?edge <etype> "ok" .
            hint:Group hint:alp.lowerBound 2 .
            hint:Group hint:alp.upperBound 4 .
          }
        } ORDER BY ?v
        """,
    )


@register(
    "sparql_tpch_q1",
    """
    SELECT l_returnflag AS rf, l_linestatus AS ls,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(SUM(l_quantity) / COUNT(*), 4) AS avg_qty,
           ROUND(SUM(l_extendedprice) / COUNT(*), 4) AS avg_price,
           ROUND(SUM(l_discount) / COUNT(*), 4) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sparql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) as SPARQL text: one star-fused lineitem
    scan (6 predicates on the same subject), pushed timestamp filter,
    two-key GROUP BY with five simultaneous aggregates. Averages derive as
    SUM/COUNT on both sides so the arithmetic is replayed exactly."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = cached_store(spark, sf_dir)
    out = run_sparql(
        st,
        """
        SELECT ?rf ?ls (SUM(?q) AS ?sq) (SUM(?ep) AS ?sb)
               (SUM(?ep * (1 - ?d)) AS ?sdp)
               (SUM(?ep * (1 - ?d) * (1 + ?t)) AS ?sc)
               (SUM(?d) AS ?sd2) (COUNT(*) AS ?n)
        WHERE {
          ?l <lineitem#l_returnflag> ?rf ;
             <lineitem#l_linestatus> ?ls ;
             <lineitem#l_quantity> ?q ;
             <lineitem#l_extendedprice> ?ep ;
             <lineitem#l_discount> ?d ;
             <lineitem#l_tax> ?t ;
             <lineitem#l_shipdate> ?sdate .
          FILTER(?sdate <= "1998-09-02 00:00:00")
        }
        GROUP BY ?rf ?ls
        """,
    )
    n = F.col("n")
    return out.select(
        F.col("rf"),
        F.col("ls"),
        F.round("sq", 2).alias("sum_qty"),
        F.round("sb", 2).alias("sum_base"),
        F.round("sdp", 2).alias("sum_disc_price"),
        F.round("sc", 2).alias("sum_charge"),
        F.round(F.col("sq") / n, 4).alias("avg_qty"),
        F.round(F.col("sb") / n, 4).alias("avg_price"),
        F.round(F.col("sd2") / n, 4).alias("avg_disc"),
        n.cast("long").alias("count_order"),
    )


@register(
    "sparql_tpch_q5",
    """
    SELECT n_name AS nname, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def sparql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) as SPARQL text: a SIX-table join
    cycle — the customer and the line's supplier must share a nation
    (expressed by both _ref predicates binding the same ?n) — with region
    selection and a date window. The selectivity-ordered BGP optimizer and
    broadcast of the small dimension chain (region→nation) carry the plan."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = cached_store(spark, sf_dir)
    out = run_sparql(
        st,
        """
        SELECT ?nname (SUM(?ep * (1 - ?d)) AS ?rev0) WHERE {
          ?c <customer#c_nationkey_ref> ?n .
          ?o <orders#o_custkey_ref> ?c ;
             <orders#o_orderdate> ?od .
          ?l <lineitem#l_orderkey_ref> ?o ;
             <lineitem#l_suppkey_ref> ?s ;
             <lineitem#l_extendedprice> ?ep ;
             <lineitem#l_discount> ?d .
          ?s <supplier#s_nationkey_ref> ?n .
          ?n <nation#n_name> ?nname ;
             <nation#n_regionkey_ref> ?r .
          ?r <region#r_name> "ASIA" .
          FILTER(?od >= "1996-01-01 00:00:00" && ?od < "1997-01-01 00:00:00")
        }
        GROUP BY ?nname
        """,
    )
    return out.select("nname", F.round("rev0", 2).alias("rev"))


@register(
    "sparql_tpch_q10",
    """
    SELECT c_custkey AS ck, c_name AS cname,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) / 100 AS revenue,
           c_acctbal AS bal, n_name AS nname
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, ck LIMIT 20
    """,
)
def sparql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned items) as SPARQL text: 4-table join, constant
    returnflag + date window, 4-key GROUP BY, in-query rounding so the
    top-20 ORDER/LIMIT cut is taken on the same values the oracle orders
    by (the q3 ROUND(x*100)/100 pattern)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = cached_store(spark, sf_dir)
    return run_sparql(
        st,
        """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?ck ?cname (ROUND(SUM(?ep * (1 - ?d)) * 100) / 100 AS ?revenue)
               (xsd:double(?bal0) AS ?bal) ?nname
        WHERE {
          ?c <customer#c_custkey> ?ck ;
             <customer#c_name> ?cname ;
             <customer#c_acctbal> ?bal0 ;
             <customer#c_nationkey_ref> ?n .
          ?n <nation#n_name> ?nname .
          ?o <orders#o_custkey_ref> ?c ;
             <orders#o_orderdate> ?od .
          ?l <lineitem#l_orderkey_ref> ?o ;
             <lineitem#l_returnflag> "R" ;
             <lineitem#l_extendedprice> ?ep ;
             <lineitem#l_discount> ?d .
          FILTER(?od >= "1996-01-01 00:00:00" && ?od < "1996-04-01 00:00:00")
        }
        GROUP BY ?ck ?cname ?bal0 ?nname
        ORDER BY DESC(?revenue) ?ck
        LIMIT 20
        """,
    )


@register(
    "sparql_tpch_q14",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def sparql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect) as SPARQL text: conditional aggregation
    via IF() INSIDE SUM, and an expression over two aggregates in the
    projection — the CASE-WHEN ratio shape."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = cached_store(spark, sf_dir)
    out = run_sparql(
        st,
        """
        SELECT (SUM(IF(?pt = "PROMO", ?ep * (1 - ?d), 0.0)) AS ?promo)
               (SUM(?ep * (1 - ?d)) AS ?total)
        WHERE {
          ?l <lineitem#l_partkey_ref> ?p ;
             <lineitem#l_shipdate> ?sd ;
             <lineitem#l_extendedprice> ?ep ;
             <lineitem#l_discount> ?d .
          ?p <part#p_type> ?pt .
          FILTER(?sd >= "1996-09-01 00:00:00" && ?sd < "1996-10-01 00:00:00")
        }
        """,
    )
    return out.select(
        F.round(F.lit(100.0) * F.col("promo") / F.col("total"), 4).alias("promo_pct")
    )


@register(
    "fast_range_count",
    "SELECT CAST(COUNT(l_quantity) AS BIGINT) AS n FROM lineitem",
)
def fast_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) over a constant-predicate pattern answered from the store's
    exact range counts with NO triple scan (ref: ast/optimizers/
    ASTFastRangeCountOptimizer.java; plans/compiler._fast_scan_rewrite)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = cached_store(spark, sf_dir)
    return run_sparql(st, "SELECT (COUNT(*) AS ?n) WHERE { ?s <lineitem#l_quantity> ?o }")


# The direct-mapped store's full predicate inventory: one arm per column
# (count of non-null values = that predicate's triple count) plus one per
# declared foreign key. Mirrors sources/relational.table_to_triples.
_TBL_COLS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "label"],  # the embedding array column stays relational
}
_TBL_FKS = {
    "nation": {"n_regionkey"}, "customer": {"c_nationkey"}, "supplier": {"s_nationkey"},
    "orders": {"o_custkey"}, "lineitem": {"l_orderkey", "l_partkey", "l_suppkey"},
}


def _pred_count_arms() -> str:
    arms = []
    for t, cols in _TBL_COLS.items():
        for c in cols:
            arms.append(
                f"SELECT '{t}#{c}' AS p, CAST(COUNT({c}) AS BIGINT) AS n FROM {t} HAVING COUNT({c}) > 0"
            )
            if c in _TBL_FKS.get(t, set()):
                arms.append(
                    f"SELECT '{t}#{c}_ref' AS p, CAST(COUNT({c}) AS BIGINT) AS n FROM {t} HAVING COUNT({c}) > 0"
                )
    return " UNION ALL ".join(arms)


@register("fast_distinct_preds", f"SELECT p FROM ({_pred_count_arms()})")
def fast_distinct_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT ?p answered as a distinct-term scan over the range-
    count metadata — no triple scan (ref: ast/optimizers/
    ASTDistinctTermScanOptimizer.java)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = cached_store(spark, sf_dir)
    return run_sparql(st, "SELECT DISTINCT ?p WHERE { ?s ?p ?o }")


@register("fast_count_by_pred", f"SELECT p, n FROM ({_pred_count_arms()})")
def fast_count_by_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ?p + COUNT(*) answered as one range count per distinct
    term (ref: ast/optimizers/ASTSimpleGroupByAndCountOptimizer.java)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = cached_store(spark, sf_dir)
    return run_sparql(st, "SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p")


@register(
    "service_label",
    """
    SELECT 'http://ex/nation/' || n_nationkey AS n,
           CAST(n_nationkey AS VARCHAR) AS "nLabel",
           'http://ex/region/' || n_regionkey AS r,
           CASE WHEN n_regionkey % 2 = 0 THEN r_name
                ELSE 'de ' || r_name END AS "rLabel"
    FROM nation JOIN region ON r_regionkey = n_regionkey
    """,
)
def service_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVICE wikibase:label end-to-end (the Wikidata deployment's label
    service — Wikidata runs the reference engine): automatic mode resolves
    the projected ?nLabel / ?rLabel, English labels win over German where
    both exist (even region keys carry lang:en, every region carries
    lang:de), and label-less nations fall back to the term's LOCAL NAME.
    The oracle replays the preference chain and the fallback in SQL."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    reg = read_parquet(spark, f"{sf_dir}/region.parquet")
    RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
    member = nat.select(
        F.concat(F.lit("http://ex/nation/"), F.col("n_nationkey")).alias("s"),
        F.lit("http://ex/memberOf").alias("p"),
        F.concat(F.lit("http://ex/region/"), F.col("n_regionkey")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    lab_en = reg.filter(F.col("r_regionkey") % 2 == 0).select(
        F.concat(F.lit("http://ex/region/"), F.col("r_regionkey")).alias("s"),
        F.lit(RDFS_LABEL).alias("p"),
        F.col("r_name").alias("o_lex"),
        F.lit("lang:en").alias("o_dt"),
    )
    lab_de = reg.select(
        F.concat(F.lit("http://ex/region/"), F.col("r_regionkey")).alias("s"),
        F.lit(RDFS_LABEL).alias("p"),
        F.concat(F.lit("de "), F.col("r_name")).alias("o_lex"),
        F.lit("lang:de").alias("o_dt"),
    )
    st = TripleStore(member.unionByName(lab_en).unionByName(lab_de))
    return run_sparql(
        st,
        """
        PREFIX wikibase: <http://wikiba.se/ontology#>
        SELECT ?n ?nLabel ?r ?rLabel WHERE {
          ?n <http://ex/memberOf> ?r .
          SERVICE wikibase:label { bd:serviceParam wikibase:language "en,de" . }
        }
        """,
    )


@register(
    "graph_subquery_limit",
    """
    WITH ranked AS (
        SELECT 'http://g/' || n_name AS g,
               'http://ex/c/' || c_custkey AS c,
               printf('%012.2f', c_acctbal + 10000) AS bal,
               ROW_NUMBER() OVER (
                   PARTITION BY n_nationkey
                   ORDER BY printf('%012.2f', c_acctbal + 10000) DESC,
                            'http://ex/c/' || c_custkey ASC
               ) AS rn
        FROM customer JOIN nation ON n_nationkey = c_nationkey
    )
    SELECT g, c, bal FROM ranked WHERE rn <= 3
    """,
)
def graph_subquery_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-graph LIMIT: a subquery carrying ORDER BY + LIMIT under
    GRAPH ?g evaluates once per active graph, so its LIMIT 3 is the
    top-3 WITHIN each named graph — one window pass partitioned by the
    graph slot (compiler PerKeySlice), never a per-graph driver loop.
    Balances ride as shifted zero-padded lexicals so string order equals
    numeric order on both engines."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    quads = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        F.concat(F.lit("http://ex/c/"), F.col("c_custkey")).alias("s"),
        F.lit("http://ex/bal").alias("p"),
        F.format_string("%012.2f", F.col("c_acctbal") + 10000).alias("o_lex"),
        F.lit("string").alias("o_dt"),
        F.concat(F.lit("http://g/"), F.col("n_name")).alias("g"),
    )
    st = TripleStore(quads)
    return run_sparql(
        st,
        """
        SELECT ?g ?c ?bal WHERE {
          GRAPH ?g {
            { SELECT ?c ?bal WHERE { ?c <http://ex/bal> ?bal }
              ORDER BY DESC(?bal) ?c LIMIT 3 }
          }
        }
        """,
    )


@register(
    "ntriples_datetime_canon",
    """
    SELECT 'http://ex/o/' || o_orderkey AS s,
           strftime(o_orderdate + INTERVAL 4 HOUR,
                    '%Y-%m-%dT%H:%M:%S') || '.000Z' AS dt_lex
    FROM orders WHERE o_orderkey < 500
    """,
)
def ntriples_datetime_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xsd:dateTime canonicalization through the N-Triples reader: order
    dates serialized with a -04:00 zone offset come back in the
    reference's typed-IV canonical form (millisecond-UTC-Z; ref:
    internal/impl/literal/XSDDateTimeIV) — the oracle shifts the same
    instants to UTC in SQL."""
    import tempfile

    from blazegraph_database_spark.sources import ntriples

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") < 500
    )
    lines = orders.select(
        F.concat(
            F.lit("<http://ex/o/"), F.col("o_orderkey"), F.lit("> "),
            F.lit("<http://ex/date> "),
            F.lit('"'),
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit('-04:00"^^<http://www.w3.org/2001/XMLSchema#dateTime> .'),
        ).alias("value")
    )
    path = tempfile.mkdtemp(prefix="nt_dtc_") + "/orders.nt"
    lines.coalesce(1).write.mode("overwrite").text(path)
    parsed = ntriples.read_ntriples(spark, path)
    return parsed.select(F.col("s"), F.col("o_lex").alias("dt_lex"))


def _rdr_nation_store(spark: SparkSession, sf_dir: str) -> TripleStore:
    """Nation→region membership triples plus sid-keyed provenance metadata
    (the engine's deterministic `<<s|p|o|dt>>` statement-id encoding)."""
    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    base = nat.select(
        F.concat(F.lit("http://ex/nation/"), F.col("n_nationkey")).alias("s"),
        F.lit("http://ex/memberOf").alias("p"),
        F.concat(F.lit("http://ex/region/"), F.col("n_regionkey")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    meta = nat.select(
        F.concat(
            F.lit("<<http://ex/nation/"), F.col("n_nationkey"),
            F.lit("|http://ex/memberOf|http://ex/region/"),
            F.col("n_regionkey"), F.lit("|iri>>"),
        ).alias("s"),
        F.lit("http://ex/src").alias("p"),
        F.concat(F.lit("src:"), F.col("n_nationkey")).alias("o_lex"),
        F.lit("string").alias("o_dt"),
    )
    return TripleStore(base.unionByName(meta))


@register(
    "rdr_sid_bind",
    """
    SELECT 'http://ex/nation/' || n_nationkey AS n,
           'http://ex/region/' || n_regionkey AS r,
           'src:' || n_nationkey AS src
    FROM nation
    """,
)
def rdr_sid_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIND(<<s p o>> AS ?sid) — the RDR statement-id access path (ref:
    SidIV.java + the reference's reif/rdr-02a eval fixture): one
    statement-index scan binds the inner vars plus the sid, which then
    equi-joins the provenance pattern by its deterministic encoding."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _rdr_nation_store(spark, sf_dir)
    return run_sparql(
        st,
        """
        SELECT ?n ?r ?src WHERE {
          BIND(<<?n <http://ex/memberOf> ?r>> AS ?sid)
          ?sid <http://ex/src> ?src .
        }
        """,
    )


@register(
    "rdr_scaffold_query",
    """
    SELECT 'http://ex/nation/' || n_nationkey AS s,
           'http://ex/region/' || n_regionkey AS o,
           'src:' || n_nationkey AS c
    FROM nation
    """,
)
def rdr_scaffold_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A query written in the EXPANDED reification vocabulary answering
    against a sid store — the Reification-Done-Right rewrite (ref: the
    reference's reif/rdr-05a fixture): the rdf:subject/predicate/object
    scaffold folds into an embedded-statement term because the store's
    exact range counts show zero rdf:subject triples."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    st = _rdr_nation_store(spark, sf_dir)
    return run_sparql(
        st,
        """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        SELECT ?s ?o ?c WHERE {
          ?stmt rdf:subject ?s .
          ?stmt rdf:predicate <http://ex/memberOf> .
          ?stmt rdf:object ?o .
          ?stmt <http://ex/src> ?c .
        }
        """,
    )


@register(
    "rdr_history_service",
    """
    SELECT action, CAST(commit AS INT) AS commit, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT 'added' AS action, 1 AS commit FROM customer WHERE c_acctbal > 5000
      UNION ALL
      SELECT 'removed', 2 FROM customer WHERE c_mktsegment = 'BUILDING'
    ) GROUP BY 1, 2 ORDER BY action
    """,
)
def rdr_history_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVICE <bd:rdrhistory> (ref: ServiceRegistry.java:170
    RDRHistoryServiceFactory + sail/RDRHistory.java:61): change events as
    RDR statement metadata — commit 1 inserts high-balance tags, commit 2
    deletes the BUILDING segment triples; the history is then queried with
    ORDINARY SPARQL-star patterns (<<?c ?p ?o>> ?action ?commit), counting
    events per action+commit. The oracle reconstructs both deltas straight
    from the customer table."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.plans.update_parser import apply_update
    from blazegraph_database_spark.sources.relational import table_to_triples
    from blazegraph_database_spark.update.update import UpdatableStore

    cust = table_to_triples(
        read_parquet(spark, f"{sf_dir}/customer.parquet"), "customer", "c_custkey", {}
    )
    us = UpdatableStore.from_store(TripleStore(cust))
    apply_update(
        us,
        'INSERT { ?c <tag#high> "1" } WHERE '
        "{ ?c <customer#c_acctbal> ?b FILTER(?b > 5000) } ; "
        "DELETE { ?c <customer#c_mktsegment> ?seg } WHERE "
        '{ ?c <customer#c_mktsegment> ?seg FILTER(?seg = "BUILDING") }',
        spark,
    )
    out = run_sparql(
        us.query_store,
        """
        SELECT ?action ?commit (COUNT(*) AS ?n) WHERE {
          SERVICE <http://www.bigdata.com/rdf#rdrhistory> {
            <<?c ?p ?val>> ?act ?commit .
          }
          BIND(STRAFTER(STR(?act), "blaze:history:") AS ?action)
        }
        GROUP BY ?action ?commit
        ORDER BY ?action
        """,
    )
    return out.select(
        "action", F.col("commit").cast("int").alias("commit"),
        F.col("n").cast("long").alias("n"),
    )


@register(
    "typed_sum_semantics",
    """
    SELECT 'o:' || l_orderkey AS o,
           CASE WHEN MAX(CASE WHEN l_orderkey % 97 = 0 THEN 1 ELSE 0 END) = 1
                THEN NULL ELSE SUM(l_quantity) END AS total
    FROM lineitem GROUP BY 1
    """,
)
def typed_sum_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed open-world aggregate semantics (round 6; ref: internal/
    constraints/MathBOp.java + SPARQL 1.1 §18.5, pinned by the reference's
    own sparql11-sum-03/04 fixtures): under datatype tracking, SUM over a
    group containing any bound NON-numeric value is a TYPE ERROR — the
    total is unbound for that group, never a best-effort partial sum.
    Every order whose key % 97 == 0 gets one plain-string "n/a" quantity
    injected; its total must come back NULL while clean groups sum."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    qty = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey")).alias("s"),
        F.lit("li#qty").alias("p"),
        F.col("l_quantity").cast("string").alias("o_lex"),
        F.lit("double").alias("o_dt"),
    )
    tainted = (
        li.filter(F.col("l_orderkey") % 97 == 0)
        .select(
            F.concat(F.lit("o:"), F.col("l_orderkey")).alias("s"),
            F.lit("li#qty").alias("p"),
            F.lit("n/a").alias("o_lex"),
            F.lit("string").alias("o_dt"),
        )
        .distinct()
    )
    st = TripleStore(qty.unionByName(tainted)).view(track_dt=True)
    out = run_sparql(
        st,
        "SELECT ?o (SUM(?q) AS ?total) WHERE { ?o <li#qty> ?q } GROUP BY ?o",
    )
    # the typed SUM yields the result LEXICAL with a per-group promoted
    # datatype companion (round 8); this query's driver contract pins the
    # double VALUE — decimal_exact_agg pins the lexical/decimal side
    return out.select("o", F.col("total").cast("double").alias("total"))


@register(
    "typed_open_eq",
    """
    SELECT 'c:' || c_custkey AS c FROM customer
    WHERE c_mktsegment != 'BUILDING' ORDER BY c
    """,
)
def typed_open_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-world typed equality (round 6; ref: internal/constraints/
    CompareBOp.java, pinned by the reference's open-eq-12 fixture): under
    datatype tracking, `?a = ?b` between a numeric-typed and a plain-string
    literal is a TYPE ERROR (row dropped), while numeric-vs-numeric
    compares by VALUE across lexical forms. Every customer carries its
    balance twice — once typed double, once (BUILDING segment only) as a
    plain string with an equal lexical — so exactly the BUILDING rows
    error out of the filter."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    a = cust.select(
        F.concat(F.lit("c:"), F.col("c_custkey")).alias("s"),
        F.lit("c#balA").alias("p"),
        F.col("c_acctbal").cast("string").alias("o_lex"),
        F.lit("double").alias("o_dt"),
    )
    b = cust.select(
        F.concat(F.lit("c:"), F.col("c_custkey")).alias("s"),
        F.lit("c#balB").alias("p"),
        F.col("c_acctbal").cast("string").alias("o_lex"),
        F.when(F.col("c_mktsegment") == "BUILDING", F.lit("string"))
        .otherwise(F.lit("double"))
        .alias("o_dt"),
    )
    st = TripleStore(a.unionByName(b)).view(track_dt=True)
    out = run_sparql(
        st,
        """
        SELECT ?c WHERE {
          ?c <c#balA> ?x . ?c <c#balB> ?y . FILTER(?x = ?y)
        } ORDER BY ?c
        """,
    )
    return out.select("c")


@register(
    "inline_uri_ipv4_range",
    """
    SELECT 'c:' || c_custkey AS c,
           'urn:ipv4:10.' || CAST((c_custkey // 65536) % 256 AS VARCHAR) || '.'
             || CAST((c_custkey // 256) % 256 AS VARCHAR) || '.'
             || CAST(c_custkey % 256 AS VARCHAR) AS ip
    FROM customer
    WHERE c_custkey >= 512 AND c_custkey < 2048
    ORDER BY c
    """,
)
def inline_uri_ipv4_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline-URI factory analog (round 6; ref: internal/
    InlineURIFactory.java + InlineIPv4URIHandler.java): every customer
    carries a urn:ipv4: address URI derived from its key; the range FILTER
    `?ip >= <urn:ipv4:10.0.2.0> && ?ip < <urn:ipv4:10.0.8.0>` compiles to
    the handler's PACKED long key — value order, native comparison in
    codegen — selecting exactly keys [512, 2048). Lexicographic string
    order would also admit e.g. 10.0.20.x; the oracle replays the range
    arithmetically."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    ip = F.concat(
        F.lit("urn:ipv4:10."), ((k / 65536).cast("long") % 256).cast("string"),
        F.lit("."), ((k / 256).cast("long") % 256).cast("string"),
        F.lit("."), (k % 256).cast("string"),
    )
    st = TripleStore(
        cust.select(
            F.concat(F.lit("c:"), k).alias("s"),
            F.lit("c#ip").alias("p"),
            ip.alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        )
    )
    return run_sparql(
        st,
        """
        SELECT ?c ?ip WHERE {
          ?c <c#ip> ?ip .
          FILTER(?ip >= <urn:ipv4:10.0.2.0> && ?ip < <urn:ipv4:10.0.8.0>)
        } ORDER BY ?c
        """,
    )


@register(
    "service_bd_values",
    """
    SELECT 'nation:' || n_nationkey AS n, n_name AS name
    FROM nation WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_12')
    """,
)
def service_bd_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVICE <bd:values> — the VALUES-as-service form (ref:
    eval/ValuesServiceFactory.java:92): the block's bd:values.val params
    become one binding each for the named var, joined against the sibling
    pattern (a val with no match drops out)."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.sources.relational import cached_store

    st = cached_store(spark, sf_dir)
    q = """
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?n ?name WHERE {
      SERVICE <http://www.bigdata.com/rdf#values> {
        bd:serviceParam bd:values.var ?name .
        bd:serviceParam bd:values.val "NATION_3" .
        bd:serviceParam bd:values.val "NATION_7" .
        bd:serviceParam bd:values.val "NATION_12" .
        bd:serviceParam bd:values.val "NO_SUCH_NATION" .
      }
      ?n <nation#n_name> ?name .
    }
    """
    return run_sparql(st, q)


@register(
    "service_stored_query",
    """
    SELECT c, CAST(c_acctbal AS DOUBLE) AS bal
    FROM (SELECT 'customer:' || c_custkey AS c, c_acctbal FROM customer
          WHERE c_acctbal > 9000)
    ORDER BY c LIMIT 50
    """,
)
def service_stored_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-query SERVICE (ref: service/storedquery/StoredQueryService.java
    — applications register SPARQL text under a service IRI; invoking the
    IRI as SERVICE runs it against the store). Registration is idempotent;
    the stored text runs through the ordinary parser/compiler."""
    from blazegraph_database_spark.operators import service
    from blazegraph_database_spark.plans.sparql_parser import run_sparql
    from blazegraph_database_spark.sources.relational import cached_store

    service.register_stored_query(
        "http://app/stored#bigbal",
        "SELECT ?c (xsd:double(?b) AS ?bal) WHERE { ?c <customer#c_acctbal> ?b . "
        "FILTER(xsd:double(?b) > 9000) } ORDER BY ?c LIMIT 50",
    )
    st = cached_store(spark, sf_dir)
    return run_sparql(
        st, "SELECT ?c ?bal WHERE { SERVICE <http://app/stored#bigbal> { } }"
    )


@register(
    "decimal_exact_agg",
    """
    SELECT f,
           CASE WHEN contains(total_s, '.')
                THEN rtrim(rtrim(total_s, '0'), '.') ELSE total_s END AS total
    FROM (
      SELECT l_returnflag AS f,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS total_s
      FROM lineitem GROUP BY l_returnflag
    ) ORDER BY f
    """,
)
def decimal_exact_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigDecimal-scale aggregation (round 8; ref: internal/impl/literal/
    XSDDecimalIV.java:40 + internal/constraints/MathBOp.java's BigDecimal
    branch): xsd:decimal values accumulate EXACTLY — SUM over money-scale
    decimals never picks up binary double rounding, and the result's
    datatype stays xsd:decimal per the XPath promotion lattice. Every
    lineitem price becomes a cents-scale xsd:decimal literal; the per-flag
    totals must equal DuckDB's exact DECIMAL arithmetic digit for digit
    (a double-summing engine diverges in the trailing digits at this
    row count). The oracle renders through the same
    strip-trailing-zeros canonical form as the engine's DEC_LEX."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    # row identity = hash of the full row (harness lineitem has non-unique
    # (orderkey, linenumber) but unique full rows — same rule as
    # relational.subject_col)
    rid = F.concat(
        F.lit("li:"),
        F.lower(F.hex(F.xxhash64(*[F.col(c).cast("string") for c in li.columns]))),
    )
    prices = li.select(
        rid.alias("s"),
        F.lit("li#price").alias("p"),
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string").alias("o_lex"),
        F.lit("decimal").alias("o_dt"),
    )
    flags = li.select(
        rid.alias("s"),
        F.lit("li#flag").alias("p"),
        F.col("l_returnflag").alias("o_lex"),
        F.lit("string").alias("o_dt"),
    )
    st = TripleStore(prices.unionByName(flags).distinct()).view(track_dt=True)
    out = run_sparql(
        st,
        "SELECT ?f (SUM(?p) AS ?total) WHERE "
        "{ ?li <li#flag> ?f . ?li <li#price> ?p } GROUP BY ?f ORDER BY ?f",
    )
    return out.select("f", "total")


@register(
    "float_identity",
    """
    SELECT 'c:' || c_custkey AS c,
           'http://www.w3.org/2001/XMLSchema#float' AS fdt,
           CAST(c_acctbal AS DOUBLE) AS v
    FROM customer
    WHERE c_acctbal = CAST(c_acctbal AS DOUBLE)  -- always true; mirrors the typed filter
    ORDER BY c
    """,
)
def float_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xsd:float first-class TERM IDENTITY (round 9; ref: internal/impl/
    literal/XSDNumericIV.java — float is a distinct IV class, never folded
    into double): every customer stores its balance twice, once
    ^^xsd:float and once ^^xsd:double. DATATYPE(?f) must report xsd:float
    (identity kept through load + query), while FILTER(?f = ?d) compares
    by numeric VALUE across the two families (CompareBOp promotion) — all
    rows survive, each tagged with the float datatype IRI."""
    from blazegraph_database_spark.plans.sparql_parser import run_sparql

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    bal = F.col("c_acctbal").cast("string")
    f_side = cust.select(
        F.concat(F.lit("c:"), F.col("c_custkey")).alias("s"),
        F.lit("c#balF").alias("p"),
        bal.alias("o_lex"),
        F.lit("dt:http://www.w3.org/2001/XMLSchema#float").alias("o_dt"),
    )
    d_side = cust.select(
        F.concat(F.lit("c:"), F.col("c_custkey")).alias("s"),
        F.lit("c#balD").alias("p"),
        bal.alias("o_lex"),
        F.lit("double").alias("o_dt"),
    )
    st = TripleStore(f_side.unionByName(d_side)).view(track_dt=True)
    out = run_sparql(
        st,
        """
        SELECT ?c (DATATYPE(?f) AS ?fdt) (?f + 0.0 AS ?v) WHERE {
          ?c <c#balF> ?f . ?c <c#balD> ?d . FILTER(?f = ?d)
        } ORDER BY ?c
        """,
    )
    return out.select("c", "fdt", F.col("v").cast("double").alias("v"))
