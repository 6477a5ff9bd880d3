"""RDFS(+) forward-chaining inference (SURVEY.md §2.8).

Reference analog: com.bigdata.rdf.rules.RuleFastClosure* / InferenceEngine
(the "fast closure" program over rdfs2/3/5/7/9/11 plus the owl:sameAs /
owl:inverseOf / owl:TransitiveProperty subset). The reference runs rules as
B+Tree joins to fixpoint with truth maintenance; Spark-first this becomes
iterative DataFrame joins with localCheckpoint lineage truncation.

Scale notes:
- Schema triples (subClassOf/subPropertyOf/domain/range/inverseOf) are tiny
  relative to data — they are broadcast in every rule join, so each pass is
  one scan of the data with map-side joins; no data shuffle at all except
  the final distinct.
- Transitive closures (rdfs5/11 on the schema, TransitiveProperty on data)
  run through the property-path closure (operators/paths), so both share
  one driver tier and one set of distributed tiers.
- The outer loop reaches fixpoint in <= 3 passes for standard RDFS rule
  interaction (type triples produced by rdfs2/3/9 only feed rdfs9 again);
  updates maintain the closure from their delta instead (delta_assert /
  dred_retract, called by update.update.UpdatableStore.insert_with_closure
  and delete_with_closure).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.operators import gas, paths
from blazegraph_database_spark.operators.driver_tier import _chk

RDF_TYPE = "rdf:type"
RDFS_SUBCLASS = "rdfs:subClassOf"
RDFS_SUBPROP = "rdfs:subPropertyOf"
RDFS_DOMAIN = "rdfs:domain"
RDFS_RANGE = "rdfs:range"
RDFS_RESOURCE = "rdfs:Resource"
RDFS_LITERAL = "rdfs:Literal"
RDFS_CMP = "rdfs:ContainerMembershipProperty"
RDFS_MEMBER = "rdfs:member"
RDFS_CLASS = "rdfs:Class"
RDFS_DATATYPE = "rdfs:Datatype"
RDF_PROPERTY = "rdf:Property"
OWL_SAMEAS = "owl:sameAs"
OWL_INVERSE = "owl:inverseOf"
OWL_TRANSITIVE = "owl:TransitiveProperty"
OWL_SYMMETRIC = "owl:SymmetricProperty"
OWL_FUNCTIONAL = "owl:FunctionalProperty"
OWL_EQCLASS = "owl:equivalentClass"
OWL_EQPROP = "owl:equivalentProperty"
OWL_RESTRICTION = "owl:Restriction"
OWL_ONPROPERTY = "owl:onProperty"
OWL_HASVALUE = "owl:hasValue"
OWL_INVFUNCTIONAL = "owl:InverseFunctionalProperty"

MAX_ITERS = 32


def transitive_closure(edges: DataFrame) -> DataFrame:
    """Transitive closure of (src, dst): the shared property-path closure
    (operators/paths.transitive_closure — driver tier, then the distributed
    chain / doubling / semi-naive tiers) under the rule engine's column
    names."""
    pairs = edges.select(F.col("src").alias("s"), F.col("dst").alias("o"))
    return paths.transitive_closure(pairs).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )


def tc_retract(
    tc: DataFrame, edges_new: DataFrame, deleted: DataFrame, max_iters: int = MAX_ITERS
) -> DataFrame:
    """Truth maintenance for the RECURSIVE rule set: maintain a transitive
    closure under edge retraction by delete/re-derive (DRed — Gupta/Mumick/
    Subrahmanian). Counting TM cannot cover this case: cyclic derivations
    make derivation counts non-terminating, which is exactly why the
    reference routes TransitiveProperty retraction through its
    justification-search TM rather than counts (ref:
    inf/TruthMaintenance.java retractAll + Justification chains).

    ``tc``: (src, dst) reachability pairs (path length >= 1) under the OLD
    edge set; ``edges_new``: the edges AFTER retraction; ``deleted``: the
    removed edges. Returns the new closure.

    1. OVERESTIMATE — pairs whose some derivation may route through a
       deleted edge: D = (x→*s) ∘ (s,d)∈deleted ∘ (d→*y) ∩ tc, computed
       with two Δ-anchored joins against the old closure.
    2. DELETE — keep = tc \\ D is sound: every derivation of a kept pair
       avoids every deleted edge.
    3. RE-DERIVE — iterate the LINEAR TC program (R = E ∪ E∘R) restricted
       to D: a candidate (x,y) re-enters iff (x,y) ∈ E_new or some edge
       E_new(x,m) reaches a surviving/re-proved (m,y). Every join in the
       loop is D-sized (the overdeleted set), never a closure recompute;
       rounds are bounded by the longest re-proved path.
    """
    key = ["src", "dst"]
    tc = _chk(tc.select(*key))
    deleted = deleted.select(*key)
    e_new = _chk(edges_new.select(*key).distinct())
    # (x, d): x reaches a deleted edge's target through that edge
    d1 = (
        tc.alias("a")
        .join(deleted.alias("e"), F.col("a.dst") == F.col("e.src"))
        .select(F.col("a.src").alias("src"), F.col("e.dst").alias("dst"))
        .unionByName(deleted)
    )
    D = _chk(
        d1.alias("l")
        .join(tc.alias("b"), F.col("l.dst") == F.col("b.src"))
        .select(F.col("l.src").alias("src"), F.col("b.dst").alias("dst"))
        .unionByName(d1)
        .distinct()
        .join(tc, on=key, how="left_semi")
    )
    R = _chk(tc.join(D, on=key, how="left_anti"))  # keep: still-valid pairs
    remaining = D
    for _ in range(max_iters):
        direct = remaining.join(e_new, on=key, how="left_semi")
        via = (
            remaining.alias("c")
            .join(e_new.alias("e"), F.col("c.src") == F.col("e.src"))
            .select("c.src", "c.dst", F.col("e.dst").alias("m"))
            .join(
                R.selectExpr("src as m", "dst"),
                on=["m", "dst"],
                how="left_semi",
            )
            .select("src", "dst")
        )
        newly = _chk(direct.unionByName(via).distinct())
        if newly.isEmpty():
            break
        R = _chk(R.unionByName(newly))
        remaining = _chk(remaining.join(newly, on=key, how="left_anti"))
    return R


def _edges(df: DataFrame, pred: str) -> DataFrame:
    return df.filter(F.col("p") == pred).select(F.col("s").alias("src"), F.col("o_lex").alias("dst"))


def _as_triples(edges: DataFrame, pred: str) -> DataFrame:
    return edges.select(
        F.col("src").alias("s"), F.lit(pred).alias("p"), F.col("dst").alias("o_lex"), F.lit("iri").alias("o_dt")
    )


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, parts)


def _mutual_edges(df: DataFrame, pred: str, eq_pred: str, fold: bool) -> DataFrame:
    """``pred`` edges, plus ``eq_pred`` edges both ways when ``fold``
    (owl:equivalentClass/Property => mutual subClassOf/subPropertyOf; ref
    fast-closure steps 4/6)."""
    edges = _edges(df, pred)
    if fold:
        eq = _edges(df, eq_pred)
        edges = edges.unionByName(eq).unionByName(
            eq.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    return edges


def _type_head(subj: str, extra: list[str]) -> list:
    """Projection of an rdf:type head ``(subj rdf:type dst)``."""
    return [
        F.col(subj).alias("s"), F.lit(RDF_TYPE).alias("p"),
        F.col("dst").alias("o_lex"), F.lit("iri").alias("o_dt"), *extra,
    ]


def _fire_rules(data: DataFrame, subprop, dom, rng, subclass) -> list[DataFrame]:
    """The RDFS data-rule program, rdfs7 → rdfs2/3 → rdfs9, fired from the
    ``data`` rows against CLOSED schema sides — (src, dst) edge frames,
    broadcast in every join. Every rule has exactly one data premise and
    each rule's heads feed only later rules, so one stratified firing is
    complete. Returns the head frames (the input rows are not among them);
    an absent (None) side skips its rule. Columns of ``data`` beyond
    (s, p, o_lex, o_dt) ride along from premise to head, which is how the
    counting callers carry a derivation count through the program."""
    extra = [c for c in data.columns if c not in ("s", "p", "o_lex", "o_dt")]
    heads = []
    if subprop is not None:
        # rdfs7: (s p o) + (p subPropertyOf q) => (s q o)
        inf7 = data.join(F.broadcast(subprop), data["p"] == subprop["src"]).select(
            "s", F.col("dst").alias("p"), "o_lex", "o_dt", *extra
        )
        heads.append(inf7)
        data = data.unionByName(inf7)
    types = [data.filter(F.col("p") == RDF_TYPE)]
    if dom is not None:
        # rdfs2: (p domain c) + (s p o) => (s rdf:type c)
        types.append(data.join(F.broadcast(dom), data["p"] == dom["src"]).select(*_type_head("s", extra)))
    if rng is not None:
        # rdfs3: (p range c) + (s p o) => (o rdf:type c) — IRI objects only
        types.append(
            data.filter(F.col("o_dt") == "iri")
            .join(F.broadcast(rng), data["p"] == rng["src"])
            .select(*_type_head("o_lex", extra))
        )
    heads += types[1:]
    if subclass is not None:
        # rdfs9: (x type c) + (c subClassOf d) => (x type d)
        typed = _union(types)
        heads.append(
            typed.join(F.broadcast(subclass), typed["o_lex"] == subclass["src"]).select(*_type_head("s", extra))
        )
    return heads


def _trivial_axioms(df: DataFrame) -> list[DataFrame]:
    """rdfs4a/4b/6/8/10/12/13: everything-is-a-Resource and the reflexive
    sub-axioms."""
    def head(rows: DataFrame, s, p: str, o) -> DataFrame:
        return rows.select(s.alias("s"), F.lit(p).alias("p"), o.alias("o_lex"), F.lit("iri").alias("o_dt"))

    def typed(cls: str) -> DataFrame:
        return df.filter((F.col("p") == RDF_TYPE) & (F.col("o_lex") == cls))

    resource = F.lit(RDFS_RESOURCE)
    props, classes = typed(RDF_PROPERTY), typed(RDFS_CLASS)
    return [
        # rdfs4a/4b: everything is an rdfs:Resource
        head(df, F.col("s"), RDF_TYPE, resource),
        head(df.filter(F.col("o_dt") == "iri"), F.col("o_lex"), RDF_TYPE, resource),
        # rdfs6: p rdf:type rdf:Property => p subPropertyOf p
        head(props, F.col("s"), RDFS_SUBPROP, F.col("s")),
        # rdfs8/10: c rdf:type rdfs:Class => c subClassOf rdfs:Resource, c subClassOf c
        head(classes, F.col("s"), RDFS_SUBCLASS, resource),
        head(classes, F.col("s"), RDFS_SUBCLASS, F.col("s")),
        # rdfs12: p rdf:type ContainerMembershipProperty => p subPropertyOf rdfs:member
        head(typed(RDFS_CMP), F.col("s"), RDFS_SUBPROP, F.lit(RDFS_MEMBER)),
        # rdfs13: d rdf:type rdfs:Datatype => d subClassOf rdfs:Literal
        head(typed(RDFS_DATATYPE), F.col("s"), RDFS_SUBCLASS, F.lit(RDFS_LITERAL)),
    ]


def rdfs_closure_pass(df: DataFrame, trivial_axioms: bool = False) -> DataFrame:
    """One stratified rule pass: eq-class/eq-prop fold → rdfs5 → rdfs7 →
    rdfs2/3 → rdfs11 → rdfs9 (the reference's fast-closure rule order — each
    rule's outputs feed only later strata, so the pass is complete for
    standard RDFS schemas in one shot). The closed schema triples (the
    rdfs5/11 closures) join the output, and the data rules fire once over
    the closed sides (_fire_rules). Rules whose schema premise is empty are
    skipped entirely — the common case pays only for the rules its
    ontology actually uses.

    ``trivial_axioms=True`` additionally fires rdfs4a/4b/6/8/10/12/13
    (everything-is-a-Resource and reflexive sub-axioms) — off by default,
    matching the reference's InferenceEngine
    ``forwardChainRdfTypeRdfsResource=false`` default: these flood the
    store with rows no real query asks for, which at 100 TB is pure write
    amplification."""
    # One probe job for all schema-premise rules (vs one isEmpty() scan per
    # rule): which schema predicates does this ontology actually use?
    present = {
        r["p"]
        for r in df.filter(
            F.col("p").isin(RDFS_SUBPROP, OWL_EQPROP, RDFS_DOMAIN, RDFS_RANGE, RDFS_SUBCLASS, OWL_EQCLASS)
        )
        .select("p")
        .distinct()
        .collect()
    }
    parts = [df]
    subprop = subclass = None
    if RDFS_SUBPROP in present or OWL_EQPROP in present:  # rdfs5 closure
        subprop = transitive_closure(_mutual_edges(df, RDFS_SUBPROP, OWL_EQPROP, OWL_EQPROP in present))
        parts.append(_as_triples(subprop, RDFS_SUBPROP))
    if RDFS_SUBCLASS in present or OWL_EQCLASS in present:  # rdfs11 closure
        subclass = transitive_closure(_mutual_edges(df, RDFS_SUBCLASS, OWL_EQCLASS, OWL_EQCLASS in present))
        parts.append(_as_triples(subclass, RDFS_SUBCLASS))
    dom = _edges(df, RDFS_DOMAIN) if RDFS_DOMAIN in present else None
    rng = _edges(df, RDFS_RANGE) if RDFS_RANGE in present else None
    parts += _fire_rules(df, subprop, dom, rng, subclass)
    if trivial_axioms:
        parts += _trivial_axioms(df)
    return _union(parts).distinct()


def rdfs_closure(
    store: TripleStore,
    max_passes: int = 1,
    trivial_axioms: bool = False,
    checkpoint_output: bool = True,
) -> TripleStore:
    """Forward closure. One stratified pass is complete for standard RDFS
    rule interaction (see rdfs_closure_pass); pass max_passes>1 to iterate
    to a counted fixpoint for exotic self-referential schemas
    (e.g. subPropertyOf of rdf:type).

    ``checkpoint_output=False`` for single-consumer callers: without the
    output checkpoint the consumer's predicate pushes below the pass's
    union, pruning whole rule branches it never reads (a type-count
    consumer skips computing the subClassOf closure triples entirely —
    5-run medians 3.75 -> 2.51 s on rdfs_closure_types at sf0.1, r12).
    Callers that filter or join the closure more than once should keep the
    checkpoint, or every consumer re-runs the pass."""
    # lazy checkpoints: lineage truncates and every downstream reference
    # (the pass references the input ~6 times; closure consumers re-filter
    # the output repeatedly) reads the once-materialized partitions, but
    # the two stand-alone eager barriers are gone — the first consumer's
    # job materializes both (r11; full-query warm 4.5 -> 3.1 s at sf0.1).
    # Kept lazy over eager: 5-run medians 3.75 vs 4.20 s (r12, settling the
    # r11 driver-run regression as machine noise).
    df = store.df.select("s", "p", "o_lex", "o_dt").distinct().localCheckpoint(eager=False)
    if max_passes == 1:
        out = rdfs_closure_pass(df, trivial_axioms)
        if checkpoint_output:
            out = out.localCheckpoint(eager=False)
        return TripleStore(out)
    n = df.count()
    for _ in range(max_passes):
        df = _chk(rdfs_closure_pass(df, trivial_axioms))
        n2 = df.count()
        if n2 == n:
            break
        n = n2
    return TripleStore(df)


def symmetric_property_closure(df: DataFrame) -> DataFrame:
    """owl:SymmetricProperty: (p type Symmetric) + (s p o) => (o p s)."""
    preds = df.filter((F.col("p") == RDF_TYPE) & (F.col("o_lex") == OWL_SYMMETRIC)).select(
        F.col("s").alias("sym_p")
    )
    inferred = (
        df.join(F.broadcast(preds), df["p"] == preds["sym_p"])
        .select(F.col("o_lex").alias("s"), "p", F.col("s").alias("o_lex"), F.lit("iri").alias("o_dt"))
    )
    return df.unionByName(inferred).distinct()


def functional_property_sameas(df: DataFrame) -> DataFrame:
    """owl:FunctionalProperty: (p type Functional) + (s p o1) + (s p o2)
    => (o1 sameAs o2). Emits the derived sameAs triples (min-object as
    canonical per (s,p) to keep the output linear, not quadratic, in the
    clique size — the sameAs CC kernel restores the full equivalence)."""
    preds = df.filter((F.col("p") == RDF_TYPE) & (F.col("o_lex") == OWL_FUNCTIONAL)).select(
        F.col("s").alias("fp")
    )
    vals = (
        df.filter(F.col("o_dt") == "iri")
        .join(F.broadcast(preds), df["p"] == preds["fp"])
        .select("s", "p", "o_lex")
    )
    canon = vals.groupBy("s", "p").agg(F.min("o_lex").alias("canon"), F.count(F.lit(1)).alias("n"))
    pairs = (
        vals.join(canon, on=["s", "p"])
        .filter((F.col("n") > 1) & (F.col("o_lex") != F.col("canon")))
        .select(F.col("o_lex").alias("s"), F.lit(OWL_SAMEAS).alias("p"), F.col("canon").alias("o_lex"), F.lit("iri").alias("o_dt"))
        .distinct()
    )
    return df.unionByName(pairs).distinct()


def has_value_closure(df: DataFrame) -> DataFrame:
    """owl:hasValue (ref: rules/RuleOwlHasValue.java:57): (x rdf:type a) +
    (a rdf:type owl:Restriction) + (a owl:onProperty p) + (a owl:hasValue v)
    => (x p v). The restriction spec (a, p, v) is schema-sized by
    construction and broadcasts against the data's type triples — one scan,
    no data shuffle. The value keeps its datatype tag through the head, so
    a literal-valued restriction infers a literal triple."""
    restr = df.filter((F.col("p") == RDF_TYPE) & (F.col("o_lex") == OWL_RESTRICTION)).select(
        F.col("s").alias("a")
    )
    onp = df.filter(F.col("p") == OWL_ONPROPERTY).select(
        F.col("s").alias("a"), F.col("o_lex").alias("hv_p")
    )
    hv = df.filter(F.col("p") == OWL_HASVALUE).select(
        F.col("s").alias("a"), F.col("o_lex").alias("hv_o"), F.col("o_dt").alias("hv_dt")
    )
    spec = restr.join(onp, on="a").join(hv, on="a")
    inferred = (
        df.filter(F.col("p") == RDF_TYPE)
        .join(F.broadcast(spec), F.col("o_lex") == F.col("a"))
        .select(
            "s", F.col("hv_p").alias("p"), F.col("hv_o").alias("o_lex"),
            F.col("hv_dt").alias("o_dt"),
        )
    )
    return df.unionByName(inferred).distinct()


def inverse_functional_property_sameas(df: DataFrame) -> DataFrame:
    """owl:InverseFunctionalProperty (ref: rules/
    RuleOwlInverseFunctionalProperty.java:64): (p rdf:type owl:
    InverseFunctionalProperty) + (b p a) + (c p a), b != c => (b sameAs c).
    Same linearization as functional_property_sameas: the MIN subject per
    shared (p, value) acts as canonical, so the output is linear — not
    quadratic — in the clique size, and the sameAs CC kernel restores the
    full equivalence. The shared value keys on (lexical, datatype): the
    int-family identity collapse aside (SURVEY §4), "42"^^A and "42"^^B are
    different terms and must not merge their subjects."""
    preds = df.filter((F.col("p") == RDF_TYPE) & (F.col("o_lex") == OWL_INVFUNCTIONAL)).select(
        F.col("s").alias("ifp")
    )
    vals = (
        df.join(F.broadcast(preds), df["p"] == preds["ifp"])
        .select("s", "p", "o_lex", "o_dt")
        .distinct()
    )
    canon = vals.groupBy("p", "o_lex", "o_dt").agg(
        F.min("s").alias("canon"), F.count(F.lit(1)).alias("n")
    )
    pairs = (
        vals.join(canon, on=["p", "o_lex", "o_dt"])
        .filter((F.col("n") > 1) & (F.col("s") != F.col("canon")))
        .select(
            "s", F.lit(OWL_SAMEAS).alias("p"), F.col("canon").alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        )
        .distinct()
    )
    return df.unionByName(pairs).distinct()


def inverse_of_closure(df: DataFrame) -> DataFrame:
    """owl:inverseOf: (p inverseOf q) + (s p o) => (o q s); declaration is
    symmetric."""
    inv = _edges(df, OWL_INVERSE)
    inv = inv.unionByName(inv.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    inferred = (
        df.filter(F.col("o_dt") == "iri")
        .join(F.broadcast(inv), df["p"] == inv["src"])
        .select(
            F.col("o_lex").alias("s"), F.col("dst").alias("p"), F.col("s").alias("o_lex"), F.lit("iri").alias("o_dt")
        )
    )
    return df.unionByName(inferred).distinct()


# schema-statement collects (transitive-property declarations, chain
# axioms) are schema-sized by construction; the cap turns a pathological
# data set (millions of axiom subjects) into a loud error instead of a
# silent driver stall (VERDICT r4)
SCHEMA_COLLECT_MAX = 10_000


def _bounded_schema_collect(df: DataFrame, what: str) -> list:
    rows = df.limit(SCHEMA_COLLECT_MAX + 1).collect()
    if len(rows) > SCHEMA_COLLECT_MAX:
        raise ValueError(
            f"{what}: more than {SCHEMA_COLLECT_MAX} schema statements — "
            "this is data mis-modeled as schema; refusing the driver-side "
            "rule compilation"
        )
    return rows


def transitive_property_closure(df: DataFrame) -> DataFrame:
    """owl:TransitiveProperty: close every declared-transitive predicate."""
    preds = [
        r["s"]
        for r in _bounded_schema_collect(
            df.filter((F.col("p") == RDF_TYPE) & (F.col("o_lex") == OWL_TRANSITIVE))
            .select("s").distinct(),
            "owl:TransitiveProperty declarations",
        )
    ]
    out = df
    for p in preds:  # declared-transitive predicate list is small (schema)
        closed = transitive_closure(_edges(df, p))
        out = out.unionByName(_as_triples(closed, p))
    return out.distinct()


# Schema predicates whose triples feed rule premises as broadcast sides; a
# delta touching any of these invalidates the closed schema and forces the
# full-recompute path in truth maintenance.
SCHEMA_PREDS = (RDFS_SUBCLASS, RDFS_SUBPROP, RDFS_DOMAIN, RDFS_RANGE, OWL_EQCLASS, OWL_EQPROP)


def _schema_sides(closed: DataFrame):
    """Broadcast-ready schema edge sets pulled from an ALREADY-CLOSED store:
    subPropertyOf/subClassOf come back transitively closed and eq-folded
    (rdfs_closure_pass materialized their closures as triples), so delta
    rule firing needs no transitive_closure recompute."""
    return (
        _edges(closed, RDFS_SUBPROP),
        _edges(closed, RDFS_DOMAIN),
        _edges(closed, RDFS_RANGE),
        _edges(closed, RDFS_SUBCLASS),
    )


def _derivation_counts(delta: DataFrame, sides) -> DataFrame:
    """(s, p, o_lex, o_dt, cnt): per head, the number of its distinct
    derivations whose ONE explicit data premise is a ``delta`` row — every
    (premise, schema edge, rule) combination contributes one."""
    heads = _fire_rules(delta.withColumn("cnt", F.lit(1).cast("long")), *sides)
    return _union(heads).groupBy("s", "p", "o_lex", "o_dt").agg(F.sum("cnt").alias("cnt"))


def delta_assert(closed: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental closure on data-triple insert (ref: TruthMaintenance.java
    assertAll — forward-chain the focus store against the database): the new
    closure is closed ∪ Δ ∪ fire(Δ). Complete because every RDFS rule has
    one data premise; cost is Δ-sized joins plus the union, no corpus scan."""
    return _union([closed, delta, *_fire_rules(delta, *_schema_sides(closed))]).distinct()


def dred_retract(closed: DataFrame, explicit_new: DataFrame, delta: DataFrame) -> DataFrame:
    """Truth maintenance on data-triple retraction via delete/re-derive
    (DRed; ref: TruthMaintenance.java retractAll, which likewise
    forward-chains the focus store to find dependents and re-proves
    survivors against the remaining database).

    1. Overestimate: suspects = Δ ∪ fire(Δ) minus the remaining explicit
       set — everything whose derivation may have used a retracted row
       (Δ-sized joins, broadcast schema).
    2. Delete: candidate = closed ∖ suspects.
    3. Re-derive: restrict candidate to rows that could be a premise of a
       suspect head (one broadcast semi-join scan — suspect subjects are
       few), fire the rules, keep heads that land in the suspect set; loop
       on the re-derived delta (Δ-sized) until empty. Survivors rejoin.

    Total cost: one scan of the closed store (the anti-join + premise
    restriction) plus Δ-sized rule joins — never a closure recompute.
    """
    sides = _schema_sides(closed)
    delta = delta.select("s", "p", "o_lex", "o_dt")
    suspects = _chk(
        _union([delta, *_fire_rules(delta, *sides)])
        .distinct()
        .join(explicit_new, on=["s", "p", "o_lex", "o_dt"], how="left_anti")
    )
    candidate = _chk(closed.join(suspects, on=["s", "p", "o_lex", "o_dt"], how="left_anti"))
    # premise restriction: every rule head's subject is the premise row's s
    # (rdfs7/2/9) or o_lex (rdfs3), so premises of suspect heads lie in rows
    # whose s or o_lex is a suspect subject
    keys = suspects.select("s").distinct()
    pool = _chk(
        candidate.join(F.broadcast(keys), on="s", how="left_semi").unionByName(
            candidate.join(
                F.broadcast(keys.select(F.col("s").alias("o_lex"))), on="o_lex", how="left_semi"
            )
        ).distinct()
    )
    rederived = None
    remaining = suspects
    for _ in range(4):  # strata depth bounds the cascade (7 → 2/3 → 9)
        fired = _union(_fire_rules(pool, *sides)).distinct()
        won = _chk(fired.join(remaining, on=["s", "p", "o_lex", "o_dt"], how="left_semi"))
        if won.isEmpty():
            break
        rederived = won if rederived is None else rederived.unionByName(won).distinct()
        remaining = remaining.join(won, on=["s", "p", "o_lex", "o_dt"], how="left_anti")
        pool = won  # later rounds fire only from the re-derived delta
    out = candidate if rederived is None else candidate.unionByName(rederived).distinct()
    return out


def build_support_counts(closed: DataFrame, explicit: DataFrame) -> DataFrame:
    """Per-derived-triple derivation counts for the RDFS data-rule program
    (counting truth maintenance — the Gupta/Mumick/Subrahmanian "counting"
    algorithm, exact here because the pre-closed schema makes the data-rule
    program non-recursive: every derivation is a bounded-depth tree with
    exactly ONE explicit data premise). The reference tracks the same
    distinction via per-statement StatementEnum.Inferred + justifications
    (ref: inf/TruthMaintenance.java, Justification chains); counts collapse
    the justification store into one long per triple.

    Returns (s, p, o_lex, o_dt, cnt) over DERIVED triples only. The closure
    is explicit ∪ {counts where cnt > 0}; schema-sized by broadcast joins,
    one shuffle on the triple key for the sum."""
    return _derivation_counts(explicit, _schema_sides(closed))


def counting_retract(
    counts: DataFrame, explicit_new: DataFrame, delta: DataFrame, closed: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Truth maintenance on retraction via support-count decrement (SURVEY
    R5; complements `dred_retract`). Because every derivation has exactly
    one explicit premise, derivation counts are LINEAR in the explicit set:
    the counts lost by deleting Δ are exactly the counts the pipeline
    produces from Δ alone. So retraction is: decrement, drop zeros — no
    re-derivation scan, no closure recompute, cost is Δ-sized rule joins
    plus one join against the counts table (vs DRed's extra re-prove pass).

    Returns (new_counts, new_closed). `closed` supplies the broadcast
    schema sides AND the baseline closure (derived schema triples — the
    rdfs5/11 closures — live outside the counts table and survive any data
    retraction untouched); schema deltas must take the recompute path
    (callers gate on `_touches_schema`, same as DRed). `delta` must be a
    subset of the old explicit set."""
    dec = _derivation_counts(delta, _schema_sides(closed))
    key = ["s", "p", "o_lex", "o_dt"]
    adjusted = counts.join(dec.withColumnRenamed("cnt", "dec"), on=key, how="left").withColumn(
        "cnt", F.col("cnt") - F.coalesce(F.col("dec"), F.lit(0))
    )
    new_counts = adjusted.filter(F.col("cnt") > 0).drop("dec")
    # a triple leaves the closure iff it was deleted or its support hit zero
    # AND it is neither still explicit nor still derived
    alive = explicit_new.select(*key).unionByName(new_counts.select(*key))
    dropped = (
        delta.select(*key)
        .unionByName(adjusted.filter(F.col("cnt") <= 0).select(*key))
        .join(alive, on=key, how="left_anti")
    )
    new_closed = closed.join(dropped, on=key, how="left_anti")
    return new_counts, new_closed


OWL_PROPCHAIN = "owl:propertyChainAxiom"
RDF_FIRST = "rdf:first"
RDF_REST = "rdf:rest"
RDF_NIL = "rdf:nil"


def _read_chains(df: DataFrame) -> list[tuple[str, list[str]]]:
    """(superProp, [p1, p2, ...]) for every owl:propertyChainAxiom whose
    chain is an rdf:first/rest list. Schema-sized by definition — the axiom
    triples and their list spines are collected driver-side exactly like
    the reference's rule-program compilation reads its ontology."""
    axioms = {
        r["s"]: r["o_lex"]
        for r in _bounded_schema_collect(
            df.filter(F.col("p") == OWL_PROPCHAIN).select("s", "o_lex"),
            "owl:propertyChainAxiom axioms",
        )
    }
    if not axioms:
        return []
    # rdf:first/rest also encodes DATA collections (Turtle `(...)`), not
    # just axiom spines — the cap is 10x looser here so a list-heavy
    # corpus with a few legitimate chain axioms still compiles; chains
    # themselves are bounded at 32 hops per axiom below
    firsts, rests = {}, {}
    spine_rows = (
        df.filter(F.col("p").isin(RDF_FIRST, RDF_REST))
        .select("s", "p", "o_lex")
        .limit(SCHEMA_COLLECT_MAX * 10 + 1)
        .collect()
    )
    if len(spine_rows) > SCHEMA_COLLECT_MAX * 10:
        raise ValueError(
            f"rdf:first/rest spine collect exceeds {SCHEMA_COLLECT_MAX * 10} "
            "statements — list-heavy data with owl:propertyChainAxiom "
            "present; refusing the driver-side rule compilation"
        )
    for r in spine_rows:
        (firsts if r["p"] == RDF_FIRST else rests)[r["s"]] = r["o_lex"]
    out = []
    for prop, head in axioms.items():
        chain, node, hops = [], head, 0
        while node != RDF_NIL and node in firsts and hops < 32:
            chain.append(firsts[node])
            node = rests.get(node, RDF_NIL)
            hops += 1
        if len(chain) >= 2:
            out.append((prop, chain))
    return out


def property_chain_closure(df: DataFrame, max_iters: int = 8) -> DataFrame:
    """owl:propertyChainAxiom (OWL RL rule prp-spo2): ``p owl:
    propertyChainAxiom (p1 p2 ... pn)`` infers ``(x0 p xn)`` from the edge
    chain ``(x0 p1 x1) ... (xn-1 pn xn)``. Each chain composes as n-1
    equi-joins over per-predicate edge sets; the outer loop re-fires until
    no new triples (chains whose heads feed other chains), bounded by
    ``max_iters``. Per-predicate inputs are filtered scans, so each join
    round touches only the chain's predicates, not the store."""
    chains = _read_chains(df)
    if not chains:
        return df
    out = df
    for _ in range(max_iters):
        new_parts = []
        for prop, chain in chains:
            comp = out.filter(F.col("p") == chain[0]).select(
                F.col("s").alias("x0"), F.col("o_lex").alias("x1")
            )
            for i, p in enumerate(chain[1:], start=1):
                step = out.filter(F.col("p") == p).select(
                    F.col("s").alias(f"x{i}"), F.col("o_lex").alias(f"x{i+1}")
                )
                comp = comp.join(step, on=f"x{i}")
            new_parts.append(
                comp.select(
                    F.col("x0").alias("s"),
                    F.lit(prop).alias("p"),
                    F.col(f"x{len(chain)}").alias("o_lex"),
                    F.lit("iri").alias("o_dt"),
                )
            )
        fresh = new_parts[0]
        for p_ in new_parts[1:]:
            fresh = fresh.unionByName(p_)
        fresh = _chk(
            fresh.distinct().join(
                out.select("s", "p", "o_lex", "o_dt"),
                on=["s", "p", "o_lex", "o_dt"],
                how="left_anti",
            )
        )
        if fresh.isEmpty():
            break
        out = out.unionByName(fresh, allowMissingColumns=True)
    return out


def same_as_components(df: DataFrame) -> DataFrame:
    """(node, canon): owl:sameAs equivalence classes via min-label connected
    components (gas.connected_components — sameAs link sets are
    entity-resolution sized, so they usually take its driver-tier
    union-find)."""
    edges = _edges(df, OWL_SAMEAS)
    return gas.connected_components(edges).select(F.col("node"), F.col("comp").alias("canon"))


def apply_same_as(df: DataFrame) -> DataFrame:
    """Rewrite subjects and IRI objects to their sameAs-canonical id (the
    reference instead expands at query time; materialized canonicalization
    is the batch-friendly equivalent)."""
    comp = same_as_components(df)
    with_s = (
        df.join(F.broadcast(comp), df["s"] == comp["node"], "left")
        .select(F.coalesce("canon", "s").alias("s"), "p", "o_lex", "o_dt")
    )
    with_o = (
        with_s.join(F.broadcast(comp), (with_s["o_lex"] == comp["node"]) & (with_s["o_dt"] == "iri"), "left")
        .select("s", "p", F.coalesce("canon", "o_lex").alias("o_lex"), "o_dt")
    )
    return with_o.filter(F.col("p") != OWL_SAMEAS).distinct()
