"""RDR ↔ standard RDF reification conversion.

Blazegraph positions RDR (statement identifiers, `SidIV.java`) as the
efficient replacement for standard reification (rdf:Statement /
rdf:subject / rdf:predicate / rdf:object quads), and its documentation
describes the two models as interconvertible (ref:
bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/internal/impl/bnode/
SidIV.java; bigdata-sails/.../RDRHistory.java uses sids for the same
statement-about-statement purpose). A migration between the two is the
operational surface a user needs when importing legacy reified corpora
into the RDR model or exporting RDR data to reification-only consumers.

Both directions are pure DataFrame joins/aggregations (no Python UDF):

- ``reify``: every sid term (the deterministic ``<<s|p|o_lex|o_dt>>``
  encoding shared by the readers and the SPARQL-star compiler) becomes a
  deterministic statement node carrying the four scaffolding triples;
  metadata rows are re-pointed at the node. The statement node is
  ``_:st_<md5(sid)>`` — md5 so a SQL oracle can reproduce node identity.
- ``unreify``: complete scaffolding groups (type+subject+predicate+object)
  fold back into sid terms; metadata rows re-point to the sid; the inner
  statement is asserted (RDR assertion semantics — the reified statement
  was asserted in the RDR source, so the round trip preserves it).

Encoding constraint (engine-wide, documented at the sid encoder): the
subject, predicate and datatype tag of an embedded statement must not
contain ``|``; the object lexical MAY (it is re-joined from the middle
fields).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blazegraph_database_spark.model.terms import DT_SID, is_sid, sid_col, sid_fields, sid_parts

RDF_TYPE = "rdf:type"
RDF_STATEMENT = "rdf:Statement"
RDF_SUBJECT = "rdf:subject"
RDF_PREDICATE = "rdf:predicate"
RDF_OBJECT = "rdf:object"

# both the compact and the full-IRI spelling match (the RDF readers emit
# full IRIs; programmatic stores may carry the compact vocabulary)
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_TYPE_SP = (RDF_TYPE, _RDF_NS + "type")
_STMT_SP = (RDF_STATEMENT, _RDF_NS + "Statement")
_SUBJ_SP = (RDF_SUBJECT, _RDF_NS + "subject")
_PRED_SP = (RDF_PREDICATE, _RDF_NS + "predicate")
_OBJ_SP = (RDF_OBJECT, _RDF_NS + "object")

_SCAFFOLD_PREDS = list(_SUBJ_SP + _PRED_SP + _OBJ_SP)


def _sid_node(col):
    """Deterministic statement-node label for a sid lexical (md5 keeps the
    identity SQL-recomputable)."""
    return F.concat(F.lit("_:st_"), F.md5(col))


def _decode_sid(df: DataFrame, sid_col: str) -> DataFrame:
    """Add i_s, i_p, i_o, i_odt decoded from the sid column (see
    :func:`~blazegraph_database_spark.model.terms.sid_fields`)."""
    i_s, i_p, i_o, i_odt = sid_fields(sid_parts(F.col(sid_col)))
    return (
        df.withColumn("i_s", i_s)
        .withColumn("i_p", i_p)
        .withColumn("i_odt", i_odt)
        .withColumn("i_o", i_o)
    )


def reify(df: DataFrame) -> DataFrame:
    """RDR store → standard reification. Sid terms in subject or object
    position become ``_:st_<md5>`` statement nodes with rdf:type/subject/
    predicate/object scaffolding; metadata rows re-point at the nodes;
    all other rows (including the asserted inner statements) pass through
    unchanged. One distinct over the sid set; everything else is per-row
    expressions — linear, shuffle only for the scaffold dedup."""
    cols = df.columns
    # the input feeds three filters and the sid-set distinct; truncate its
    # lineage once or a derived input's DAG re-expands per consumer
    df = df.localCheckpoint(eager=False)
    subj_sid = df.filter(is_sid(F.col("s")))
    obj_sid = df.filter((F.col("o_dt") == DT_SID) & is_sid(F.col("o_lex")))
    plain = df.filter(
        ~is_sid(F.col("s")) & ~((F.col("o_dt") == DT_SID) & is_sid(F.col("o_lex")))
    )

    sids = (
        subj_sid.select(F.col("s").alias("sid"))
        .unionByName(obj_sid.select(F.col("o_lex").alias("sid")))
        .distinct()
    )
    dec = _decode_sid(sids, "sid").withColumn("node", _sid_node(F.col("sid")))
    extra = {c: F.lit(None).cast("string") for c in cols if c not in ("s", "p", "o_lex", "o_dt")}

    def scaffold(p, o, odt):
        out = dec.select(
            F.col("node").alias("s"), F.lit(p).alias("p"), o.alias("o_lex"), odt.alias("o_dt")
        )
        for c, v in extra.items():
            out = out.withColumn(c, v)
        return out.select(*cols)

    term_dt = lambda c: F.when(c.startswith("_:"), F.lit("bnode")).otherwise(F.lit("iri"))
    scaffolds = (
        scaffold(RDF_TYPE, F.lit(RDF_STATEMENT), F.lit("iri"))
        .unionByName(scaffold(RDF_SUBJECT, F.col("i_s"), term_dt(F.col("i_s"))))
        .unionByName(scaffold(RDF_PREDICATE, F.col("i_p"), F.lit("iri")))
        .unionByName(scaffold(RDF_OBJECT, F.col("i_o"), F.col("i_odt")))
    )
    repointed_subj = subj_sid.withColumn("s", _sid_node(F.col("s")))
    repointed_obj = obj_sid.withColumn("o_lex", _sid_node(F.col("o_lex"))).withColumn(
        "o_dt", F.lit("bnode")
    )
    return (
        plain.unionByName(repointed_subj)
        .unionByName(repointed_obj)
        .unionByName(scaffolds)
    )


def unreify(df: DataFrame) -> DataFrame:
    """Standard reification → RDR. Statement nodes with COMPLETE
    scaffolding (rdf:type rdf:Statement + subject + predicate + object)
    fold into sid terms; metadata rows about those nodes re-point to the
    sid; the scaffolding is dropped and the inner statement is asserted
    (RDR assertion semantics). Incomplete scaffolding groups are left
    untouched. One aggregation keyed on the statement node; metadata
    re-pointing is two broadcast-friendly equi-joins."""
    cols = df.columns
    # consumed by the scaffold filter, the anti-join, and two re-pointing
    # joins — one lineage truncation, not four plan expansions
    df = df.localCheckpoint(eager=False)
    scaffold = df.filter(
        F.col("p").isin(*_SCAFFOLD_PREDS)
        | (F.col("p").isin(*_TYPE_SP) & F.col("o_lex").isin(*_STMT_SP))
    )
    stmts = (
        scaffold.groupBy("s")
        .agg(
            F.max(F.when(F.col("p").isin(*_TYPE_SP), True)).alias("typed"),
            F.min(F.when(F.col("p").isin(*_SUBJ_SP), F.col("o_lex"))).alias("i_s"),
            F.min(F.when(F.col("p").isin(*_PRED_SP), F.col("o_lex"))).alias("i_p"),
            F.min(F.when(F.col("p").isin(*_OBJ_SP), F.col("o_lex"))).alias("i_o"),
            F.min(F.when(F.col("p").isin(*_OBJ_SP), F.col("o_dt"))).alias("i_odt"),
        )
        .filter(
            F.col("typed") & F.col("i_s").isNotNull() & F.col("i_p").isNotNull() & F.col("i_o").isNotNull()
        )
        .withColumn(
            "sid",
            sid_col("i_s", "i_p", "i_o", "i_odt"),
        )
        .select(F.col("s").alias("node"), "sid", "i_s", "i_p", "i_o", "i_odt")
        .localCheckpoint(eager=False)  # feeds inner + node set + two joins
    )
    # drop scaffolding rows of complete statements only
    complete_nodes = stmts.select("node")
    rest = df.join(
        scaffold.join(complete_nodes, scaffold["s"] == complete_nodes["node"], "left_semi"),
        on=cols,
        how="left_anti",
    )
    # re-point metadata: subject position...
    rest = (
        rest.join(
            stmts.select(F.col("node").alias("s"), F.col("sid").alias("__sid_s")),
            on="s",
            how="left",
        )
        .withColumn("s", F.coalesce(F.col("__sid_s"), F.col("s")))
        .drop("__sid_s")
    )
    # ...and object position (bnode-typed references to a statement node)
    rest = (
        rest.join(
            stmts.select(F.col("node").alias("o_lex"), F.col("sid").alias("__sid_o")),
            on="o_lex",
            how="left",
        )
        .withColumn(
            "o_dt",
            F.when(F.col("__sid_o").isNotNull() & (F.col("o_dt") == "bnode"), F.lit(DT_SID)).otherwise(
                F.col("o_dt")
            ),
        )
        .withColumn(
            "o_lex",
            F.when(F.col("o_dt") == DT_SID, F.coalesce(F.col("__sid_o"), F.col("o_lex"))).otherwise(
                F.col("o_lex")
            ),
        )
        .drop("__sid_o")
        .select(*cols)
    )
    # standard reification is NON-ASSERTING (RDF Semantics §: reifying a
    # statement does not state it): the inner triple is NOT added — if the
    # source also asserted it as a plain triple, that row is already in
    # `rest` (ref: reif/rdr-03a — <<?a :b :c>> matches only the ASSERTED
    # reified statement, a2, never the unasserted a3)
    return rest.distinct()
