"""RDF term model.

The reference encodes terms as a hierarchy of "internal values" (IVs) with
inline representations for numerics/dates and a dictionary for the rest
(reference: bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/internal/IV.java).
Spark-first we keep terms as two columns: ``o_lex`` (lexical form, string) and
``o_dt`` (datatype tag) — typed comparison casts at the use site and stays
inside whole-stage codegen; the dictionary encoding lives in
:mod:`blazegraph_database_spark.model.dictionary`.

Datatype tags: ``iri``, ``bnode``, ``string``, ``long``, ``double``,
``decimal``, ``boolean``, ``timestamp`` (``long`` covers the xsd:integer
family, ``double`` covers xsd:double/float, ``decimal`` is FIRST-CLASS so
exact BigDecimal-scale arithmetic — ref: XSDDecimalIV.java — keys off it;
language-tagged literals carry ``lang:<tag>``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

DT_IRI = "iri"
DT_BNODE = "bnode"
DT_STRING = "string"
DT_LONG = "long"
DT_DOUBLE = "double"
DT_DECIMAL = "decimal"
DT_BOOLEAN = "boolean"
DT_TIMESTAMP = "timestamp"
DT_SID = "sid"  # an embedded-statement term in object position


@dataclass(frozen=True)
class Var:
    """A SPARQL variable; compiles to a DataFrame column of the same name."""

    name: str


@dataclass(frozen=True)
class IRI:
    value: str


@dataclass(frozen=True)
class Lit:
    lex: str
    dt: str = DT_STRING

    @classmethod
    def long(cls, v: int) -> "Lit":
        return cls(str(int(v)), DT_LONG)

    @classmethod
    def double(cls, v: float) -> "Lit":
        return cls(repr(float(v)), DT_DOUBLE)


Term = IRI | Lit


def is_const(x) -> bool:
    return isinstance(x, (IRI, Lit, str))


def const_lex(x) -> str:
    """Lexical form of a constant pattern position (str means IRI)."""
    if isinstance(x, str):
        return x
    if isinstance(x, IRI):
        return x.value
    if isinstance(x, Lit):
        return x.lex
    raise TypeError(f"not a constant term: {x!r}")


# Statement ids (RDR / RDF-star embedded statements; ref: SidIV.java): the
# lexical form ``<<s|p|o_lex|o_dt>>`` of the embedded statement's four
# columns, deterministic so Spark and a SQL oracle compute identical ids.
def sid_col(s="s", p="p", o_lex="o_lex", o_dt="o_dt") -> Column:
    """Statement-id column of four term columns (names or Columns),
    by default the current row's own (s, p, o_lex, o_dt)."""
    return F.concat(F.lit("<<"), s, F.lit("|"), p, F.lit("|"), o_lex, F.lit("|"), o_dt, F.lit(">>"))


def sid_lex(s: str, p: str, o_lex: str, o_dt: str) -> str:
    """Statement id of one statement, as a python string (same form as
    :func:`sid_col`)."""
    return f"<<{s}|{p}|{o_lex}|{o_dt}>>"


def is_sid(col: Column) -> Column:
    """True where the lexical column holds a statement id: ``<<…>>`` with
    the four '|'-separated fields :func:`sid_lex` writes (more when the
    object lexical holds a '|')."""
    return col.startswith("<<") & col.endswith(">>") & (F.size(sid_parts(col)) >= 4)


def sid_parts(col: Column) -> Column:
    """The '|'-separated fields of a statement-id column as one array
    column; :func:`sid_fields` reads the four terms off it."""
    return F.split(col.substr(F.lit(3), F.length(col) - 4), r"\|")


def sid_fields(parts: Column) -> tuple[Column, Column, Column, Column]:
    """(s, p, o_lex, o_dt) of a :func:`sid_parts` array. The object lexical
    re-joins the middle fields, so an embedded ``|`` (or a nested sid in
    object position) survives; a nested sid in the embedded subject
    position is not decodable."""
    o_lex = F.array_join(F.slice(parts, 3, F.greatest(F.size(parts) - 3, F.lit(1))), "|")
    return F.element_at(parts, 1), F.element_at(parts, 2), o_lex, F.element_at(parts, -1)
