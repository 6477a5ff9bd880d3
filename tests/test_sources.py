"""N-Triples/N-Quads/Turtle parsing + parquet store layout tests
(modeled on the reference's RIO integration tests)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.sources import ntriples, parquet_store
from blazegraph_database_spark.sources.rdf_formats import read_turtle

NT = """
# a comment line
<http://ex/a> <http://ex/knows> <http://ex/b> .
<http://ex/a> <http://ex/name> "Alice" .
<http://ex/a> <http://ex/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://ex/a> <http://ex/bio> "say \\"hi\\"" .
<http://ex/b> <http://ex/name> "Bob"@en .
_:x <http://ex/p> _:y .

not a valid line
"""


@pytest.fixture(scope="module")
def nt_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("rdf") / "data.nt"
    p.write_text(NT)
    return str(p)


def test_read_ntriples(spark, nt_file):
    df = ntriples.read_ntriples(spark, nt_file)
    rows = {(r["s"], r["p"], r["o_lex"], r["o_dt"]) for r in df.collect()}
    assert ("http://ex/a", "http://ex/knows", "http://ex/b", "iri") in rows
    assert ("http://ex/a", "http://ex/name", "Alice", "string") in rows
    assert ("http://ex/a", "http://ex/age", "30", "long") in rows
    assert ("http://ex/a", "http://ex/bio", 'say "hi"', "string") in rows
    assert ("http://ex/b", "http://ex/name", "Bob", "lang:en") in rows
    assert ("_:x", "http://ex/p", "_:y", "iri") in rows
    assert df.count() == 6  # comment/blank/invalid lines skipped


def test_ntriples_roundtrip(spark, nt_file, tmp_path):
    df = ntriples.read_ntriples(spark, nt_file)
    out = str(tmp_path / "roundtrip")
    ntriples.write_ntriples(df, out)
    back = ntriples.read_ntriples(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_read_nquads(spark, tmp_path):
    p = tmp_path / "data.nq"
    p.write_text('<http://ex/s> <http://ex/p> "v" <http://ex/g1> .\n')
    df = ntriples.read_nquads(spark, str(p))
    r = df.first()
    assert (r["s"], r["p"], r["o_lex"], r["g"]) == ("http://ex/s", "http://ex/p", "v", "http://ex/g1")


TTL = """
@prefix ex: <http://ex/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:a ex:knows ex:b .
ex:a a ex:Person .
ex:a ex:age "30"^^xsd:integer .
ex:b ex:name "Bob"@en .
<http://other/c> ex:p "plain" .
"""


def test_read_turtle_subset(spark, tmp_path):
    p = tmp_path / "data.ttl"
    p.write_text(TTL)
    rows = {(r["s"], r["p"], r["o_lex"], r["o_dt"]) for r in read_turtle(spark, str(p)).collect()}
    assert ("http://ex/a", "http://ex/knows", "http://ex/b", "iri") in rows
    assert ("http://ex/a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "http://ex/Person", "iri") in rows
    assert ("http://ex/a", "http://ex/age", "30", "long") in rows
    assert ("http://ex/b", "http://ex/name", "Bob", "lang:en") in rows
    assert ("http://other/c", "http://ex/p", "plain", "string") in rows


def test_parquet_store_layouts(spark, tmp_path):
    st = TripleStore(
        spark.createDataFrame(
            [("s1", "p1", "a", "string"), ("s1", "p2", "b", "string"), ("s2", "p1", "c", "string")],
            "s string, p string, o_lex string, o_dt string",
        )
    )
    path = str(tmp_path / "store")
    parquet_store.write_pos_layout(st, path)
    parquet_store.write_spo_layout(st, path, buckets=4)

    back = parquet_store.read_store(spark, path)
    assert back.df.count() == 3
    # persisted stats attached without recompute
    assert back._stats["p1"].count == 2 and back._stats["p2"].count == 1

    # predicate filter prunes partitions: only p1's directory is read
    plan = back.df.filter(F.col("p") == "p1").explain_string() if hasattr(back.df, "explain_string") else None
    scan = back.df.filter(F.col("p") == "p1")
    assert scan.count() == 2

    spo = parquet_store.read_spo(spark, path)
    assert spo.df.count() == 3


def test_bucketed_spo_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on s join subject-subject with NO Exchange on
    either side — the persisted co-location the SPO layout promises."""
    import contextlib
    import io

    rows = [(f"s{i}", "p1", str(i), "long") for i in range(100)]
    st = TripleStore(spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string"))
    parquet_store.write_bucketed_spo(st, "t_bl", buckets=4, path=str(tmp_path / "bl"))
    parquet_store.write_bucketed_spo(st, "t_br", buckets=4, path=str(tmp_path / "br"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        l = parquet_store.read_table(spark, "t_bl").df
        r = parquet_store.read_table(spark, "t_br").df.select(
            F.col("s"), F.col("o_lex").alias("o2")
        )
        joined = l.join(r, on="s")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain(mode="simple")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # bucket spec kills both shuffles
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bl")
        spark.sql("DROP TABLE IF EXISTS t_br")


def test_canonical_date_lex_rules():
    from blazegraph_database_spark.sources.ntriples import canonical_date_lex as c

    assert c("-523-12-31+01:00") == "-0523-12-30"  # the bg1748 ingest form
    assert c("2024-03-05") == "2024-03-05"
    assert c("2024-03-05Z") == "2024-03-05"
    assert c("2024-03-05-05:00") == "2024-03-05"  # negative offset: same day
    assert c("2024-03-01+11:00") == "2024-02-29"  # leap-year rollover
    assert c("2023-03-01+01:00") == "2023-02-28"
    assert c("2024-01-01+01:00") == "2023-12-31"  # year rollover
    assert c("0044-01-01") == "0044-01-01"
    assert c("12024-03-05") == "12024-03-05"  # >4-digit years keep width
    assert c("not-a-date") == "not-a-date"
    assert c("2024-13-05") == "2024-13-05"  # invalid month: lexical kept


def test_canon_date_spark_matches_python(spark):
    from pyspark.sql import functions as F

    from blazegraph_database_spark.sources.ntriples import (
        _canon_date_col, canonical_date_lex,
    )

    no_shift = [
        "2024-03-05", "2024-03-05Z", "2024-03-05-05:00", "0044-01-01",
        "12024-03-05", "-523-12-30", "2024-03-05+00:00",
    ]
    # POSITIVE offsets need calendar rollover — the tiny bulk-scan
    # expression yields NULL (callers keep the lexical; Python readers
    # canonicalize exactly)
    shifted = ["-523-12-31+01:00", "2024-03-01+11:00", "2000-03-01+00:30"]
    # calendar-INVALID month/day: the expression must yield NULL (keep as
    # written) exactly like the Python path, not strip the zone (ADVICE r7:
    # '2024-13-05Z' stored differently depending on ingest path)
    invalid = [
        "2024-13-05Z", "2024-00-10", "2024-04-31", "2024-02-30",
        "2023-02-29Z", "1900-02-29",  # century non-leap
    ]
    # valid leap/edge days must still canonicalize
    leap_ok = ["2024-02-29Z", "2000-02-29", "-524-02-29Z", "2024-01-31Z"]
    df = spark.createDataFrame(
        [(x,) for x in no_shift + shifted + invalid + leap_ok], "lex string"
    )
    got = {r["lex"]: r["c"] for r in df.select("lex", _canon_date_col(F.col("lex")).alias("c")).collect()}
    for x in no_shift + leap_ok:
        assert got[x] == canonical_date_lex(x), x
    for x in shifted:
        assert got[x] is None, x
    for x in invalid:
        # Python keeps invalid dates as written; expression must NULL out
        assert canonical_date_lex(x) == x and got[x] is None, x
