"""Full-text search (SURVEY.md §2.6): distributed inverted index + ranked
keyword search, the Spark-first re-expression of the reference's
FullTextIndex / bds:search service (ref: bigdata-core/bigdata-rdf/src/java/
com/bigdata/rdf/store/.../search/FullTextIndex.java, Hit.java relevance,
and the bds: vocabulary options minRelevance/maxRank/prefixMatch/matchAll).

Index layout: (term, id, tf) + per-doc token length — the DataFrame analog
of the reference's term-ordered B+Tree; on disk it would be written
partitioned/bucketed by term so a keyword lookup prunes to its term's
partitions (POS-index analog for text).

Relevance: tf x idf as integer ppm — each matched (term, doc) contributes
round(tf * 1e6 * N / (doc_len * df)); the per-doc score is the SUM of those
integers. Integer summation makes the score independent of aggregation
order (bit-exact under any shuffle/partial-agg schedule) and lets DuckDB
reproduce it exactly — the float-sum alternative is schedule-dependent in
the last ulp. BM25 ranking (log-based, float) is offered as an option and
is fixture-tested rather than oracle-checked.

Everything is expression-only; the only driver-side values are the query
terms themselves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Lucene's classic English stop set (StopAnalyzer.ENGLISH_STOP_WORDS_SET) —
# what the reference's StandardAnalyzer-backed profiles filter by default.
ENGLISH_STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)


class AnalyzerProfile:
    """A text-analysis profile: tokenizer split pattern + stopword set +
    optional light stemming — the Spark-expression analog of the
    reference's per-language-range analyzer configuration (ref:
    bigdata-core/bigdata/src/java/com/bigdata/search/
    ConfigurableAnalyzerFactory.java:110 — language ranges map to Lucene
    analyzer classes with configurable stopwords; AnalyzerOptions
    STOPWORDS/LIKE/PATTERN). Everything stays a JVM-side expression —
    tokenization, stopword filtering and stemming compile into the scan,
    so an index build is one pass with no Python in the hot path."""

    def __init__(
        self,
        split_re: str = TOKEN_SPLIT_RE,
        stopwords: frozenset = frozenset(),
        stem: bool = False,
        lowercase: bool = True,
    ):
        self.split_re = split_re
        self.stopwords = frozenset(stopwords)
        self.stem = stem
        self.lowercase = lowercase

    def tokens(self, text: Column) -> Column:
        src = F.lower(text) if self.lowercase else text
        toks = F.filter(F.split(src, self.split_re), lambda t: t != "")
        if self.stopwords:
            stop = F.array(*[F.lit(s) for s in sorted(self.stopwords)])
            toks = F.filter(toks, lambda t: ~F.array_contains(stop, t))
        if self.stem:
            toks = F.transform(toks, _stem_en)
        return toks


def _stem_en(t: Column) -> Column:
    """Light English suffix stemmer (s-stemmer + ing/ed), deterministic and
    replayable in ANSI SQL for the oracle: sses→ss, ies→y, ss kept,
    s dropped (len>3), then ing dropped (len>5) / ed dropped (len>4)."""
    n = F.length(t)
    t = (
        F.when(t.endswith("sses"), F.substring(t, 1, n - 2))
        .when(t.endswith("ies"), F.concat(F.substring(t, 1, n - 3), F.lit("y")))
        .when(t.endswith("ss"), t)
        .when(t.endswith("s") & (n > 3), F.substring(t, 1, n - 1))
        .otherwise(t)
    )
    n2 = F.length(t)
    return (
        F.when(t.endswith("ing") & (n2 > 5), F.substring(t, 1, n2 - 3))
        .when(t.endswith("ed") & (n2 > 4), F.substring(t, 1, n2 - 2))
        .otherwise(t)
    )


# Built-in profiles, keyed like the reference's language-range config:
# "default" = the engine's historical lowercase-alnum split (StandardAnalyzer
# minus stopwords), "en" = English stopwords + light stemming, "ws" =
# WhitespaceAnalyzer, "keyword" = KeywordAnalyzer (whole value, one token).
ANALYZERS: dict[str, AnalyzerProfile] = {
    "default": AnalyzerProfile(),
    "en": AnalyzerProfile(stopwords=ENGLISH_STOPWORDS, stem=True),
    "en-nostem": AnalyzerProfile(stopwords=ENGLISH_STOPWORDS),
    "ws": AnalyzerProfile(split_re=r"\s+", lowercase=False),
    "keyword": AnalyzerProfile(split_re=r"(?!)", lowercase=False),
}


def register_analyzer(name: str, profile: AnalyzerProfile) -> None:
    """Register a custom analyzer profile (the ConfigurableAnalyzerFactory
    extension point: language range → analyzer + stopwords)."""
    ANALYZERS[name] = profile


def analyzer_for_language(lang: str | None) -> AnalyzerProfile:
    """RFC-4647-style longest-prefix match of a language tag against the
    registered profiles, falling back to `default` (the reference resolves
    the best matching language range the same way)."""
    if lang:
        code = lang.lower()
        while code:
            if code in ANALYZERS:
                return ANALYZERS[code]
            code = code.rpartition("-")[0]
    return ANALYZERS["default"]


def tokenize(text: Column, analyzer: str = "default") -> Column:
    """Analyzer-profile tokens (default: lowercase alnum split)."""
    return ANALYZERS[analyzer].tokens(text)


def _stem_en_py(t: str) -> str:
    """Python twin of _stem_en — MUST mirror it rule for rule (query tokens
    are analyzed driver-side; index tokens executor-side)."""
    if t.endswith("sses"):
        t = t[:-2]
    elif t.endswith("ies"):
        t = t[:-3] + "y"
    elif t.endswith("ss"):
        pass
    elif t.endswith("s") and len(t) > 3:
        t = t[:-1]
    if t.endswith("ing") and len(t) > 5:
        t = t[:-3]
    elif t.endswith("ed") and len(t) > 4:
        t = t[:-2]
    return t


def analyze_query(query: str, analyzer: str = "default") -> list[tuple[str, bool]]:
    """Tokenize a search query with an analyzer profile, preserving the
    trailing-`*` prefix-match marker per token (ref: the reference analyzes
    the query string through the SAME analyzer as the index — FullTextIndex
    tokenize(); prefix tokens skip stopword filtering there too)."""
    import re as _re

    prof = ANALYZERS[analyzer]
    out: list[tuple[str, bool]] = []
    for raw in query.split():
        prefix = raw.endswith("*")
        raw = raw.rstrip("*")
        s = raw.lower() if prof.lowercase else raw
        for t in _re.split(prof.split_re, s):
            if not t:
                continue
            if prof.stopwords and not prefix and t in prof.stopwords:
                continue
            if prof.stem and not prefix:
                t = _stem_en_py(t)
            out.append((t, prefix))
    return out


def lucene_norm(w: Column) -> Column:
    """Lucene SmallFloat byte315 round-trip (decode(encode(w))) as a pure
    Spark expression. The reference stores each posting's normalized term
    weight as an 8-bit norm in its B+Tree key (ref: search/
    FullTextIndexTupleSerializer.java:138 DefaultSimilarity.encodeNormValue
    = SmallFloat.floatToByte315), so doc-side weights are TRUNCATED before
    the cosine: 1/sqrt(2) scores as 0.625, 1/sqrt(3) as 0.5 (eval fixture
    search-2 pins 0.44/0.35 exactly because of this).
    Math form: keep the top 2 EXPLICIT mantissa bits of w = f x 2^e (the
    8-bit code is sign+exponent+2 mantissa bits after the >>21 shift),
    truncating — (1 + floor((f-1)*4)/4) x 2^e. Exact for every weight the tf/magnitude
    formula can produce at float64; the f32 boundary cases byte315 sees
    differ only when the f64->f32 rounding crosses a 1/8-mantissa step."""
    e = F.floor(F.log2(w))
    p = F.pow(F.lit(2.0), e)
    m = F.floor((w / p - F.lit(1.0)) * F.lit(4.0))
    return F.when(w <= 0, F.lit(0.0)).otherwise((F.lit(1.0) + m / F.lit(4.0)) * p)


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "default",
) -> DataFrame:
    """(term, id, tf, dl): posting list rows with per-doc token length.

    One corpus scan AND one shuffle: the per-doc token length dl is
    computed in the scan (size of the token array, before the explode) and
    rides the groupBy as a functionally-dependent key — the alternative
    window-sum over postings re-shuffles the whole posting list a second
    time just to recover a number already known at tokenize time.

    analyzer selects a registered AnalyzerProfile; query tokens must be
    analyzed with the SAME profile (search(query_analyzer=...)).

    Like the reference's FullTextIndex, per-term document frequency (df),
    the corpus document count (n), the mean document length (avgdl — the
    BM25 corpus stat), and the per-doc L2 magnitude (dmag) are computed at
    BUILD time and stored on the posting rows: search-time relevance then
    reads them off the matched postings instead of re-scanning the whole
    index per query for dfreq/N/dmag/avgdl (r11/r12 — the sf0.1 tf-idf
    search plan drops from 22 Exchanges to 5, and bm25_search loses its
    corpus-scan aggregations entirely). Cost: one window shuffle per stat
    at build, paid once per corpus.

    ``n`` counts documents WITH POSTINGS (distinct id over posting rows),
    matching what the compute-at-search fallback derives from a stat-less
    index — token-less documents contribute no postings and no count
    (ADVICE r11 alignment; previously n counted the raw corpus).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("id"), tokenize(F.col(text_col), analyzer).alias("toks")
    ).select("id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
    # one tokenize pass: the corpus stats below aggregate the materialized
    # posting rows instead of re-running the scan (index build is a
    # load-time, once-per-corpus step)
    posting = (
        toks.groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    stats = posting.agg(
        F.count_distinct("id").alias("n"),
        (F.sum("tf") / F.count_distinct("id")).alias("avgdl"),
    )
    # posting rows are unique (id, term) pairs, so count-per-term == df and
    # the doc-magnitude window reuses the (id,...) grouping's partitioning
    posting = posting.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).withColumn(
        "dmag", F.sqrt(F.sum(F.col("tf") * F.col("tf")).over(Window.partitionBy("id")))
    )
    return posting.crossJoin(F.broadcast(stats)).select(
        "term", "id", "tf", "dl", "df", "n", "dmag", "avgdl"
    )


def search(
    index: DataFrame,
    patterns: list[tuple[str, bool]],
    match_all: bool = False,
    min_relevance_ppm: int = 0,
    max_relevance_ppm: int | None = None,
    max_rank: int | None = 20,
    min_rank: int = 1,
    scored_filter=None,
    scoring: str = "tfidf",
) -> DataFrame:
    """Ranked keyword search over an inverted index.

    patterns: [(token, is_prefix)] — is_prefix matches term LIKE 'tok%'
    (ref: bds:prefixMatch). match_all = every pattern must match the doc
    (ref: bds:matchAllTerms); else any. min_relevance_ppm /
    max_relevance_ppm / max_rank / min_rank mirror bds:minRelevance /
    bds:maxRelevance / bds:maxRank / bds:minRank (minRank+maxRank page
    through results, ref: BDS.java MIN_RANK).

    Returns (id, score_ppm, rank), rank min_rank..max_rank by (score desc,
    id). The pattern set is tiny and broadcast; only matching posting rows
    leave the scan, so cost is O(postings of matched terms), not corpus
    size.
    """
    spark = index.sparkSession
    # index terms are lowercased at build time — lowercase the query tokens
    # too so the search is case-insensitive like the reference's analyzer
    patterns = [(t.lower(), p) for t, p in patterns]
    pats = spark.createDataFrame(patterns, "pat string, is_prefix boolean")
    # stats-bearing index (df/n/dmag stored at build — the reference's
    # FullTextIndex shape): relevance reads them off the matched postings.
    # Foreign index frames without the stats columns keep the compute-at-
    # search fallback (r11).
    has_stats = {"df", "n", "dmag"} <= set(index.columns)
    stat_cols = ["df", "n", "dmag"] if has_stats else []
    if not has_stats:
        n_docs = index.agg(F.count_distinct("id").alias("n"))

    cond = F.when(F.col("is_prefix"), F.col("term").startswith(F.col("pat"))).otherwise(
        F.col("term") == F.col("pat")
    )
    matched = index.join(F.broadcast(pats), on=cond).select(
        "pat", "term", "id", "tf", "dl", *stat_cols
    )
    if not has_stats:
        dfreq = (
            index.join(F.broadcast(matched.select("term").distinct()), on="term")
            .groupBy("term")
            .agg(F.count_distinct("id").alias("df"))
        )
    if scoring == "cosine":
        # Reference-exact relevance (search/TermFrequencyData.java
        # normalize + Hit.java add): both the query and the document are
        # L2-normalized term-frequency vectors and the score is their dot
        # product — always in [0,1]; a prefix pattern contributes once per
        # doc term it matches, with the PATTERN's query weight.
        import math

        qmag = math.sqrt(len(patterns))
        # doc-side weight goes through the reference's stored 8-bit norm
        # (see lucene_norm); the query side stays exact — Hit.add computes
        # queryTermWeight x decoded index weight
        contrib = (
            lucene_norm(F.col("tf") / F.col("dmag")) / F.lit(qmag) * F.lit(1_000_000.0)
        )
        base = matched if has_stats else matched.join(
            F.broadcast(
                index.groupBy("id").agg(
                    F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("dmag")
                )
            ),
            on="id",
        )
        scored = base.groupBy("id").agg(
            F.round(F.sum(contrib)).cast("long").alias("score_ppm"),
            F.count_distinct("pat").alias("npat"),
        )
    else:
        contrib = F.round(
            F.col("tf") * F.lit(1_000_000.0) * F.col("n") / (F.col("dl") * F.col("df"))
        ).cast("long")
        base = (
            matched
            if has_stats
            else matched.join(F.broadcast(dfreq), on="term").crossJoin(F.broadcast(n_docs))
        )
        scored = base.groupBy("id").agg(
            F.sum(contrib).alias("score_ppm"), F.count_distinct("pat").alias("npat")
        )
    if match_all:
        scored = scored.filter(F.col("npat") == len(patterns))
    scored = scored.filter(F.col("score_ppm") >= min_relevance_ppm).drop("npat")
    if max_relevance_ppm is not None:
        scored = scored.filter(F.col("score_ppm") <= max_relevance_ppm)
    if scored_filter is not None:
        # hit-level filters (bds:matchExact/matchRegex) apply BEFORE rank
        # assignment and the maxRank cut, like every other hit filter
        scored = scored_filter(scored)
    if max_rank is None:
        # unranked hit SET (ref: searchInSearch uses DEFAULT_MAX_RANK =
        # Integer.MAX_VALUE — no rank cut, so no global sort either)
        return scored
    # TakeOrderedAndProject: orderBy+limit never materializes a global sort
    top = scored.orderBy(F.col("score_ppm").desc(), F.col("id").asc()).limit(max_rank)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("score_ppm").desc(), F.col("id").asc())  # <= max_rank rows
    out = top.withColumn("rank", F.row_number().over(w))
    if min_rank > 1:
        out = out.filter(F.col("rank") >= min_rank)
    return out


def bm25_search(
    index: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    max_rank: int = 20,
) -> DataFrame:
    """BM25 ranking option (beyond the reference's tf/cosine relevance).
    Float log-based scores — fixture-tested, not oracle-matched."""
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (k1 + 1)) / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    if {"df", "n", "avgdl"} <= set(index.columns):
        # stats-bearing index: df/n/avgdl ride the matched posting rows —
        # no corpus-scan aggregations, no joins at search time (r12; the
        # build-time n/df/avgdl equal what the fallback derives, see
        # inverted_index)
        scored = (
            index.filter(F.col("term").isin(terms))
            .groupBy("id")
            .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
        )
        return scored.orderBy(F.col("bm25").desc(), F.col("id").asc()).limit(max_rank)
    index = index.drop("dmag")
    stats = index.agg(
        F.count_distinct("id").alias("n"), (F.sum("tf") / F.count_distinct("id")).alias("avgdl")
    )
    matched = index.filter(F.col("term").isin(terms))
    dfreq = matched.groupBy("term").agg(F.count_distinct("id").alias("df"))
    scored = (
        matched.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
    )
    return scored.orderBy(F.col("bm25").desc(), F.col("id").asc()).limit(max_rank)
