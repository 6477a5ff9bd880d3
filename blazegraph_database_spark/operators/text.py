"""Text-analysis operators for training-data pipelines (spec-mandated
additions; SURVEY.md §2.11): token counting, quality scoring, language-ID,
document fingerprinting.

Everything is built-in Column expressions (split/transform/aggregate/filter)
— whole-stage codegen, zero Python UDFs, embarrassingly parallel (per-row,
no shuffle), so throughput scales linearly with input splits at 100 TB.

Hash parity note: the rolling hash used for fingerprinting is a polynomial
char-code hash (h*31+ascii mod 1e9+7) chosen because DuckDB can evaluate the
identical arithmetic (list_reduce), giving the driver an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Materializing the per-doc frequency table at the LM/classifier fan-out
# trades one checkpoint write+read cycle for the re-tokenize scans the extra
# consumers would otherwise run. The trade is corpus-sized: at the ~7 MB
# (compressed) sf1.0 corpus the saved scans are worth ~3 s, at the ~0.6 MB
# sf0.1 corpus the materialization costs ~0.6-0.9 s MORE than the rescans it
# saves (r11 addendum; r12 floor fix). Gated on the source plan's estimated
# size — free to read, no job — with the threshold between those two
# measured points.
TF_CHECKPOINT_MIN_BYTES = 2_000_000


def _fanout_materialize(tf: DataFrame, source: DataFrame) -> DataFrame | None:
    """The lazily-checkpointed per-doc frequency table when the corpus is
    big enough that deriving the global count tables from one materialized
    scan beats re-tokenizing per consumer; None when the caller should use
    direct per-table aggregations instead (at toy scale the direct
    aggregations are cheaper than BOTH the checkpoint and re-evaluating an
    unmaterialized tf subtree per consumer). Perf-only: the derived and
    direct shapes compute identical counts (sum of per-doc frequencies ==
    the global frequency)."""
    try:
        size = int(source._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = TF_CHECKPOINT_MIN_BYTES  # unknown size: keep the checkpoint
    if size >= TF_CHECKPOINT_MIN_BYTES:
        return tf.localCheckpoint(eager=False)
    return None

# BPE-ish tokenization: letter runs, digit runs, single punctuation marks.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS_EN = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "on", "for"]
STOPWORDS_FR = ["le", "la", "les", "de", "et", "un", "une", "est", "dans", "pour"]
STOPWORDS_DE = ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "im", "mit"]

ROLL_MOD = 1_000_000_007
ROLL_MULT = 31


def words(text: Column) -> Column:
    """Whitespace word array of trimmed text (empty text → empty array)."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ws_tokens (whitespace) and re_tokens (BPE-ish regex) counts."""
    c = F.col(text_col)
    return df.withColumn("ws_tokens", F.size(words(c))).withColumn(
        "re_tokens", F.regexp_count(c, F.lit(TOKEN_RE))
    )


def _count_in(ws: Column, vocab: list[str]) -> Column:
    return F.size(F.filter(ws, lambda w: F.lower(w).isin(*vocab)))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score.

    Features (all ratios in [0,1], rounded at the call site if needed):
    n_chars, n_words, punct_ratio (punct chars / chars), stop_ratio
    (stopwords / words), uniq_ratio (distinct words / words). Composite
    score rewards mid-length prose with stopwords and lexical variety —
    the usual pretraining-quality shape (C4/Gopher-style rules).
    """
    c = F.col(text_col)
    ws = words(c)
    n_chars = F.length(c)
    n_words = F.size(ws)
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    stop = _count_in(ws, STOPWORDS_EN)
    uniq = F.size(F.array_distinct(F.transform(ws, F.lower)))
    nz = F.greatest(n_words, F.lit(1))
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_words", n_words)
        .withColumn("punct_ratio", F.round(punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("stop_ratio", F.round(stop / nz, 6))
        .withColumn("uniq_ratio", F.round(uniq / nz, 6))
        .withColumn(
            "quality",
            F.round(
                F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
                + F.least(stop / nz * 5.0, F.lit(1.0)) * 0.3
                + (uniq / nz) * 0.3,
                6,
            ),
        )
    )


LANG_PROFILES: dict[str, list[str]] = {"en": STOPWORDS_EN, "fr": STOPWORDS_FR, "de": STOPWORDS_DE}


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword-profile language ID: count profile hits per language,
    argmax with fixed preference order (en, fr, de), 'und' when all zero."""
    ws = words(F.col(text_col))
    out = df
    for lang, vocab in LANG_PROFILES.items():
        out = out.withColumn(f"{lang}_hits", _count_in(ws, vocab))
    en, fr, de = (F.col(f"{lang}_hits") for lang in ["en", "fr", "de"])
    pred = (
        F.when((en > 0) & (en >= fr) & (en >= de), F.lit("en"))
        .when((fr > 0) & (fr >= de), F.lit("fr"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )
    return out.withColumn("pred_lang", pred)


def rolling_hash(token: Column) -> Column:
    """Polynomial char-code hash with DuckDB-expressible arithmetic."""
    chars = F.transform(F.split(token, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        chars, F.lit(0).cast("long"), lambda h, code: (h * ROLL_MULT + code) % ROLL_MOD
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of word n-gram strings ('w1 w2 w3'); empty if < n words.

    One codegen'd regexp_extract_all over whitespace-normalized text: a
    zero-width lookahead captures the n-word window at every word start
    (lookbehind anchors to start-of-string or the preceding space), so the
    engine emits the overlapping n-grams in one linear scan. The previous
    slice/arrays_zip/transform form produced identical arrays but evaluated
    the concat lambda through the INTERPRETED higher-order-function path —
    the r11 A/B at the sf1.0 scale point read 1.24 s (transform) vs 0.75 s
    (regex) for the same 2.6M shingles, and HOF interpretation scales with
    corpus bytes (guide §1.1/§2: fix per-task work the codegen way).

    Known asymmetry (ADVICE r11, kept for output stability): n == 1 routes
    through words(), whose trim strips only spaces — text padded with tabs
    or newlines yields an empty leading token at n == 1 that the
    whitespace-normalized n >= 2 path would not produce. For n >= 2 the
    regex form matches the old slice/zip form on space-separated text;
    exotic whitespace may differ at the edges."""
    if n == 1:
        return words(text)
    norm = F.regexp_replace(F.trim(text), r"\s+", " ")
    pat = r"(?<= |^)(?=((?:\S+ ){%d}\S+))" % (n - 1)
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def fingerprint(df: DataFrame, text_col: str = "text", k: int = 3, window: int = 4) -> DataFrame:
    """Winnowing document fingerprint (Schleimer et al. 2003 'local
    algorithms for document fingerprinting'): rolling-hash each word k-gram,
    slide a window of `window` hashes, keep each window's min, dedupe.

    Adds: fp_set (sorted distinct selected hashes), n_fp, fp_min.
    """
    hashes = F.transform(word_shingles(F.col(text_col), k), rolling_hash)
    nwin = F.size(hashes) - window + 1
    mins = F.when(F.size(hashes) < window, hashes).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(nwin, F.lit(1))),
            lambda i: F.array_min(F.slice(hashes, i, window)),
        )
    )
    fp = F.array_sort(F.array_distinct(mins))
    return (
        df.withColumn("fp_set", fp)
        .withColumn("n_fp", F.size(F.col("fp_set")))
        .withColumn("fp_min", F.try_element_at(F.col("fp_set"), F.lit(1)))  # null for docs with < k words
    )


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1) as
    integer micro-fractions (hash-stable across engines):

    - dup_word_micro: 1e6 * (1 - distinct words / words) — duplicated-word
      mass of the document;
    - top2gram_micro: 1e6 * (occurrences of the most frequent word 2-gram /
      total 2-grams) — boilerplate repetition.

    Expression-only single scan. The per-row mode count is O(distinct·n)
    in doc length — bounded per document (the same bound Gopher's filters
    assume), embarrassingly parallel across the corpus.
    """
    ws = F.transform(words(F.col(text_col)), F.lower)
    n_words = F.size(ws)
    dup_micro = F.when(n_words <= 0, F.lit(0)).otherwise(
        ((n_words - F.size(F.array_distinct(ws))) * F.lit(1_000_000) / n_words).cast("long")
    )
    grams = F.transform(
        F.arrays_zip(F.slice(ws, 1, F.greatest(n_words - 1, F.lit(0))), F.slice(ws, 2, F.greatest(n_words - 1, F.lit(0)))),
        lambda st: F.concat_ws(" ", st["0"], st["1"]),
    )
    top = F.array_max(
        F.transform(F.array_distinct(grams), lambda g: F.size(F.filter(grams, lambda x: x == g)))
    )
    top_micro = F.when(F.size(grams) <= 0, F.lit(0)).otherwise(
        (top * F.lit(1_000_000) / F.size(grams)).cast("long")
    )
    return df.withColumn("dup_word_micro", dup_micro).withColumn("top2gram_micro", top_micro)


def contamination_flags(
    df: DataFrame,
    probe: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram with a probe (benchmark/eval) corpus — the standard n-gram
    overlap test run before pretraining.

    Shape at 100 TB: the probe side (an eval suite) is tiny relative to the
    corpus — its distinct n-grams broadcast, so the check is one corpus
    scan + a broadcast semi-join keyed on the gram string (hash the gram to
    a long first at extreme scale). Returns (id, n_overlap) per document
    with n_overlap ≥ 1 — downstream either drops or audits those docs.
    """
    d = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(F.lower(F.col(text_col)), n))).alias("g"),
    )
    p = (
        probe.select(
            F.explode(F.array_distinct(word_shingles(F.lower(F.col(text_col)), n))).alias("g")
        )
        .distinct()
    )
    return d.join(F.broadcast(p), on="g").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )


def contamination_flags_bloom(
    df: DataFrame,
    probe: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Decontamination for probe sets TOO BIG TO BROADCAST (the
    contamination_flags scale escape hatch): a Bloom filter built with
    pure DataFrame ops pre-filters corpus grams, then an exact
    (shuffle-join) verification removes the Bloom's false positives — the
    result EQUALS contamination_flags, with no broadcast of the probe
    gram set anywhere.

    Shape at 100 TB: the probe grams reduce to an m_bits/64-row bitmap
    (per-word bit_or — map-side combinable; ~1 MB per 2^26 bits) which
    broadcasts even when the gram set itself is tens of GB; corpus grams
    take k hashed probes each (one explode, ONE broadcast join against
    the bitmap, all-k-bits test), and only the surviving candidates — a
    contamination-sized set, not a corpus-sized one — reach the exact
    verify join, which shuffles on the gram key with no size assumption
    on either side."""
    d = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(F.lower(F.col(text_col)), n))).alias("g"),
    )
    p = (
        probe.select(
            F.explode(F.array_distinct(word_shingles(F.lower(F.col(text_col)), n))).alias("g")
        )
        .distinct()
    )
    m = F.lit(m_bits)
    seeds = F.array(*[F.lit(i) for i in range(k)])
    # build: every probe gram sets k bits; bits pack into 64-bit words via
    # a map-side-combinable bit_or (bitmap = m_bits/64 rows, broadcastable
    # regardless of probe-set size)
    ppos = p.select(
        F.explode(seeds).alias("i"), F.col("g")
    ).select(F.pmod(F.xxhash64("g", "i"), m).alias("pos"))
    bit_of = F.expr("shiftleft(1L, cast(pos % 64 as int))")
    bitmap = (
        ppos.select((F.col("pos") / 64).cast("long").alias("w"), bit_of.alias("bit"))
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
    )
    # probe: each corpus gram needs ALL k bits set — one explode, one
    # broadcast join on the word index, count-k test per (id, gram)
    cpos = d.select(
        "id", "g", F.explode(seeds).alias("i")
    ).select(
        "id", "g", F.pmod(F.xxhash64("g", "i"), m).alias("pos")
    ).select(
        "id", "g",
        (F.col("pos") / 64).cast("long").alias("w"),
        bit_of.alias("bit"),
    )
    cand = (
        cpos.join(F.broadcast(bitmap), on="w")
        .filter(F.col("bits").bitwiseAND(F.col("bit")) == F.col("bit"))
        .groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == k)
        .select("id", "g")
    )
    # exact verify: candidates (contamination-sized) against the probe
    # grams — a plain shuffle semi-join, NO broadcast of p
    verified = cand.join(p.hint("shuffle_hash"), on="g", how="left_semi")
    return verified.groupBy("id").agg(F.count(F.lit(1)).alias("n_overlap"))


# PII patterns kept to a syntax both Spark (Java regex) and common SQL
# engines execute identically — pretraining-pipeline scrub pass.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"
PII_IPV4 = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII counts: n_emails, n_phones, n_ipv4. Expression-only
    (JVM regexp_count under codegen) — embarrassingly parallel, the shape a
    100 TB scrub pass needs (one scan, no shuffle)."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_emails": F.regexp_count(t, F.lit(PII_EMAIL)),
            "n_phones": F.regexp_count(t, F.lit(PII_PHONE)),
            "n_ipv4": F.regexp_count(t, F.lit(PII_IPV4)),
        }
    )


def pii_scrub(df: DataFrame, text_col: str = "text", token: str = "[PII]") -> DataFrame:
    """Redact matched PII spans in place (same single-scan shape)."""
    t = F.col(text_col)
    for pat in (PII_EMAIL, PII_PHONE, PII_IPV4):
        t = F.regexp_replace(t, pat, token)
    return df.withColumn(text_col, t)


def _md5_bucket(col: Column, modulo: int) -> Column:
    """Deterministic [0, modulo) bucket from the md5 hex prefix — the
    cross-engine hash surface (same arithmetic as dedup.md5_hash32, which a
    SQL oracle reproduces bit-for-bit)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % modulo


def dataset_split(
    df: DataFrame,
    id_col: str = "doc_id",
    thresholds: tuple = (("train", 9000), ("val", 9500), ("test", 10000)),
    seed: str = "s0",
) -> DataFrame:
    """Deterministic train/val/test assignment for training corpora: each
    row hashes (seed, id) into a [0, 10000) bucket and takes the first
    split whose cumulative permyriad threshold covers it — 90/5/5 by
    default. Pure expression (one scan, no shuffle, no RNG state), so the
    SAME rows land in the SAME split on every run, at any scale, on any
    cluster layout — the property a reproducible data pipeline needs.
    Adds `bucket` and `split` columns."""
    b = _md5_bucket(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")), 10000)
    expr = None
    for name, hi in reversed(thresholds):
        expr = F.lit(name) if expr is None else F.when(b < hi, F.lit(name)).otherwise(expr)
    return df.withColumn("bucket", b).withColumn("split", expr)


def top_ngrams(df: DataFrame, n: int = 2, text_col: str = "text") -> DataFrame:
    """Corpus-wide word-n-gram frequencies — the vocabulary/merge-table
    builder of a training pipeline (the counting pass a BPE/WordPiece
    trainer runs per merge round, here at word granularity). One explode +
    one count aggregation: partial (map-side) counts combine before the
    single shuffle on the gram key, so the reduce moves one row per
    distinct gram per partition — at 100 TB the shuffle is vocabulary-
    sized, not corpus-sized. Callers take top-k with orderBy().limit()."""
    ws = words(F.col(text_col))
    idx = F.when(
        F.size(ws) >= n, F.sequence(F.lit(1), F.size(ws) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(n)])
    )
    return (
        df.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def stratified_sample(
    df: DataFrame,
    rates: dict,
    group_col: str = "source",
    id_col: str = "doc_id",
    default_permyriad: int = 0,
    seed: str = "mix",
) -> DataFrame:
    """Deterministic domain-mixture sampling: keep each group at its own
    rate (``rates = {group: permyriad}``, e.g. {"en": 8000} keeps 80% of
    English rows). Each row hashes (seed, group, id) into [0, 10000) and
    survives iff bucket < rate — a pure filter expression: no shuffle, no
    RNG state, reproducible row-for-row at any scale and any partitioning,
    which is what a rebuildable training mixture requires. Groups absent
    from ``rates`` fall to ``default_permyriad``."""
    b = _md5_bucket(
        F.concat(F.lit(seed + ":"), F.col(group_col), F.lit(":"), F.col(id_col).cast("string")),
        10000,
    )
    rate = F.lit(default_permyriad)
    for g, r in sorted(rates.items()):
        rate = F.when(F.col(group_col) == g, F.lit(r)).otherwise(rate)
    return df.filter(b < rate)


def interdoc_repetition(
    df: DataFrame, k: int = 8, min_df: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inter-document substring repetition: the fraction of a document's
    word-k-gram windows that also occur in other documents — the
    boilerplate/template-contamination signal large-scale cleaning uses
    (repeated navigation chrome, license blocks, mirrored passages).

    Two linear passes, no pairwise comparison: (1) window corpus document
    frequency via one map-side-combined count on the window key; (2) join
    the per-doc windows back to flag those with df >= min_df. Both
    shuffles move one row per distinct window — never doc×doc. Returns
    (id, n_windows, n_repeated, repeated_ppm), integer ppm for exact
    cross-engine comparison."""
    ws = words(F.col(text_col))
    idx = F.when(
        F.size(ws) >= k, F.sequence(F.lit(1), F.size(ws) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(k)])
    )
    win = df.select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
    dfreq = win.distinct().groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    flagged = win.join(dfreq, on="gram").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("df") >= min_df, 1).otherwise(0)).alias("n_repeated"),
    )
    base = df.select(F.col(id_col).alias("id"))
    return base.join(flagged, on="id", how="left").select(
        "id",
        F.coalesce(F.col("n_windows"), F.lit(0)).alias("n_windows"),
        F.coalesce(F.col("n_repeated"), F.lit(0)).alias("n_repeated"),
        F.floor(
            F.coalesce(F.col("n_repeated"), F.lit(0))
            * 1_000_000
            / F.greatest(F.coalesce(F.col("n_windows"), F.lit(0)), F.lit(1))
        ).cast("long").alias("repeated_ppm"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    shards: int = 8,
    seed: str = "pack",
) -> DataFrame:
    """Concat-and-chunk sequence packing for training batches: documents
    are sharded deterministically (md5 bucket — each shard packs
    independently, so shards scale out with no global coordination),
    ordered by id within the shard, and assigned
    ``seq = floor(tokens_before_this_doc / budget)`` — the greedy
    streaming pack a tokenize-and-concat loader performs. Window state is
    per-shard (one shuffle on shard, bounded partitions); at 100 TB pick
    shards ≈ cluster parallelism. Adds (shard, n_tokens, seq)."""
    from pyspark.sql.window import Window

    t = F.trim(F.col(text_col))
    n_tokens = F.size(F.split(t, r"\s+"))
    out = df.withColumn(
        "shard", _md5_bucket(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")), shards)
    ).withColumn("n_tokens", n_tokens)
    w = Window.partitionBy("shard").orderBy(id_col)
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return out.withColumn(
        "seq", F.floor(cum_before / F.lit(float(budget))).cast("long")
    )


def char_trigrams(text: Column) -> Column:
    """Array of character trigrams of the lowercased, whitespace-collapsed
    text (docs shorter than 3 chars → empty array). Pure expressions."""
    # explicit class = RE2's \s (DuckDB oracle); Java's \s also eats
    # \x0B, which would silently diverge on vertical-tab mojibake
    t = F.regexp_replace(F.lower(F.trim(text)), "[ \t\n\f\r]+", " ")
    n = F.length(t)
    return F.when(n < 3, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), n - 2), lambda i: t.substr(i, F.lit(3)))
    )


def rare_trigram_fraction(
    df: DataFrame, max_count: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-statistics gibberish signal: the fraction of a document's
    character trigrams whose CORPUS occurrence count is <= max_count.
    Random strings, mojibake, and encoding damage are built from trigrams
    the rest of the corpus never produces; natural text reuses common ones
    (the cross-document counterpart of the intra-document repetition
    signals). Integer counts and an exact ratio — SQL-oracle-reproducible.

    Two linear passes at 100 TB: one trigram-count aggregation
    (vocabulary-sized shuffle, map-side combined), one explode+join+ratio
    pass; no Python anywhere. Returns (id, n_trigrams, rare_frac)."""
    tris = df.select(
        F.col(id_col).alias("id"), F.explode(char_trigrams(F.col(text_col))).alias("tri")
    )
    counts = tris.groupBy("tri").agg(F.count(F.lit(1)).alias("c"))
    return (
        tris.join(counts, on="tri")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(
                F.sum(F.when(F.col("c") <= max_count, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("rare_frac"),
        )
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    shards: int = 16,
    seed: str = "shuf",
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    pseudo-random but REPRODUCIBLE position — hash (seed, id) to a key,
    shard = key mod shards, pos = rank of the key within its shard. Same
    corpus + same seed = identical order on any cluster layout, and a new
    seed is a fresh permutation — the epoch-shuffle step of a training
    pipeline without an RNG state file.

    Scale: no global sort and no single-partition window — the rank
    window partitions by shard, so the work spreads across `shards`
    parallel groups (pick shards ~ cluster width at 100 TB). md5-derived
    keys keep the hash surface SQL-recomputable (same arithmetic as
    dataset_split)."""
    from pyspark.sql.window import Window

    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    out = df.withColumn("skey", key).withColumn("shard", (F.col("skey") % shards).cast("int"))
    w = Window.partitionBy("shard").orderBy("skey", id_col)
    return out.withColumn("pos", F.row_number().over(w))


def stratified_sample_exact(
    df: DataFrame,
    quotas: dict,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "strat",
) -> DataFrame:
    """Exact-quota stratified sampling: keep EXACTLY ``quotas[group]`` rows
    per group (fewer only if the group is smaller), chosen by
    deterministic hash rank — the fixed-budget counterpart of
    stratified_sample's keep-rate form (a training mixture often specifies
    "200k docs of code, 50k of math", not rates). Reproducible
    row-for-row; groups not in ``quotas`` are dropped.

    Scale: one window partitioned by group — parallel across groups; the
    rank order is the md5 hash (SQL-recomputable), so the oracle can
    replay the exact member set."""
    from pyspark.sql.window import Window

    rk = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed + ":"),
                    F.col(group_col).cast("string"),
                    F.lit(":"),
                    F.col(id_col).cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    quota = None
    for g, n in sorted(quotas.items()):
        quota = (
            F.when(F.col(group_col) == g, F.lit(int(n)))
            if quota is None
            else quota.when(F.col(group_col) == g, F.lit(int(n)))
        )
    quota = quota.otherwise(F.lit(0)) if quota is not None else F.lit(0)
    w = Window.partitionBy(group_col).orderBy(rk, id_col)
    return (
        df.withColumn("srank", F.row_number().over(w))
        .filter(F.col("srank") <= quota)
        .drop("srank")
    )


def temperature_rates(
    df: DataFrame,
    budget: int,
    alpha_sqrt: bool = True,
    group_col: str = "lang",
) -> dict:
    """Temperature-scaled mixture rates (the mT5/XLM-R reweighting:
    sample domain i proportional to p_i^alpha, alpha<1 up-weighting
    low-resource domains). With alpha=0.5 the weight is sqrt(n_i); to stay
    integer-exact cross-engine (a SQL oracle must reproduce the rates
    bit-for-bit) the weight is floor(sqrt(n_i)) and every subsequent step
    is integer arithmetic:

        w_i      = isqrt(n_i)
        target_i = budget * w_i // sum(w)
        rate_i   = min(10000, 10000 * target_i // n_i)   [permyriad]

    Returns {group: permyriad} for stratified_sample. The group-count
    collect is mixture-schema-sized (one row per domain), never corpus-
    sized."""
    import math

    counts = {
        r["g"]: r["n"]
        for r in df.groupBy(F.col(group_col).alias("g")).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not alpha_sqrt:
        raise NotImplementedError("only alpha=0.5 (sqrt) is integer-exact")
    w = {g: math.isqrt(n) for g, n in counts.items()}
    sw = sum(w.values()) or 1
    rates = {}
    for g, n in counts.items():
        target = budget * w[g] // sw
        rates[g] = min(10000, 10000 * target // n)
    return rates


def resample_epochs(
    df: DataFrame,
    rates: dict,
    group_col: str = "source",
    id_col: str = "doc_id",
    default_permyriad: int = 0,
    seed: str = "epoch",
) -> DataFrame:
    """Deterministic resampling WITH repetition: ``rates`` in permyriad may
    exceed 10000 — 25000 means every row appears twice and survives a 50%
    hash-filter for the third copy (2.5 "epochs" of that domain, the
    standard low-resource upsampling move). Downsampling (<10000) matches
    stratified_sample exactly.

    Pure expressions: each row explodes into ceil(rate/10000) candidate
    copies (bounded by the mixture spec, not the data) tagged rep=0,1,...;
    copy k survives iff rate - 10000*k > bucket(seed, group, id, k). Output
    carries a ``rep`` column so downstream shuffles (dataset_shuffle) can
    interleave copies. Reproducible row-for-row at any scale/partitioning;
    no RNG state, no driver loop."""
    rate = F.lit(default_permyriad)
    for g, r in sorted(rates.items()):
        rate = F.when(F.col(group_col) == g, F.lit(int(r))).otherwise(rate)
    out = df.withColumn("__rate", rate)
    reps = F.explode(F.sequence(F.lit(0), F.floor((F.col("__rate") - 1) / 10000).cast("int")))
    out = out.filter(F.col("__rate") > 0).withColumn("rep", reps)
    b = _md5_bucket(
        F.concat(
            F.lit(seed + ":"),
            F.col(group_col),
            F.lit(":"),
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.col("rep").cast("string"),
        ),
        10000,
    )
    return out.filter(F.col("__rate") - F.lit(10000) * F.col("rep") > b).drop("__rate")


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1 — public).
GOPHER_BULLET_RE = r"^\s*[-*•]\s"
GOPHER_ELLIPSIS_RE = r"(\.\.\.|…)\s*$"


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_distinct_stopwords: int = 2,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Gopher repetition-free quality rules (Rae et al. 2021) as one pass of
    pure Column expressions: word-count bounds, mean word length band,
    alphabetic-word fraction, distinct-stopword floor, symbol (#/...)
    ratio, bullet-start and ellipsis-end line ratios. Adds one column per
    feature plus ``gopher_pass`` (1/0). Per-row, no shuffle — linear at any
    corpus size; the pass decision uses the ROUNDED features so a SQL
    replay of the same arithmetic agrees at the thresholds."""
    stop = stopwords if stopwords is not None else STOPWORDS_EN
    c = F.trim(F.col(text_col))
    ws = words(c)
    n_words = F.size(ws)
    nz = F.greatest(n_words, F.lit(1))
    wl = F.aggregate(ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    ws_lower = F.transform(ws, F.lower)
    n_stop = F.size(
        F.filter(F.array(*[F.lit(s) for s in stop]), lambda s: F.array_contains(ws_lower, s))
    )
    sym = F.regexp_count(c, F.lit("#")) + F.regexp_count(c, F.lit(r"\.\.\."))
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet = F.size(F.filter(lines, lambda l: l.rlike(GOPHER_BULLET_RE)))
    ell = F.size(F.filter(lines, lambda l: l.rlike(GOPHER_ELLIPSIS_RE)))
    mean_word_len = F.round(wl / nz, 4)
    alpha_frac = F.round(alpha / nz, 6)
    symbol_ratio = F.round(sym / nz, 6)
    bullet_ratio = F.round(bullet / n_lines, 6)
    ellipsis_ratio = F.round(ell / n_lines, 6)
    gopher_pass = (
        n_words.between(min_words, max_words)
        & mean_word_len.between(min_mean_word_len, max_mean_word_len)
        & (alpha_frac >= min_alpha_frac)
        & (n_stop >= min_distinct_stopwords)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_ratio <= max_bullet_ratio)
        & (ellipsis_ratio <= max_ellipsis_ratio)
    )
    return (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("alpha_frac", alpha_frac)
        .withColumn("n_stop", n_stop)
        .withColumn("symbol_ratio", symbol_ratio)
        .withColumn("bullet_ratio", bullet_ratio)
        .withColumn("ellipsis_ratio", ellipsis_ratio)
        .withColumn("gopher_pass", gopher_pass.cast("int"))
    )


def unigram_logprob(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus-trained unigram LM score per document — the in-engine analog of
    the CCNet/KenLM perplexity quality signal, with the model TRAINED ON THE
    CORPUS ITSELF so the whole computation is deterministic and
    SQL-replayable (no external model file).

    Plan shape: lowercased whitespace tokens → per-doc term frequencies
    (map-side partial agg) → vocabulary counts (one shuffle) → tf ⋈ vocab on
    the word (one shuffle; the vocab side has ONE row per key, so key skew on
    hot words is join-safe) → per-doc weighted mean of -ln(cnt/total). The
    corpus-total token count rides in as a broadcast single-row frame. Empty
    documents produce no tokens and therefore no output row.

    Returns (id_col, n_tokens, neg_logprob); lower neg_logprob = more
    typical of the corpus."""
    tok = df.select(
        F.col(id_col), F.explode(F.transform(words(F.col(text_col)), F.lower)).alias("w")
    )
    # ONE tokenize scan: vocab counts derive from the per-doc tf table
    # (sum of per-doc counts == global count), which checkpoints lazily at
    # the fan-out — the old second tok consumer re-ran the whole
    # explode+shuffle for vocabulary (r11; guide §2.3 aggregate first,
    # scale_notes fan-out rule)
    tf = tok.groupBy(id_col, "w").agg(F.count("*").alias("tf"))
    mat = _fanout_materialize(tf, df)
    if mat is not None:
        tf = mat
        vocab = tf.groupBy("w").agg(F.sum("tf").alias("cnt"))
    else:  # toy scale: aggregate the tokens directly (identical counts)
        vocab = tok.groupBy("w").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        tf.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * -F.log(F.col("cnt") / F.col("total"))) / F.sum("tf"), 4
            ).alias("neg_logprob"),
        )
    )


def domain_cap(
    df: DataFrame,
    domain_col: str = "source",
    cap: int = 10,
    order_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document quota (the CCNet/RefinedWeb host-capping move):
    keep at most ``cap`` documents per domain, best-``order_col`` first, ties
    broken by ``id_col`` so the cut is deterministic under any partitioning.
    One shuffle on the domain key; AQE's skew-join/partition splitting keeps
    a mega-domain from pinning an executor, and the cap itself is exactly the
    guard that makes downstream work domain-balanced at 100 TB."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(domain_col).orderBy(F.col(order_col).desc(), F.col(id_col).asc())
    return df.withColumn("domain_rank", F.row_number().over(w)).filter(
        F.col("domain_rank") <= F.lit(cap)
    )


def canonical_url(url: Column) -> Column:
    """URL canonicalization for crawl dedup — the normalize-before-hash
    step every large-scale web pipeline runs ahead of exact URL dedup.
    Pure expressions (one codegen pass, no UDF), deterministic, and
    replayable in ANSI SQL for the oracle. Rules:

      1. trim; drop the #fragment
      2. lowercase scheme and host; strip a leading "www."
      3. strip default ports (:80 for http, :443 for https)
      4. drop tracking params (utm_*, fbclid, gclid, ref) and SORT the
         survivors for order-insensitive identity
      5. strip a trailing "/" from the path; drop an empty "?"

    Malformed inputs (no scheme://host) canonicalize to their trimmed
    form — never NULL, so dedup still groups them consistently."""
    u = F.regexp_replace(F.trim(url), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    tail = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(tail, r"/$", "")
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda kv: (kv != "")
            & ~kv.rlike(r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="),
        )
    )
    qs = F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
        F.lit("")
    )
    return F.when(
        scheme == "", F.trim(url)
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, qs))


def url_dedup(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by canonical URL: one partial-agg shuffle on the
    canonical form, min-id representative (same discipline as exact text
    dedup). Returns (canon_url, keep_id, n_dups)."""
    return (
        df.select(canonical_url(F.col(url_col)).alias("canon_url"), F.col(id_col))
        .groupBy("canon_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", alpha: float = 1.0
) -> DataFrame:
    """Corpus-trained BIGRAM LM score per document (round 6) — one order up
    from unigram_logprob, the shape of the CCNet/KenLM n-gram perplexity
    filter, trained on the corpus itself so it is deterministic and
    SQL-replayable. Per bigram (w1,w2): add-alpha conditional
    p(w2|w1) = (c(w1 w2) + alpha) / (c_ctx(w1) + alpha * V), with c_ctx
    counting w1's occurrences AS A CONTEXT (tokens with a successor) and V
    the unigram vocabulary size; the doc score is the mean -ln p over its
    bigrams.

    Scale shape: the bigram LM table is |V|² worst-case — far too big to
    broadcast at corpus scale — so doc-bigram frequencies JOIN the count
    tables on their keys (hash join, one row per key on the build side =
    skew-safe); only the two scalar totals (V) ride a broadcast. Documents
    with fewer than 2 tokens yield no bigrams and no output row.

    Returns (id_col, n_bigrams, neg_logprob)."""
    toks = df.select(
        F.col(id_col), F.transform(words(F.col(text_col)), F.lower).alias("ws")
    )
    big = toks.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2")
    # ONE bigram scan (r11): pair and context counts derive from the
    # per-doc bigram frequencies (identical sums) — the old three `big`
    # consumers re-ran the tokenize+zip+explode pass each; vsize keeps its
    # own scan because the vocabulary includes final/lone words that never
    # appear as bigram members
    bf = big.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("bf"))
    mat = _fanout_materialize(bf, df)
    if mat is not None:
        bf = mat
        pair_cnt = bf.groupBy("w1", "w2").agg(F.sum("bf").alias("c12"))
        ctx_cnt = bf.groupBy("w1").agg(F.sum("bf").alias("c1"))
    else:  # toy scale: aggregate the bigrams directly (identical counts)
        pair_cnt = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
        ctx_cnt = big.groupBy("w1").agg(F.count("*").alias("c1"))
    vsize = (
        df.select(F.explode(F.transform(words(F.col(text_col)), F.lower)).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    a = F.lit(float(alpha))
    return (
        bf.join(pair_cnt, ["w1", "w2"])
        .join(ctx_cnt, "w1")
        .crossJoin(F.broadcast(vsize))
        .groupBy(id_col)
        .agg(
            F.sum("bf").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("bf")
                    * -F.log((F.col("c12") + a) / (F.col("c1") + a * F.col("v")))
                )
                / F.sum("bf"),
                4,
            ).alias("neg_logprob"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_rx: str = r"\n{2,}",
    joiner: str = "\n\n",
) -> DataFrame:
    """Corpus-wide exact PARAGRAPH dedup (round 7) — the CCNet move: split
    each document into paragraphs, keep only the FIRST occurrence of each
    normalized paragraph corpus-wide (first = lowest (doc, position)), and
    rebuild every document from its surviving paragraphs. Boilerplate
    paragraphs repeated across a crawl disappear everywhere but their
    first sighting; documents reduced to nothing drop out.

    Scale shape: first-occurrence selection is a MIN aggregation per
    normalized paragraph (map-side partial agg — a paragraph repeated 10^9
    times collapses to one row per map task, no sorted window over the hot
    key), then one hash join back on the paragraph key (build side has ONE
    row per key, so AQE's skew split covers the probe side), then one
    groupBy(doc) to rebuild. Empty/whitespace paragraphs are dropped
    before counting.

    Returns (id_col, text_col, n_kept, n_dropped)."""
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_rx)).alias("p_idx", "para"),
    ).filter(F.trim(F.col("para")) != "")
    # the dedup key is the 128-bit hash PAIR of the normalized paragraph
    # (dedup.text_key128 — the one definition shared with document-level
    # dedup), never the paragraph text itself: keying the MIN-agg and the
    # join on the normalized string shipped every paragraph twice through
    # the shuffles (r11); two salted longs are collision-safe past 10^10
    # distinct paragraphs
    from blazegraph_database_spark.operators.dedup import text_key128

    paras = paras.withColumn("pkey", text_key128(F.col("para")))
    # first occurrence = MIN over (doc, position) packed base-1e6 into one
    # long — monotonic in (id, idx) for ANY id sign while staying on the
    # HashAggregate fast path (a struct-min falls to SortAggregate, which
    # sorts every partition); requires idx < 1e6 (<1M paragraphs/doc) and
    # |id| < 2^63/1e6, ENFORCED per row: an out-of-range row would silently
    # overflow into a neighboring doc's key range, so it fails the query
    # loudly instead (pure expression — no extra validation job)
    in_bounds = (F.col("p_idx") < 1_000_000) & (
        F.abs(F.col(id_col).cast("long")) < F.lit(9_223_372_036_853)
    )
    okey = F.when(
        in_bounds, F.col(id_col).cast("long") * F.lit(1_000_000) + F.col("p_idx")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("paragraph_dedup: packed (doc_id, p_idx) key out of range "
                      "(need p_idx < 1e6 and |doc_id| < 9.2e12): doc_id="),
                F.col(id_col).cast("string"),
                F.lit(" p_idx="),
                F.col("p_idx").cast("string"),
            )
        ).cast("long")
    )
    firsts = (
        paras.select("pkey", okey.alias("okey"))
        .groupBy("pkey")
        .agg(F.min("okey").alias("first_key"))
    )
    flagged = paras.join(firsts, "pkey").withColumn(
        "keep", okey == F.col("first_key")
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct(F.col("p_idx"), F.col("para")))
                        )
                    ),
                    lambda s: s["para"],
                ),
                joiner,
            ).alias(text_col),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        )
        .filter(F.col("n_kept") > 0)
        .select(id_col, text_col, "n_kept", "n_dropped")
    )


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public): score every raw
    document by how much more likely its hashed-unigram profile is under
    the TARGET corpus' bucket distribution than under the raw corpus' own.
    weight(d) = mean over tokens of [ln((tc+1)/(T+B)) - ln((rc+1)/(R+B))]
    with tc/rc the token's hash-bucket count in target/raw, T/R the class
    totals, B the bucket count (add-one smoothing over buckets).

    Scale shape: the bucket-stat table is AT MOST ``n_buckets`` rows no
    matter the corpus size — it broadcasts; token→bucket hashing and the
    per-doc weighted mean are one partial-agg shuffle each. The hash is the
    DuckDB-expressible rolling hash so the oracle replays bit-for-bit.

    Returns (id_col, n_tokens, weight) for every raw doc with >=1 token;
    higher weight = more target-like."""
    def toks(d: DataFrame) -> DataFrame:
        t = d.select(
            F.col(id_col),
            F.explode(F.transform(words(F.col(text_col)), F.lower)).alias("w"),
        )
        return t.select(id_col, (rolling_hash(F.col("w")) % F.lit(n_buckets)).alias("b"))

    # ONE raw-corpus tokenize scan (r11): the raw bucket histogram derives
    # from the per-doc bucket frequencies (identical sums); the target side
    # has a single consumer and keeps its direct aggregation
    tok_r = toks(raw)
    tf_r = tok_r.groupBy(id_col, "b").agg(F.count("*").alias("tf"))
    mat = _fanout_materialize(tf_r, raw)
    if mat is not None:
        tf_r = mat
        rcnt = tf_r.groupBy("b").agg(F.sum("tf").alias("rc"))
    else:  # toy scale: aggregate the bucketed tokens directly
        rcnt = tok_r.groupBy("b").agg(F.count("*").alias("rc"))
    tcnt = toks(target).groupBy("b").agg(F.count("*").alias("tc"))
    stats = rcnt.join(tcnt, "b", "left").fillna({"tc": 0})
    totals = stats.agg(
        F.sum("rc").alias("rtot"), F.sum("tc").alias("ttot")
    )
    bb = F.lit(float(n_buckets))
    llr = F.log((F.col("tc") + 1) / (F.col("ttot") + bb)) - F.log(
        (F.col("rc") + 1) / (F.col("rtot") + bb)
    )
    return (
        tf_r.join(F.broadcast(stats), "b")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * llr) / F.sum("tf"), 6).alias("weight"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    n_keep: int,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR selection: the ``n_keep`` most target-like raw documents by
    importance weight (ties broken by id — deterministic under any
    partitioning). Top-N over scores is a TakeOrdered, never a full global
    sort."""
    s = dsir_scores(raw, target, n_buckets, id_col, text_col)
    return s.orderBy(F.col("weight").desc(), F.col(id_col).asc()).limit(n_keep)


def nb_token_classifier(
    df: DataFrame,
    pos_col: str,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashed-free naive-Bayes token classifier (round 7) — the fastText /
    CCNet quality-classifier shape, trained ON the corpus itself from the
    boolean ``pos_col`` label so the whole computation is deterministic and
    SQL-replayable. Per token w: llr(w) = ln((cpos+a)/(Npos+aV)) -
    ln((cneg+a)/(Nneg+aV)); the document score is the token-frequency-
    weighted mean llr, and pred = score > 0.

    Scale shape: the per-token class-count table is |V| rows — joined on
    the token key (one row per key on the build side, skew-safe), never
    broadcast; only the three scalar totals broadcast.

    Returns (id_col, n_tokens, score, pred)."""
    tok = df.select(
        F.col(id_col),
        F.col(pos_col).cast("boolean").alias("_pos"),
        F.explode(F.transform(words(F.col(text_col)), F.lower)).alias("w"),
    )
    # ONE tokenize scan (r11): per-doc term frequencies carry the label
    # (_pos is functionally dependent on the id), and the per-class token
    # counts derive from them — identical sums, one corpus pass and a
    # (w)-shuffle of the far smaller tf table instead of raw tokens
    tf0 = tok.groupBy(id_col, "_pos", "w").agg(F.count("*").alias("tf"))
    mat = _fanout_materialize(tf0, df)
    if mat is not None:
        tf0 = mat
        cc = tf0.groupBy("w").agg(
            F.sum(F.when(F.col("_pos"), F.col("tf")).otherwise(0)).alias("cpos"),
            F.sum(F.when(~F.col("_pos"), F.col("tf")).otherwise(0)).alias("cneg"),
        )
    else:  # toy scale: aggregate the labeled tokens directly
        cc = tok.groupBy("w").agg(
            F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("cpos"),
            F.sum(F.when(~F.col("_pos"), 1).otherwise(0)).alias("cneg"),
        )
    tots = cc.agg(
        F.sum("cpos").alias("npos"),
        F.sum("cneg").alias("nneg"),
        F.count("*").cast("double").alias("v"),
    )
    a = F.lit(float(alpha))
    llr = F.log((F.col("cpos") + a) / (F.col("npos") + a * F.col("v"))) - F.log(
        (F.col("cneg") + a) / (F.col("nneg") + a * F.col("v"))
    )
    return (
        tf0.select(id_col, "w", "tf")
        .join(cc, "w")
        .crossJoin(F.broadcast(tots))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * llr) / F.sum("tf"), 6).alias("score"),
        )
        .withColumn("pred", (F.col("score") > 0).cast("int"))
    )


def perplexity_buckets(
    df: DataFrame,
    n_buckets: int = 3,
    by_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (round 7): score every
    document with the corpus-trained unigram LM, then NTILE it into
    ``n_buckets`` quality tiers WITHIN its language (CCNet buckets per
    language so low-resource languages aren't judged by the dominant one).
    Deterministic: ties on the rounded score break by id.

    Scale: one window shuffle partitioned by language; the LM scoring
    underneath is the unigram_logprob plan. Returns
    (id_col, by_col, neg_logprob, ppl_bucket) with bucket 1 = most typical
    (head) ... n = least (tail)."""
    from pyspark.sql.window import Window

    scored = unigram_logprob(df, id_col=id_col, text_col=text_col)
    labeled = scored.join(df.select(id_col, by_col), id_col)
    w = Window.partitionBy(by_col).orderBy(
        F.col("neg_logprob").asc(), F.col(id_col).asc()
    )
    return labeled.select(
        id_col, by_col, "neg_logprob", F.ntile(n_buckets).over(w).alias("ppl_bucket")
    )


INTERLEAVE_MAX_SOURCES = 100_000


def interleave_sources(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "il",
) -> DataFrame:
    """Deterministic SOURCE-INTERLEAVED training order (round 7): each
    source's documents get a reproducible within-source shuffle rank, and
    the global position strides sources round-robin —
    pos = rank * n_sources + source_index — so every window of the
    resulting order carries every domain (the curriculum-interleaving move
    mixture schedules assume, without an RNG state file).

    Scale: the within-source rank is a window partitioned by source (AQE
    splits a mega-source's sort); the source catalog is collected once,
    bounded by INTERLEAVE_MAX_SOURCES (domain catalogs are small by
    construction — fails loud otherwise); no global sort — consumers read
    ORDER BY pos, which a range-partitioned write materializes without a
    single-machine sort. md5 keys keep it SQL-replayable.

    Returns (id_col, source_col, pos) with pos dense per source stride."""
    from pyspark.sql.window import Window

    srcs = [
        r[0]
        for r in df.select(source_col).distinct()
        .limit(INTERLEAVE_MAX_SOURCES + 1).collect()
    ]
    if len(srcs) > INTERLEAVE_MAX_SOURCES:
        raise ValueError(
            f"interleave_sources: more than {INTERLEAVE_MAX_SOURCES} distinct "
            f"sources — is {source_col!r} really a domain catalog?"
        )
    srcs = sorted(srcs)
    n = len(srcs)
    catalog = df.sparkSession.createDataFrame(
        [(s, i) for i, s in enumerate(srcs)], f"{source_col} string, __sidx int"
    )
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(source_col).orderBy(key, id_col)
    return (
        df.join(F.broadcast(catalog), source_col)
        .select(
            id_col,
            source_col,
            ((F.row_number().over(w) - 1).cast("long") * n + F.col("__sidx")).alias("pos"),
        )
    )


def line_dedup(
    df: DataFrame,
    min_docs: int = 2,
    max_removed_frac: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RefinedWeb/CCNet LINE-level boilerplate filter (round 8): a line
    whose normalized form appears in >= ``min_docs`` DISTINCT documents is
    boilerplate (nav bars, cookie banners, share buttons) and is removed
    from EVERY document — unlike paragraph_dedup's first-occurrence-wins,
    the repeated-line rule deletes all copies, which is what the
    RefinedWeb pipeline does for its "lines duplicated across documents"
    filter. A document that loses more than ``max_removed_frac`` of its
    characters to the filter is dropped entirely (a page that is mostly
    boilerplate carries no signal).

    Scale shape: one posexplode -> distinct-doc count per normalized line
    (partial-agg count_distinct via a two-level groupBy: (norm, doc)
    dedup then count — map-side combinable both levels, no hot-key
    window), one hash join back on the line key, one groupBy(doc) to
    rebuild. Character accounting rides the same rebuild aggregation.

    Returns (id_col, text_col, n_lines_kept, n_lines_removed,
    removed_frac) for surviving documents."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("l_idx", "line"),
    )
    # key the frequency agg and the join on the 128-bit hash pair of the
    # normalized line (dedup.text_key128, the shared definition), never the
    # line text (r11: the (norm, doc) distinct and the boilerplate join
    # shipped every line's text as a shuffle key; two salted longs stay
    # collision-safe past 10^10 distinct lines); the normalized form itself
    # never materializes — only an emptiness flag
    from blazegraph_database_spark.operators.dedup import normalize_text, text_key128

    lines = lines.withColumn(
        "empty", normalize_text(F.col("line")) == ""
    ).withColumn("lkey", text_key128(F.col("line")))
    nonempty = lines.filter(~F.col("empty"))
    # distinct-doc frequency per line: (key, doc) dedup then count —
    # both stages map-side combinable, never count_distinct's OOM-prone
    # exact mode over a skewed key
    freq = (
        nonempty.select("lkey", id_col).distinct()
        .groupBy("lkey")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    boiler = freq.filter(F.col("n_docs") >= min_docs).select(
        "lkey", F.lit(True).alias("is_boiler")
    )
    flagged = lines.join(boiler, "lkey", "left").withColumn(
        "keep", F.col("is_boiler").isNull() | F.col("empty")
    )
    rebuilt = (
        flagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(F.col("l_idx"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s.line,
                ),
            ).alias(text_col),
            F.sum(F.when(F.col("keep") & ~F.col("empty"), 1).otherwise(0)).alias(
                "n_lines_kept"
            ),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_lines_removed"),
            F.sum(F.when(~F.col("keep"), F.length("line")).otherwise(0)).alias(
                "__rm_chars"
            ),
            F.sum(F.length("line")).alias("__all_chars"),
        )
    )
    out = rebuilt.withColumn(
        "removed_frac",
        F.when(F.col("__all_chars") > 0, F.col("__rm_chars") / F.col("__all_chars"))
        .otherwise(F.lit(0.0)),
    )
    return (
        out.filter(
            (F.col("removed_frac") <= max_removed_frac) & (F.col("n_lines_kept") > 0)
        )
        .select(id_col, text_col, "n_lines_kept", "n_lines_removed", "removed_frac")
    )
