"""Deduplication operators for training-data pipelines (SURVEY.md §2.11):
exact, MinHash+LSH, SimHash, and brute-force n-gram Jaccard.

Scale design (100 TB corpus):
- Exact dedup is one hash-groupBy shuffle on a 128-bit key (salted xxhash64
  pair over the normalized text — collision-safe past 10^10 docs, r10
  verdict) — minimal shuffle width, map-side partial agg.
- MinHash: shingling + per-permutation min is one explode + one groupBy;
  signatures are NUM_PERM longs per doc (fixed small state). LSH banding
  turns the quadratic all-pairs problem into equi-joins on (band, key) —
  only colliding docs meet. Hot buckets (boilerplate shingles) are the skew
  risk: AQE skew-join is on, and `max_bucket` caps pathological buckets.
- Verification joins candidate pairs back to exact shingle sets
  (array_intersect/union) — only candidate pairs pay this cost.
- SimHash is one explode + 64 conditional-sum aggregates (single shuffle),
  then banded blocking for hamming search, same LSH shape.

All expression-only (codegen); no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blazegraph_database_spark.operators.text import word_shingles

NUM_PERM = 64
LSH_BANDS = 32  # 32 bands x 2 rows: P[miss | jaccard .8] = (1-.8^2)^32 ~ 6e-15
MERSENNE = (1 << 31) - 1

# Fixed LCG-generated permutation constants (odd a, arbitrary b), deterministic
# across runs so signatures are reproducible.
def _perm_constants(n: int = NUM_PERM) -> list[tuple[int, int]]:
    state, out = 88172645463325252, []
    for _ in range(n):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE - 2)) | 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE
        out.append((a, b))
    return out


PERMS = _perm_constants()


def normalize_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, trim, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def text_key128(text: Column) -> Column:
    """128-bit normalized-text identity key: two independently-salted
    xxhash64 longs in a struct. A single 64-bit key is only sound below
    ~10^8 distinct texts; a 100 TB corpus is 10^10+ documents, where the
    birthday bound expects real 64-bit colliding pairs — each silently
    merging two unrelated documents (r10 verdict). The pair's collision
    expectation at 10^12 docs is ~10^-15, and the 16-byte key still
    shuffles orders of magnitude narrower than document text. Codegen
    CSEs the shared normalize subtree, so the second hash costs one extra
    hash pass, not a second regex pass."""
    from blazegraph_database_spark.model.dictionary import WIDE_SALT

    norm = normalize_text(text)
    return F.struct(
        F.xxhash64(norm).alias("h1"), F.xxhash64(norm, F.lit(WIDE_SALT)).alias("h2")
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group by normalized-text hash; keep min-id representative per group.

    Returns (rep_id, n_copies). At scale the groupBy key is the 128-bit
    :func:`text_key128`, not the text itself — narrow shuffle rows without
    the 64-bit birthday bound.
    """
    key = text_key128(F.col(text_col))
    return (
        df.groupBy(key.alias("k"))
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_copies"))
        .drop("k")
    )


def shingle_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingles: array<string> distinct word n-grams) per document.

    Shingling is CPU-heavy per row; a single-file input arrives as one
    partition, so spread rows across the cluster first (cheap: rows are
    narrow before the shingle arrays are built)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:  # already spread => skip the shuffle
        df = df.repartition(par, F.col(id_col))
    return df.select(
        F.col(id_col).alias("id"), F.array_distinct(word_shingles(F.col(text_col), n)).alias("shingles")
    )


def minhash_signatures(sets_df: DataFrame) -> DataFrame:
    """(id, sig: array<long>[NUM_PERM]) via (a*h+b) mod 2^31-1 permutations
    of the xxhash64 shingle hash (folded to 31 bits to keep a*h in int64).

    Deliberately explode + 64-way grouped MIN, not per-row array
    expressions: the r11 optimization pass A/B-tested both shapes at the
    sf1.0 scale point and the "shuffle-free" higher-order-function variants
    LOST — array_min-over-transform 17.4 s and aggregate-fold 22.0 s versus
    12.8 s for this shape, because HOF lambdas evaluate interpreted per
    element while the exploded hash-agg runs fused whole-stage codegen
    (guide §1.1's gotcha: the "ideal" plan on paper is slower in practice).
    The exploded rows are narrow (id + one long), the groupBy is map-side
    partial, and AQE coalesces the exchange."""
    exploded = sets_df.select("id", F.explode("shingles").alias("sh"))
    h = F.pmod(F.xxhash64("sh"), F.lit(MERSENNE)).alias("h")
    exploded = exploded.select("id", h)
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE)).alias(f"m{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    sigs = exploded.groupBy("id").agg(*aggs)
    return sigs.select("id", F.array(*[f"m{i}" for i in range(NUM_PERM)]).alias("sig"))


def band_signatures(sigs: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """(id, band, key): the banded-signature bucket rows — the LSH join
    surface shared by self-join dedup and two-sided (corpus vs probe)
    contamination checks."""
    rows = NUM_PERM // bands
    # posexplode of a plain key array: the position IS the band id, so no
    # per-band struct gets allocated per row (r12: 1.27 -> 1.11 s for the
    # 1.6M-row sf1.0 banded surface, identical rows)
    keys = F.array(
        *[
            F.xxhash64(*[F.element_at("sig", bi * rows + j + 1) for j in range(rows)])
            for bi in range(bands)
        ]
    )
    return sigs.select("id", F.posexplode(keys).alias("band", "key"))


def lsh_candidate_pairs(sigs: DataFrame, bands: int = LSH_BANDS, max_bucket: int = 10_000) -> DataFrame:
    """Band the signature, bucket the ids, emit candidate (a, b) pairs (a < b).

    max_bucket drops degenerate buckets (near-universal boilerplate) that
    would blow up quadratically — standard LSH practice; dropped buckets are
    by construction near-duplicates of *many* docs and are caught by the
    other bands or exact dedup.

    Shape (r12): ONE (band, key) shuffle into sorted id lists, then pairs
    generate directly from each list — replacing the window-count +
    checkpoint + bucket self-join (which materialized the full banded
    surface and re-scanned it twice). The pair-generating lambda runs
    interpreted (HOF), but only over buckets of size >= 2 — tens of
    thousands of tiny lists, not the banded surface. Identical pairs;
    sf1.0 candidate phase 3.6 -> 3.1 s and one checkpoint fewer.
    """
    banded = band_signatures(sigs, bands)
    # array_distinct: an id repeated in one bucket (duplicate signature
    # rows) must not pair with itself — the pairs stay strictly a < b
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.sort_array(F.array_distinct(F.collect_list("id"))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    return pairs.distinct()


def verify_pairs_jaccard(pairs: DataFrame, sets_df: DataFrame) -> DataFrame:
    """Exact Jaccard on candidate pairs: (a, b, jac)."""
    sa = sets_df.select(F.col("id").alias("a"), F.col("shingles").alias("sh_a"))
    sb = sets_df.select(F.col("id").alias("b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(sa, on="a")
        .join(sb, on="b")
        .select("a", "b", F.round(inter / union, 4).alias("jac"))
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jac >= threshold) via MinHash banding +
    exact verification. With 32x2 banding, recall at jaccard>=0.8 is
    1-(1-j^2)^32 > 1-1e-14 — effectively exhaustive above threshold."""
    # the shingle sets feed signatures AND verification; the banded
    # signature feeds the bucket self-join twice — materialize both once
    # (at cluster scale: persist to memory/disk) instead of recomputing
    # the explode per consumer. The emptiness filter goes AFTER the
    # checkpoint: pushed below the projection it re-evaluates the whole
    # shingle expression a second time per row (filter + project are
    # separate codegen operators, no cross-operator CSE — r11, guide §7.2
    # duplicated-subtree check), while over the checkpoint it reads the
    # materialized array's size.
    sets_df = (
        shingle_sets(df, id_col, text_col, n)
        .localCheckpoint(eager=True)
        .filter(F.size("shingles") > 0)
    )
    # sigs flow into ONE consumer since the list-bucket candidate shape
    # (r12): the signature->banding->pairs chain fuses into one pass, no
    # intermediate barrier
    sigs = minhash_signatures(sets_df)
    cands = lsh_candidate_pairs(sigs)
    return verify_pairs_jaccard(cands, sets_df).filter(F.col("jac") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold via shingle equi-join
    (explode-join-count). Quadratic in docs *sharing a shingle* — the
    baseline the LSH path approximates; useful directly for small corpora
    or post-LSH verification.

    Shingles appearing in more than ``max_df`` documents (boilerplate — one
    stop-shingle shared by 1M docs alone creates ~10^12 candidate rows) are
    dropped before the self-join, mirroring ``lsh_candidate_pairs``'
    ``max_bucket`` cap. Dropping a shingle can only lower the computed
    intersection (union sizes stay exact), so ``jac`` is then a lower bound
    for pairs whose overlap is dominated by boilerplate; pairs similar on
    distinctive content are unaffected. ``max_df=None`` restores the exact
    small-corpus baseline."""
    sets_df = shingle_sets(df, id_col, text_col, n).filter(F.size("shingles") > 0)
    ex = sets_df.select("id", F.explode("shingles").alias("sh"))
    if max_df is not None:
        # at most corpus_rows/max_df shingles can exceed the cap → tiny set,
        # broadcast the anti-join
        hot = (
            ex.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_df)
            .select("sh")
        )
        ex = ex.join(F.broadcast(hot), on="sh", how="left_anti")
    pairs = (
        ex.alias("x")
        .join(ex.alias("y"), on="sh")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sets_df.select("id", F.size("shingles").alias("n_sh"))
    jac = F.round(
        F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")), 4
    )
    return (
        pairs.join(sizes.select(F.col("id").alias("a"), F.col("n_sh").alias("na")), on="a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n_sh").alias("nb")), on="b")
        .select("a", "b", jac.alias("jac"))
        .filter(F.col("jac") >= threshold)
    )


def md5_hash32(col: Column) -> Column:
    """32-bit word hash from the md5 hex prefix. Slower than xxhash64 but
    bit-identical to DuckDB's ``CAST('0x' || substr(md5(w),1,8) AS BIGINT)``,
    which makes the whole SimHash pipeline SQL-recomputable by the oracle."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hasher=None,
) -> DataFrame:
    """SimHash over words (term-frequency weighted bit votes).

    One explode + one groupBy with `bits` conditional sums; the signature is a
    single long — constant per-doc state at any corpus size. Default hasher is
    xxhash64 (JVM, fastest); pass ``md5_hash32`` with bits=32 for the
    cross-engine-deterministic variant the DuckDB oracle can recompute.
    """
    ws = df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), 1)).alias("w")
    )
    tf = ws.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf"))
    h = (hasher or F.xxhash64)(F.col("w"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.col("tf")).otherwise(-F.col("tf"))
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    voted = tf.groupBy("id").agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseXOR(term)  # disjoint bits: xor == or
    return voted.select("id", sig.alias("simhash"))


def simhash_near_pairs(
    sig_df: DataFrame, max_hamming: int = 3, bands: int = 4, bits: int = 64
) -> DataFrame:
    """(a, b, hamming <= max_hamming) pairs via banded blocking: split the
    signature bits into `bands` chunks; any pair within hamming<=bands-1
    shares at least one exact chunk (pigeonhole), so exact-match on chunks is
    a complete blocker for max_hamming < bands."""
    width = bits // bands
    mask = (1 << width) - 1
    chunks = sig_df.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright("simhash", bi * width).bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.key")
    left = chunks.select("band", "key", F.col("id").alias("a"), F.col("simhash").alias("sig_a"))
    right = chunks.select("band", "key", F.col("id").alias("b"), F.col("simhash").alias("sig_b"))
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        left.join(right, on=["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_against_prior(
    new_docs: DataFrame,
    prior_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental cross-snapshot dedup: drop new documents whose
    normalized text already exists in a PRIOR corpus — the continuous-crawl
    step that keeps re-crawled pages out of the next training snapshot.

    One anti-join on 128-bit normalized-text keys (:func:`text_key128`):
    the prior side reduces to its distinct key set (narrow 16-byte rows —
    at 100 TB this is the only state that must persist between snapshots,
    not the prior text, and it stays collision-safe at 10^10+ docs), and
    AQE broadcasts it when small. Returns the surviving new docs."""
    key = text_key128(F.col(text_col))
    prior_keys = prior_docs.select(key.alias("k")).distinct()
    return (
        new_docs.withColumn("k", key)
        .join(prior_keys, on="k", how="left_anti")
        .drop("k")
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate benchmark decontamination: flag corpus documents
    whose shingle-Jaccard against ANY probe (eval-set) document reaches
    ``threshold`` — the fuzzy counterpart of the exact 8-gram overlap
    check (contamination survives paraphrase-level edits that defeat
    exact n-gram matching).

    Scale shape: MinHash-band buckets on BOTH sides, bucket equi-join
    with the probe side BROADCAST (an eval suite is thousands of docs;
    the corpus is the 100 TB side and is scanned once), exact Jaccard
    verify on the candidates only — never corpus x probes. With 32x2
    banding, recall at jaccard>=0.7 is 1-(1-0.49)^32 ~ 1-4e-10, so the
    checked result equals the brute-force oracle.

    Returns (id, n_matched, max_jac) per contaminated corpus doc."""
    # emptiness filters after the checkpoints — same double-evaluation
    # avoidance as minhash_lsh_dedup (r11)
    corp_sets = (
        shingle_sets(corpus, id_col, text_col, n)
        .localCheckpoint(eager=True)  # feeds signatures AND the verify join
        .filter(F.size("shingles") > 0)
    )
    probe_sets = (
        shingle_sets(probes, id_col, text_col, n)
        .localCheckpoint(eager=True)
        .filter(F.size("shingles") > 0)
    )
    corp_b = band_signatures(minhash_signatures(corp_sets))
    probe_b = band_signatures(minhash_signatures(probe_sets)).select(
        F.col("id").alias("pid"), "band", "key"
    )
    cands = (
        corp_b.join(F.broadcast(probe_b), on=["band", "key"])
        .select("id", "pid")
        .distinct()
    )
    sc = corp_sets.select("id", F.col("shingles").alias("sh_c"))
    sp = probe_sets.select(F.col("id").alias("pid"), F.col("shingles").alias("sh_p"))
    inter = F.size(F.array_intersect("sh_c", "sh_p")).cast("double")
    union = F.size(F.array_union("sh_c", "sh_p"))
    verified = (
        cands.join(sc, on="id")
        .join(F.broadcast(sp), on="pid")
        .select("id", "pid", F.round(inter / union, 4).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )
    return verified.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_matched"), F.max("jac").alias("max_jac")
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-SPAN removal (Lee et al., "Deduplicating Training
    Data Makes Language Models Better": cut repeated substrings, keep the
    rest of the document): any k-word window occurring more than once in
    the corpus keeps only its FIRST occurrence (lowest (doc_id, position));
    every other occurrence's word range is cut from its document. Document-
    level dedup misses this mass — boilerplate headers/footers/licenses
    repeat inside otherwise-unique pages.

    Scale shape, all JVM expressions: one explode to (doc, pos, window)
    rows, ONE frequency+keeper aggregation shuffled on the window key
    (map-side combined), covered positions by explode of the non-keeper
    ranges, one anti-join to drop covered words, one per-doc re-aggregation
    (array_sort fixes collect order). Never doc x doc; linear in corpus
    windows.

    Returns (doc_id, n_words, n_removed, clean_text)."""
    from blazegraph_database_spark.operators.text import words

    ws = words(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), ws.alias("ws")).localCheckpoint(
        eager=True  # feeds the window explode AND the rebuild
    )
    wins = base.filter(F.size("ws") >= k).select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (k - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice("ws", i, k)).alias("gram"),
                ),
            )
        ).alias("w"),
    ).select("id", "w.pos", "w.gram")
    # keeper = first occurrence in (doc_id, pos) order; min over the struct
    # is the lexicographic min — one shuffle on the gram key
    freq = wins.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("id", "pos")).alias("keep"),
    )
    cut = (
        wins.join(freq.filter(F.col("n") > 1), on="gram")
        .filter(~((F.col("id") == F.col("keep.id")) & (F.col("pos") == F.col("keep.pos"))))
        .select("id", F.explode(F.sequence("pos", F.col("pos") + (k - 1))).alias("cpos"))
        .distinct()
    )
    wordpos = base.select(
        "id", F.posexplode("ws").alias("p0", "w")
    ).select("id", (F.col("p0") + 1).alias("pos"), "w")
    kept = wordpos.join(
        cut, (wordpos["id"] == cut["id"]) & (wordpos["pos"] == cut["cpos"]), "left_anti"
    )
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("id", F.size("ws").alias("n_words"))
        .join(rebuilt, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            "n_words",
            (F.col("n_words") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def exact_dedup_best(
    df: DataFrame,
    order_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup keeping the BEST copy per normalized text (round 7):
    production pipelines keep the highest-quality duplicate, not the
    lowest-id one — ties break by id so the cut is deterministic. Same
    partial-agg discipline as exact_dedup: the winner per group is a
    MAX over (order, -id) packed into a struct (map-side combinable),
    never a sorted window over the duplicate-group key.

    Returns (rep_id, n_copies, best_<order_col>)."""
    # max over (order_col, -id): highest order wins, lowest id on ties
    best = F.max(
        F.struct(F.col(order_col).alias("o"), (-F.col(id_col)).alias("negid"))
    ).alias("b")
    return (
        # group on the 16-byte key, never the normalized text itself —
        # grouping by the full text shipped whole documents as shuffle KEYS
        # (r11; same collision bound as exact_dedup)
        df.select(text_key128(F.col(text_col)).alias("k"), F.col(id_col), F.col(order_col))
        .groupBy("k")
        .agg(best, F.count(F.lit(1)).cast("long").alias("n_copies"))
        .select(
            (-F.col("b.negid")).cast("long").alias("rep_id"),
            "n_copies",
            F.col("b.o").alias(f"best_{order_col}"),
        )
    )
