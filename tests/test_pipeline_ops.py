"""LLM-pipeline operator tests (dedup / similarity / text / multimodal) on
hand fixtures with known answers, plus recall checks for the approximate
paths against their exact baselines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blazegraph_database_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE  Quick Brown Fox jumps over the lazy dog"),  # exact dup of 1 after normalize
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different words entirely here and everywhere now"),
        (5, "le chat est dans la maison et le chien aussi"),
        (6, "der hund ist im haus und die katze auch"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["rep_id"]: r["n_copies"] for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1+2 collapse
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["a"], r["b"]): r["jac"] for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0  # one word changed
    assert (1, 2) in pairs and pairs[(1, 2)] < 0.5  # shingles are case-sensitive
    assert (1, 4) not in pairs


def test_minhash_lsh_matches_bruteforce(docs):
    brute = {(r["a"], r["b"]) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()}
    lsh = {(r["a"], r["b"]) for r in dedup.minhash_lsh_dedup(docs, threshold=0.6).collect()}
    assert lsh == brute


def test_simhash_near_pairs(docs):
    sig = dedup.simhash(docs)
    assert sig.count() == 6
    near = {(r["a"], r["b"]) for r in dedup.simhash_near_pairs(sig, max_hamming=10).collect()}
    assert (1, 3) in near  # one-word change = few bit flips
    ident = {(r["a"], r["b"]) for r in dedup.simhash_near_pairs(sig, max_hamming=0).collect()}
    assert (1, 3) not in ident


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]), # close to 2
        (4, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(vectors):
    out = similarity.brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
    got = [(r["neighbor"], r["cos"]) for r in out.orderBy(F.desc("cos")).collect()]
    assert got[0][0] == 1 and got[0][1] > 0.99
    assert len(got) == 2 and all(c >= 0 for _, c in got)  # 3rd-best (vec 4) is cos=-1, excluded


def test_emb_near_dup_pairs(vectors):
    pairs = {(r["a"], r["b"]) for r in similarity.embedding_near_dup_pairs(vectors, min_cos=0.9).collect()}
    assert pairs == {(0, 1), (2, 3)}


def test_lsh_ann_recall_on_real_embeddings(spark):
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 10)
    brute = {(r["q"], r["neighbor"]) for r in similarity.brute_force_topk(embs, qs, k=3).collect()}
    approx = {(r["q"], r["neighbor"]) for r in similarity.lsh_ann_topk(embs, qs, k=3, bits=4, tables=8).collect()}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.5  # 8 tables x 4 bits on 64-dim data
    assert all(pair[0] != pair[1] for pair in approx)


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], "doc_id long, text string")
    r = text.token_counts(df).first()
    assert r["ws_tokens"] == 4
    assert r["re_tokens"] == 6  # Hello , world ! 42 times


def test_quality_and_langid(docs):
    q = {r["doc_id"]: r for r in text.quality_score(docs).collect()}
    assert q[1]["stop_ratio"] > 0  # 'the' twice
    assert q[4]["stop_ratio"] > 0  # 'and'
    assert 0 < q[1]["uniq_ratio"] <= 1.0
    langs = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(docs).collect()}
    assert langs[1] == "en" and langs[5] == "fr" and langs[6] == "de"


def test_fingerprint_properties(docs):
    fp = {r["doc_id"]: r for r in text.fingerprint(docs).collect()}
    assert all(r["n_fp"] >= 1 for r in fp.values())
    # near-dup docs share fingerprints
    s1, s3 = set(fp[1]["fp_set"]), set(fp[3]["fp_set"])
    assert len(s1 & s3) >= 1


def test_multimodal_plumbing(docs):
    media = multimodal.attach_media(docs)
    row = media.first()
    assert isinstance(row["payload"], bytearray | bytes)
    assert row["meta"]["n_bytes"] == len(row["payload"])
    feats = multimodal.decode_media(media, partitions=2)
    got = {r["media_id"]: r for r in feats.collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    n = len("the quick brown fox jumps over the lazy dog")
    assert got[1]["width"] == n % 640 + 1 and got[1]["n_frames"] == n % 30 + 1
    import pytest as _pt

    with _pt.raises(Exception, match="NotImplementedError|media decoding"):
        multimodal.decode_media_real(media).collect()


def test_media_metadata_stats(docs):
    stats = multimodal.media_metadata_stats(multimodal.attach_media(docs)).collect()
    assert len(stats) == 1 and stats[0]["modality"] == "image" and stats[0]["n_items"] == 6


def test_ivf_ann_recall_vs_brute(spark):
    """IVF with all cells probed == brute force; fewer probes stays a subset
    of scored candidates with correct per-query ordering."""
    from blazegraph_database_spark.operators import similarity

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 3)
    exact = {
        (r["q"], r["neighbor"]) for r in similarity.brute_force_topk(embs, qs, k=3).collect()
    }
    full = similarity.ivf_ann_topk(embs, qs, k=3, n_cells=8, n_probe=8)
    assert {(r["q"], r["neighbor"]) for r in full.collect()} == exact
    probed = similarity.ivf_ann_topk(embs, qs, k=3, n_cells=8, n_probe=2).collect()
    assert len(probed) > 0
    for r in probed:  # scores are exact cosines, never above the true best
        assert r["cos"] <= max(x["cos"] for x in similarity.brute_force_topk(embs, qs, k=1).collect() if x["q"] == r["q"]) + 1e-9


def test_resize_and_frames(spark):
    from blazegraph_database_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "x" * 100), (2, "y" * 2500)], "doc_id long, text string"
    )
    media = multimodal.attach_media(docs)
    resized = multimodal.resize_media(media, width=8, height=4).collect()
    assert all(len(bytes(r["payload"])) <= 32 for r in resized)
    assert {(r["width"], r["height"]) for r in resized} == {(8, 4)}
    frames = multimodal.sample_frames(media, every_n=5).collect()
    # doc1: 100 % 30 + 1 = 11 frames -> sampled idx 0,5,10
    got1 = sorted(r["frame_idx"] for r in frames if r["media_id"] == 1)
    assert got1 == [0, 5, 10]
    # doc2: 2500 % 30 + 1 = 11 frames too
    assert len([r for r in frames if r["media_id"] == 2]) == 3


def test_pii_scan_and_scrub(spark):
    from blazegraph_database_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "contact bob@example.com or +1 (555) 123-4567 at 10.0.0.1"),
            (2, "clean document with no identifiers"),
        ],
        "doc_id long, text string",
    )
    scanned = {r["doc_id"]: (r["n_emails"], r["n_phones"], r["n_ipv4"]) for r in T.pii_scan(docs).collect()}
    assert scanned[1] == (1, 1, 1) and scanned[2] == (0, 0, 0)
    scrubbed = T.pii_scrub(docs).collect()
    t1 = [r["text"] for r in scrubbed if r["doc_id"] == 1][0]
    assert "bob@example.com" not in t1 and "10.0.0.1" not in t1 and "[PII]" in t1


def test_dataset_split_deterministic_and_complete(spark):
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(400)], "doc_id long, text string")
    a = {r["doc_id"]: r["split"] for r in text.dataset_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in text.dataset_split(docs).collect()}
    assert a == b  # same rows → same split, every run
    counts = {s: list(a.values()).count(s) for s in ("train", "val", "test")}
    assert sum(counts.values()) == 400
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # a different seed reshuffles assignments
    c = {r["doc_id"]: r["split"] for r in text.dataset_split(docs, seed="s1").collect()}
    assert c != a


def test_pack_sequences_budget_invariant(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (7 + i % 90))) for i in range(300)], "doc_id long, text string"
    )
    out = text.pack_sequences(docs, budget=100, shards=4).collect()
    by_shard: dict = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        cum = 0
        prev_seq = 0
        for r in rows:
            assert r["seq"] == cum // 100  # greedy streaming pack definition
            assert r["seq"] >= prev_seq  # nondecreasing within shard
            prev_seq = r["seq"]
            cum += r["n_tokens"]


def test_ivf_index_persist_roundtrip(spark, tmp_path):
    """Saved+reloaded IVF index answers identically to the in-memory build,
    and the on-disk assignments are cell-partitioned (posting-list layout)."""
    import os

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = embs.limit(3)
    cells, assign = similarity.build_ivf_index(embs, n_cells=8)
    direct = similarity.ivf_index_topk(cells, assign, queries, k=2, n_probe=3)
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(cells, assign, path)
    cells2, assign2 = similarity.load_ivf_index(spark, path)
    loaded = similarity.ivf_index_topk(cells2, assign2, queries, k=2, n_probe=3)
    a = sorted((r["q"], r["neighbor"], r["cos"]) for r in direct.collect())
    b = sorted((r["q"], r["neighbor"], r["cos"]) for r in loaded.collect())
    assert a == b and len(a) > 0
    # cell-partitioned layout: probe reads prune to cell=N directories
    assert any(d.startswith("cell=") for d in os.listdir(f"{path}/assign"))
    # matches the one-shot operator on the same centroid set
    oneshot = similarity.ivf_ann_topk(embs, queries, k=2, n_probe=3, cells=cells)
    c = sorted((r["q"], r["neighbor"], r["cos"]) for r in oneshot.collect())
    assert c == a


def test_top_ngrams_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "x"), (4, "")],
        "doc_id long, text string",
    )
    out = {r["gram"]: r["n"] for r in text.top_ngrams(df, n=2).collect()}
    assert out == {"a b": 3, "b a": 1, "b c": 1}
    tri = {r["gram"]: r["n"] for r in text.top_ngrams(df, n=3).collect()}
    assert tri == {"a b a": 1, "b a b": 1, "a b c": 1}


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, "en" if i % 2 == 0 else "zh") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = text.stratified_sample(df, {"en": 8000, "zh": 1000}, group_col="lang")
    counts = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # 1000 rows per group; binomial bounds far looser than 5 sigma
    assert 700 <= counts["en"] <= 900 and 50 <= counts.get("zh", 0) <= 200
    # deterministic: re-running selects the identical rows
    again = text.stratified_sample(df, {"en": 8000, "zh": 1000}, group_col="lang")
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(r["doc_id"] for r in again.collect())
    # unknown group defaults to dropped
    other = text.stratified_sample(df, {"en": 8000}, group_col="lang")
    assert other.filter(F.col("lang") == "zh").count() == 0


def test_interdoc_repetition(spark):
    shared = "one two three four five six seven eight"  # an 8-gram both docs share
    rows = [
        (1, shared + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, shared + " iota kappa lam mu nu xi omicron pi"),
        (3, "wholly unique words that appear nowhere else in corpus here"),
        (4, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in text.interdoc_repetition(df, k=8, min_df=2).collect()}
    # docs 1/2: 9 windows each, exactly 1 shared window
    assert out[1]["n_windows"] == 9 and out[1]["n_repeated"] == 1
    assert out[2]["n_repeated"] == 1
    assert out[1]["repeated_ppm"] == 111111
    assert out[3]["n_repeated"] == 0
    assert out[4]["n_windows"] == 0 and out[4]["repeated_ppm"] == 0


def test_uncompressed_decoders_real(spark):
    """WAV/BMP/PPM payloads decode for REAL (header parse + numpy over raw
    samples): dims, sample counts and means match hand-computed values;
    codec formats raise at the integration point."""
    import struct

    import pytest

    from blazegraph_database_spark.operators import multimodal as mm

    # 8-bit mono PCM WAV of samples [10, 20, 30]
    data = bytes([10, 20, 30])
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    assert mm.decode_payload_uncompressed(wav) == ("audio", 1, 8, 3, 20.0)

    # 2x2 24-bpp BMP, all pixels value 100 (rows pad to 4 bytes: 6->8)
    row = bytes([100] * 6 + [0, 0])
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + 16, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 16, 0, 0, 0, 0)
        + row + row
    )
    kind, w, h, n, mean = mm.decode_payload_uncompressed(bmp)
    assert (kind, w, h, n, mean) == ("image", 2, 2, 4, 100.0)

    # 1x2 PPM, pixels [0,0,0] and [30,30,30]
    ppm = b"P6\n1 2\n255\n" + bytes([0, 0, 0, 30, 30, 30])
    assert mm.decode_payload_uncompressed(ppm) == ("image", 1, 2, 2, 15.0)

    with pytest.raises(NotImplementedError):
        mm.decode_payload_uncompressed(b"\xff\xd8\xff\xe0 jpeg-ish")

    # end-to-end through the Arrow-batched stage
    df = spark.createDataFrame([(1, bytearray(wav)), (2, bytearray(ppm))],
                               "media_id long, payload binary")
    rows = {r["media_id"]: r for r in mm.decode_media_uncompressed(df).collect()}
    assert rows[1]["kind"] == "audio" and rows[1]["n_samples"] == 3
    assert rows[2]["kind"] == "image" and rows[2]["feature_mean"] == 15.0


def test_pq_ann_shapes_and_recall(spark):
    """PQ ADC search: codes table is m rows per vector (the compressed
    surface ADC scans), and top-1 recall against brute-force cosine is
    reasonable on the harness embeddings."""
    from blazegraph_database_spark.operators import similarity as S

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = embs.count()
    books = S.pq_codebooks(embs, m=4, k=8)
    assert books.count() <= 4 * 8
    codes = S.pq_encode(embs, books, m=4)
    assert codes.count() == n * 4
    assert codes.select("neighbor").distinct().count() == n

    queries = embs.filter("vec_id < 10")
    pq = {(r["q"], r["r"]): r["neighbor"] for r in _ranked(S.pq_ann_topk(embs, queries, k=1, n_rescore=20))}
    bf = {(r["q"], r["r"]): r["neighbor"] for r in _ranked(S.brute_force_topk(embs, queries, k=1))}
    hit = sum(1 for key in bf if pq.get(key) == bf[key])
    assert hit >= 5  # >=50% top-1 recall at n_rescore=20 on random vectors


def _ranked(df):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("q").orderBy(F.col("cos").desc(), F.col("neighbor").asc())
    return df.withColumn("r", F.row_number().over(w)).collect()


def test_dedup_against_prior(spark):
    """Incremental dedup drops new docs whose normalized text a prior
    snapshot already contains (whitespace/case-insensitive)."""
    from blazegraph_database_spark.operators import dedup

    prior = spark.createDataFrame(
        [(1, "Hello  World"), (2, "unique old")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "hello world"), (11, "fresh content"), (12, "UNIQUE OLD")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in dedup.dedup_against_prior(new, prior).collect()}
    assert got == {11}  # 10 and 12 normalize to prior texts


def test_fuzzy_decontaminate(spark):
    """MinHash fuzzy decontamination flags paraphrase-level overlap that
    exact n-gram matching would need verbatim runs for; clean docs pass."""
    from blazegraph_database_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    probes = spark.createDataFrame(
        [(0, base), (1, "completely different eval question about astronomy")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (100, base + " extra"),          # near-dup of probe 0
            (101, base),                      # exact dup of probe 0
            (102, "unrelated text about cooking pasta with garlic and olive oil in rome"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: (r["n_matched"], r["max_jac"])
           for r in dedup.fuzzy_decontaminate(corpus, probes, threshold=0.7).collect()}
    assert set(out) == {100, 101}
    assert out[101] == (1, 1.0)   # exact dup: jaccard 1 vs one probe
    assert out[100][1] >= 0.7     # near-dup flagged
    # shared banding helper keeps the self-join dedup path intact
    sets_df = dedup.shingle_sets(corpus)
    sigs = dedup.minhash_signatures(sets_df)
    pairs = dedup.lsh_candidate_pairs(sigs).collect()
    assert {(r.a, r.b) for r in pairs} == {(100, 101)}


def test_deterministic_shuffle_and_stratified_exact(spark):
    """Epoch shuffle: same seed = identical order, new seed = new
    permutation; exact-quota sampling keeps exactly N per group."""
    from blazegraph_database_spark.operators import text as T

    df = spark.createDataFrame(
        [(i, "g" + str(i % 2)) for i in range(40)], "doc_id long, source string"
    )
    a = T.deterministic_shuffle(df, shards=4, seed="e1").select("doc_id", "shard", "pos")
    b = T.deterministic_shuffle(df, shards=4, seed="e1").select("doc_id", "shard", "pos")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    c = T.deterministic_shuffle(df, shards=4, seed="e2").select("doc_id", "shard", "pos")
    assert sorted(map(tuple, a.collect())) != sorted(map(tuple, c.collect()))
    # every row keeps exactly one position; shards partition the corpus
    assert a.count() == 40 and a.select("doc_id").distinct().count() == 40
    kept = T.stratified_sample_exact(df, {"g0": 5, "g1": 50}, group_col="source")
    counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    assert counts == {"g0": 5, "g1": 20}  # quota capped vs group exhausted
    again = T.stratified_sample_exact(df, {"g0": 5, "g1": 50}, group_col="source")
    assert sorted(r.doc_id for r in kept.collect()) == sorted(r.doc_id for r in again.collect())


def test_remove_duplicate_spans(spark):
    """Lee-et-al-style span dedup: a k-word run repeated across docs keeps
    only its first (doc_id, pos) occurrence; unique words survive; docs
    shorter than k are untouched; within-doc repeats also cut."""
    from blazegraph_database_spark.operators import dedup

    boiler = "all rights reserved contact us at example dot com"  # 9 words
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + boiler),
            (2, "delta epsilon " + boiler + " zeta"),
            (3, "short doc"),
            (4, "x y " + boiler + " middle " + boiler),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.remove_duplicate_spans(docs, k=9).collect()}
    # doc 1 holds the first occurrence -> intact
    assert out[1]["n_removed"] == 0
    assert out[1]["clean_text"] == "alpha beta gamma " + boiler
    # doc 2 loses exactly the boilerplate, keeps its own words in order
    assert out[2]["clean_text"] == "delta epsilon zeta"
    assert out[2]["n_removed"] == 9
    # doc 3: shorter than k, untouched
    assert out[3]["clean_text"] == "short doc" and out[3]["n_removed"] == 0
    # doc 4: BOTH its occurrences cut (doc 1 owns the keeper)
    assert out[4]["clean_text"] == "x y middle"
    assert out[4]["n_removed"] == 18


# ----------------------------------------------- temperature mix / epochs --
def test_temperature_rates_upweight_low_resource(spark):
    from blazegraph_database_spark.operators import text as T

    rows = [(i, "big") for i in range(400)] + [(i + 1000, "small") for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = T.temperature_rates(df, budget=200, group_col="lang")
    # alpha=0.5: weights isqrt(400)=20, isqrt(25)=5 -> targets 160/40 ->
    # rates 4000 permyriad of big, 10000(capped, 40/25>1) of small: the
    # low-resource group keeps a HIGHER fraction
    assert rates["small"] == 10000
    assert rates["big"] == 10000 * (200 * 20 // 25) // 400 == 4000
    # integer-exactness: recompute by hand
    import math
    sw = math.isqrt(400) + math.isqrt(25)
    assert rates["big"] == min(10000, 10000 * (200 * math.isqrt(400) // sw) // 400)


def test_resample_epochs_repetition(spark):
    from blazegraph_database_spark.operators import text as T

    df = spark.createDataFrame([(i, "en") for i in range(200)], "doc_id long, lang string")
    out = T.resample_epochs(df, {"en": 25000}, group_col="lang").cache()
    by_rep = {r["rep"]: r["n"] for r in out.groupBy("rep").agg(F.count(F.lit(1)).alias("n")).collect()}
    # rep 0 and 1 are full copies; rep 2 survives a 50% hash filter
    assert by_rep[0] == 200 and by_rep[1] == 200
    assert 60 < by_rep[2] < 140
    # deterministic: rerun equals itself row-for-row
    again = T.resample_epochs(df, {"en": 25000}, group_col="lang")
    assert out.select("doc_id", "rep").exceptAll(again.select("doc_id", "rep")).count() == 0


def test_resample_epochs_downsample_matches_stratified(spark):
    from blazegraph_database_spark.operators import text as T

    df = spark.createDataFrame(
        [(i, "en") for i in range(300)] + [(i + 500, "fr") for i in range(100)],
        "doc_id long, lang string",
    )
    rates = {"en": 4000, "fr": 9000}
    a = T.resample_epochs(df, rates, group_col="lang", seed="same").select("doc_id")
    b = T.stratified_sample(df, rates, group_col="lang", seed="same:rep-zero").select("doc_id")
    # sub-10000 rates never repeat: rep is always 0 and membership is the
    # same hash filter family (different seed strings, so only shape/count
    # class is comparable) — check no duplicates and rate is honored
    assert a.count() == a.distinct().count()
    n_en = a.join(df.filter(F.col("lang") == "en"), "doc_id").count()
    assert 60 < n_en < 180  # ~120 expected at 40%
    assert b.count() == b.distinct().count()


def test_gopher_rules_hand_fixture(spark):
    """Known texts hit the intended rules: a good prose doc passes, a short
    doc fails the word floor, a bullet wall fails the bullet ratio, a
    symbol-heavy doc fails the symbol ratio."""
    good = ("the cat sat on a mat and then the dog ran to the park with a ball "
            "while it was sunny and the kids played games on the field for hours")
    rows = [
        (1, good),
        (2, "too short"),
        (3, "\n".join(f"- bullet item {i} here now" for i in range(30))),
        (4, " ".join(["the a an of and to in is it on for word like this ok"] * 2
                     + ["# # # # # # # # # #"] * 2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in text.gopher_rules(df).collect()}
    assert out[1]["gopher_pass"] == 1
    assert out[2]["gopher_pass"] == 0 and out[2]["n_words"] == 2
    assert out[3]["gopher_pass"] == 0 and out[3]["bullet_ratio"] == 1.0
    assert out[4]["gopher_pass"] == 0 and out[4]["symbol_ratio"] > 0.1


def test_unigram_logprob_ranks_rare_docs_higher(spark):
    """A doc of corpus-common words scores lower neg_logprob than a doc of
    words that appear nowhere else; token counts are exact."""
    rows = [
        (1, "common common common words words"),
        (2, "common words"),
        (3, "zyx qwv unique rare"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.unigram_logprob(df).collect()}
    assert out[1]["n_tokens"] == 5 and out[3]["n_tokens"] == 4
    assert out[1]["neg_logprob"] < out[3]["neg_logprob"]
    # exact value for doc 3: each word appears once out of 11 tokens
    import math
    assert out[3]["neg_logprob"] == round(math.log(11.0), 4)


def test_domain_cap_quota_and_tiebreak(spark):
    """Cap keeps exactly `cap` rows per domain, best-score first, and the
    id tiebreak makes equal scores deterministic."""
    rows = [(i, "d1" if i < 6 else "d2", float(i % 3)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    out = text.domain_cap(df, cap=2).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["source"], []).append((r["domain_rank"], r["doc_id"]))
    assert sorted(by_dom["d1"]) == [(1, 2), (2, 5)]  # quality 2.0 twice, min id first
    assert len(by_dom["d2"]) == 2


def test_radius_search_matches_bruteforce_filter(spark):
    """Radius search equals the top-k scorer's pair set filtered at the
    threshold (same rounding), and self-pairs are excluded."""
    import random
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = embs.filter(F.col("vec_id") < 3)
    got = {(r["q"], r["neighbor"]) for r in
           similarity.radius_search(embs, q, min_cos=0.3).collect()}
    brute = similarity.brute_force_topk(embs, q, k=40)
    want = {(r["q"], r["neighbor"]) for r in brute.collect() if r["cos"] >= 0.3}
    assert got == want and all(a != b for a, b in got)


def test_semantic_dedup_prunes_within_cluster_only(spark):
    """Two near-identical vectors land in the same cluster: the higher id is
    pruned. A similar-direction vector in a DIFFERENT cluster survives —
    cross-cluster pairs are never compared (the SemDeDup contract)."""
    rows = [
        (0, [1.0, 0.0, 0.0]),   # centroid seed A
        (1, [0.0, 1.0, 0.0]),   # centroid seed B
        (2, [1.0, 0.01, 0.0]),  # cluster A, near-dup of 0 -> pruned
        (3, [0.0, 1.0, 0.01]),  # cluster B, near-dup of 1 -> pruned
        (4, [0.6, 0.8, 0.0]),   # cluster B (cos .8 vs .6); far from 1/3 at 0.3? no: cos(4,1)=0.8 -> pruned
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["cluster"], r["kept"]) for r in
           similarity.semantic_dedup(embs, k_clusters=2, min_cos=0.95).collect()}
    assert out[0] == (0, 1) and out[1] == (1, 1)
    assert out[2][0] == 0 and out[2][1] == 0
    assert out[3][0] == 1 and out[3][1] == 0
    assert out[4][0] == 1 and out[4][1] == 1  # cos(4, 1)=0.8 < 0.95 threshold


def test_semantic_dedup_cluster_cap_bounds_pair_stage(spark):
    """Scale guard (VERDICT r5-6): a skewed cluster larger than max_cluster
    contributes only its max_cluster lowest-id members to the pair stage;
    overflow members are conservatively KEPT, never pruned, and the
    corpus-derived k engages when k_clusters is omitted."""
    # 1 seed direction, 60 near-identical vectors -> one giant cluster
    rows = [(i, [1.0, i * 1e-6, 0.0]) for i in range(60)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["kept"] for r in
           similarity.semantic_dedup(
               embs, k_clusters=1, min_cos=0.99, max_cluster=10
           ).collect()}
    # inside the capped window: 0 kept, 1..9 pruned against it
    assert out[0] == 1 and all(out[i] == 0 for i in range(1, 10))
    # overflow members never enter the self-join -> kept
    assert all(out[i] == 1 for i in range(10, 60))
    # corpus-derived k: n=60, target 20 -> k=max(8, 3)=8 seeds, runs clean
    auto = similarity.semantic_dedup(
        embs, min_cos=0.999999, target_cluster_size=20
    ).collect()
    assert len(auto) == 60


def test_canonical_url_rules(spark):
    from blazegraph_database_spark.operators import text as T

    cases = [
        ("HTTPS://WWW.Ex.COM:443/a/b/?utm_source=x&z=1&a=2#f", "https://ex.com/a/b?a=2&z=1"),
        ("http://ex.com:80/", "http://ex.com"),
        ("http://ex.com/p?fbclid=123", "http://ex.com/p"),
        ("http://ex.com/p?gclid=1&ref=tw&keep=v", "http://ex.com/p?keep=v"),
        ("  plain-text  ", "plain-text"),
        ("https://sub.www.ex.com/x", "https://sub.www.ex.com/x"),  # only LEADING www. strips
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(T.canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_bigram_logprob_orders_typicality(spark):
    """A document made of the corpus's dominant bigram scores lower
    (more typical) than one of rare transitions; sub-2-token docs vanish."""
    rows = [
        (1, "a b a b a b a b"),
        (2, "a b a b a b a b"),
        (3, "b a z q"),
        (4, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.bigram_logprob(df).collect()}
    assert 4 not in out
    assert out[1]["n_bigrams"] == 7
    assert out[1]["neg_logprob"] < out[3]["neg_logprob"]


def test_paragraph_dedup_first_occurrence_wins(spark):
    rows = [
        (1, "alpha beta\n\nshared boilerplate text\n\ngamma delta"),
        (2, "shared  BOILERPLATE   text\n\nunique second paragraph"),
        (3, "SHARED boilerplate TEXT"),
        (4, "   \n\n  "),  # only whitespace paragraphs -> drops out
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.paragraph_dedup(df).collect()}
    # doc 1 keeps all three paragraphs (it holds the first occurrence)
    assert out[1]["n_kept"] == 3 and out[1]["n_dropped"] == 0
    assert out[1]["text"] == "alpha beta\n\nshared boilerplate text\n\ngamma delta"
    # doc 2 loses the normalized duplicate, keeps its unique paragraph
    assert out[2]["n_kept"] == 1 and out[2]["n_dropped"] == 1
    assert out[2]["text"] == "unique second paragraph"
    # doc 3 was ONLY the duplicate -> no output row
    assert 3 not in out and 4 not in out


def test_paragraph_dedup_out_of_range_id_fails_loud(spark):
    """A doc_id outside the packed-key domain must raise, not silently
    overflow into a neighboring doc's key range (ADVICE r7)."""
    import pytest

    df = spark.createDataFrame(
        [(9_223_372_036_854, "some paragraph"), (1, "other text")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="paragraph_dedup"):
        text.paragraph_dedup(df).collect()


def test_dsir_prefers_target_like_docs(spark):
    raw = spark.createDataFrame(
        [
            (1, "physics quantum relativity electron photon"),
            (2, "physics quantum field theory boson"),
            (3, "recipe sugar flour butter oven bake"),
            (4, "recipe salt pepper onion garlic stew"),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "quantum physics electron boson relativity")],
        "doc_id long, text string",
    )
    scores = {r["doc_id"]: r["weight"] for r in text.dsir_scores(raw, target).collect()}
    assert scores[1] > scores[3] and scores[2] > scores[4]
    top2 = [r["doc_id"] for r in text.dsir_select(raw, target, n_keep=2).collect()]
    assert set(top2) == {1, 2}


def test_nb_classifier_separates_classes(spark):
    df = spark.createDataFrame(
        [
            (1, True, "good clean prose sentence here"),
            (2, True, "another good clean sentence follows"),
            (3, False, "spam junk click buy now"),
            (4, False, "junk spam buy click offer"),
            (5, True, "good prose with clean sentence"),
        ],
        "doc_id long, is_pos boolean, text string",
    )
    out = {r["doc_id"]: r for r in text.nb_token_classifier(df, "is_pos").collect()}
    assert out[1]["pred"] == 1 and out[2]["pred"] == 1 and out[5]["pred"] == 1
    assert out[3]["pred"] == 0 and out[4]["pred"] == 0
    assert out[1]["score"] > 0 > out[3]["score"]


def test_perplexity_buckets_per_language(spark):
    rows = [(i, "en", "common words repeated " * 3) for i in range(1, 4)]
    rows += [(4, "en", "zyzzyva qwerty xylophone unusual rare")]
    rows += [(5, "fr", "le chat noir"), (6, "fr", "zut alors incroyable")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r["doc_id"]: r for r in text.perplexity_buckets(df).collect()}
    # the rare-word doc lands in the worst en bucket
    assert out[4]["ppl_bucket"] == 3
    assert out[1]["ppl_bucket"] == 1
    # languages bucket independently: fr has its own tiers starting at 1
    assert {out[5]["ppl_bucket"], out[6]["ppl_bucket"]} <= {1, 2, 3}
    assert min(out[5]["ppl_bucket"], out[6]["ppl_bucket"]) == 1


def test_matryoshka_truncation_changes_space(spark):
    # 4-dim embeddings where full-space and first-2-dim nearest differ
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 5.0, 0.0]),   # full space: far from 0; truncated: identical
        (2, [0.9, 0.1, 0.0, 0.0]),   # full space: nearest to 0
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0)
    full = similarity.brute_force_topk(df, q, k=1).collect()[0]
    trunc = similarity.matryoshka_topk(df, q, d_prime=2, k=1).collect()[0]
    assert full["neighbor"] == 2
    assert trunc["neighbor"] == 1 and trunc["cos"] == 1.0


def test_interleave_sources_round_robin(spark):
    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = text.interleave_sources(df).collect()
    by_pos = {r["pos"]: r["source"] for r in out}
    assert len(by_pos) == 10  # positions are unique
    # positions stride sources round-robin: even positions = source a
    for p, s in by_pos.items():
        assert s == ("a" if p % 2 == 0 else "b")
    # deterministic across invocations
    again = {r["pos"]: r["doc_id"] for r in text.interleave_sources(df).collect()}
    assert again == {r["pos"]: r["doc_id"] for r in out}


def test_matryoshka_rerank_recovers_full_space_answer(spark):
    """With a generous shortlist, the two-stage rerank equals full-space
    brute force (the shortlist only bounds how much full-dim work runs)."""
    import math

    rows = [(i, [math.sin(i * 0.7 + j) for j in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 3)
    full = {(r["q"], r["neighbor"]) for r in similarity.brute_force_topk(df, q, k=3).collect()}
    two = {
        (r["q"], r["neighbor"])
        for r in similarity.matryoshka_rerank_topk(df, q, d_prime=4, shortlist=29, k=3).collect()
    }
    assert two == full


def test_exact_dedup_best_keeps_highest_quality(spark):
    rows = [
        (1, "same text here", 10.0),
        (2, "SAME  Text HERE", 50.0),   # normalized dup, higher quality
        (3, "same text here", 50.0),    # ties with 2 -> lower id wins
        (4, "unique doc", 7.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, quality double")
    out = {r["rep_id"]: (r["n_copies"], r["best_quality"]) for r in
           dedup.exact_dedup_best(df, order_col="quality").collect()}
    assert out == {2: (3, 50.0), 4: (1, 7.0)}


def test_contamination_bloom_equals_exact(spark):
    """contamination_flags_bloom == contamination_flags even under heavy
    Bloom false positives: an 64-bit bitmap (m_bits=64) makes nearly every
    gram a Bloom candidate, so only the exact verify join keeps the result
    right."""
    from blazegraph_database_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (1, "alpha beta gamma delta epsilon zeta eta theta kappa"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "cats dogs birds fish mice lions tigers bears wolves"),
        ],
        "doc_id long, text string",
    )
    probe = docs.filter(F.col("doc_id") == 0)
    exact = {
        (r["id"], r["n_overlap"])
        for r in T.contamination_flags(docs, probe, n=8).collect()
    }
    bloom = {
        (r["id"], r["n_overlap"])
        for r in T.contamination_flags_bloom(docs, probe, n=8, m_bits=64, k=2).collect()
    }
    assert bloom == exact and (0, 2) in exact and (1, 1) in exact
    assert not any(i in (2, 3) for i, _ in bloom)


def test_contamination_bloom_plan_no_probe_broadcast(spark):
    """The Bloom path must broadcast ONLY the m/64-row bitmap: the raw
    probe gram set joins via shuffle (that's the point — probe sets beyond
    broadcast size), and the bitmap build is a partial-aggregable bit_or."""
    from blazegraph_database_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = T.contamination_flags_bloom(docs, docs.limit(5), n=8)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "bit_or" in p  # bitmap built with the map-side-combinable agg
    assert "CartesianProduct" not in p
    # exact-verify join side keeps the shuffle hint (no broadcast of grams)
    assert "ShuffledHashJoin" in p or "SortMergeJoin" in p


def test_lsh_duplicate_id_in_bucket_emits_no_self_pairs(spark):
    """An id repeated within one LSH bucket (duplicate signature rows) must
    not pair with itself: candidate pairs stay strictly a < b."""
    sig = list(range(dedup.NUM_PERM))
    dup_only = spark.createDataFrame([(1, sig), (1, sig)], "id long, sig array<long>")
    assert dedup.lsh_candidate_pairs(dup_only).collect() == []
    mixed = spark.createDataFrame(
        [(1, sig), (1, sig), (2, sig)], "id long, sig array<long>"
    )
    assert {(r.a, r.b) for r in dedup.lsh_candidate_pairs(mixed).collect()} == {(1, 2)}
