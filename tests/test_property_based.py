"""Property-based tests (hypothesis): serialization round-trips and parser
totality (SURVEY.md §5)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from blazegraph_database_spark.model.terms import Lit, Var, const_lex

# hypothesis drives many examples; one shared Spark round-trip per example is
# too slow, so serialization round-trips run through the plain-Python term
# logic and a single batched Spark check covers the distributed path.

_LEX = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters='\x00'),
    min_size=0,
    max_size=40,
)
_IRIISH = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789:/#._-", min_size=1, max_size=30)
_DT = st.sampled_from(["string", "long", "double", "boolean", "timestamp", "lang:en", "lang:pt-BR"])


def _nt_escape(lex: str) -> str:
    return lex.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n").replace("\t", "\\t")


def _nt_unescape(s: str) -> str:
    # mirrors sources/ntriples._term_cols: \" \\ \n \t
    out, i = [], 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            c = s[i + 1]
            out.append({"n": "\n", "t": "\t", '"': '"', "\\": "\\"}.get(c, "\\" + c))
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


@given(lex=_LEX)
@settings(max_examples=200)
def test_literal_escape_roundtrip(lex):
    assert _nt_unescape(_nt_escape(lex)) == lex


@given(s=_IRIISH, p=_IRIISH, lex=_LEX, dt=_DT)
@settings(max_examples=100)
def test_sid_encoding_accessors_roundtrip(s, p, lex, dt):
    """The RDF-star sid encoding is invertible the way ``terms.sid_parts``
    and ``sid_fields`` decode it (split the inside on '|', re-join the
    middle fields) whenever the subject, predicate and type are |-free (the
    documented constraint); the object lexical may hold a '|'."""
    from blazegraph_database_spark.model.terms import sid_lex

    if "|" in s or "|" in p or "|" in dt:
        return
    parts = sid_lex(s, p, lex, dt)[2:-2].split("|")
    assert len(parts) >= 4
    assert (parts[0], parts[1], "|".join(parts[2:-1]), parts[-1]) == (s, p, lex, dt)


@given(
    n=st.integers(min_value=-(2**31), max_value=2**31),
    d=st.floats(allow_nan=False, allow_infinity=False, width=32),
)
@settings(max_examples=100)
def test_parser_numeric_literals(n, d):
    """The SPARQL tokenizer must lex any int/float literal Python can print."""
    from blazegraph_database_spark.plans.sparql_parser import tokenize

    toks = tokenize(f"SELECT ?x WHERE {{ ?x <p> {n} . ?x <q> {d!r} }}")
    assert toks[-1].kind == "EOF"


@given(
    parts=st.lists(
        st.tuples(_IRIISH, _IRIISH, _LEX.filter(lambda s: s.strip() and not s.strip().startswith("#"))),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=50, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_ntriples_line_shape(parts):
    """Writer-shaped lines must re-parse to the same terms (regex parity
    with the write expression — checked in plain Python; the distributed
    read/write pair is covered in test_sources)."""
    import re

    from blazegraph_database_spark.sources.ntriples import NT_LINE

    for s, p, lex in parts:
        line = f'<{s}> <{p}> "{_nt_escape(lex)}" .'
        m = re.match(NT_LINE, line)
        assert m, line
        assert m.group(1) == f"<{s}>" and m.group(2) == f"<{p}>"
        assert _nt_unescape(m.group(3)[1:-1]) == lex


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)), min_size=1, max_size=12
    ),
    shape=st.sampled_from(["chain3", "star3", "triangle"]),
    data=st.data(),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_id_join_path_equals_lexical_path(spark, edges, shape, data):
    """The dictionary-encoded join path must be result-identical to the
    all-lexical path on random graphs and BGP shapes — the invariant the
    conservative classifier promises (a classification can only change the
    physical plan, never the bindings)."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.model.terms import Var as V
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans import compiler

    rows = [(f"n{a}", "knows", f"n{b}", "iri") for a, b in edges]
    rows += [(f"n{a}", "age", str(10 + a), "long") for a, _ in edges]
    st_ = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    if shape == "chain3":
        plan = A.Project(
            A.BGP([A.SP(V("x"), "knows", V("y")), A.SP(V("y"), "knows", V("z")),
                   A.SP(V("z"), "age", V("a"))]),
            ["a"],
        )
    elif shape == "star3":
        plan = A.Project(
            A.BGP([A.SP(V("x"), "knows", V("y")), A.SP(V("x"), "knows", V("z")),
                   A.SP(V("x"), "age", V("a"))]),
            ["a"],
        )
    else:
        plan = A.Project(
            A.BGP([A.SP(V("x"), "knows", V("y")), A.SP(V("y"), "knows", V("z")),
                   A.SP(V("z"), "knows", V("x"))]),
            ["x"],
        )
    with_ids = sorted(map(tuple, compiler.evaluate(st_, plan).collect()))
    real = compiler._id_join_vars
    try:
        compiler._id_join_vars = lambda node: frozenset()
        lexical = sorted(map(tuple, compiler.evaluate(st_, plan).collect()))
    finally:
        compiler._id_join_vars = real
    assert with_ids == lexical


@given(
    lat=st.tuples(st.floats(-90, 90), st.floats(-90, 90)).map(sorted),
    lon=st.tuples(st.floats(-180, 180), st.floats(-180, 180)).map(sorted),
    bits=st.integers(3, 7),
)
@settings(max_examples=60, deadline=None)
def test_zorder_ranges_exact_cover_property(lat, lon, bits):
    """For any rectangle and bit depth, the full-depth decomposition covers
    exactly the quantized rectangle's Morton keys (no gaps, no excess)."""
    from blazegraph_database_spark.operators import geospatial as G

    (lat0, lat1), (lon0, lon1) = lat, lon
    rngs = G.zorder_ranges(
        lat0, lat1, lon0, lon1, bits=bits, max_ranges=10**9, depth_limit=bits
    )
    qx0, qx1 = G._quantize_py(lat0, -90, 90, bits), G._quantize_py(lat1, -90, 90, bits)
    qy0, qy1 = G._quantize_py(lon0, -180, 180, bits), G._quantize_py(lon1, -180, 180, bits)

    def ilv(x, y):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    covered = set()
    for lo, hi in rngs:
        covered.update(range(lo, hi + 1))
    expect = {
        ilv(x, y) for x in range(qx0, qx1 + 1) for y in range(qy0, qy1 + 1)
    }
    assert covered == expect
    # ranges are sorted, disjoint, non-adjacent (maximally merged)
    for (lo1, hi1), (lo2, hi2) in zip(rngs, rngs[1:]):
        assert hi1 + 1 < lo2


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)), min_size=1, max_size=12
    ),
    deleted_frac=st.floats(0.1, 0.9),
    data=st.data(),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_tc_retract_equals_recompute_random(spark, edges, deleted_frac, data):
    """DRed transitive-closure retraction equals a from-scratch closure of
    the surviving edges on RANDOM graphs (cycles, self-loops, multi-support
    diamonds included) — the invariant behind rdfs.tc_retract."""
    import itertools

    from blazegraph_database_spark.inference.rdfs import tc_retract

    edges = sorted({(f"n{a}", f"n{b}") for a, b in edges})
    n_del = max(1, int(len(edges) * deleted_frac))
    deleted = edges[:n_del]
    kept = edges[n_del:]

    def tc_py(es):
        nodes = set(itertools.chain(*es)) or {"x"}
        reach = {n: set() for n in nodes}
        for a, b in es:
            reach[a].add(b)
        changed = True
        while changed:
            changed = False
            for a in nodes:
                add = set().union(*(reach.get(m, set()) for m in reach[a])) if reach[a] else set()
                if not add <= reach[a]:
                    reach[a] |= add
                    changed = True
        return {(a, b) for a in nodes for b in reach[a]}

    tc_old_set = tc_py(edges)
    tc_old = (
        spark.createDataFrame(sorted(tc_old_set), "src string, dst string")
        if tc_old_set
        else spark.createDataFrame([], "src string, dst string")
    )
    e_new = (
        spark.createDataFrame(kept, "src string, dst string")
        if kept
        else spark.createDataFrame([], "src string, dst string")
    )
    dele = spark.createDataFrame(deleted, "src string, dst string")
    got = {(r["src"], r["dst"]) for r in tc_retract(tc_old, e_new, dele).collect()}
    assert got == tc_py(kept)


# schema edges over a few classes and properties, data over a few nodes
# (IRI objects, plus a literal object rdfs3 must skip): small pools, so
# random rows share premises and heads (multiple support, cycles)
_TM_CLASS = st.sampled_from(["c0", "c1", "c2"])
_TM_PROP = st.sampled_from(["p0", "p1", "p2"])
_TM_NODE = st.sampled_from(["x0", "x1", "x2"])
_TM_SCHEMA = st.one_of(
    st.tuples(st.sampled_from(["rdfs:subClassOf", "owl:equivalentClass"]), _TM_CLASS, _TM_CLASS),
    st.tuples(st.just("rdfs:subPropertyOf"), _TM_PROP, _TM_PROP),
    st.tuples(st.sampled_from(["rdfs:domain", "rdfs:range"]), _TM_PROP, _TM_CLASS),
)
_TM_DATA = st.one_of(
    st.tuples(_TM_NODE, _TM_PROP, _TM_NODE, st.just("iri")),
    st.tuples(_TM_NODE, _TM_PROP, st.just("v"), st.just("string")),
    st.tuples(_TM_NODE, st.just("rdf:type"), _TM_CLASS, st.just("iri")),
)


@given(
    schema=st.lists(_TM_SCHEMA, min_size=1, max_size=6, unique=True),
    rows=st.lists(_TM_DATA, min_size=2, max_size=10, unique=True),
    ins=st.lists(_TM_DATA, min_size=1, max_size=3, unique=True),
    dels=st.lists(st.integers(0, 9), min_size=1, max_size=3),
)
# a class with two supports: deleting one keeps (x0 type c2)
@example(
    schema=[("rdfs:subClassOf", "c0", "c2"), ("rdfs:subClassOf", "c1", "c2")],
    rows=[("x0", "rdf:type", "c0", "iri"), ("x0", "rdf:type", "c1", "iri")],
    ins=[("x1", "rdf:type", "c0", "iri")],
    dels=[0],
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_rdfs_tm_equals_recompute_random(spark, schema, rows, ins, dels):
    """Every RDFS truth-maintenance path lands on a from-scratch closure of
    the new explicit set, on RANDOM schemas (subclass/subproperty cycles,
    equivalentClass, domain/range) and data: delta_assert on insert,
    dred_retract and counting_retract (over build_support_counts) on
    retraction — the invariant behind UpdatableStore's TM paths."""
    from blazegraph_database_spark.inference import rdfs
    from blazegraph_database_spark.model.store import TripleStore

    cols = "s string, p string, o_lex string, o_dt string"

    def frame(triples):
        return spark.createDataFrame(sorted(triples), cols)

    def closure(triples):
        return {tuple(r) for r in rdfs.rdfs_closure(TripleStore(frame(triples))).df.collect()}

    def rows_of(df):
        return {tuple(r) for r in df.select("s", "p", "o_lex", "o_dt").collect()}

    explicit = {(s, p, o, "iri") for p, s, o in schema} | set(rows)
    dels = {rows[i % len(rows)] for i in dels}
    closed = rdfs.rdfs_closure(TripleStore(frame(explicit))).df.localCheckpoint()
    # insert: a data-only delta forward-chains against the closed store
    assert rows_of(rdfs.delta_assert(closed, frame(ins))) == closure(explicit | set(ins))
    # retract: delete/re-derive and support-count decrement
    kept = explicit - dels
    want = closure(kept)
    assert rows_of(rdfs.dred_retract(closed, frame(kept), frame(dels))) == want
    counts = rdfs.build_support_counts(closed, frame(explicit))
    _, new_closed = rdfs.counting_retract(counts, frame(kept), frame(dels), closed)
    assert rows_of(new_closed) == want


@given(
    qty=st.lists(st.integers(1, 60), min_size=2, max_size=10),
    thresh=st.integers(5, 55),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_native_typed_path_equals_lexical_random(spark, qty, thresh):
    """The native-typed binding is result-identical to the lexical path on
    random numeric data and thresholds — the classifier invariant (a
    classification changes the physical plan, never the bindings)."""
    from blazegraph_database_spark.functions.sparql_funcs import num
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.model.terms import Var as V
    from blazegraph_database_spark.plans import algebra as A
    from blazegraph_database_spark.plans import compiler
    from pyspark.sql import functions as F

    rows = [(f"i{i}", "qty", str(q), "long") for i, q in enumerate(qty)]
    st_ = TripleStore(
        spark.createDataFrame(rows, "s string, p string, o_lex string, o_dt string")
    )
    st_.pred_dt = {"qty": "long"}
    plan = A.Group(
        A.Filter(num("v") > float(thresh), A.BGP([A.SP(V("x"), "qty", V("v"))])),
        keys=(),
        aggs=[("n", F.count(F.lit(1))), ("s", F.sum(num("v")))],
    )
    native = sorted(map(tuple, compiler.evaluate(st_, plan).collect()))
    real = compiler._native_typed_vars
    try:
        compiler._native_typed_vars = lambda n, s: {}
        lexical = sorted(map(tuple, compiler.evaluate(st_, plan).collect()))
    finally:
        compiler._native_typed_vars = real
    assert native == lexical


# ------------------------------------------------------ writer round-trips --
_W_LEX = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"), whitelist_characters="\n\t\r"
    ),
    min_size=0,
    max_size=30,
)
_W_SUBJ = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789/#:._-", min_size=1, max_size=20).map(
    lambda s: "http://ex/" + s
)
# predicate local part must end in an NCName char for RDF/XML (documented
# writer boundary — real RDF/XML writers share it)
_W_PRED = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=10).map(
    lambda s: "http://ex/ns#" + s
)
_W_VALUE = st.one_of(
    st.tuples(_W_LEX, st.just("string")),
    st.tuples(_W_LEX, st.just("lang:en")),
    st.tuples(st.integers(-10**9, 10**9).map(str), st.just("long")),
    st.tuples(st.just("2.5"), st.just("double")),
    st.tuples(st.sampled_from(["true", "false"]), st.just("boolean")),
    st.tuples(_W_SUBJ, st.just("iri")),
)
_W_ROWS = st.lists(st.tuples(_W_SUBJ, _W_PRED, _W_VALUE), min_size=1, max_size=6)


@given(rows=_W_ROWS)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_writers_roundtrip_property(spark, rows):
    """Any triple set the model can hold must survive WRITER → READER for
    Turtle, RDF/XML and JSON-LD (ref: ConnegUtil writers must round-trip
    with rio parsers). Format caveats: the RDF/XML reader strips literal
    whitespace (its documented subset), so expectations strip there too."""
    from blazegraph_database_spark.sources import rdf_formats, rdf_writers
    import tempfile, os

    data = [(s, p, lex, dt) for s, p, (lex, dt) in rows]
    df = spark.createDataFrame(data, "s string, p string, o_lex string, o_dt string")
    orig = {(s, p, lex, dt) for s, p, lex, dt in data}
    d = tempfile.mkdtemp(prefix="prop_wrt_")
    for writer, reader, ext, norm in [
        ("turtle_doc", "read_turtle", "ttl", lambda t: t),
        ("rdfxml_doc", "read_rdfxml", "rdf", lambda t: (t[0], t[1], t[2].strip(), t[3])),
        ("jsonld_doc", "read_jsonld", "jsonld", lambda t: t),
    ]:
        doc = getattr(rdf_writers, writer)(df)
        path = os.path.join(d, f"doc.{ext}")
        with open(path, "w") as f:
            f.write(doc)
        back = {tuple(r) for r in getattr(rdf_formats, reader)(spark, path).collect()}
        assert back == {norm(t) for t in orig}, writer


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=10),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_remove_duplicate_spans_matches_reference(spark, docs):
    """Span dedup must equal a direct Python reference on random tiny
    corpora (3-word alphabet forces heavy window collisions — the
    adversarial case for keeper selection and overlap handling)."""
    from collections import Counter, defaultdict

    from blazegraph_database_spark.operators import dedup

    k = 3
    words = {i: ws for i, ws in enumerate(docs)}

    # reference implementation: first (doc_id, pos) occurrence of each
    # duplicated k-window survives; every other occurrence's range is cut
    occ = []
    for i, ws in words.items():
        for p in range(1, len(ws) - k + 2):
            occ.append((i, p, tuple(ws[p - 1 : p - 1 + k])))
    cnt = Counter(g for _, _, g in occ)
    keeper = {}
    for i, p, g in sorted(occ):
        keeper.setdefault(g, (i, p))
    covered = defaultdict(set)
    for i, p, g in occ:
        if cnt[g] > 1 and keeper[g] != (i, p):
            covered[i].update(range(p, p + k))
    expect = {
        i: (len(ws), len(covered[i] & set(range(1, len(ws) + 1))),
            " ".join(w for j, w in enumerate(ws, 1) if j not in covered[i]))
        for i, ws in words.items()
    }

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in words.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_removed"], r["clean_text"])
        for r in dedup.remove_duplicate_spans(df, k=k).collect()
    }
    assert got == expect


@given(ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=30, unique=True))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_deterministic_shuffle_matches_md5_arithmetic(spark, ids):
    seed = "epX"
    """The epoch shuffle's (shard, pos) must equal plain-Python md5
    arithmetic — the cross-engine determinism the op promises (same rows,
    same order, on any cluster layout or engine)."""
    import hashlib

    from blazegraph_database_spark.operators import text as T

    def key(i):
        return int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:12], 16)

    shards = 4
    by_shard = {}
    for i in ids:
        by_shard.setdefault(key(i) % shards, []).append(i)
    expect = {}
    for sh, members in by_shard.items():
        for pos, i in enumerate(sorted(members, key=lambda x: (key(x), x)), 1):
            expect[i] = (sh, pos)

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in T.deterministic_shuffle(df, shards=shards, seed=seed).collect()
    }
    assert got == expect


@given(
    corpus=st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4"]), min_size=3, max_size=8),
        min_size=1,
        max_size=4,
    ),
    probes=st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4"]), min_size=3, max_size=8),
        min_size=1,
        max_size=2,
    ),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_fuzzy_decontaminate_matches_bruteforce(spark, corpus, probes):
    """LSH-bucketed decontamination must equal brute-force shingle Jaccard
    at threshold 0.7 (32x2 banding recall ~1-4e-10 makes them equal)."""
    from blazegraph_database_spark.operators import dedup

    def shingles(ws):
        return {tuple(ws[i : i + 3]) for i in range(len(ws) - 2)}

    expect = {}
    for ci, cws in enumerate(corpus):
        cs = shingles(cws)
        if not cs:
            continue
        jacs = []
        for pws in probes:
            ps = shingles(pws)
            if not ps:
                continue
            j = len(cs & ps) / len(cs | ps)
            if round(j, 4) >= 0.7:
                jacs.append(round(j, 4))
        if jacs:
            expect[ci] = (len(jacs), max(jacs))

    cdf = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)], "doc_id long, text string"
    )
    pdf = spark.createDataFrame(
        [(100 + i, " ".join(ws)) for i, ws in enumerate(probes)], "doc_id long, text string"
    )
    got = {
        r["id"]: (r["n_matched"], r["max_jac"])
        for r in dedup.fuzzy_decontaminate(cdf, pdf, threshold=0.7).collect()
    }
    assert got == expect


@given(
    ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=25, unique=True),
    rate=st.integers(1, 35000),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_resample_epochs_matches_md5_arithmetic(spark, ids, rate):
    """Epoch resampling membership (including >1-epoch repetition) must
    equal plain-Python md5 arithmetic — the cross-engine determinism the
    op promises at any rate, scale, or partitioning."""
    import hashlib

    from blazegraph_database_spark.operators import text as T

    seed = "epoch-prop"

    def bucket(g, i, rep):
        return int(hashlib.md5(f"{seed}:{g}:{i}:{rep}".encode()).hexdigest()[:8], 16) % 10000

    expect = set()
    for i in ids:
        for rep in range((rate - 1) // 10000 + 1):
            if rate - 10000 * rep > bucket("en", i, rep):
                expect.add((i, rep))

    df = spark.createDataFrame([(i, "en") for i in ids], "doc_id long, lang string")
    got = {
        (r["doc_id"], r["rep"])
        for r in T.resample_epochs(df, {"en": rate}, group_col="lang", seed=seed).collect()
    }
    assert got == expect


_WORDS = st.lists(
    st.sampled_from(["the", "a", "cat", "Dog", "run##", "x1", "...", "zebra", "of", "to"]),
    min_size=0,
    max_size=40,
)


@given(docs=st.lists(_WORDS, min_size=1, max_size=6))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_unigram_logprob_matches_python_reference(spark, docs):
    """The distributed unigram LM score equals a plain-Python computation of
    the same arithmetic on any random tiny corpus (empty docs drop out)."""
    import math

    from blazegraph_database_spark.operators import text as T

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["neg_logprob"])
           for r in T.unigram_logprob(df).collect()}
    toks = {i: [w.lower() for w in ws] for i, ws in enumerate(docs)}
    vocab: dict[str, int] = {}
    for ws in toks.values():
        for w in ws:
            vocab[w] = vocab.get(w, 0) + 1
    total = sum(vocab.values())
    for i, ws in toks.items():
        if not ws:
            assert i not in got
            continue
        score = round(sum(-math.log(vocab[w] / total) for w in ws) / len(ws), 4)
        assert got[i][0] == len(ws)
        assert abs(got[i][1] - score) <= 1e-9, (i, got[i], score)


@given(docs=st.lists(_WORDS, min_size=1, max_size=5))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_gopher_word_features_match_python(spark, docs):
    """Word-level Gopher features (count, mean length, alpha fraction,
    distinct stopwords, symbol ratio) equal a direct Python computation."""
    from blazegraph_database_spark.operators import text as T

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in T.gopher_rules(df).collect()}
    for i, ws in enumerate(docs):
        n = len(ws)
        nz = max(n, 1)
        r = out[i]
        assert r["n_words"] == n
        assert r["mean_word_len"] == round(sum(map(len, ws)) / nz, 4)
        alpha = sum(1 for w in ws if any(c.isascii() and c.isalpha() for c in w))
        assert r["alpha_frac"] == round(alpha / nz, 6)
        stops = len({w.lower() for w in ws} & set(T.STOPWORDS_EN))
        assert r["n_stop"] == stops
        text = " ".join(ws)
        sym = text.count("#") + len(__import__("re").findall(r"\.\.\.", text))
        assert r["symbol_ratio"] == round(sym / nz, 6)


@given(
    paras=st.lists(
        st.lists(st.sampled_from(["aa bb", "cc", "dd ee ff", "AA  BB", " cc "]),
                 min_size=0, max_size=4),
        min_size=1,
        max_size=6,
    ),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_paragraph_dedup_equals_python_reference(spark, paras):
    """paragraph_dedup equals a plain-Python first-occurrence filter on
    random corpora with case/whitespace variants of the same paragraphs."""
    import re as _re

    from blazegraph_database_spark.operators.text import paragraph_dedup

    docs = [(i, "\n\n".join(ps)) for i, ps in enumerate(paras)]

    def norm(p: str) -> str:
        return _re.sub(r"\s+", " ", p.strip().lower())

    seen: set[str] = set()
    want: dict[int, tuple[str, int, int]] = {}
    for i, ps in enumerate(paras):
        kept, dropped = [], 0
        for p in ps:
            if not p.strip():
                continue
            n = norm(p)
            if n in seen:
                dropped += 1
            else:
                seen.add(n)
                kept.append(p)
        if kept:
            want[i] = ("\n\n".join(kept), len(kept), dropped)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
        for r in paragraph_dedup(df).collect()
    }
    assert got == want


# ---- one-pattern DELETE/INSERT WHERE: the Δ against a python set model ----
_RDF_TYPE_FULL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_XSD = "http://www.w3.org/2001/XMLSchema#"
_U_SUBJ = ["urn:s1", "urn:s2", "urn:s3"]
_U_PRED = ["urn:p", "urn:q", "rdf:type", _RDF_TYPE_FULL]
_U_OBJ = [
    "urn:s1", "urn:C", ("5", "long"), ("5", "string"), ("2.5", "double"), ("urn:s2", "string"),
]
# always in the store: a blank-node object and a compact-spelled rdf:type
_U_FIXED = [("urn:s1", "urn:p", "_:b1", "bnode"), ("urn:s2", "rdf:type", "urn:C", "iri")]


def _u_term(t):
    """A pool entry as a parser term: a (lex, dt) pair is a literal, a
    string an IRI."""
    return Lit(*t) if isinstance(t, tuple) else t


def _u_key(t):
    return (t, "iri") if isinstance(t, str) else t


_U_ROW = st.tuples(
    st.sampled_from(_U_SUBJ), st.sampled_from(_U_PRED), st.sampled_from(_U_OBJ),
    st.sampled_from([None, None, "urn:g1"]),
).map(lambda r: (r[0], r[1], *_u_key(r[2]), r[3]))


@st.composite
def _u_update(draw):
    """(form, P, delete entries, insert entries, WITH graph): P is one
    triple pattern, each position a variable or a constant (``?s p ?s``
    repeats a variable); template entries take P's variables or
    constants."""
    pat = (
        draw(st.sampled_from([Var("s"), *_U_SUBJ])),
        draw(st.sampled_from([Var("p"), *_U_PRED])),
        draw(st.sampled_from([Var("o"), Var("s"), *map(_u_term, _U_OBJ)])),
    )
    pvars = sorted({t for t in pat if isinstance(t, Var)}, key=lambda v: v.name)

    def entry():
        return tuple(
            draw(st.sampled_from(pvars + pool))
            for pool in (_U_SUBJ, _U_PRED, [*map(_u_term, _U_OBJ), _u_term(("new", "string"))])
        )

    form = draw(st.sampled_from(["delete_where", "delete", "insert", "delete_insert"]))
    dels = [pat] if form == "delete_where" else []
    if form in ("delete", "delete_insert"):
        dels = [draw(st.sampled_from([pat, entry()]))]
    ins = [entry()] if form in ("insert", "delete_insert") else []
    with_g = None if form == "delete_where" else draw(st.sampled_from([None, None, "urn:g1"]))
    return form, pat, dels, ins, with_g


def _u_text(form, pat, dels, ins, with_g) -> str:
    def term(t):
        if isinstance(t, Var):
            return "?" + t.name
        if isinstance(t, Lit):
            dt = {"long": "integer", "double": "double"}.get(t.dt)
            return f'"{t.lex}"' + (f"^^<{_XSD}{dt}>" if dt else "")
        return f"<{t}>"

    def block(ts):
        return "{ " + " ".join(" ".join(map(term, t)) + " ." for t in ts) + " }"

    if form == "delete_where":
        return "DELETE WHERE " + block([pat])
    head = f"WITH <{with_g}> " if with_g else ""
    if dels:
        head += "DELETE " + block(dels) + " "
    if ins:
        head += "INSERT " + block(ins) + " "
    return head + "WHERE " + block([pat])


def _u_model(rows: set, quads: bool, form, pat, dels, ins, with_g):
    """The engine's semantics on a python set: WITH upgrades a triples
    store to quads; the WHERE ranges over WITH's graph, else every graph;
    a constant predicate (or IRI object) matches its compact and full
    spellings; a repeated variable compares lexicals; a variable bound at
    the object carries the stored type with ``bnode`` read as ``iri``, one
    bound at the subject or predicate the type ``iri``; templates write to
    WITH's graph, else the default graph."""
    from blazegraph_database_spark.plans.compiler import _pred_aliases

    if with_g is not None and not quads:
        rows, quads = {r + (None,) for r in rows}, True
    scope = [r for r in rows if with_g is None or r[4] == with_g]
    sols = []
    for r in scope:
        b, ok = {}, True
        for pos, t in enumerate(pat):
            lex = r[2] if pos == 2 else r[pos]
            if isinstance(t, Var):
                if t.name in b:
                    ok = ok and b[t.name][0] == lex
                else:
                    dt = "iri" if pos < 2 or r[3] == "bnode" else r[3]
                    b[t.name] = (lex, dt)
            elif pos == 0:
                ok = ok and lex == t
            elif isinstance(t, Lit):
                ok = ok and (t.lex, t.dt) == (r[2], r[3])
            else:
                ok = ok and lex in _pred_aliases(const_lex(t)) and (pos == 1 or r[3] == "iri")
        if ok:
            sols.append(b)

    def inst(t, b):
        s, p, o = (
            b[x.name] if isinstance(x, Var) else (x.lex, x.dt) if isinstance(x, Lit) else (x, "iri")
            for x in t
        )
        return (s[0], p[0], *o) + ((with_g,) if quads else ())

    doomed = {inst(t, b) for t in dels for b in sols}
    new = {inst(t, b) for t in ins for b in sols}
    return (rows - doomed) | new, quads


@given(
    rows=st.lists(_U_ROW, min_size=2, max_size=12, unique=True),
    quads=st.booleans(),
    updates=st.lists(_u_update(), min_size=1, max_size=3),
)
# the value-replace idiom on a typed literal, DELETE WHERE over the
# blank-node object, over the compact rdf:type spelling, and over a
# repeated variable whose object is a literal spelled like the subject
@example(
    rows=[("urn:s3", "urn:q", "5", "long", None), ("urn:s2", "urn:q", "urn:s2", "string", None)],
    quads=False,
    updates=[
        ("delete_insert", ("urn:s3", "urn:q", Var("o")),
         [("urn:s3", "urn:q", Var("o"))], [("urn:s3", "urn:q", Lit("new"))], None),
        ("delete_where", ("urn:s1", "urn:p", Var("o")), [("urn:s1", "urn:p", Var("o"))], [], None),
        ("delete_where", (Var("s"), _RDF_TYPE_FULL, "urn:C"), [(Var("s"), _RDF_TYPE_FULL, "urn:C")], [], None),
        ("delete_where", (Var("s"), "urn:q", Var("s")), [(Var("s"), "urn:q", Var("s"))], [], None),
    ],
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_one_pattern_where_delta_equals_set_model(spark, rows, quads, updates):
    """Random one-pattern DELETE/INSERT WHERE updates, each position a
    constant or a variable, with and without WITH, on a triples and a quad
    store holding typed literals, IRIs, a blank-node object and a
    compact-spelled rdf:type: after each update the store equals a python
    set model, its Δ keeps ``added ∩ base = ∅`` and ``removed ⊆ base``, and
    its stats count what a full recount counts."""
    from collections import Counter

    from blazegraph_database_spark.model.store import QUAD_COLS, TRIPLE_COLS, DeltaStore, TripleStore
    from blazegraph_database_spark.plans.update_parser import apply_update
    from blazegraph_database_spark.update.update import UpdatableStore

    model = {r if quads else r[:4] for r in rows} | {r + (None,) if quads else r for r in _U_FIXED}
    cols = "s string, p string, o_lex string, o_dt string" + (", g string" if quads else "")
    us = UpdatableStore.from_store(TripleStore(spark.createDataFrame(sorted(model, key=str), cols)))
    for upd in updates:
        apply_update(us, _u_text(*upd), spark)
        model, quads = _u_model(model, quads, *upd)
        cur = us.current
        keys = QUAD_COLS if quads else TRIPLE_COLS
        got = {tuple(r) for r in cur.df.select(*keys).collect()}
        assert got == model, _u_text(*upd)
        if isinstance(cur, DeltaStore):
            base = {tuple(r) for r in cur.base.df.select(*keys).collect()}
            added = set().union(*cur.added.values())
            removed = set().union(*cur.removed.values())
            assert not added & base and removed <= base, _u_text(*upd)
        counts = {p: s.count for p, s in cur.stats().items() if s.count}
        assert counts == Counter(r[1] for r in got), _u_text(*upd)
