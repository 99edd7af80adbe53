"""Training-data pipeline operators: dedup family, similarity search,
text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from pdf_parser_python_spark.operators import dedup, media, similarity, textstats

DOCS = [
    # two exact dupes, one near-dup (1 word changed), distinct rest
    (1, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (3, "the quick brown fox jumps over the lazy cat and runs far away home"),
    (4, "completely different content about spark shuffles and partitions"),
    (5, "el perro corre por la calle y la casa es grande para los amigos"),
    (6, "le chat est dans la maison et les amis sont pour le dîner"),
    (7, "der hund ist nicht in das haus und die katze ist mit der maus"),
    (8, "short"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    rows = {r.keeper_doc_id: r for r in dedup.exact_dedup(docs).collect()}
    assert rows[1].n_copies == 2 and rows[1].members == [1, 2]
    assert sum(r.n_copies for r in rows.values()) == len(DOCS)


def test_minhash_lsh_finds_near_dup(docs):
    pairs = dedup.minhash_lsh_pairs(docs, k=32, bands=16, threshold=0.4).collect()
    got = {(r.doc_a, r.doc_b): r.sig_similarity for r in pairs}
    assert got[(1, 2)] == 1.0          # exact dup → all minhashes equal
    assert (1, 3) in got or (2, 3) in got   # near-dup caught by a band
    assert all(a < b for (a, b) in got)
    assert not any({a, b} == {4, 5} for (a, b) in got)


def test_ngram_jaccard_verifies(docs, spark):
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    j = {(r.doc_a, r.doc_b): r.jaccard
         for r in dedup.ngram_jaccard(docs, pairs).collect()}
    assert j[(1, 2)] == 1.0
    assert 0.3 < j[(1, 3)] < 1.0
    assert j[(1, 4)] == 0.0


def test_simhash_near_dups(docs):
    pairs = dedup.simhash_near_dups(docs, max_hamming=10).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert got[(1, 2)] == 0
    if (1, 3) in got:
        assert got[(1, 3)] <= 10
    assert (4, 5) not in got and (4, 6) not in got


def test_lang_guess_and_quality(docs):
    prof = {r.doc_id: r for r in textstats.text_profile(docs).collect()}
    assert prof[1].lang_guess == "en"
    assert prof[5].lang_guess == "es"
    assert prof[6].lang_guess == "fr"
    assert prof[7].lang_guess == "de"
    assert prof[8].quality < prof[1].quality
    assert prof[1].fingerprint == prof[2].fingerprint
    assert prof[1].fingerprint != prof[4].fingerprint
    assert prof[1].n_tokens == 14


def test_similarity_exact_vs_lsh(spark):
    import math
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(16)]

    def jitter(eps):
        return [x + rng.uniform(-eps, eps) for x in base]

    rows = [(0, base)] + [(i, jitter(0.05 * i)) for i in range(1, 30)] + [
        (100 + i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = similarity.cosine_topk(emb, 0, k=5).collect()
    approx = similarity.lsh_bucket_topk(emb, 0, k=5, n_planes=6).collect()
    assert [r.rank for r in exact] == [1, 2, 3, 4, 5]
    assert exact[0].vec_id == 1           # smallest jitter = nearest
    assert len(approx) >= 3               # multi-probe recall on this set
    exact_scores = {r.vec_id: r.score for r in exact}
    for r in approx:                      # approx scores = exact scores
        if r.vec_id in exact_scores:
            assert r.score == exact_scores[r.vec_id]


def test_media_pipeline(spark):
    m = media.synthetic_media(spark, 32)
    kept = media.size_filter(m)
    assert 0 < kept.count() <= 32
    dd = media.dedup_by_content(m)
    assert dd.count() == 32               # all payloads distinct
    feats = media.extract_features(m).collect()
    assert len(feats) == 32
    for f in feats:
        assert len(f.features) == 16 and f.n_bytes > 0
        assert 0.0 <= f.entropy_proxy <= 1.5


def test_ivf_topk(spark):
    import random

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [(0, base)] + [
        (i, [x + rng.uniform(-0.02 * i, 0.02 * i) for x in base])
        for i in range(1, 20)
    ] + [(200 + i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = similarity.cosine_topk(emb, 0, k=5).collect()
    ivf = similarity.ivf_topk(emb, 0, k=5, n_cells=6, n_probe=3).collect()
    assert len(ivf) == 5
    exact_scores = {r.vec_id: r.score for r in exact}
    # the planted nearest neighbor lives in the query's own cell
    assert ivf[0].vec_id == exact[0].vec_id == 1
    for r in ivf:  # rerank scores are exact
        if r.vec_id in exact_scores:
            assert r.score == exact_scores[r.vec_id]
    # determinism across repartitioning
    ivf2 = similarity.ivf_topk(emb.repartition(7), 0, k=5, n_cells=6,
                               n_probe=3).collect()
    assert [(r.rank, r.vec_id) for r in ivf2] == [
        (r.rank, r.vec_id) for r in ivf]


def test_embedding_near_dups(spark):
    import random

    rng = random.Random(23)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    near = [x + rng.uniform(-0.005, 0.005) for x in base]
    rows = [(1, base), (2, near), (3, [x for x in base])] + [
        (50 + i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.vec_a, r.vec_b): r.cosine
             for r in dedup.embedding_near_dups(emb, threshold=0.98).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.98
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    assert all(a < b for a, b in pairs)
    # random pairs shouldn't clear a 0.98 cosine bar
    assert not any(a >= 50 and b >= 50 for a, b in pairs)


def test_embedding_pair_stream_unique_without_dedup(spark):
    """r8: the candidate self-join meets each pair in at most one bucket
    (probes = sig + distinct 1-bit flips vs a single sig on the build
    side), so the final-pair dropDuplicates was removed. Assert the
    pair stream is duplicate-free — including hamming-0 pairs
    (identical clones) and hamming-1 neighbors."""
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = (
        [(1, base), (2, list(base)), (3, list(base))]  # identical clones
        + [(10 + i, [x + rng.uniform(-0.004, 0.004) for x in base])
           for i in range(6)]  # near-neighbors (sig hamming 0/1 mix)
        + [(50 + i, [rng.uniform(-1, 1) for _ in range(16)])
           for i in range(40)]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = dedup.embedding_near_dups(emb, threshold=0.97, n_planes=10)
    new = sorted((r.vec_a, r.vec_b, r.cosine) for r in out.collect())
    keys = [(a, b) for a, b, _ in new]
    assert len(keys) == len(set(keys)), "duplicate candidate pair leaked"
    assert (1, 2, 1.0) in new and (1, 3, 1.0) in new and (2, 3, 1.0) in new


# ── vectorized (Arrow/numpy) twins vs native, + cluster assignment ─────


def test_simhash_vectorized_bit_identical(docs, spark):
    native = dedup.simhash_near_dups(docs).collect()
    vec = dedup.simhash_near_dups(docs, vectorized=True).collect()
    key = lambda r: (r.doc_a, r.doc_b, r.hamming)
    assert sorted(map(key, native)) == sorted(map(key, vec))
    # signature-level equality, including the empty-string shingle case
    from pdf_parser_python_spark.operators.textstats import shingles
    from pdf_parser_python_spark.functions.hashing import xx64

    probe = spark.createDataFrame(
        [(1, ""), (2, "short"), (3, "a b c d e f g h i j k l m")],
        "doc_id long, text string",
    )
    nat = probe.select(
        "doc_id", dedup.simhash(F.col("text")).alias("sig")
    ).collect()
    hv = F.transform(shingles(F.col("text")), lambda s: xx64(s, 0))
    vec2 = probe.select(
        "doc_id", dedup._simhash_majority_udf()(hv).alias("sig")
    ).collect()
    assert {r.doc_id: r.sig for r in nat} == {r.doc_id: r.sig for r in vec2}


def test_embedding_vectorized_agrees(spark):
    from pdf_parser_python_spark.sources import textgen

    emb = textgen.dedup_bench_embeddings(spark, 3000, dim=8).cache()
    nat = dedup.embedding_near_dups(
        emb, threshold=0.9, n_planes=8, id_col="vec_id",
        vec_col="embedding",
    ).collect()
    vec = dedup.embedding_near_dups(
        emb, threshold=0.9, n_planes=8, id_col="vec_id",
        vec_col="embedding", vectorized=True,
    ).collect()
    key = lambda r: (r.vec_a, r.vec_b, r.cosine)
    assert sorted(map(key, nat)) == sorted(map(key, vec))

    nat_k = similarity.lsh_bucket_topk(emb, 17, 5, n_planes=8).collect()
    vec_k = similarity.lsh_bucket_topk(
        emb, 17, 5, n_planes=8, vectorized=True
    ).collect()
    assert [(r.vec_id, r.score) for r in nat_k] == [
        (r.vec_id, r.score) for r in vec_k
    ]

    nat_i = similarity.ivf_topk(emb, 17, 5, n_cells=8, n_probe=3).collect()
    vec_i = similarity.ivf_topk(
        emb, 17, 5, n_cells=8, n_probe=3, vectorized=True
    ).collect()
    assert [(r.vec_id, r.score) for r in nat_i] == [
        (r.vec_id, r.score) for r in vec_i
    ]


def test_minhash_cluster_assignment(spark):
    from pdf_parser_python_spark.sources import textgen

    # a slice of the planted 5-member clusters + background singletons
    docs = textgen.dedup_bench_corpus(
        spark, 300, start=textgen.SMALL_START
    ).union(
        textgen.dedup_bench_corpus(spark, 50, start=textgen.SMALL_END + 100)
    )
    labels = {
        r.doc_id: r.cluster_rep
        for r in dedup.minhash_dedup_clusters(docs).collect()
    }
    base = textgen.SMALL_START
    # LSH banding is probabilistic: a member can miss every bucket of
    # its cluster-mates with P≈(1-s^4)^8 ≈ 2-3% at s≈0.78 — assert
    # high recall + zero cross-cluster merges, not perfection
    hits = 0
    for c in range(60):
        members = [base + 5 * c + j for j in range(5)]
        for m in members:
            rep = labels.get(m)
            if rep is not None:
                assert rep in members, (c, m, rep)  # never cross-cluster
            if rep == members[0]:
                hits += 1
    assert hits >= 0.9 * 300, hits
    # background docs share no bucket → excluded as singletons
    assert all(d < base + 300 for d in labels)


def test_minhash_pairs_slim_join_same_output(docs):
    # the slim-join rework must not change the pair set
    got = dedup.minhash_lsh_pairs(docs).collect()
    assert {(r.doc_a, r.doc_b) for r in got} >= {(1, 2)}
    for r in got:
        if (r.doc_a, r.doc_b) == (1, 2):
            assert r.sig_similarity == 1.0


def test_bmp_decode_path(spark):
    """REAL decode path, no imaging library: valid 24-bit BMPs decode
    via the numpy decoder and featurize from actual pixels."""
    import numpy as np

    m = media.synthetic_bmp_media(spark, 16)
    feats = {r.media_ref: r.features
             for r in media.extract_features(m, feature_dim=16).collect()}
    # media 0: left half black, right half white → 4×4 grid splits at
    # the cell boundary
    f0 = feats["bmp://syn/0"]
    for r in range(4):
        assert f0[r * 4 + 0] < 0.02 and f0[r * 4 + 1] < 0.02
        assert f0[r * 4 + 2] > 0.98 and f0[r * 4 + 3] > 0.98
    # decoded features ≠ the hash fallback (decode really ran)
    no_decode = {r.media_ref: r.features
                 for r in media.extract_features(
                     m, feature_dim=16, decode=False).collect()}
    assert f0 != no_decode["bmp://syn/0"]
    # non-BMP payloads fall back deterministically
    m2 = media.synthetic_media(spark, 6)
    with_d = [r.features for r in media.extract_features(m2).collect()]
    wo_d = [r.features
            for r in media.extract_features(m2, decode=False).collect()]
    assert with_d == wo_d
    # encoder/decoder round-trip: gray in == gray out
    px = (np.arange(20 * 30, dtype=np.uint32) % 256).astype(
        np.uint8).reshape(20, 30)
    back = media.decode_bmp(media.encode_bmp(px))
    assert back.shape == (20, 30)
    assert np.allclose(back, px / 255.0, atol=1e-6)


def test_entropy_vectorized_matches_scalar_reference():
    """r5: _shannon_entropy was vectorized (np.bincount + one p·log2 p
    pass); pin it against the original per-byte dict loop — identical
    math, so values must agree to well under the oracle's 1e-6
    rounding grain on every payload shape that matters."""
    import math
    import random

    from pdf_parser_python_spark.operators.media import _shannon_entropy

    def scalar_ref(b: bytes) -> float:  # the pre-r5 implementation
        n = len(b)
        if not n:
            return 0.0
        counts: dict[int, int] = {}
        for x in b:
            counts[x] = counts.get(x, 0) + 1
        return -sum(
            (c / n) * math.log2(c / n) for c in counts.values()
        ) / 8.0

    rng = random.Random(5)
    payloads = [
        b"",
        b"\x00",
        b"a" * 1000,                              # single symbol → 0
        bytes(range(256)) * 4,                    # uniform → exactly 1
        bytes(rng.randrange(256) for _ in range(10_000)),
        bytes(rng.choices(b"abcd\x00\xff", k=5_000)),
        __import__("hashlib").sha256(b"x").digest() * 100,
    ]
    for b in payloads:
        got, want = _shannon_entropy(b), scalar_ref(b)
        assert math.isclose(got, want, rel_tol=0, abs_tol=1e-12), (
            len(b), got, want)
    assert _shannon_entropy(b"a" * 1000) == 0.0
    assert _shannon_entropy(bytes(range(256))) == 1.0


def test_max_hamming_for():
    """r5: the hamming↔Jaccard operating-point math, pinned. Identical
    shingle sets → 0; the default tight point (J=0.97) → ~4 bits; the
    bench's 1-token-in-32 edit band (J≈0.82) → far outside cheap
    pigeonhole blocking (so minhash is the right operator there)."""
    import pytest as _pytest

    from pdf_parser_python_spark.operators.dedup import (
        max_hamming_for,
        simhash_blocks,
    )

    assert max_hamming_for(1.0) == 0
    assert max_hamming_for(0.97) == 4
    assert max_hamming_for(0.82) == 10
    # monotone: looser similarity → larger expected hamming
    vals = [max_hamming_for(j / 100) for j in range(50, 101)]
    assert vals == sorted(vals, reverse=True)
    # blocks required for the loose band explode vs the tight default
    assert simhash_blocks(max_hamming_for(0.97)) == 8
    assert simhash_blocks(max_hamming_for(0.82)) == 16
    with _pytest.raises(ValueError):
        max_hamming_for(0.0)
    with _pytest.raises(ValueError):
        max_hamming_for(1.5)


def test_bmp_corpus_distributed_matches_driver_side(spark):
    """r5: synthetic_bmp_corpus (mapInPandas, bench-scale) must emit
    byte-identical payloads to the driver-side synthetic_bmp_media."""
    a = {r.media_ref: (bytes(r.payload), r.width, r.height)
         for r in media.synthetic_bmp_media(spark, 16).collect()}
    b = {r.media_ref: (bytes(r.payload), r.width, r.height)
         for r in media.synthetic_bmp_corpus(spark, 16, partitions=4).collect()}
    assert a == b


def test_cluster_reps_are_fixpoints(spark):
    """r5: minhash_dedup_clusters now iterates pointer jumping to
    convergence by default — every emitted representative must be its
    own representative (the property a too-shallow fixed hop count
    violates on deep chains), and labels must be partitioning-
    independent."""
    from pdf_parser_python_spark.sources import textgen

    docs = textgen.dedup_bench_corpus(spark, 3000).cache()
    labels = {r.doc_id: r.cluster_rep
              for r in dedup.minhash_dedup_clusters(docs).collect()}
    assert labels, "planted corpus must produce clusters"
    for doc, rep in labels.items():
        assert labels.get(rep, rep) == rep, (doc, rep)
    # repartitioned input → identical labels
    labels2 = {r.doc_id: r.cluster_rep
               for r in dedup.minhash_dedup_clusters(
                   docs.repartition(13)).collect()}
    assert labels == labels2


def test_chunked_non_dense_offsets(spark):
    """r5 ADVICE fix: span offsets need only be unique/ordered, not
    dense — byte-like offsets with big gaps must parse identically to
    the packed whole-document run (the old count-sized bucket table
    silently DROPPED spans whose offset exceeded the row count)."""
    import random

    from pdf_parser_python_spark import schema
    from pdf_parser_python_spark.operators import chunked
    from pdf_parser_python_spark.plans import pipeline

    rng = random.Random(3)
    spans, off = [], 0
    for qn in range(1, 31):
        for line in (f"Question: {qn}", "body text", "A. one", "B. two",
                     "Answer: A"):
            spans.append(("gd", "text", line, None, off, 1))
            off += rng.randrange(1, 9000)  # sparse byte-like offsets
    sr = spark.createDataFrame(
        spans, "doc_id string, kind string, text string,"
               " media_ref string, offset long, page int")
    got = sorted(
        (r.doc_id, r.seq, r.question_number, r.question_text)
        for r in chunked.parse_span_rows_final(sr, chunk_spans=12).collect()
    )
    packed = spark.createDataFrame(
        [("gd", [{"kind": k, "text": t, "media_ref": m,
                  "offset": o, "page": p}
                 for (_, k, t, m, o, p) in spans])],
        schema.DOCUMENT_SPANS_EXT)
    want = sorted(
        (r.doc_id, r.seq, r.question_number, r.question_text)
        for r in pipeline.extract_questions(
            packed, giant_doc_spans=None).collect()
    )
    assert got == want and len(got) == 30
    # packed projection path too (explode → same bucket map logic)
    got2 = sorted(
        (r.doc_id, r.seq, r.question_number, r.question_text)
        for r in chunked.parse_giant_final(packed, chunk_spans=12).collect()
    )
    assert got2 == want


def test_lsh_multiprobe_improves_recall(spark):
    """r5: n_tables/probe_t multiprobe — native and vectorized paths
    agree exactly, defaults stay single-table radius-1, and the probe
    superset can only ADD candidates (rerank is exact, so recall is
    monotone in the probe set)."""
    import random

    rng = random.Random(41)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [(0, base)] + [
        (i, [x + rng.uniform(-0.06 * i, 0.06 * i) for x in base])
        for i in range(1, 25)
    ] + [(100 + i, [rng.uniform(-1, 1) for _ in range(16)])
         for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {r.vec_id for r in similarity.cosine_topk(emb, 0, k=10).collect()}
    one = similarity.lsh_bucket_topk(emb, 0, k=10, n_planes=8).collect()
    mp_n = similarity.lsh_bucket_topk(
        emb, 0, k=10, n_planes=8, n_tables=2, probe_t=4).collect()
    mp_v = similarity.lsh_bucket_topk(
        emb, 0, k=10, n_planes=8, n_tables=2, probe_t=4,
        vectorized=True).collect()
    key = lambda rs: [(r.rank, r.vec_id, r.score) for r in rs]
    assert key(mp_n) == key(mp_v)
    r1 = len(exact & {r.vec_id for r in one})
    rmp = len(exact & {r.vec_id for r in mp_n})
    assert rmp >= r1
    assert rmp >= 8  # wide probing on this small set must be near-exact
