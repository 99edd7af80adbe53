"""Round 8: the vectorized minhash and simhash signature kernels must
be BIT-EXACT with the JVM paths they replace (operators/dedup.py
`_minhash_sig_kernel` vs the `xxhash64` HOF fold in `_minhash_sig_hof`;
`_simhash_sig_kernel` vs the shingle-string HOF hash +
`_simhash_majority_udf` in `_simhash_sig_hof`) — the xx64 signatures
feed the bench family's pair counts and planted recall, so any
divergence would silently change results. The HOF side runs the same
public operator with its kernel entry swapped for the HOF function."""

import pytest
from pyspark.sql import functions as F

from pdf_parser_python_spark.functions.hashing import xx64, xx64_combine_sql
from pdf_parser_python_spark.operators import dedup


def _minhash_hof(d, k, shingle_k):
    return dedup._minhash_sig_hof(d, k, shingle_k, xx64_combine_sql)


def _simhash_hof(documents, text_col):
    return dedup._simhash_sig_hof(documents, text_col, xx64)


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _sigs(df, hof, **kw):
    with pytest.MonkeyPatch.context() as mp:
        if hof:
            mp.setattr(dedup, "_minhash_sig_arrow", _minhash_hof)
        out = dedup.minhash_signatures(df, **kw)
        assert ("MapInArrow" in _plan(out)) != hof
        return {r["doc_id"]: list(r["signature"]) for r in out.collect()}


TRICKY = [
    (0, ""), (1, None), (2, "   \t\n "), (3, "one"), (4, "two words"),
    (5, "three words here"), (6, "a b c d e f g h i j"),
    (7, "dup dup dup dup dup dup"),                 # duplicate shingles
    (8, "Ünïcodé tökens é́ combining marks"),  # multi-byte UTF-8
    (9, "tabs\tand\nnewlines   multi  spaced"),
    (10, "word " * 300),                            # one repeated shingle
    (11, "中文 日本語 한국어 mixed latin"),
    (12, "punct, marks! (parens) [brackets] {braces} 100% $5.00"),
    (13, "CASE folding MiXeD Case TEXT"),
]


def test_kernel_bit_exact_vs_hof(spark):
    df = spark.createDataFrame(TRICKY, "doc_id long, text string")
    old = _sigs(df, True)
    new = _sigs(df, False)
    assert old == new


def test_kernel_bit_exact_on_generated_corpus(spark):
    from pdf_parser_python_spark.sources import textgen

    docs = textgen.dedup_bench_corpus(spark, 2000)
    old = _sigs(docs, True)
    new = _sigs(docs, False)
    assert old == new


@pytest.mark.parametrize("k,shingle_k", [(8, 2), (16, 5)])
def test_kernel_bit_exact_nondefault_params(spark, k, shingle_k):
    df = spark.createDataFrame(TRICKY, "doc_id long, text string")
    old = _sigs(df, True, k=k, shingle_k=shingle_k)
    new = _sigs(df, False, k=k, shingle_k=shingle_k)
    assert old == new


def test_md5_hasher_keeps_hof_path(spark):
    """The DuckDB-oracled md5 path must not route through the kernel:
    its plan stays Python-free."""
    from pdf_parser_python_spark.functions.hashing import md5_64

    df = spark.createDataFrame(TRICKY, "doc_id long, text string")
    plan = dedup.minhash_signatures(df, hasher=md5_64)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "MapInArrow" not in plan and "EvalPython" not in plan


def test_xx64_pairs_identical_across_paths(spark):
    """End-to-end: LSH pairs from the kernel path equal the HOF path's
    on a corpus with planted near-dups."""
    docs = spark.createDataFrame(
        [(i, f"shared prefix tokens run {i % 7} " + "body text " * 20)
         for i in range(200)],
        "doc_id long, text string",
    ).withColumn("text", F.concat("text", F.lit(" tail")))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "_minhash_sig_arrow", _minhash_hof)
        old = {(r["doc_a"], r["doc_b"]) for r in
               dedup.minhash_lsh_pairs(docs).select("doc_a", "doc_b").collect()}
    new = {(r["doc_a"], r["doc_b"]) for r in
           dedup.minhash_lsh_pairs(docs).select("doc_a", "doc_b").collect()}
    assert old == new and len(new) > 0


# ── simhash fused kernel ────────────────────────────────────────────────

# single tokens of every byte length 1..80 exercise every XXH64 length
# class (tail bytes / 4-byte / 8-byte words / 1-3 stripes) through the
# short-doc path; multi-token rows cross the same boundaries through
# 3-token shingles; unicode rows make byte lengths odd multiples
SIM_ROWS = (
    TRICKY
    + [(100 + L, "x" * L) for L in range(1, 81)]
    + [(200 + L, ("a" * L) + " " + ("b" * L)) for L in range(1, 35)]
    + [(300 + L, " ".join(["q" * L, "r" * L, "s" * L, "t" * L]))
       for L in range(1, 25)]
    + [(400 + L, " ".join(["é" * L, "中" * L, "ß" * L, "末" * L]))
       for L in range(1, 15)]
    + [(500, " ".join(["z" * 40] * 6))]        # 122-byte shingles, 3 stripes
)


def _simhash_sigs(df, hof):
    if hof:
        out = dedup._simhash_sig_hof(df, "text", xx64)
    else:
        out = dedup._simhash_sig_arrow(df, "text")
    return {r["doc_id"]: r["sig"] for r in out.collect()}


def test_simhash_kernel_bit_exact_all_length_classes(spark):
    df = spark.createDataFrame(SIM_ROWS, "doc_id long, text string")
    assert _simhash_sigs(df, True) == _simhash_sigs(df, False)


def test_simhash_kernel_bit_exact_on_generated_corpus(spark):
    from pdf_parser_python_spark.sources import textgen

    docs = textgen.dedup_bench_corpus(spark, 2000)
    assert _simhash_sigs(docs, True) == _simhash_sigs(docs, False)


def test_simhash_near_dups_identical_across_paths(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"shared body text repeated tokens {i % 3} " + "tail words " * 10)
         for i in range(120)],
        "doc_id long, text string",
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "_simhash_sig_arrow", _simhash_hof)
        old = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in
               dedup.simhash_near_dups(docs, vectorized=True).collect()}
    new = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in
           dedup.simhash_near_dups(docs, vectorized=True).collect()}
    assert old == new and len(new) > 0


def test_simhash_md5_hasher_keeps_udf_path(spark):
    """The DuckDB-oracled md5 vec path must not route through the fused
    kernel (its signature definition hashes with md5)."""
    from pdf_parser_python_spark.functions.hashing import md5_64

    df = spark.createDataFrame(TRICKY, "doc_id long, text string")
    plan = dedup.simhash_near_dups(
        df, vectorized=True, hasher=md5_64
    )._jdf.queryExecution().analyzed().toString()
    assert "MapInArrow" not in plan
