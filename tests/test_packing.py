"""Sequence packing: exact prefix sums at any bucket width, no
single-partition global window."""

import random

import pytest
from pyspark.sql import functions as F

from pdf_parser_python_spark.operators.packing import (
    pack_manifest,
    pack_sequences,
    pack_stats,
)


def test_prefix_sums_exact_across_bucket_widths(spark):
    rng = random.Random(13)
    rows = [(i, " ".join("w" for _ in range(rng.randint(0, 40))))
            for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # brute force
    start, want = 0, {}
    for i, t in rows:
        nt = len(t.split())
        want[i] = (nt, start, start // 128, start % 128)
        start += nt
    for bw in (7, 64, 100000):  # smaller / comparable / one-bucket
        got = {
            r["doc_id"]: (r["n_tokens"], r["start"], r["pack_id"],
                          r["pack_offset"])
            for r in pack_sequences(df, seq_len=128, bucket_width=bw).collect()
        }
        assert got == want, bw


def test_pack_stats_totals(spark):
    df = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(100)],  # 8 tokens each
        "doc_id long, text string",
    )
    st = {r["pack_id"]: r for r in
          pack_stats(pack_sequences(df, seq_len=64), seq_len=64).collect()}
    # 800 tokens, 64/pack → 12.5 packs of starts; 8 docs start per pack
    assert sum(r["n_docs"] for r in st.values()) == 100
    assert sum(r["n_tokens"] for r in st.values()) == 800
    assert st[0]["n_docs"] == 8 and st[0]["fill_ratio"] == 1.0


def test_no_unpartitioned_corpus_window(spark):
    # the corpus-sized window must be partitioned by bucket; only the
    # #buckets-row offsets window may be global
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    plan = (
        pack_sequences(df, bucket_width=64)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    import re

    wins = re.findall(r"Window \[.*?\]", plan)
    assert wins  # plan shape sanity: windows are present
    # every Window over corpus rows (n_tokens) must carry a partition
    # spec on _b; only the bucket-totals window (_tot) may be global
    for w in wins:
        if "n_tokens" in w and "_tot" not in w:
            assert "windowspecdefinition(_b" in w, w


def test_zero_token_docs_at_bucket_boundaries(spark):
    """r6 (VERDICT item 8): empty docs sitting exactly on bucket edges
    must get the running start of their position (width 0) and never
    shift a neighbor's offset."""
    bw = 8
    rows = []
    for i in range(40):
        # empty docs at every bucket edge (i % bw in {0, bw-1}), else 5
        nt = 0 if i % bw in (0, bw - 1) else 5
        rows.append((i, " ".join("w" for _ in range(nt))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["start"], r["pack_id"],
                         r["pack_offset"])
           for r in pack_sequences(df, seq_len=16, bucket_width=bw).collect()}
    start = 0
    for i, t in rows:
        nt = len(t.split())
        assert got[i] == (nt, start, start // 16, start % 16), i
        start += nt


def test_doc_straddling_three_packs(spark):
    """A doc longer than seq_len is assigned to the pack holding its
    FIRST token; the following doc starts after the straddle."""
    rows = [(0, " ".join("w" for _ in range(10))),
            (1, " ".join("w" for _ in range(70))),   # spans packs 0..2+
            (2, " ".join("w" for _ in range(4)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           pack_sequences(df, seq_len=32, bucket_width=2).collect()}
    assert (got[1]["start"], got[1]["pack_id"], got[1]["pack_offset"]) == (
        10, 0, 10)
    # doc 1 occupies tokens 10..79 → crosses packs 0,1,2 — doc 2 starts
    # at 80 in pack 2
    assert (got[2]["start"], got[2]["pack_id"], got[2]["pack_offset"]) == (
        80, 2, 16)
    st = {r["pack_id"]: r for r in
          pack_stats(pack_sequences(df, seq_len=32, bucket_width=2),
                     seq_len=32).collect()}
    # start-fill accounting: pack 0 holds doc0+doc1 starts (80 tokens
    # begin there → fill 2.5), packs 1 has no starts (absent), pack 2
    # holds doc2's 4
    assert st[0]["n_tokens"] == 80 and float(st[0]["fill_ratio"]) == 2.5
    assert 1 not in st
    assert st[2]["n_tokens"] == 4


def test_epoch_tiebreaker_deterministic_and_ordered(spark):
    """Duplicated doc_ids with an epoch column (mixture upsampling
    shape) order by (doc_id, epoch): same assignment on every run and
    epoch 1 packs before epoch 2 of the same doc."""
    rows = [(i % 3, 1 + i // 3, "a b c d") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, epoch int, text string")
    a = sorted(map(tuple, pack_sequences(df, seq_len=8, bucket_width=2)
                   .collect()))
    b = sorted(map(tuple, pack_sequences(df, seq_len=8, bucket_width=2)
                   .collect()))
    assert a == b
    got = {(r[0], r[1]): r for r in a}  # (doc_id, epoch) → row
    for d in range(3):
        assert got[(d, 1)][3] < got[(d, 2)][3]  # start asc in epoch


def test_shuffled_packing_is_permutation_and_decorrelated(spark):
    """r6: shuffle_seed packs a seeded pseudo-random global order —
    same tokens, same pack count, different neighbor structure, and
    reproducible per seed."""
    rows = [(i, " ".join("w" for _ in range(5))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {r["doc_id"]: r["start"]
             for r in pack_sequences(df, seq_len=64, bucket_width=16)
             .collect()}
    sh7a = {r["doc_id"]: r["start"]
            for r in pack_sequences(df, seq_len=64, bucket_width=16,
                                    shuffle_seed=7).collect()}
    sh7b = {r["doc_id"]: r["start"]
            for r in pack_sequences(df, seq_len=64, bucket_width=16,
                                    shuffle_seed=7).collect()}
    sh9 = {r["doc_id"]: r["start"]
           for r in pack_sequences(df, seq_len=64, bucket_width=16,
                                   shuffle_seed=9).collect()}
    # permutation of the same token stream: identical start-offset SET
    assert sorted(plain.values()) == sorted(sh7a.values())
    # reproducible per seed; different seeds → different permutations
    assert sh7a == sh7b
    assert sh7a != sh9 and sh7a != plain
    # decorrelated: consecutive doc_ids are no longer adjacent in the
    # stream (plain order has all 199 adjacent pairs; hash order ~0)
    adj = sum(1 for i in range(199) if abs(sh7a[i + 1] - sh7a[i]) == 5)
    assert adj < 20, adj


def test_pack_manifest_exact_fills(spark):
    """r6: the manifest accounts for every token exactly once; every
    pack but the last holds exactly seq_len manifest tokens; straddle
    segments point at the right offsets."""
    from pdf_parser_python_spark.operators.packing import pack_manifest

    rows = [(0, " ".join("w" for _ in range(10))),
            (1, " ".join("w" for _ in range(70))),
            (2, " ".join("w" for _ in range(4)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    man = {r["pack_id"]: r for r in
           pack_manifest(pack_sequences(df, seq_len=32, bucket_width=2),
                         seq_len=32).collect()}
    # 84 tokens over 32-token packs → packs 0,1,2
    assert sorted(man) == [0, 1, 2]
    assert man[0]["n_tokens"] == 32 and man[1]["n_tokens"] == 32
    assert man[2]["n_tokens"] == 84 - 64
    assert man[0]["segments"] == "0:0:10,1:10:22"       # doc1 straddles
    assert man[1]["segments"] == "1:0:32"               # doc1 fills pack1
    assert man[2]["segments"] == "1:0:16,2:16:4"        # tail + doc2
    total = sum(r["n_tokens"] for r in man.values())
    assert total == 84


def test_shuffled_packing_decorrelates_epoch_copies(spark):
    """r7 (ADVICE): with an epoch column, the shuffle order key hashes
    (doc_id, epoch) — epoch copies of one doc must NOT pack
    back-to-back (doc_id-only hashing left every copy adjacent,
    defeating the decorrelation), and the assignment must equal the
    DuckDB oracle's global cumsum over the same hashed order."""
    import duckdb
    import pandas as pd

    from pdf_parser_python_spark.functions.oracle import packing_sql

    rows = [(i, e, "w w w w w") for i in range(60) for e in (1, 2, 3)]
    df = spark.createDataFrame(rows, "doc_id long, epoch int, text string")
    got = pack_sequences(df, seq_len=64, bucket_width=16, shuffle_seed=7)
    starts = {(r["doc_id"], r["epoch"]): r["start"] for r in got.collect()}
    # epoch copies adjacent in the stream = |start delta| == n_tokens
    adjacent = sum(
        1
        for d in range(60)
        for e in (1, 2)
        if abs(starts[(d, e + 1)] - starts[(d, e)]) == 5
    )
    assert adjacent < 12, adjacent  # doc_id-only hashing gives 120

    con = duckdb.connect()
    con.register("up", pd.DataFrame(rows,
                                    columns=["doc_id", "epoch", "text"]))
    oracle = con.execute(
        packing_sql(seq_len=64, source="up", shuffle_seed=7, epoch=True)
    ).fetchdf()
    want = {
        (int(r.doc_id), int(r.epoch)): int(r.start)
        for r in oracle.itertuples()
    }
    assert starts == want


def test_nonpositive_sizes_raise_when_the_plan_is_built(spark):
    """A pack or bucket size of 0 or less is refused before any job:
    ``seq_len=0`` and ``bucket_width=0`` used to fail mid-job on a
    division by zero and ``seq_len=-4`` to return pack_id -1."""
    df = spark.createDataFrame(
        [(i, "a b c") for i in range(5)], "doc_id long, text string")
    for seq_len in (0, -4):
        with pytest.raises(ValueError, match="seq_len"):
            pack_sequences(df, seq_len=seq_len)
    for bucket_width in (0, -1):
        with pytest.raises(ValueError, match="bucket_width"):
            pack_sequences(df, bucket_width=bucket_width)
    packed = pack_sequences(df, seq_len=4)
    for fn in (pack_stats, pack_manifest):
        for seq_len in (0, -4):
            with pytest.raises(ValueError, match="seq_len"):
                fn(packed, seq_len=seq_len)
