"""Round-8 bonus pass: size-aware broadcast of the pair-family
re-attachment joins (guide §3.1). The candidate-pair stream is the big
side by orders of magnitude, while the signature/vector table's size
is known EXACTLY (checkpoint row count × fixed row width) — so when it
fits under PDFP_PAIR_BCAST_MB the operators hint it broadcast and the
pair stream is never shuffled for the re-attachment. These tests lock
(1) row-identical results with the hint on and off, (2) the broadcast
actually engaging on a small corpus, (3) the off-switch restoring
the planner's choice, and (4) no plan-time job with the switch off.
AQE may turn a small join into a broadcast on its own, so the hint
itself is checked in the analyzed plan: a ``ResolvedHint`` directly
over the side the operator sized."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hinted(df) -> list[str]:
    """The child line under each broadcast ``ResolvedHint`` of the
    analyzed plan."""
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    return [lines[i + 1] for i, ln in enumerate(lines)
            if "ResolvedHint (strategy=broadcast)" in ln]


@pytest.fixture()
def docs(spark):
    from pdf_parser_python_spark.sources import textgen

    return textgen.dedup_bench_corpus(spark, 1500)


@pytest.fixture()
def emb(spark):
    from pdf_parser_python_spark.sources import textgen

    return textgen.dedup_bench_embeddings(spark, 1500)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_pairs_bcast_rows_equal_and_bhj(spark, docs, monkeypatch):
    from pdf_parser_python_spark.operators import dedup

    monkeypatch.setenv("PDFP_PAIR_BCAST", "0")
    old_df = dedup.minhash_lsh_pairs(docs)
    old = _rows(old_df)
    monkeypatch.delenv("PDFP_PAIR_BCAST")
    new_df = dedup.minhash_lsh_pairs(docs)
    assert _rows(new_df) == old and len(old) > 0
    # the two signature join-backs are broadcast on a corpus this size
    assert "BroadcastHashJoin" in _plan(new_df)
    hinted = _hinted(new_df)
    assert len(hinted) == 2
    assert any("AS sig_a" in h for h in hinted)
    assert any("AS sig_b" in h for h in hinted)
    assert _hinted(old_df) == []


def test_embedding_bcast_rows_equal_both_engines(spark, emb, monkeypatch):
    from pdf_parser_python_spark.operators import dedup

    for vec in (False, True):
        monkeypatch.setenv("PDFP_PAIR_BCAST", "0")
        old = _rows(dedup.embedding_near_dups(
            emb, threshold=0.99, vectorized=vec))
        monkeypatch.delenv("PDFP_PAIR_BCAST")
        new_df = dedup.embedding_near_dups(
            emb, threshold=0.99, vectorized=vec)
        assert _rows(new_df) == old and len(old) > 0
        assert "BroadcastHashJoin" in _plan(new_df)
        # slim (vid, sig) bucket side plus both vector re-attachments
        hinted = _hinted(new_df)
        assert len(hinted) == 3
        assert any("Project [vid#" in h and "sig#" in h for h in hinted)
        assert any("AS va#" in h for h in hinted)
        assert any("AS vb#" in h for h in hinted)
        monkeypatch.setenv("PDFP_PAIR_BCAST", "0")
        assert _hinted(dedup.embedding_near_dups(
            emb, threshold=0.99, vectorized=vec)) == []
        monkeypatch.delenv("PDFP_PAIR_BCAST")


def test_bcast_cap_and_off_switch_fall_back(spark, docs, monkeypatch):
    from pdf_parser_python_spark.operators import dedup

    # over-cap estimate: the hint must not fire (planner's choice);
    # AQE may still broadcast tiny sides at runtime, so assert on the
    # operator's own helper rather than the whole executed plan
    monkeypatch.setenv("PDFP_PAIR_BCAST_MB", "0")
    d = dedup._bcast_small(docs, est_bytes=1)
    assert d is docs
    monkeypatch.delenv("PDFP_PAIR_BCAST_MB")
    monkeypatch.setenv("PDFP_PAIR_BCAST", "0")
    assert dedup._bcast_small(docs, est_bytes=1) is docs
    monkeypatch.delenv("PDFP_PAIR_BCAST")
    # unknown size (reuse cut disabled) also stands down
    assert dedup._bcast_small(docs, est_bytes=None) is docs
    monkeypatch.setenv("PDFP_DEDUP_REUSE", "0")
    from pdf_parser_python_spark.operators.dedup import _reuse_count

    assert _reuse_count(docs) is None


def test_minhash_pairs_bcast_off_builds_plan_without_jobs(
        spark, docs, monkeypatch):
    """With broadcasting off the signature count only fed the hint, so
    building the plan must not run it (or any other job)."""
    from pdf_parser_python_spark.operators import dedup

    tracker = spark.sparkContext.statusTracker()
    monkeypatch.setenv("PDFP_PAIR_BCAST", "0")
    before = set(tracker.getJobIdsForGroup())
    off_df = dedup.minhash_lsh_pairs(docs)
    assert set(tracker.getJobIdsForGroup()) - before == set()
    monkeypatch.delenv("PDFP_PAIR_BCAST")
    assert _rows(off_df) == _rows(dedup.minhash_lsh_pairs(docs))
