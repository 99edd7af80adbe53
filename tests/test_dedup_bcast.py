"""The pair-family re-attachment joins carry no broadcast hint: AQE picks
broadcast or shuffle from the runtime size of each join's inputs. These
tests lock (1) no ``ResolvedHint (strategy=broadcast)`` in any
operator's analyzed plan, (2) no Spark job while a pair plan is built,
(3) AQE broadcasting the signature join-backs of a small corpus by
itself (the final adaptive plan has no ``SortMergeJoin``), and (4) rows
equal to the same query with both broadcast thresholds at -1, which
forces every join to shuffle."""

import tempfile

import pytest

_THRESHOLDS = ("spark.sql.autoBroadcastJoinThreshold",
               "spark.sql.adaptive.autoBroadcastJoinThreshold")


def _hinted(df) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "ResolvedHint (strategy=broadcast)" in plan


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return plan


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


def _rows_shuffled(spark, build):
    """Rows and final plan of ``build()`` with broadcast joins off."""
    prev = {k: spark.conf.get(k, None) for k in _THRESHOLDS}
    try:
        for k in _THRESHOLDS:
            spark.conf.set(k, "-1")
        df = build()
        return _rows(df), _final_plan(df)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_minhash_pairs_bcast_rows_equal_and_bhj(spark, docs):
    from pdf_parser_python_spark.operators import dedup

    df = dedup.minhash_lsh_pairs(docs)
    assert not _hinted(df)
    got = _rows(df)
    assert len(got) > 0
    # AQE converts every join of a corpus this size on its own
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    want, shuffled = _rows_shuffled(
        spark, lambda: dedup.minhash_lsh_pairs(docs))
    assert "SortMergeJoin" in shuffled and "BroadcastHashJoin" not in shuffled
    assert got == want


def test_embedding_bcast_rows_equal_both_engines(spark, emb):
    from pdf_parser_python_spark.operators import dedup

    for vec in (False, True):
        def build():
            return dedup.embedding_near_dups(
                emb, threshold=0.99, vectorized=vec)

        df = build()
        assert not _hinted(df)
        got = _rows(df)
        assert len(got) > 0
        want, shuffled = _rows_shuffled(spark, build)
        assert "BroadcastHashJoin" not in shuffled
        assert got == want


def test_dedup_job_band_write_has_no_hint(spark, docs, monkeypatch):
    """The band pass builds and writes its plan in one call, so the
    test reads the analyzed plan of the frame handed to ``observe``."""
    from pdf_parser_python_spark.plans.lineage import DedupJob

    seen = []
    cls = type(docs)
    observe = cls.observe

    def spy(self, *args, **kw):
        seen.append(_hinted(self))
        return observe(self, *args, **kw)

    with tempfile.TemporaryDirectory() as td:
        job = DedupJob(td, n_buckets=2, bands=2, k=8)
        job.run(spark, docs.limit(200), max_bands=0)
        monkeypatch.setattr(cls, "observe", spy)
        out = job.run(spark, docs.limit(200))
    assert out["bands_processed"] == [0, 1]
    assert seen == [False, False]


def test_minhash_pairs_builds_plan_without_jobs(spark, docs):
    from pdf_parser_python_spark.operators import dedup

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    df = dedup.minhash_lsh_pairs(docs)
    assert set(tracker.getJobIdsForGroup()) - before == set()
    assert len(_rows(df)) > 0


def test_embedding_explicit_planes_skips_count(spark, emb):
    """With ``n_planes`` given, the plan build runs only the vector
    width probe; the row count is taken only to derive ``n_planes``."""
    from pdf_parser_python_spark.operators import dedup

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    dedup.embedding_near_dups(emb, threshold=0.99, n_planes=12)
    assert len(set(tracker.getJobIdsForGroup()) - before) == 1
    before = set(tracker.getJobIdsForGroup())
    dedup.embedding_near_dups(emb, threshold=0.99)
    assert len(set(tracker.getJobIdsForGroup()) - before) > 1
