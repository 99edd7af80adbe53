"""Giant-doc dispatch policy: plan construction must launch ZERO Spark
jobs when the table carries parquet footer stats for ``n_spans``
(VERDICT r3 item 3). The footer bound replaces the eager ``isEmpty``
probe; the probe remains only as the fallback for stat-less inputs.
"""

import pytest
from pyspark.sql import functions as F

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.plans import pipeline


def _write_corpus(spark, path: str, giant: bool) -> None:
    rows = [
        (
            f"d{i}",
            [
                {"kind": "text",
                 "text": f"Question: {i}\nbody\nAnswer: B",
                 "media_ref": "", "offset": 0}
            ],
        )
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, schema=schema.DOCUMENT_SPANS)
    n = F.size("spans")
    if giant:
        # fake one doc's n_spans above the threshold: dispatch keys off
        # the scalar column, so this exercises the union plan without
        # materializing 250k spans
        n = F.when(F.col("doc_id") == "d0",
                   F.lit(pipeline.GIANT_DOC_SPANS + 1)).otherwise(n)
    df.withColumn("n_spans", n).write.mode("overwrite").parquet(path)


def _df_class():
    # pyspark 4: the concrete class lives in sql.classic; patching the
    # abstract base would not intercept instance calls
    try:
        from pyspark.sql.classic.dataframe import DataFrame as D
    except ImportError:  # pyspark 3.x
        from pyspark.sql.dataframe import DataFrame as D
    return D


@pytest.fixture()
def no_probe(monkeypatch):
    """Fail the test if the eager isEmpty probe runs."""

    def boom(self):
        raise AssertionError("eager probe job ran during plan build")

    monkeypatch.setattr(_df_class(), "isEmpty", boom)


def _build_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan-build job audit")
    try:
        out = fn()
    finally:
        sc.setJobGroup("idle", "")
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_max_reads_stats(spark, tmp_path):
    p = str(tmp_path / "docs")
    _write_corpus(spark, p, giant=True)
    df = spark.read.parquet(p)
    assert pipeline._footer_max_doc_spans(df) == pipeline.GIANT_DOC_SPANS + 1
    # without n_spans the footer path declines
    assert pipeline._footer_max_doc_spans(df.drop("n_spans")) is None


def test_plan_build_no_jobs_small_corpus(spark, tmp_path, no_probe):
    p = str(tmp_path / "docs")
    _write_corpus(spark, p, giant=False)
    df = spark.read.parquet(p)
    plan, jobs = _build_in_group(
        spark, "plan-build-small", lambda: pipeline.extract_questions(df)
    )
    assert jobs == []
    # footer max below threshold → no union branch in the plan
    assert "Union" not in plan._jdf.queryExecution().analyzed().toString()


def test_plan_build_no_jobs_giant_corpus(spark, tmp_path, no_probe):
    p = str(tmp_path / "docs")
    _write_corpus(spark, p, giant=True)
    df = spark.read.parquet(p)
    plan, jobs = _build_in_group(
        spark, "plan-build-giant", lambda: pipeline.extract_questions(df)
    )
    assert jobs == []
    assert "Union" in plan._jdf.queryExecution().analyzed().toString()


def test_dispatch_follows_a_table_rewritten_in_place(spark, tmp_path):
    """Dispatch is decided from the input on every call: after the same
    path is overwritten with a giant document, the next plan has the
    giant branch."""
    p = str(tmp_path / "docs")
    _write_corpus(spark, p, giant=False)
    first = pipeline.extract_questions(spark.read.parquet(p))
    assert "Union" not in first._jdf.queryExecution().analyzed().toString()
    _write_corpus(spark, p, giant=True)
    df = spark.read.parquet(p)
    assert pipeline._footer_max_doc_spans(df) == pipeline.GIANT_DOC_SPANS + 1
    second = pipeline.extract_questions(df)
    assert "Union" in second._jdf.queryExecution().analyzed().toString()


def test_statless_input_falls_back_to_probe(spark, monkeypatch):
    rows = [("d0", [{"kind": "text", "text": "Question: 1\nAnswer: A",
                     "media_ref": "", "offset": 0}])]
    df = spark.createDataFrame(rows, schema=schema.DOCUMENT_SPANS)
    called = {}
    cls = _df_class()
    orig = cls.isEmpty

    def spy(self):
        called["probe"] = True
        return orig(self)

    monkeypatch.setattr(cls, "isEmpty", spy)
    pipeline.extract_questions(df)
    assert called.get("probe") is True
