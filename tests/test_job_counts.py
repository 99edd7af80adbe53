"""Spark-job contract of the lineage write path and the giant-doc
chunked plan: staging is one write job, each bucket commit one, the
read-backs none; the span-grained chunked plan builds without a job
and scans its input twice."""

import tempfile

from pyspark.sql import functions as F

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.operators import chunked
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.plans.lineage import ExtractionJob
from pdf_parser_python_spark.sources.spans import generate_doc_spans


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, counted in this
    thread's job group (an earlier test may have left one set)."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(group))
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(group)) - before)


def test_lineage_runs_one_job_per_step(spark):
    corpus = [
        (f"jc-{i:03d}", generate_doc_spans(9900 + i, mean_questions=3))
        for i in range(16)
    ]
    docs = spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT)
    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=3)
        out, n = _jobs(spark, lambda: job.run(spark, docs, max_buckets=0))
        assert out["processed"] == [] and n == 1  # staging only
        while job.pending_buckets():
            out, n = _jobs(
                spark, lambda: job.run(spark, docs, max_buckets=1))
            assert len(out["processed"]) == 1 and n == 1
        (q, s), n = _jobs(
            spark, lambda: (job.questions(spark), job.flat_spans(spark)))
        assert n == 0
        assert q.count() == pipeline.extract_questions(docs).count() > 0
        assert s.count() == pipeline.extract_flat_spans(docs).count() > 0


def test_span_rows_plan_builds_without_jobs_and_scans_twice(
    spark, tmp_path
):
    spans = generate_doc_spans(77, mean_questions=30)
    cols = ("doc_id string, kind string, text string, media_ref string, "
            "offset int, page int")
    path = str(tmp_path / "rows")
    spark.createDataFrame(
        [("g", s["kind"], s["text"], s["media_ref"], s["offset"],
          s.get("page")) for s in spans],
        cols,
    ).write.parquet(path)
    span_rows = spark.read.schema(cols).parquet(path)

    df, n = _jobs(spark,
                  lambda: chunked.parse_span_rows_final(span_rows, 9))
    assert n == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2

    packed = spark.createDataFrame([("g", spans)],
                                   schema=schema.DOCUMENT_SPANS_EXT)
    want = pipeline.extract_questions(packed)
    row = F.to_json(F.struct(*want.columns))
    assert sorted(r[0] for r in df.select(row).collect()) == sorted(
        r[0] for r in want.select(row).collect())
