"""Failure-path semantics of the lineage loop: a bucket that throws is
recorded status=failed, never poisons prior commits, and is retried on
the next run."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.plans.lineage import ExtractionJob
from pdf_parser_python_spark.sources.spans import generate_doc_spans


def test_failed_bucket_recorded_and_retried(spark):
    corpus = [
        (f"fl-{i:03d}", generate_doc_spans(8000 + i, mean_questions=4))
        for i in range(20)
    ]
    docs = spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT)

    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=4)
        real = job._write_bucket
        blown = []

        def flaky(bucket, bdocs, *meta):
            if bucket == 2 and not blown:
                blown.append(bucket)
                raise RuntimeError("simulated executor loss")
            return real(bucket, bdocs, *meta)

        job._write_bucket = flaky
        first = job.run(spark, docs)
        assert sorted(first["processed"]) == [0, 1, 3]
        statuses = {r["partition_id"]: r["status"] for r in job.lineage_rows()}
        assert statuses[2] == "failed"
        # look the failed row up by partition_id, not journal index:
        # r8's pooled commits append rows in completion order
        assert any(
            r["partition_id"] == 2
            and "simulated executor loss" in r.get("error", "")
            for r in job.lineage_rows()
        )

        # retry run: only the failed bucket reprocesses
        second = job.run(spark, docs)
        assert second["processed"] == [2]
        done = {r["partition_id"] for r in job.lineage_rows()
                if r["status"] == "done"}
        assert done == {0, 1, 2, 3}
        # final output complete and unique
        out = job.questions(spark)
        assert out.select("doc_id").distinct().count() == 20


def _packed_batch(docs):
    """Packed-projection Arrow batch (dkernel.packed_projection's
    columns) from ``[(doc_id, [text span, ...]), ...]``."""
    import pyarrow as pa

    return pa.RecordBatch.from_pydict(
        {
            "doc_id": [d for d, _ in docs],
            "kinds": [["text"] * len(t) for _, t in docs],
            "texts": [list(t) for _, t in docs],
            "refs": [[""] * len(t) for _, t in docs],
            "pages": [[1] * len(t) for _, t in docs],
        },
        schema=pa.schema([
            ("doc_id", pa.string()),
            ("kinds", pa.list_(pa.string())),
            ("texts", pa.list_(pa.string())),
            ("refs", pa.list_(pa.string())),
            ("pages", pa.list_(pa.int32())),
        ]),
    )


def _outputs(batches):
    """Commit-kernel batches → {output: rows without the other output's
    columns}."""
    import pyarrow as pa

    from pdf_parser_python_spark.operators import vkernel

    own = {
        vkernel.COMMIT_QUESTIONS: vkernel.QUESTION_FINAL_ARROW_SCHEMA.names,
        vkernel.COMMIT_FLAT_SPANS: vkernel.FLAT_ARROW_SCHEMA.names,
    }
    out = {}
    for r in pa.Table.from_batches(batches).to_pylist():
        out.setdefault(r["output"], []).append(
            {k: r[k] for k in own.get(r["output"], r)})
    return out


def test_commit_kernel_emits_read_path_rows():
    """The commit entrypoint's questions and flat spans are exactly the
    read-path kernels' output on a batch that mixes ASCII and Unicode
    documents, and every row is one of those two outputs. No Spark."""
    from pdf_parser_python_spark.operators import vkernel

    exam = ["Question: 1 Which city is on two continents?",
            "(A) Istanbul", "(B) Paris", "Answer: A"]
    uni = [t.replace("Istanbul", "İstanbul") for t in exam] + [
        "Question: ٢ How many continents?", "ſ. two", "(B) 3", "Answer: S"]
    batch = _packed_batch([("ascii", exam), ("uni", uni), ("ascii2", exam)])

    out = _outputs(list(vkernel.parse_docs_commit_arrow(iter([batch]))))
    assert set(out) == {vkernel.COMMIT_QUESTIONS, vkernel.COMMIT_FLAT_SPANS}
    questions = out[vkernel.COMMIT_QUESTIONS]
    spans = out[vkernel.COMMIT_FLAT_SPANS]
    assert {r["doc_id"] for r in questions} == {"ascii", "uni", "ascii2"}
    assert [(r["question_number"], [o["text"] for o in r["options"]])
            for r in questions if r["doc_id"] == "uni"] == [
        (1, ["İstanbul", "Paris"]), (2, ["two", "3"])]
    final = [r for b in vkernel.parse_docs_final_arrow(iter([batch]))
             for r in b.to_pylist()]
    flat = [r for b in vkernel.parse_docs_flat_arrow(iter([batch]))
            for r in b.to_pylist()]
    assert questions == final
    assert spans == flat and len(flat) > len(final)


def test_crash_between_data_and_journal_reruns_bucket(spark):
    """A crash after a bucket's data directories are written but before
    its journal row lands leaves the bucket pending; the next run
    rewrites it and the committed store equals the batch extraction,
    with no duplicate (doc_id, seq). Runs under the default pool."""
    corpus = [
        (f"cr-{i:03d}", generate_doc_spans(9000 + i, mean_questions=4))
        for i in range(24)
    ]
    docs = spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT)

    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=4)
        real = job._append_lineage
        seen = []

        def crash_once(row):
            if row["partition_id"] == 2 and not seen:
                seen.append([
                    os.path.isdir(os.path.join(
                        job.commits_dir, "bucket=2", f"output={o}"))
                    for o in ("questions", "flat_spans")
                ])
                raise RuntimeError("simulated driver crash")
            return real(row)

        job._append_lineage = crash_once
        with pytest.raises(RuntimeError, match="simulated driver crash"):
            job.run(spark, docs)
        assert seen == [[True, True]]  # both outputs' data preceded it
        assert 2 in job.pending_buckets()
        assert all(r["partition_id"] != 2 for r in job.lineage_rows())
        # its data is on disk, but no read-back exposes an unjournaled
        # bucket
        staged = spark.read.parquet(
            os.path.join(td, "input_bucketed", "bucket=2"))
        b2 = {r.doc_id for r in staged.select("doc_id").collect()}
        assert b2
        for out in (job.questions(spark), job.flat_spans(spark)):
            exposed = {r.doc_id for r in out.select("doc_id").collect()}
            assert exposed and not exposed & b2

        second = job.run(spark, docs)
        assert 2 in second["processed"]
        assert second["remaining"] == []
        assert sorted(job.done_buckets()) == [0, 1, 2, 3]

        got = job.questions(spark)
        want = pipeline.extract_questions(docs)
        row = F.to_json(F.struct(*want.columns))
        assert sorted(r[0] for r in got.select(row).collect()) == sorted(
            r[0] for r in want.select(row).collect())
        n = got.count()
        assert got.select("doc_id", "seq").distinct().count() == n
        spans = job.flat_spans(spark)
        assert spans.count() == pipeline.extract_flat_spans(docs).count()


def _fail_after_first_batch(kernel):
    """``kernel`` that raises inside its Spark task after yielding its
    first batch, so the task has started writing when it fails."""

    def failing(batches):
        for out in kernel(batches):
            yield out
            raise RuntimeError("simulated task failure in the commit job")

    return failing


def test_failure_inside_commit_job_reruns_bucket(spark, monkeypatch):
    """A task failure inside a bucket's single commit job, after it
    has begun writing, leaves the bucket journaled failed and pending;
    neither committed output exposes any of its documents, and the
    rerun leaves both equal to the batch extraction with no duplicate
    (doc_id, seq). Runs under the default pool."""
    import threading

    from pdf_parser_python_spark.operators import vkernel

    corpus = [
        (f"qs-{i:03d}", generate_doc_spans(9500 + i, mean_questions=4))
        for i in range(24)
    ]
    docs = spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT)
    frame = type(docs)
    real = frame.mapInArrow
    lock = threading.Lock()
    blown = []

    def flaky(self, func, *args, **kw):
        if func is vkernel.parse_docs_commit_arrow:
            with lock:
                if not blown:
                    blown.append(func)
                    func = _fail_after_first_batch(func)
        return real(self, func, *args, **kw)

    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=4)
        monkeypatch.setattr(frame, "mapInArrow", flaky)
        first = job.run(spark, docs)
        monkeypatch.undo()

        failed = [r for r in job.lineage_rows() if r["status"] == "failed"]
        assert len(blown) == 1 and len(failed) == 1
        assert "simulated task failure" in failed[0]["error"]
        b = failed[0]["partition_id"]
        assert b not in first["processed"] and first["remaining"] == [b]
        assert b in job.pending_buckets()
        staged = spark.read.parquet(
            os.path.join(td, "input_bucketed", f"bucket={b}"))
        b_ids = {r.doc_id for r in staged.select("doc_id").collect()}
        assert b_ids
        for out in (job.questions(spark), job.flat_spans(spark)):
            exposed = {r.doc_id for r in out.select("doc_id").collect()}
            assert exposed and not exposed & b_ids

        second = job.run(spark, docs)
        assert second["processed"] == [b] and second["remaining"] == []

        def rows(df, cols):
            row = F.to_json(F.struct(*cols))
            return sorted(r[0] for r in df.select(row).collect())

        got_q, want_q = job.questions(spark), pipeline.extract_questions(docs)
        assert rows(got_q, want_q.columns) == rows(want_q, want_q.columns)
        assert got_q.select("doc_id", "seq").distinct().count() == (
            got_q.count())
        got_s = job.flat_spans(spark)
        want_s = pipeline.extract_flat_spans(docs)
        assert rows(got_s, want_s.columns) == rows(want_s, want_s.columns)
