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


def test_commit_kernel_counts_fallback_parse_failure(monkeypatch):
    """The commit entrypoint flags exactly one row for a document whose
    Python-fallback parse raises, and emits nothing else for it; the
    other documents, on either kernel, parse normally. No Spark."""
    import pyarrow as pa

    from pdf_parser_python_spark.operators import dkernel, vkernel

    exam = ["Question: 1 Which city is on two continents?",
            "(A) Istanbul", "(B) Paris", "Answer: A"]
    # İ routes a document to the Python fallback kernel
    uni = [t.replace("Istanbul", "İstanbul") for t in exam]
    batch = _packed_batch([("ascii", exam), ("uni-ok", uni), ("bad", uni)])

    real = dkernel._process_rows

    def boom(ds, *args, **kw):
        if ds.doc_id == "bad":
            raise RuntimeError("injected FSM failure")
        return real(ds, *args, **kw)

    monkeypatch.setattr(dkernel, "_process_rows", boom)
    out = pa.Table.from_batches(
        list(vkernel.parse_docs_commit_arrow(iter([batch])))
    ).to_pylist()

    failed = [r for r in out if r["parse_failed"]]
    assert len(failed) == 1 and failed[0]["doc_id"] == "bad"
    assert not [r for r in out if r["doc_id"] == "bad"
                and not r["parse_failed"]]
    kept = {r["doc_id"]: r for r in out if not r["parse_failed"]}
    assert set(kept) == {"ascii", "uni-ok"}
    assert kept["uni-ok"]["options"][0]["text"] == "İstanbul"
    # the unflagged rows are exactly the read-path kernel's output
    final = pa.Table.from_batches(
        list(vkernel.parse_docs_final_arrow(iter([batch])))
    ).to_pylist()
    assert [{k: v for k, v in r.items() if k != "parse_failed"}
            for r in out if not r["parse_failed"]] == final


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
                    os.path.isdir(os.path.join(d, "bucket=2"))
                    for d in (job.questions_dir, job.spans_dir)
                ])
                raise RuntimeError("simulated driver crash")
            return real(row)

        job._append_lineage = crash_once
        with pytest.raises(RuntimeError, match="simulated driver crash"):
            job.run(spark, docs)
        assert seen == [[True, True]]  # both data dirs preceded it
        assert 2 in job.pending_buckets()
        assert all(r["partition_id"] != 2 for r in job.lineage_rows())

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


def test_crash_between_questions_and_spans_writes_reruns_bucket(
    spark, monkeypatch
):
    """A bucket that fails after its questions write and before its
    flat-spans write is journaled failed and stays pending; its
    half-written questions are not exposed, and the rerun leaves both
    stores equal to the batch extraction with no duplicate
    (doc_id, seq). Runs under the default pool."""
    import threading

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
        if kw.get("schema", args[0] if args else None) is (
            schema.FLAT_SPAN_SEQ
        ):
            with lock:
                if not blown:
                    blown.append(func)
                    raise RuntimeError("simulated crash before flat spans")
        return real(self, func, *args, **kw)

    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=4)
        monkeypatch.setattr(frame, "mapInArrow", flaky)
        first = job.run(spark, docs)
        monkeypatch.undo()

        failed = [r["partition_id"] for r in job.lineage_rows()
                  if r["status"] == "failed"]
        assert len(failed) == 1
        b = failed[0]
        assert b not in first["processed"] and first["remaining"] == [b]
        assert b in job.pending_buckets()
        assert os.path.isdir(os.path.join(job.questions_dir, f"bucket={b}"))
        assert not os.path.isdir(os.path.join(job.spans_dir, f"bucket={b}"))
        staged = spark.read.parquet(
            os.path.join(td, "input_bucketed", f"bucket={b}"))
        b_ids = {r.doc_id for r in staged.select("doc_id").collect()}
        assert b_ids
        exposed = {r.doc_id for r in
                   job.questions(spark).select("doc_id").collect()}
        assert not exposed & b_ids

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
