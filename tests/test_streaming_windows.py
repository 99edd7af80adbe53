"""Watermarked event-time aggregation + the stateful span assembler."""

import json
import os
import tempfile
import time

from pyspark.sql import functions as F

from pdf_parser_python_spark.streaming import windows as W


def _stop(spark, q, timeout_s=30.0):
    """Stop ``q``, then wait (bounded) until no Spark job is active and
    no task is running: ``stop()`` cancels the micro-batch job and
    returns while its killed tasks may still be writing under the
    checkpoint directory that the caller is about to delete."""
    q.stop()
    tracker = spark.sparkContext.statusTracker()
    jvm_tracker = spark.sparkContext._jsc.sc().statusTracker()
    deadline = time.time() + timeout_s
    while time.time() < deadline and (
        tracker.getActiveJobsIds()
        or any(e.numRunningTasks() for e in jvm_tracker.getExecutorInfos())
    ):
        time.sleep(0.1)


def test_windowed_counts_with_watermark(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "in")
        ev.write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        agg = W.windowed_event_counts(stream, "1 minute", "2 minutes")
        q = (
            agg.writeStream.format("memory")
            .queryName("winagg")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(td, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in spark.sql("select * from winagg").collect()
        }
        assert len(got) > 10

        # emitted windows must equal the batch computation exactly
        batch = (
            ev.withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
            .collect()
        )
        expected = {(r.w.start, r.event_type): (r.n, r.v) for r in batch}
        for k, v in got.items():
            assert expected[k] == v
        # append-mode holds back only windows not yet past the watermark
        assert len(got) <= len(expected)


def test_stateful_doc_assembler(spark):
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "in")
        os.makedirs(src)
        rows = []
        for d in range(3):
            for i in range(5 + d):
                rows.append((f"doc-{d}", "text" if i % 2 == 0 else "image",
                             f"line {i}" if i % 2 == 0 else "",
                             "" if i % 2 == 0 else f"img/{d}/{i}", i))
        df = spark.createDataFrame(
            rows, "doc_id string, kind string, text string, "
                  "media_ref string, offset int"
        )
        df.coalesce(1).write.parquet(os.path.join(src, "part1"))

        stream = spark.readStream.schema(df.schema).parquet(src + "/*")
        out = W.stateful_doc_assembler(stream, timeout_ms=800)
        q = (
            out.writeStream.format("memory")
            .queryName("assembled")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(td, "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            got = spark.sql("select * from assembled").collect()
            if len(got) == 3:
                break
            time.sleep(0.5)
        _stop(spark, q)
        assert len(got) == 3
        by_doc = {r.doc_id: r for r in got}
        for d in range(3):
            r = by_doc[f"doc-{d}"]
            assert r.n_spans == 5 + d
            spans = json.loads(r.spans_json)
            assert [s["offset"] for s in spans] == list(range(5 + d))


def test_assembler_feeds_vectorized_kernel(spark):
    """Finished documents from the stateful assembler flow through the
    SAME vectorized extraction kernel as batch, inside one streaming
    query (stateful stage → stateless mapInArrow)."""
    from pdf_parser_python_spark import schema
    from pdf_parser_python_spark.plans import pipeline

    lines = ["Question: 1", "What is streaming?", "A. a river",
             "B. a query", "Answer: B", "Question: 2",
             "Why vectorize?", "A. speed", "B. style", "Answer: A"]
    rows = [("sdoc-0", "text", ln, "", i) for i, ln in enumerate(lines)]

    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "in")
        os.makedirs(src)
        df = spark.createDataFrame(
            rows, "doc_id string, kind string, text string, "
                  "media_ref string, offset int"
        )
        df.coalesce(1).write.parquet(os.path.join(src, "part1"))

        stream = spark.readStream.schema(df.schema).parquet(src + "/*")
        assembled = W.stateful_doc_assembler(stream, timeout_ms=800)
        questions = pipeline.extract_questions(
            W.assembled_documents(assembled)
        )
        q = (
            questions.writeStream.format("memory")
            .queryName("stream_questions")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(td, "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + 60
        got = []
        while time.time() < deadline:
            got = spark.sql("select * from stream_questions").collect()
            if len(got) == 2:
                break
            time.sleep(0.5)
        _stop(spark, q)

        # row-equal to the batch vectorized kernel over the same doc
        batch_doc = spark.createDataFrame(
            [("sdoc-0",
              [{"kind": "text", "text": ln, "media_ref": "", "offset": i}
               for i, ln in enumerate(lines)])],
            schema=schema.DOCUMENT_SPANS,
        )
        expected = pipeline.extract_questions(batch_doc).collect()
        key = lambda r: (r["seq"], r["question_number"],
                         r["question_text"], r["answer_text"])
        assert sorted(map(key, got)) == sorted(map(key, expected))


def test_stateful_streaming_dedup_restart(spark):
    """First-seen dedup state survives micro-batches AND restarts:
    phase 2 must not re-emit digests already seen in phase 1."""
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "in")
        os.makedirs(src)
        sink = os.path.join(td, "keepers")
        ck = os.path.join(td, "ck")

        def run_once():
            stream = spark.readStream.schema(
                "doc_id long, text string"
            ).parquet(src)
            q = (
                W.stateful_streaming_dedup(stream)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        a = spark.createDataFrame(
            [(1, "alpha"), (2, "alpha"), (3, "beta")],
            "doc_id long, text string",
        )
        a.coalesce(1).write.mode("append").parquet(src)
        run_once()
        got1 = {r.text_md5: r for r in spark.read.parquet(sink).collect()}
        assert len(got1) == 2
        by_text = {
            r.text_md5: (r.keeper_doc_id, r.n_copies)
            for r in got1.values()
        }
        # keeper = min doc_id of the batch, n_copies = batch count
        assert sorted(by_text.values()) == [(1, 2), (3, 1)]

        # phase 2: duplicates of phase-1 texts + one new text
        b = spark.createDataFrame(
            [(10, "alpha"), (11, "beta"), (12, "gamma")],
            "doc_id long, text string",
        )
        b.coalesce(1).write.mode("append").parquet(src)
        run_once()  # restart from the same checkpoint
        got2 = spark.read.parquet(sink).collect()
        # exactly ONE new emission (gamma); alpha/beta suppressed by
        # state reloaded from the checkpoint
        assert len(got2) == 3
        new = [r for r in got2 if r.text_md5 not in got1]
        assert len(new) == 1
        assert (new[0].keeper_doc_id, new[0].n_copies) == (12, 1)


def test_stateful_streaming_dedup_equals_batch(spark):
    """One availableNow micro-batch ⇒ output equals the batch
    hash-groupBy (the driver oracle's contract)."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "in")
        os.makedirs(src)
        os.symlink(
            "/root/testdata/sf0.001/documents.parquet",
            os.path.join(src, "documents.parquet"),
        )
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            W.stateful_streaming_dedup(stream)
            .writeStream.format("parquet")
            .option("path", os.path.join(td, "keepers"))
            .option("checkpointLocation", os.path.join(td, "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.text_md5, r.keeper_doc_id, r.n_copies)
            for r in spark.read.parquet(
                os.path.join(td, "keepers")
            ).collect()
        }
        expected = {
            (r.text_md5, r.keeper_doc_id, r.n_copies)
            for r in docs.groupBy(F.md5("text").alias("text_md5"))
            .agg(
                F.count("*").alias("n_copies"),
                F.min("doc_id").alias("keeper_doc_id"),
            )
            .collect()
        }
        assert got == expected
