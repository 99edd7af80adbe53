"""Checkpoint/resume with per-partition lineage (north-rule contract)."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.plans.lineage import ExtractionJob
from pdf_parser_python_spark.sources.spans import generate_doc_spans


@pytest.fixture(scope="module")
def docs(spark):
    corpus = [
        (f"lin-{i:04d}", generate_doc_spans(3000 + i, mean_questions=6))
        for i in range(40)
    ]
    return spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT).cache()


def test_interrupt_and_resume(spark, docs):
    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=8)

        # simulate a crash after 3 committed buckets
        first = job.run(spark, docs, max_buckets=3)
        assert len(first["processed"]) == 3
        assert len(first["remaining"]) == 5
        partial = job.questions(spark).count()
        assert partial > 0

        # resume: only pending buckets run; nothing reprocessed
        second = job.run(spark, docs)
        assert sorted(first["processed"] + second["processed"]) == list(range(8))
        assert second["remaining"] == []

        # lineage: 8 done rows with real metrics
        lin = {r["partition_id"]: r for r in job.lineage_rows()}
        assert len(lin) == 8
        assert all(r["status"] == "done" for r in lin.values())
        assert sum(r["docs_parsed"] for r in lin.values()) == 40
        assert all(r["parse_failures"] == 0 for r in lin.values())

        # results == single-shot pipeline, no dupes, no loss
        direct = pipeline.extract_questions(docs)
        got = job.questions(spark)
        assert got.count() == direct.count()
        assert (
            got.select("doc_id", "seq").distinct().count() == direct.count()
        )
        assert job.flat_spans(spark).count() == pipeline.extract_flat_spans(
            docs
        ).count()
        assert sum(r["questions_emitted"] for r in lin.values()) == direct.count()


def _row_set(df, cols):
    """Sorted JSON rows of ``df`` over ``cols`` — a multiset that also
    compares map-typed columns (anomaly contexts)."""
    return sorted(
        r[0] for r in df.select(F.to_json(F.struct(*cols))).collect()
    )


def _spans(texts, page=True):
    return [
        {"kind": "text", "text": t, "media_ref": "", "offset": i,
         **({"page": 1 + i // 3} if page else {})}
        for i, t in enumerate(texts)
    ]


_EXAM = ["Question: 1 Which city is on two continents?",
         "(A) Istanbul", "(B) Paris", "Answer: A",
         "Explanation: it spans the Bosphorus."]
#: İ and Arabic-Indic digits make the kernel run its Python-exact
#: grammar form on the document's slice
_UNICODE = [t.replace("Istanbul", "İstanbul") for t in _EXAM] + [
    "Question: 2 How many continents does it touch?",
    "(A) ٢", "(B) 3", "Answer: A"]


@pytest.mark.parametrize("pageless", [False, True],
                         ids=["document_spans_ext", "document_spans"])
def test_committed_outputs_equal_batch_extraction(spark, pageless):
    """The committed questions and flat spans are row-set-equal to the
    batch extraction, edge documents included, and the commit stages
    no raw_questions/ intermediate."""
    corpus = [
        (f"eq-{i:03d}", generate_doc_spans(5000 + i, mean_questions=5))
        for i in range(12)
    ] + [
        ("eq-unicode", _spans(_UNICODE)),
        ("eq-empty", []),
        ("eq-anchorless", _spans(["just prose", "no anchors here"])),
    ]
    if pageless:
        corpus = [
            (d, [{k: v for k, v in s.items() if k != "page"} for s in sp])
            for d, sp in corpus
        ]
    docs = spark.createDataFrame(
        corpus,
        schema=schema.DOCUMENT_SPANS if pageless
        else schema.DOCUMENT_SPANS_EXT,
    )
    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=4)
        job.run(spark, docs)
        assert not job.pending_buckets()
        assert not os.path.exists(os.path.join(td, "raw_questions"))

        want_q = pipeline.extract_questions(docs)
        got_q = _row_set(job.questions(spark), want_q.columns)
        assert got_q == _row_set(want_q, want_q.columns)
        assert any('"doc_id":"eq-unicode"' in r for r in got_q)
        want_s = pipeline.extract_flat_spans(docs)
        assert _row_set(job.flat_spans(spark), want_s.columns) == (
            _row_set(want_s, want_s.columns))
        lin = job.lineage_rows()
        assert sum(r["docs_parsed"] for r in lin) == len(corpus)
        assert sum(r["questions_emitted"] for r in lin) == len(got_q)
        assert all(r["parse_failures"] == 0 for r in lin)


def test_dedup_done_sets_take_latest_done_row():
    """A bucket re-committed under a retained journal has two done
    rows, and a failed row followed by a done row counts as done; the
    done sets hold each bucket and band once."""
    from pdf_parser_python_spark.plans.lineage import DedupJob

    with tempfile.TemporaryDirectory() as td:
        job = DedupJob(td, n_buckets=2)
        for pid, phase, status, n in [
            (0, "sig", "done", 10),
            (1, "sig", "failed", 0),
            (1, "sig", "done", 5),
            (0, "sig", "done", 12),  # re-commit of bucket 0
            (0, "band", "done", 99),
        ]:
            job._append_lineage(job._row(pid, phase, status,
                                         rows_emitted=n))
        assert job.done_buckets() == {0, 1}
        assert job.done_bands() == {0}


def test_lineage_frame_schema_does_not_depend_on_journal(spark):
    """The lineage frame has the job's declared journal schema whether
    the journal is empty or holds done and failed rows (an inferred
    schema used to sort the columns and widen partition_id to bigint)."""
    from pdf_parser_python_spark.plans.lineage import CurationJob, DedupJob

    for cls in (ExtractionJob, CurationJob, DedupJob):
        with tempfile.TemporaryDirectory() as td:
            job = cls(td, n_buckets=2)
            empty = job.lineage(spark).schema
            job._append_lineage(job._empty_row(0))
            job._append_lineage(job._failed_row(1, RuntimeError("lost")))
            lin = job.lineage(spark)
            assert lin.schema == empty, cls.__name__
            assert empty == job.JOURNAL, cls.__name__
            assert {(r["partition_id"], r["status"]) for r in lin.collect()
                    } == {(0, "done"), (1, "failed")}


def test_rerun_is_noop(spark, docs):
    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=4)
        job.run(spark, docs)
        n1 = job.questions(spark).count()
        out = job.run(spark, docs)  # everything already committed
        assert out["processed"] == []
        assert job.questions(spark).count() == n1
        assert len(job.lineage_rows()) == 4


def test_curation_job_interrupt_resume_and_parity(spark):
    """r6: CurationJob — same bucket-commit contract, gate output
    equals the batch gate after an interrupted run resumes."""
    from pyspark.sql import functions as F

    from pdf_parser_python_spark.operators.curation import curation_filter
    from pdf_parser_python_spark.operators.repetition import chunked_lines
    from pdf_parser_python_spark.plans.lineage import CurationJob

    docs = spark.createDataFrame(
        [(i,
          ("the quick brown fox is in that for with and of to "
           * (2 + i % 3)) if i % 4 else "zz")
         for i in range(60)],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as td:
        job = CurationJob(td, n_buckets=4)
        out1 = job.run(spark, docs, max_buckets=2)
        assert len(out1["processed"]) == 2 and len(out1["remaining"]) == 2
        out2 = job.run(spark, docs)  # resume
        assert not out2["remaining"]
        got = {tuple(r) for r in job.verdicts(spark).collect()}
        want = {tuple(r) for r in curation_filter(
            docs, lines=chunked_lines(F.col("text"), 10)).collect()}
        assert got == want
        lin = {r["partition_id"]: r for r in job.lineage_rows()}
        assert len(lin) == 4
        assert sum(r["docs_gated"] for r in lin.values()) == 60
        assert sum(r["docs_in"] for r in lin.values()) == 60
        kept = sum(r["docs_kept"] for r in lin.values())
        assert kept == sum(1 for t in got if t[-1])
        # rerun is a no-op
        assert job.run(spark, docs)["processed"] == []


def test_dedup_job_two_phase_resume_and_parity(spark):
    """r7: DedupJob — signatures commit per bucket, the LSH candidate
    pass commits per band, interrupt either phase and resume; the
    committed pairs equal a non-resumable minhash_lsh_pairs run."""
    from pdf_parser_python_spark.operators.dedup import minhash_lsh_pairs
    from pdf_parser_python_spark.plans.lineage import DedupJob

    base = [
        (i, f"alpha beta gamma delta epsilon zeta {i} eta theta iota "
            f"kappa lam mu nu xi omicron pi rho")
        for i in range(40)
    ]
    # guaranteed near-dups: a mutated copy of every doc
    mut = [(i + 1000, t + " trailing edit") for i, t in base]
    docs = spark.createDataFrame(base + mut, "doc_id long, text string")
    kw = dict(k=32, bands=8, shingle_k=3, threshold=0.5)
    with tempfile.TemporaryDirectory() as td:
        job = DedupJob(td, n_buckets=4, **kw)

        # crash mid-phase-1: 2 of 4 signature buckets committed, no
        # band may run before every signature bucket is in
        out1 = job.run(spark, docs, max_buckets=2)
        assert len(out1["processed"]) == 2
        assert out1["bands_processed"] == []
        assert len(out1["bands_remaining"]) == 8

        # resume phase 1, crash mid-phase-2 after 3 bands
        out2 = job.run(spark, docs, max_bands=3)
        assert not out2["remaining"]
        assert len(out2["bands_processed"]) == 3
        assert len(out2["bands_remaining"]) == 5

        # resume phase 2 to completion
        out3 = job.run(spark, docs)
        assert not out3["bands_remaining"]

        got = {tuple(r) for r in job.pairs(spark).collect()}
        want = {tuple(r)
                for r in minhash_lsh_pairs(docs, **kw).collect()}
        assert got == want and len(got) >= 40

        # signatures survive the roundtrip; rerun is a no-op
        assert job.signatures(spark).count() == 80
        out4 = job.run(spark, docs)
        assert out4["processed"] == [] and out4["bands_processed"] == []

        # lineage frame is homogeneous across both phases
        lin = job.lineage(spark)
        assert lin.count() == 4 + 8
        assert set(lin.columns) >= {"partition_id", "phase", "status",
                                    "rows_emitted", "error"}


def test_fresh_jobs_read_back_empty_frames(spark):
    """Before anything is committed, every read-back is an empty frame
    with its output schema (it used to raise "basePath not found")."""
    from pdf_parser_python_spark.operators.curation import curation_filter
    from pdf_parser_python_spark.operators.repetition import chunked_lines
    from pdf_parser_python_spark.plans.lineage import CurationJob, DedupJob

    text = spark.createDataFrame([("d0", "some text")],
                                 "doc_id string, text string")
    gate = curation_filter(text, lines=chunked_lines(F.col("text"), 10))
    with tempfile.TemporaryDirectory() as td:
        ext = ExtractionJob(os.path.join(td, "e"))
        dedup = DedupJob(os.path.join(td, "d"))
        cases = [
            (ext.questions(spark), schema.QUESTION_FINAL),
            (ext.flat_spans(spark), schema.FLAT_SPAN_SEQ),
            (CurationJob(os.path.join(td, "c")).verdicts(spark),
             gate.schema),
            (dedup.signatures(spark),
             "doc_id string, signature array<bigint>"),
            (dedup.pairs(spark),
             "doc_a string, doc_b string, sig_similarity double"),
        ]
        for df, want in cases:
            if isinstance(want, str):
                want = spark.createDataFrame([], want).schema
            assert [(f.name, f.dataType) for f in df.schema] == [
                (f.name, f.dataType) for f in want]
            assert df.count() == 0


def _by_bucket(df, n, **aggs):
    """{bucket: {name: value}} under the commit's xxhash bucketing."""
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(n)).cast("int")
    return {
        r["b"]: {k: r[k] for k in aggs}
        for r in df.groupBy(bucket.alias("b"))
        .agg(*[v.alias(k) for k, v in aggs.items()]).collect()
    }


def _journal(job, fields, phase=None):
    rows = job._latest_done(phase)
    return {b: {k: rows[b][k] for k in fields} for b in sorted(rows)}


def _expected(n, fields, *tables):
    return {b: {k: next((t[b][k] for t in tables if b in t
                         and k in t[b]), 0) for k in fields}
            for b in range(n)}


def test_journal_rows_equal_independent_counts(spark):
    """Every done journal row of each job kind equals counts computed
    independently from the input under the same xxhash bucketing, so
    moving the input metrics from staging onto the commit job changed
    no number."""
    from pdf_parser_python_spark.operators.curation import curation_filter
    from pdf_parser_python_spark.operators.dedup import minhash_signatures
    from pdf_parser_python_spark.operators.repetition import chunked_lines
    from pdf_parser_python_spark.operators.textstats import token_count
    from pdf_parser_python_spark.plans.lineage import CurationJob, DedupJob

    n = 5
    count = F.count(F.lit(1))
    corpus = [
        (f"jp-{i:03d}", generate_doc_spans(6100 + i, mean_questions=4))
        for i in range(20)
    ] + [("jp-unicode", _spans(_UNICODE)), ("jp-empty", [])]
    docs = spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT)
    fields = ("docs_parsed", "input_spans", "questions_emitted",
              "spans_emitted", "parse_failures")
    with tempfile.TemporaryDirectory() as td:
        job = ExtractionJob(td, n_buckets=n)
        job.run(spark, docs, max_buckets=2)
        job.run(spark, docs)
        assert _journal(job, fields) == _expected(
            n, fields,
            _by_bucket(docs, n, docs_parsed=count,
                       input_spans=F.sum(F.size("spans"))),
            _by_bucket(pipeline.extract_questions(docs), n,
                       questions_emitted=count),
            _by_bucket(pipeline.extract_flat_spans(docs), n,
                       spans_emitted=count),
        )

    text = spark.createDataFrame(
        [(i, ("the quick brown fox is in that for with and of to "
              * (1 + i % 4)) if i % 5 else "zz")
         for i in range(40)] + [(40, None), (41, "")],
        "doc_id long, text string",
    )
    tokens = F.sum(token_count(F.coalesce(F.col("text"), F.lit(""))))
    fields = ("docs_in", "input_tokens", "docs_gated", "docs_kept")
    with tempfile.TemporaryDirectory() as td:
        job = CurationJob(td, n_buckets=n)
        job.run(spark, text)
        gate = curation_filter(text, lines=chunked_lines(F.col("text"), 10))
        assert _journal(job, fields) == _expected(
            n, fields,
            _by_bucket(text, n, docs_in=count, input_tokens=tokens),
            _by_bucket(gate, n, docs_gated=count,
                       docs_kept=F.sum(F.col("keep").cast("long"))),
        )

    text = text.where(F.col("text").isNotNull())
    fields = ("docs_in", "input_tokens", "rows_emitted")
    with tempfile.TemporaryDirectory() as td:
        job = DedupJob(td, n_buckets=n, k=16, bands=4)
        job.run(spark, text, max_bands=0)
        sigs = minhash_signatures(text, k=16)
        assert _journal(job, fields, "sig") == _expected(
            n, fields,
            _by_bucket(text, n, docs_in=count, input_tokens=tokens),
            _by_bucket(sigs, n, rows_emitted=count),
        )
