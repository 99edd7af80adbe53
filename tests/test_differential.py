"""Differential test: the Spark engine vs the live reference FSM on a
seeded synthetic corpus with fault injection (duplicates, gaps, solo
artifacts, HOTSPOT, noise, images in every section — FIXTURES.md §5).

Span-sequence equality (kind, text, media_ref, order) is asserted per
document on the canonical flatten, plus full question-field equality.
"""

import pytest

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.sources.spans import generate_doc_spans

from .oracle import flatten_doc, requires_reference, run_reference

N_DOCS = 60


@pytest.fixture(scope="module")
def corpus():
    return {
        f"syn-{i:04d}": generate_doc_spans(i, mean_questions=10)
        for i in range(N_DOCS)
    }


@requires_reference
def test_differential_span_equality(spark, corpus):
    docs = spark.createDataFrame(
        list(corpus.items()), schema=schema.DOCUMENT_SPANS_EXT
    )
    got_rows = pipeline.extract_flat_spans(docs).collect()
    by_doc: dict[str, list] = {d: [] for d in corpus}
    for r in got_rows:
        by_doc[r.doc_id].append(r)

    mismatches = []
    total_spans = 0
    for doc_id, spans in corpus.items():
        # reference question list order == our seq order
        expected = flatten_doc(run_reference(spans))
        rows = sorted(by_doc[doc_id], key=lambda r: (r.seq, r.order))
        got = [
            (r.question_number, r.section, r.kind, r.text, r.media_ref, r.order)
            for r in rows
        ]
        total_spans += len(expected)
        if got != expected:
            first = next(
                (i for i, (a, b) in enumerate(zip(got, expected)) if a != b),
                min(len(got), len(expected)),
            )
            mismatches.append((doc_id, first, got[first:first + 2],
                               expected[first:first + 2]))
    assert not mismatches, f"{len(mismatches)} docs diverged: {mismatches[:3]}"
    assert total_spans > 1000  # corpus is non-trivial


@requires_reference
def test_differential_question_fields(spark, corpus):
    sample = dict(list(corpus.items())[:20])
    docs = spark.createDataFrame(
        list(sample.items()), schema=schema.DOCUMENT_SPANS_EXT
    )
    rows = pipeline.extract_questions(docs).collect()
    by_doc: dict[str, list] = {d: [] for d in sample}
    for r in rows:
        by_doc[r.doc_id].append(r)
    for doc_id, spans in sample.items():
        expected = run_reference(spans)
        got = sorted(by_doc[doc_id], key=lambda r: r.seq)
        assert len(got) == len(expected), doc_id
        for g, e in zip(got, expected):
            assert g.question_number == e["question_number"], doc_id
            assert g.question_type == e["question_type"], doc_id
            assert g.question_text == e["question_text"], doc_id
            assert g.answer_text == e["answer_text"], doc_id
            assert g.explanation_text == e["explanation_text"], doc_id
            assert g.question_images == e["question_images"], doc_id
            assert g.answer_images == e["answer_images"], doc_id
            assert g.explanation_images == e["explanation_images"], doc_id
            assert [o.asDict() for o in g.options] == [
                {k: o[k] for k in ("key", "text", "is_correct", "images")}
                for o in e["options"]
            ], doc_id
            assert (g.page_start, g.page_end) == (e["page_start"], e["page_end"]), doc_id
            assert g.anomaly_score == e["anomaly_score"], doc_id
