"""Validation layer vs the live reference ValidationEngine."""

import sys

import pytest

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.operators.validate import validation_report
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.sources.spans import generate_doc_spans

from .oracle import REFERENCE, requires_reference


def reference_validate(spans):
    if REFERENCE not in sys.path:
        sys.path.insert(0, REFERENCE)
    from parser.validator import ValidationEngine
    from parser.models import BlockType, ContentBlock
    from parser.state_machine import StateMachineParser

    blocks = [
        ContentBlock(
            type=BlockType.TEXT if s["kind"] == "text" else BlockType.IMAGE,
            content=s["text"] if s["kind"] == "text" else s["media_ref"],
            page_number=int(s.get("page") or 1),
            bbox=(0.0, 0.0, 1.0, 1.0),
            order_index=int(s["offset"]),
        )
        for s in sorted(spans, key=lambda x: x["offset"])
    ]
    qs = StateMachineParser().parse(blocks)
    return ValidationEngine().validate(qs).model_dump()


@pytest.fixture(scope="module")
def corpus():
    return {
        f"val-{i:04d}": generate_doc_spans(1000 + i, mean_questions=8)
        for i in range(25)
    }


def test_fused_validation_equals_relational(spark):
    """pipeline.extract_validation's packed fast path (report computed
    inside the parse kernel, dkernel.validate_docs) must be row-equal
    to the relational operator over the native engine — every column,
    including gap/duplicate lists, breakdown map, and success_rate's
    HALF_UP rounding."""
    from pdf_parser_python_spark.sources.spans import generate_doc_spans

    corpus = [
        (f"v-{i:03d}", generate_doc_spans(9000 + i, mean_questions=7))
        for i in range(20)
    ]
    docs = spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT)
    fused = pipeline.extract_validation(docs)
    rel = validation_report(
        pipeline.extract_questions(docs, engine="native")
    )
    cols = fused.columns
    a = sorted(repr(r) for r in fused.collect())
    b = sorted(repr(r) for r in rel.select(cols).collect())
    assert a == b and len(a) == 20


@requires_reference
def test_validation_report_matches_reference(spark, corpus):
    docs = spark.createDataFrame(
        list(corpus.items()), schema=schema.DOCUMENT_SPANS_EXT
    )
    reports = {
        r.doc_id: r
        for r in validation_report(pipeline.extract_questions(docs)).collect()
    }
    for doc_id, spans in corpus.items():
        exp = reference_validate(spans)
        if exp["total_questions_detected"] == 0:
            assert doc_id not in reports
            continue
        got = reports[doc_id]
        assert got.total_questions_detected == exp["total_questions_detected"], doc_id
        assert got.structured_successfully == exp["structured_successfully"], doc_id
        assert got.missing_question_numbers == exp["missing_question_numbers"], doc_id
        assert got.duplicate_question_numbers == exp["duplicate_question_numbers"], doc_id
        assert got.questions_missing_answer == exp["questions_missing_answer"], doc_id
        assert (
            got.questions_missing_explanation == exp["questions_missing_explanation"]
        ), doc_id
        assert got.failed_to_structure == exp["failed_to_structure"], doc_id
        assert got.orphan_images == exp["orphan_images"], doc_id
        assert got.anomaly_breakdown == exp["anomaly_breakdown"], doc_id
        assert got.success_rate == pytest.approx(exp["success_rate"]), doc_id
