"""Behavioral unit scenarios ported from the reference test suite's
intent (FIXTURES.md §4; /root/reference/tests/test_parser.py:298-573 —
that suite is stale at import level, so scenarios are re-expressed
against the spans table and double-checked against the live reference
FSM wherever its checkout is present)."""

import pytest

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.plans import pipeline

from .oracle import HAVE_REFERENCE, run_reference


def _doc(spark, *texts_or_spans, doc_id="t"):
    spans = []
    for i, item in enumerate(texts_or_spans):
        if isinstance(item, tuple):  # ("image", ref) or ("image", ref, page)
            spans.append({
                "kind": "image", "text": "", "media_ref": item[1],
                "offset": i, "page": item[2] if len(item) > 2 else 1,
            })
        elif isinstance(item, dict):
            spans.append({**item, "offset": i})
        else:
            spans.append({
                "kind": "text", "text": item, "media_ref": "", "offset": i,
                "page": 1,
            })
    return spark.createDataFrame(
        [(doc_id, spans)], schema=schema.DOCUMENT_SPANS_EXT
    ), spans


def _parse(spark, *items):
    docs, spans = _doc(spark, *items)
    got = pipeline.extract_questions(docs).orderBy("seq").collect()
    # every scenario is also differential where the checkout is present:
    # engine == live reference
    if not HAVE_REFERENCE:
        return got
    ref = run_reference(spans)
    assert [q.question_number for q in got] == [r["question_number"] for r in ref]
    assert [q.question_text for q in got] == [r["question_text"] for r in ref]
    assert [q.answer_text for q in got] == [r["answer_text"] for r in ref]
    return got


def test_single_complete_question(spark):
    qs = _parse(spark, "Question: 1", "What is AWS Lambda?", "Answer: B",
                "Explanation: Lambda is serverless")
    assert len(qs) == 1
    q = qs[0]
    assert q.question_number == 1
    assert q.question_text == "What is AWS Lambda?"
    assert q.answer_text == "B"
    assert q.explanation_text == "Lambda is serverless"
    assert q.anomalies == []


def test_multiple_questions(spark):
    qs = _parse(spark, "Question: 1", "Q1 body", "Answer: A",
                "Question: 2", "Q2 body", "Answer: B")
    assert [q.question_number for q in qs] == [1, 2]


def test_missing_answer_anomaly(spark):
    qs = _parse(spark, "Question: 1", "What is VPC?")
    assert [a.type for a in qs[0].anomalies] == ["missing_answer"]
    assert qs[0].anomalies[0].severity == 60
    assert qs[0].anomaly_score == 60


def test_multi_page_pages(spark):
    docs, spans = _doc(
        spark,
        {"kind": "text", "text": "Question: 3", "media_ref": "", "page": 3},
        {"kind": "text", "text": "body continues", "media_ref": "", "page": 4},
        ("image", "img/x.png", 4),
        {"kind": "text", "text": "Answer: A", "media_ref": "", "page": 4},
    )
    q = pipeline.extract_questions(docs).first()
    assert (q.page_start, q.page_end) == (3, 4)
    if HAVE_REFERENCE:
        ref = run_reference(spans)[0]
        assert (q.page_start, q.page_end) == (ref["page_start"], ref["page_end"])


@pytest.mark.parametrize(
    "anchor,section",
    [("", "question_images"), ("Answer: B", "answer_images"),
     ("Explanation: why", "explanation_images")],
)
def test_image_section_ownership(spark, anchor, section):
    items = ["Question: 1", "body"]
    if anchor:
        items.append(anchor)
    items.append(("image", "img/owned.png"))
    qs = _parse(spark, *items)
    assert getattr(qs[0], section) == ["img/owned.png"]


def test_image_boundary_non_leakage(spark):
    qs = _parse(spark, "Question: 1", "b1", "Answer: A",
                ("image", "img/q1.png"), "Question: 2", "b2", "Answer: B")
    assert qs[0].answer_images == ["img/q1.png"]
    assert qs[1].image_count == 0


def test_preamble_images_dropped(spark):
    qs = _parse(spark, ("image", "img/cover.png"), "intro text",
                "Question: 1", "b", "Answer: A")
    assert len(qs) == 1 and qs[0].image_count == 0
    assert qs[0].question_text == "b"


def test_duplicate_numbers_kept_as_entities(spark):
    qs = _parse(spark, "Question: 1", "first", "Answer: A",
                "Question: 1", "second", "Answer: B")
    assert [q.question_number for q in qs] == [1, 1]
    assert [q.question_text for q in qs] == ["first", "second"]


def test_case_insensitive_anchors(spark):
    qs = _parse(spark, "QUESTION: 1", "body", "ANSWER: A",
                "EXPLANATION: because")
    assert qs[0].answer_text == "A"
    assert qs[0].explanation_text == "because"


def test_inline_answer_marks_options(spark):
    qs = _parse(spark, "Question: 1", "pick two", "A. one", "B. two",
                "C. three", "Answer: B, C")
    assert [(o.key, o.is_correct) for o in qs[0].options] == [
        ("A", False), ("B", True), ("C", True)]


def test_concatenated_answer_letters(spark):
    qs = _parse(spark, "Question: 1", "pick", "A. x", "B. y", "Answer: AB")
    assert all(o.is_correct for o in qs[0].options)


def test_option_formats(spark):
    qs = _parse(spark, "Question: 1", "q", "A. dot", "B) paren",
                "(C) wrapped", "D: colon", "E - dash", "Answer: A")
    assert [o.key for o in qs[0].options] == ["A", "B", "C", "D", "E"]
    assert [o.text for o in qs[0].options] == [
        "dot", "paren", "wrapped", "colon", "dash"]


def test_option_anchor_invalid_in_explanation(spark):
    qs = _parse(spark, "Question: 1", "q", "A. opt", "Answer: A",
                "Explanation: because", "B. this is not an option")
    assert [o.key for o in qs[0].options] == ["A"]
    assert "B. this is not an option" in qs[0].explanation_text


def test_solo_question_artifact_ignored(spark):
    qs = _parse(spark, "Question: 1", "q", "Answer: A", "Question 5",
                "tail text")
    assert [q.question_number for q in qs] == [1]
    assert "tail text" in qs[0].answer_text
    assert "Question 5" not in qs[0].answer_text


def test_hotspot_suppresses_missing_answer(spark):
    qs = _parse(spark, "Question: 7", "HOTSPOT", "configure the thing")
    assert qs[0].question_type == "hotspot"
    assert qs[0].anomalies == []


def test_hotspot_only_in_question_body(spark):
    qs = _parse(spark, "Question: 1", "q", "Answer: A", "HOTSPOT")
    assert qs[0].question_type == "mcq"
    assert "HOTSPOT" in qs[0].answer_text


def test_noise_immunity(spark):
    qs = _parse(
        spark, "Questions and Answers PDF", "12/463", "Question: 1",
        "https://dumpsgate.com/x", "real body", "------------",
        "Topic 1, Exam A", "Answer: A", "Visit us at example",
    )
    q = qs[0]
    assert q.question_text == "real body"
    assert q.answer_text == "A"


def test_preamble_skip_with_cover_noise(spark):
    qs = _parse(spark, "RHIA", "1828", "Thank you for choosing us",
                "Question: 1", "body", "Answer: A")
    assert len(qs) == 1 and qs[0].question_text == "body"


def test_ghost_option_removed(spark):
    qs = _parse(spark, "Question: 1", "q", "A.", "B. real", "Answer: B")
    assert [o.key for o in qs[0].options] == ["B"]


def test_explanation_boilerplate_scrubbed(spark):
    qs = _parse(spark, "Question: 1", "q", "Answer: A",
                "Explanation:", "Visit us at dumpsgate")
    assert qs[0].explanation_text == ""


def test_orphan_image_anomaly(spark):
    qs = _parse(spark, "Question: 1", ("image", "img/only.png"), "Answer: A")
    assert [a.type for a in qs[0].anomalies] == [
        "missing_question_text", "orphan_image"]
    assert qs[0].anomaly_score == 100  # min(100, 80+30) — models.py:162-168 cap


def test_unicode_whitespace_edges(spark):
    qs = _parse(spark, " Question: 9 ", "\tbody line\r",
                "Answer: B")
    assert qs[0].question_number == 9
    assert qs[0].question_text == "body line"
    assert qs[0].answer_text == "B"
