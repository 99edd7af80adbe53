"""Bulk fuzz for the native engine: the same adversarial line soup as
test_fuzz.py, but 150 documents pushed through the pure-Catalyst FSM
in one Spark job and compared doc-by-doc to the live reference."""

import random

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.operators import finalize
from pdf_parser_python_spark.operators.flatten import flat_spans
from pdf_parser_python_spark.plans import pipeline

from .oracle import flatten_doc, requires_reference, run_reference

WORDS = [
    "Question", "question:", "Answer", "Ans", "Answers", "Key", "Keynote",
    "Explanation", "Reference:", "Solution", "Rationale", "HOTSPOT",
    "hotspot", "A.", "B)", "(C)", "D:", "E -", "a.", "Z.", "AA.", "1.",
    "Topic 1,", "12/463", "https://x.invalid/y", "----", "=====",
    "Questions and Answers PDF", "Box 1:", "text", "body", "B, C", "5",
    "Question 5", "Question: 5", "Question:5", "Question 5 extra",
    "Correct Answer: A", ":", ".", "",
]


def _gen_doc(rng: random.Random) -> list[dict]:
    spans = []
    for i in range(rng.randrange(1, 30)):
        if rng.random() < 0.15:
            spans.append({"kind": "image", "text": "",
                          "media_ref": f"img/{i}.png", "offset": i,
                          "page": 1 + i // 7})
        else:
            nlines = rng.randrange(1, 3)
            lines = [
                " ".join(rng.choices(WORDS, k=rng.randrange(0, 4)))
                for _ in range(nlines)
            ]
            spans.append({"kind": "text", "text": "\n".join(lines),
                          "media_ref": "", "offset": i, "page": 1 + i // 7})
    return spans


@requires_reference
def test_native_engine_fuzz_corpus(spark):
    rng = random.Random(0xFA22)
    corpus = {f"fz-{i:03d}": _gen_doc(rng) for i in range(150)}
    docs = spark.createDataFrame(
        list(corpus.items()), schema=schema.DOCUMENT_SPANS_EXT
    )
    raw = pipeline.parse_raw(docs)
    rows = flat_spans(finalize.finalize_questions(raw)).collect()
    by_doc = {d: [] for d in corpus}
    for r in rows:
        by_doc[r.doc_id].append(r)
    bad = []
    for doc_id, spans in corpus.items():
        expected = flatten_doc(run_reference(spans))
        got = [
            (r.question_number, r.section, r.kind, r.text, r.media_ref,
             r.order)
            for r in sorted(by_doc[doc_id], key=lambda r: (r.seq, r.order))
        ]
        if got != expected:
            bad.append(doc_id)
    assert not bad, bad[:5]
