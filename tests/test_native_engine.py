"""The fully-native (zero-Python) FSM engine against the live
reference: golden fixtures + fault-injected corpus."""

import os

import pytest

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.operators import finalize
from pdf_parser_python_spark.operators.flatten import flat_spans
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.sources import spans as sources
from pdf_parser_python_spark.sources.spans import generate_doc_spans

from .conftest import fixture_dirs
from .oracle import flatten_doc, requires_reference, run_reference

pytestmark = requires_reference


def _native_flat(spark, docs):
    raw = pipeline.parse_raw(docs)
    return flat_spans(finalize.finalize_questions(raw)).collect()


@pytest.mark.parametrize(
    "fdir", fixture_dirs(), ids=[os.path.basename(d) for d in fixture_dirs()]
)
def test_native_fixture_equality(spark, fdir):
    _, blocks = sources.load_fixture_blocks(fdir)
    spans = [
        {
            "kind": b["type"],
            "text": b["content"] if b["type"] == "text" else "",
            "media_ref": b["content"] if b["type"] == "image" else "",
            "offset": b["order_index"],
            "page": b["page_number"],
        }
        for b in blocks
    ]
    docs = sources.load_fixture(spark, fdir)
    rows = sorted(_native_flat(spark, docs), key=lambda r: (r.seq, r.order))
    got = [
        (r.question_number, r.section, r.kind, r.text, r.media_ref, r.order)
        for r in rows
    ]
    assert got == flatten_doc(run_reference(spans))


def test_native_differential_corpus(spark):
    corpus = {
        f"nat-{i:04d}": generate_doc_spans(2000 + i, mean_questions=9)
        for i in range(40)
    }
    docs = spark.createDataFrame(
        list(corpus.items()), schema=schema.DOCUMENT_SPANS_EXT
    )
    rows = _native_flat(spark, docs)
    by_doc = {d: [] for d in corpus}
    for r in rows:
        by_doc[r.doc_id].append(r)
    for doc_id, spans in corpus.items():
        expected = flatten_doc(run_reference(spans))
        got = [
            (r.question_number, r.section, r.kind, r.text, r.media_ref,
             r.order)
            for r in sorted(by_doc[doc_id], key=lambda r: (r.seq, r.order))
        ]
        assert got == expected, doc_id
