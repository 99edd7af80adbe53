"""Intra-document parallelism for giant documents: the packed engines'
giant-doc dispatch splits a document at anchor-aligned chunks
(operators/chunked.py) and parses them with the same vectorized kernel,
so one giant document parses across many tasks with row-identical
output."""

from pyspark.sql import functions as F

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.sources.spans import generate_doc_spans

from .oracle import requires_reference


def _giant_lines(spark, n_questions: int, parts: int = 16):
    """One document, n_questions × 5 clean line rows, built natively."""
    per_q = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.lit(s).alias("tpl"),
            )
            for k, s in enumerate(
                ["Question: {n}", "body {n}", "A. alpha {n}", "B. beta {n}",
                 "Answer: A"]
            )
        ]
    )
    base = spark.range(0, n_questions, numPartitions=parts)
    rows = base.select(
        (F.col("id") + 1).alias("n"), F.explode(per_q).alias("p")
    )
    txt = F.replace(
        F.col("p.tpl"), F.lit("{n}"), F.col("n").cast("string")
    )
    return rows.select(
        F.lit("giant").alias("doc_id"),
        F.lit("text").alias("kind"),
        txt.alias("text"),
        F.lit("").alias("media_ref"),
        ((F.col("n") - 1) * 5 + F.col("p.k")).cast("int").alias("offset"),
        F.lit(0).alias("line_no"),
        F.lit(1).alias("page"),
    )


def test_auto_giant_dispatch_span_equal_on_mixed_corpus(spark, monkeypatch):
    """DEFAULT extract_flat_spans / extract_questions on a corpus mixing
    normal docs with one doc above the giant threshold must route the
    outlier to the chunked engine (no single-task straggler) and emit
    spans identical to the dispatch-disabled packed path."""
    normal = [
        (f"mix-{i}", generate_doc_spans(9400 + i, mean_questions=6))
        for i in range(6)
    ]
    docs = spark.createDataFrame(normal, schema=schema.DOCUMENT_SPANS_EXT)
    # giant doc: build packed row from the line generator (threshold
    # overridden to 300 spans so the probe stays test-sized)
    giant = (
        _giant_lines(spark, 200, parts=4)
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("kind", "text", "media_ref", "offset", "page")
                )
            ).alias("spans")
        )
    )
    mixed = docs.unionByName(giant)

    def canon(df):
        return sorted(
            (r.doc_id, r.seq, r.order, r.question_number, r.section,
             r.kind, r.text, r.media_ref)
            for r in df.collect()
        )

    def questions(df):
        return sorted(map(tuple, df.select(
            "doc_id", "seq", "question_number", "question_text",
            "answer_text", "anomaly_score").collect()))

    # whole-document parse first: every doc is below the real threshold
    ref = canon(pipeline.extract_flat_spans(mixed))
    qref = questions(pipeline.extract_questions(mixed))

    monkeypatch.setattr(pipeline, "GIANT_DOC_SPANS", 300)
    flat = pipeline.extract_flat_spans(mixed)
    got = canon(flat)
    assert got == ref and len(got) > 800
    assert questions(pipeline.extract_questions(mixed)) == qref

    # the probe detects the outlier, and its branch really is the chunked
    # engine: its rows key on (doc_id, _chunk) in the physical plan
    p = flat._jdf.queryExecution().executedPlan().toString()
    assert "_chunk" in p and "Union" in p


def test_chunked_vkernel_equals_whole_doc(spark):
    """operators/chunked.py: anchor-aligned chunked parse must be ROW-
    EQUAL to the whole-document vectorized parse on the fault-injected
    generator corpus (covers cover-noise heads, solo artifacts,
    hotspots, images, preamble skip)."""
    from pdf_parser_python_spark import schema as S
    from pdf_parser_python_spark.operators import chunked
    from pdf_parser_python_spark.plans import pipeline
    from pdf_parser_python_spark.sources.spans import generate_doc_spans

    corpus = [
        (f"g-{i:03d}", generate_doc_spans(7000 + i, mean_questions=20))
        for i in range(40)
    ]
    df = spark.createDataFrame(corpus, schema=S.DOCUMENT_SPANS_EXT)
    whole = pipeline.extract_questions(df)
    chunk = chunked.parse_giant_final(df, chunk_spans=7)  # many chunks

    key = lambda r: (r["doc_id"], r["seq"])
    a = {key(r): r.asDict(recursive=True) for r in whole.collect()}
    b = {key(r): r.asDict(recursive=True) for r in chunk.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == b[k], (k, a[k], b[k])


def test_chunked_dispatch_end_to_end(spark, monkeypatch):
    """extract_* auto-dispatch with the chunked-vkernel giant branch:
    a synthetic giant doc + normal corpus must equal the undispatched
    parse."""
    from pdf_parser_python_spark import schema as S
    from pdf_parser_python_spark.plans import pipeline
    from pdf_parser_python_spark.sources.spans import generate_doc_spans

    corpus = [
        (f"n-{i:02d}", generate_doc_spans(100 + i, mean_questions=6))
        for i in range(10)
    ]
    giant_spans = []
    off = 0
    for q in range(400):
        for line in (f"Question: {q + 1}", "body line", "A. one",
                     "B. two", "Answer: B"):
            giant_spans.append(
                {"kind": "text", "text": line, "media_ref": "",
                 "offset": off, "page": 1 + off // 50}
            )
            off += 1
    corpus.append(("zz-giant", giant_spans))
    df = spark.createDataFrame(corpus, schema=S.DOCUMENT_SPANS_EXT)

    plain = sorted(map(tuple, pipeline.extract_flat_spans(df).collect()))
    monkeypatch.setattr(pipeline, "GIANT_DOC_SPANS", 500)  # zz-giant only
    auto = sorted(map(tuple, pipeline.extract_flat_spans(df).collect()))
    assert auto == plain


@requires_reference
def test_chunked_vs_reference_random_compositions(spark):
    """Batched differential for the chunked engine: random adversarial
    line compositions (the fuzz WORDS pool: anchor lookalikes, solo
    artifacts, cover noise, unicode dialect torture) parsed with
    chunk_spans=3 — splits at nearly every safe anchor — must match the
    LIVE reference FSM question-for-question."""
    import random

    from pdf_parser_python_spark import schema as S
    from pdf_parser_python_spark.operators import chunked

    from .oracle import run_reference
    from .test_fuzz import WORDS

    pool = WORDS.elements  # the sampled_from value list
    rng = random.Random(0xC41C)
    docs, expected = [], {}
    for d in range(120):
        spans = []
        page = 1
        for off in range(rng.randint(4, 36)):
            if rng.random() < 0.12:
                spans.append({"kind": "image", "text": "",
                              "media_ref": f"img/{d}/{off}",
                              "offset": off, "page": page})
            else:
                lines = [
                    " ".join(rng.choice(pool)
                             for _ in range(rng.randint(1, 3)))
                    for _ in range(rng.randint(1, 3))
                ]
                spans.append({"kind": "text", "text": "\n".join(lines),
                              "media_ref": "", "offset": off,
                              "page": page})
            if rng.random() < 0.15:
                page += 1
        doc_id = f"rc-{d:03d}"
        docs.append((doc_id, spans))
        expected[doc_id] = run_reference(spans)

    df = spark.createDataFrame(docs, schema=S.DOCUMENT_SPANS_EXT)
    got: dict[str, list] = {d: [] for d, _ in docs}
    for r in chunked.parse_giant_final(df, chunk_spans=3).collect():
        got[r.doc_id].append(r)
    for doc_id, exp in expected.items():
        rows = sorted(got[doc_id], key=lambda r: r.seq)
        assert len(rows) == len(exp), doc_id
        for r, e in zip(rows, exp):
            assert r.question_number == e["question_number"], doc_id
            assert r.question_text == e["question_text"], doc_id
            assert r.answer_text == e["answer_text"], doc_id
            assert r.explanation_text == e["explanation_text"], doc_id
            assert [o.asDict() for o in r.options] == [
                {k: o[k] for k in ("key", "text", "is_correct", "images")}
                for o in e["options"]
            ], doc_id
            assert r.page_start == e["page_start"], doc_id
            assert r.page_end == e["page_end"], doc_id
            assert r.anomaly_score == e["anomaly_score"], doc_id


def _py_safe_split(kind, text):
    """Pure-Python safe-split definition: the first non-empty
    ``str.strip()`` line of ``text.split("\\n")`` is a question anchor
    and neither a solo artifact nor cover or boilerplate noise, under
    the shared ``re`` grammar."""
    from pdf_parser_python_spark.functions import anchors as A

    if kind != "text":
        return False
    first = next(
        (s for ln in (text or "").split("\n") if (s := ln.strip())), None
    )
    return bool(
        first is not None
        and A.RE_QUESTION.match(first)
        and not A.RE_SOLO_QUESTION.match(first)
        and not A.RE_COVER_NOISE.match(first)
        and not A.is_noise_line(first)
    )


def test_safe_split_flag_matches_python_definition(spark):
    """``chunked._safe_split_flag()`` equals the pure-Python definition
    on first-line edge cases: blank and whitespace-only leading lines,
    \\r\\n, every one of the 29 Python whitespace chars around and
    inside an anchor line, \\u2028 inside a line, solo "Question 7",
    cover-noise and noise-word first lines. No reference checkout."""
    from pdf_parser_python_spark.functions import anchors as A
    from pdf_parser_python_spark.operators import chunked

    texts = [
        "Question: 1 Which?", "\n\nQuestion: 2 x", "   \n\t \nQuestion: 3",
        "Question: 4 a\r\nb", "\r\nQuestion: 5\r\n", " \r\n \r\nQuestion 6",
        "Question: 7 tail", "Question 7 tail", " Question: 8",
        "Question 7", "  Question 7  \nQuestion: 9", "question:10 lower",
        "AZ-900\nQuestion: 1", "12\nQuestion: 1", "Question12",
        "Topic 1, Case A\nQuestion: 3", "Page 3 of 10\nQuestion: 2",
        "dumpsgate.com\nQuestion: 5", "=====\nQuestion: 5",
        "https://x.example/q\nQuestion: 5", "Answer: A\nQuestion: 6",
        "Questions and Answers PDF\nQuestion: 1", "", "\n", " \n\t\n",
        None, "(A) opt\nQuestion: 2", "Question: 3\u2028more",
        "Question 7\u2028x", "\u2028Question: 4\u2028", "AZ\u2028900",
    ]
    for c in A.PY_WS_CHARS:
        texts += [
            f"{c}\n{c}{c}Question:{c}5{c}\nnext",
            f"{c}{c}\n{c}",
            f"Question{c}6",
            f"Question:{c}{c}7 body{c}",
            f"Topic{c}1{c}x\nQuestion: 8",
        ]
    rows = [("text", t) for t in texts] + [("image", "Question: 1")]
    df = spark.createDataFrame(rows, "kind string, text string")
    got = [r[0] for r in df.select(chunked._safe_split_flag()).collect()]
    want = [_py_safe_split(k, t) for k, t in rows]
    assert got == want
    assert 10 < sum(want) < len(want)
