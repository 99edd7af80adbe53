"""The segmentation engines must agree span-for-span."""

import pytest

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.operators import finalize
from pdf_parser_python_spark.operators.flatten import flat_spans
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.sources.spans import generate_doc_spans


def _flat(df):
    return sorted(
        (r.doc_id, r.seq, r.order, r.question_number, r.section, r.kind,
         r.text, r.media_ref)
        for r in df.collect()
    )


def test_engines_agree(spark):
    corpus = [
        (f"eng-{i:03d}", generate_doc_spans(5000 + i, mean_questions=9))
        for i in range(15)
    ]
    docs = spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT)
    # native: parse_raw → Column-API finalize → flatten, stage by stage
    native = _flat(flat_spans(finalize.finalize_questions(
        pipeline.parse_raw(docs))))
    # the fused pandas kernel and the vectorized arrow kernel (the
    # default extract_flat_spans path) must emit identical flat spans
    pand = _flat(pipeline.extract_flat_spans(docs, engine="packed-pandas"))
    vec = _flat(pipeline.extract_flat_spans(docs))
    assert native == pand == vec
    assert len(native) > 200

    # question scalars (vectorized) vs the full finalize pipeline
    scal = sorted(
        tuple(r)
        for r in pipeline.extract_question_scalars(docs).collect()
    )
    full = sorted(
        tuple(r)
        for r in pipeline.extract_questions(docs, engine="native").select(
            "doc_id", "seq", "question_number", "question_type",
            "question_text", "answer_text", "anomaly_score",
        ).collect()
    )
    assert scal == full

    # full-entity emitters: vectorized arrow vs fused pandas, every
    # nested field (options incl J5 marking, images, anomalies, pages)
    def entities(engine):
        rows = pipeline.extract_questions(docs, engine=engine).collect()
        return sorted(
            (
                r.doc_id, r.seq, r.question_number, r.question_type,
                r.question_text,
                tuple(r.question_images),
                tuple(
                    (o["key"], o["text"], o["is_correct"],
                     tuple(o["images"]))
                    for o in r.options
                ),
                r.answer_text, tuple(r.answer_images),
                r.explanation_text, tuple(r.explanation_images),
                r.page_start, r.page_end,
                tuple(
                    (a["type"], a["severity"], a["message"],
                     tuple(sorted((a["context"] or {}).items())))
                    for a in r.anomalies
                ),
                r.anomaly_score, r.has_question_text, r.has_answer,
                r.has_explanation, r.image_count,
            )
            for r in rows
        )

    assert entities("packed") == entities("packed-pandas")


@pytest.mark.parametrize("engine", ["grouped", "partition", "pandas"])
@pytest.mark.parametrize(
    "entry",
    ["extract_questions", "extract_flat_spans", "extract_validation"],
)
def test_unknown_engine_raises_at_plan_time(spark, entry, engine):
    """An engine name outside packed / packed-pandas / native is a
    plan-construction error, never a silent fall-through to some other
    plan."""
    docs = spark.createDataFrame([], schema=schema.DOCUMENT_SPANS_EXT)
    with pytest.raises(ValueError, match="unknown engine"):
        getattr(pipeline, entry)(docs, engine=engine)


def test_entry_points_take_explicit_options(spark):
    """``engine`` is the one keyword option of every engine; any other
    keyword, the giant-doc threshold included, is a TypeError rather
    than silently dropped."""
    docs = spark.createDataFrame([], schema=schema.DOCUMENT_SPANS_EXT)
    for entry in ("extract_questions", "extract_flat_spans",
                  "extract_validation"):
        for engine in ("packed", "packed-pandas", "native"):
            df = getattr(pipeline, entry)(docs, engine=engine)
            assert df.collect() == [], (entry, engine)
            with pytest.raises(TypeError):
                getattr(pipeline, entry)(
                    docs, engine=engine, giant_doc_spans=None)
    for entry in ("extract_doc_text", "extract_question_scalars"):
        with pytest.raises(TypeError):
            getattr(pipeline, entry)(docs, giant_doc_spans=None)
    with pytest.raises(TypeError):
        pipeline.extract_questions(docs, chunk_size=7)


def test_py_ws_chars_equals_python_whitespace_everywhere():
    """anchors.PY_WS_CHARS (the RE2 \\s rewrite + arrow trim set) must
    equal Python's re-\\s / str.strip() set char-for-char over ALL of
    Unicode — the invariant the vectorized kernel's dialect safety
    rests on."""
    import re

    from pdf_parser_python_spark.functions.anchors import PY_WS_CHARS

    ws = set(PY_WS_CHARS)
    for c in range(0x110000):
        ch = chr(c)
        assert (ch in ws) == bool(re.match(r"\s", ch)), hex(c)
        assert (ch in ws) == ch.isspace(), hex(c)


def test_exact_grammar_classes_equal_python_everywhere():
    """The vectorized kernel's Python-exact grammar form, run by RE2
    over every codepoint, matches what Python's ``re`` matches: \\d, the
    \\b rewrite (as \\W), case-insensitive letters (İ/ı fold into i
    only in Python) and the option key class. No Spark."""
    import re

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pdf_parser_python_spark.functions import anchors

    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    chars = [chr(c) for c in cps]
    arr = pa.array(chars)
    every = "".join(chars)
    py = anchors._py_classes()

    def re2(pattern, strings=arr):
        return {cps[i] for i in np.flatnonzero(
            pc.match_substring_regex(strings, pattern=pattern)
            .to_numpy(zero_copy_only=False))}

    def python(pattern):
        return {ord(m[0]) for m in re.finditer(pattern, every)}

    digits = re2(f"^[{py['d']}]$")
    assert digits == {ord(c) for c in chars if c.isdecimal()}
    assert digits == python(r"\d")
    # RE2's \p{Nd} (Unicode 15) counts 20 digits that Python's does not
    newer = {*range(0x11F50, 0x11F5A), *range(0x1E4F0, 0x1E4FA)}
    assert newer <= re2(r"^\p{Nd}$") and not newer & digits

    non_word = python(r"\W")
    assert non_word == {ord(c) for c in chars
                        if not (c.isalnum() or c == "_")}
    after_a = pa.array(["a" + c for c in chars])
    for ci in (False, True):
        assert re2("^" + anchors._re2(r"a\b", ci, py), after_a) == non_word
        assert re2("^" + anchors._re2(r"a\b", ci, py), pa.array(["a"]))

    for letter in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
        got = re2(f"^{anchors._re2(letter, True, py)}$")
        assert got == python(f"(?i:{letter})"), letter
    assert python("(?i:i)") == {ord(c) for c in "iIİı"}

    key = python("(?i:[A-Za-z])")
    assert re2(f"^[{py['key']}]$") == key
    keys = pa.array([chr(c) for c in sorted(key)])
    assert pc.utf8_upper(keys).to_pylist() == [
        k.upper() for k in keys.to_pylist()]

    exact = anchors.re2_exact()
    for name, pattern in exact._asdict().items():
        assert "\\b" not in pattern and "\\d" not in pattern, name


def test_java_ws_classes_equal_python_whitespace_everywhere(spark):
    """The JVM twin of the test above: in one Spark job over every
    non-surrogate codepoint, the Java ``(?U)`` rendering of ``\\s``
    (every ``J_*`` form's), its ``\\S`` complement, J_PY_STRIP_CLASS
    and the J_PY_STRIP strip each match exactly anchors.PY_WS_CHARS,
    and the Java rendering of ``\\d`` matches exactly Python's ``\\d``."""
    import re

    from pyspark.sql import functions as F

    from pdf_parser_python_spark.functions import anchors as A

    # each codepoint as a string: UTF-16BE, a surrogate pair above the BMP
    chars = spark.range(0x110000).where("id < 55296 OR id > 57343")
    c = F.expr(
        "decode(unhex(CASE WHEN id < 65536 THEN lpad(hex(id), 4, '0') ELSE"
        " concat(hex(55232 + shiftright(id, 10)), hex(56320 + (id & 1023)))"
        " END), 'UTF-16BE')")

    def ids(cond):
        return F.sort_array(F.collect_list(F.when(cond, F.col("id"))))

    ws_j = c.rlike(A._java("U", r"^\s$"))
    got = chars.agg(
        F.count("*").alias("n"),
        F.sum((F.length(c) != 1).cast("int")).alias("bad_len"),
        F.sum((ws_j == c.rlike(A._java("U", r"^\S$"))).cast("int")).alias(
            "s_is_S"),
        ids(ws_j).alias("ws_j"),
        ids(c.rlike(f"^{A.J_PY_STRIP_CLASS}$")).alias("strip_class"),
        ids(F.regexp_replace(c, A.J_PY_STRIP, "") == "").alias("strip"),
        ids(c.rlike(A._java("U", r"^\d$"))).alias("digit_j"),
    ).first()
    want = sorted(ord(ch) for ch in A.PY_WS_CHARS)
    assert (got.n, got.bad_len, got.s_is_S) == (1_112_064, 0, 0)
    assert got.ws_j == got.strip_class == got.strip == want
    assert A._java("U", r"\s") == "(?U)" + A.J_WS_CLASS
    assert got.digit_j == [ord(ch) for ch in re.findall(r"\d", A._codepoints())]
    assert A._java("U", r"\d") == "(?U)" + A.J_DIGIT_CLASS


#: one document per character Python's ``\s`` has and Java's (?U) ``\s``
#: (U+001C-U+001F) or ``F.trim`` (TAB, NBSP, U+3000) lacks: the character
#: inside and after every anchor, and inside a noise line
_WS_CASES = ["\x1c", "\x1d", "\x1e", "\x1f", "\t", "\xa0", "\u3000"]


def test_engines_agree_on_python_whitespace_and_digits(spark):
    """All three engines read whitespace and question-number digits as
    Python does: flat spans and QUESTION_FINAL rows are equal across
    ``packed``, ``packed-pandas`` and ``native``, and carry the values
    written out below."""
    docs = [
        (f"ws{i}", [f"Question{c}:{c}{i + 1}{c}What is it?",
                    f"Page{c}3{c}of{c}9",
                    f"A{c}.{c}first",
                    f"B{c}){c}second",
                    f"Correct{c}Answer{c}:{c}B",
                    f"Explanation{c}:{c}because"])
        for i, c in enumerate(_WS_CASES)
    ] + [
        ("fullwidth", ["Question: ８ Fullwidth?", "A. x", "Answer: A"]),
        ("arabic", ["Question: ٥ Arabic-Indic?", "A. x", "Answer: A"]),
        ("padded", ["Question: " + "٠" * 19 + "٤٢ Padded?", "A. x",
                    "Answer: A"]),
        ("tangsa", ["Question: \U00016AC3 Tangsa three?", "A. x",
                    "Answer: A"]),
    ]
    frame = spark.createDataFrame(
        [(d, [{"kind": "text", "text": t, "media_ref": "", "offset": j,
               "page": 1} for j, t in enumerate(lines)])
         for d, lines in docs],
        schema=schema.DOCUMENT_SPANS_EXT,
    )
    engines = ("packed", "packed-pandas", "native")
    flat = {e: _flat(pipeline.extract_flat_spans(frame, engine=e))
            for e in engines}
    assert flat["packed"] == flat["packed-pandas"] == flat["native"]
    final = {e: _json_rows(pipeline.extract_questions(frame, engine=e))
             for e in engines}
    assert final["packed"] == final["packed-pandas"] == final["native"]

    got = sorted(
        (r.doc_id, r.question_number, r.question_text,
         [(o.key, o.text, o.is_correct) for o in r.options],
         r.answer_text, r.explanation_text)
        for r in pipeline.extract_questions(frame, engine="native").collect()
    )
    assert got == sorted([
        (f"ws{i}", i + 1, "What is it?",
         [("A", "first", False), ("B", "second", True)], "B", "because")
        for i in range(len(_WS_CASES))
    ] + [
        ("arabic", 5, "Arabic-Indic?", [("A", "x", True)], "A", ""),
        ("fullwidth", 8, "Fullwidth?", [("A", "x", True)], "A", ""),
        ("padded", 42, "Padded?", [("A", "x", True)], "A", ""),
        ("tangsa", 3, "Tangsa three?", [("A", "x", True)], "A", ""),
    ])


def test_engines_sort_spans_over_the_whole_offset_range(spark):
    """Spans sort by offset at both ends of the int range: a comparator
    that subtracts offsets overflows under ANSI (ARITHMETIC_OVERFLOW).
    All three engines give the hand-written rows, and the envelope
    hashes the spans in offset order."""
    import hashlib

    from pdf_parser_python_spark.operators import envelope

    spans = [("Question: 1\nFirst?\nAnswer: A", 2_147_483_647),
             ("Question: 2\nSecond?\nAnswer: B", -5)]
    frame = spark.createDataFrame(
        [("edge", [{"kind": "text", "text": t, "media_ref": "", "offset": o,
                    "page": 1} for t, o in spans])],
        schema=schema.DOCUMENT_SPANS_EXT,
    )
    for engine in ("packed", "packed-pandas", "native"):
        got = [(r.seq, r.question_number, r.question_text)
               for r in pipeline.extract_questions(frame, engine=engine)
               .orderBy("seq").collect()]
        assert got == [(0, 2, "Second?"), (1, 1, "First?")], engine
    canon = "\x1e".join(f"text\x1f{t}\x1f" for t, _ in reversed(spans))
    sha, size = envelope.canonical_source(frame)
    assert frame.select(sha, size).first() == (
        hashlib.sha256(canon.encode()).hexdigest(), len(canon.encode()))


def test_nonascii_stays_on_vectorized_path(spark, monkeypatch):
    """Every document parses in the vectorized kernel, whatever its
    characters: with dkernel's FSM patched to raise, all six entry
    points return the rows its unpatched twin derives, for NBSP/Zs
    whitespace, accents, Nd digits, İ/ı/ſ/K and \\b noise words."""
    from pdf_parser_python_spark.operators import dkernel, vkernel

    from .test_fuzz import UNI_WORDS, kernel_rows, packed_docs, twin_rows

    texts = ["\xa0Question:\xa05\xa0\ncafé body", "body with Zs\u3000spaces",
             "Question: ٣", "questİon: 5", "Thank you for yourété",
             *UNI_WORDS]
    docs = [
        (f"u{i}", [{"kind": "text", "text": line, "media_ref": "",
                    "offset": j, "page": 1 + j}
                   for j, line in enumerate([
                       t, "Question: 1 intro", t, "A. first", t,
                       "Answer: A", "Explanation: " + t])])
        for i, t in enumerate(texts)
    ]
    ascii_docs = [(f"a{i}", sp) for i, (_, sp) in enumerate(docs[:3])]
    for _, sp in ascii_docs:
        for s in sp:
            s["text"] = s["text"].encode("ascii", "replace").decode()
    batches = [packed_docs(ascii_docs + docs), packed_docs(ascii_docs)]
    want = twin_rows(batches)
    assert all(want.values())

    def boom(*args, **kw):
        raise AssertionError("the Python FSM ran")

    monkeypatch.setattr(dkernel, "_parse_doc", boom)
    monkeypatch.setattr(dkernel, "_process_rows", boom)
    for name, rows in want.items():
        assert kernel_rows(getattr(vkernel, name), batches) == rows, name

    # NBSP-wrapped anchor parses identically through the arrow path
    docs = spark.createDataFrame(
        [("nb", [
            {"kind": "text", "text": "\xa0Question:\xa07\xa0\nbody é",
             "media_ref": None, "offset": 0, "page": 1},
            {"kind": "text", "text": "Answer:\xa0B", "media_ref": None,
             "offset": 1, "page": 1},
        ])],
        schema=schema.DOCUMENT_SPANS_EXT,
    )
    rows = sorted(
        (r.question_number, r.section, r.text)
        for r in pipeline.extract_flat_spans(docs).collect()
    )
    assert rows == [(7, "answer", "B"), (7, "question", "body é")], rows


def test_zero_padded_and_overflow_qnum_clamp(spark):
    """ADVICE r2 (medium): clamp question numbers on the numeric VALUE
    everywhere — '0…05' is 5 (the reference's plain int(),
    state_machine.py:217), not a >18-char digit string; only values
    beyond int64 clamp to QNUM_CAP, identically in every engine."""
    from pdf_parser_python_spark.functions import anchors as A

    spans = []
    for off, line in enumerate([
        "Question: 0005",
        "padded body",
        "Question: 0000000000000000000000042",  # 25 digits, value 42
        "value fits int64",
        "Question: 99999999999999999999",  # 20 digits > int64 → CAP
        "overflow body",
    ]):
        spans.append({"kind": "text", "text": line, "media_ref": "",
                      "offset": off, "page": 1})
    docs = spark.createDataFrame(
        [("zp", spans)], schema=schema.DOCUMENT_SPANS_EXT
    )
    per_engine = {}
    for engine in ("packed", "packed-pandas", "native"):
        rows = pipeline.extract_questions(docs, engine=engine).collect()
        per_engine[engine] = sorted(
            (r.seq, r.question_number) for r in rows
        )
    vals = list(per_engine.values())
    assert all(v == vals[0] for v in vals), per_engine
    assert [n for _, n in vals[0]] == [5, 42, A.QNUM_CAP]

    # the int64-representable ones must match the live reference exactly
    from .oracle import HAVE_REFERENCE, run_reference

    if HAVE_REFERENCE:
        ref = run_reference(spans[:4])
        assert [q["question_number"] for q in ref] == [5, 42]


def test_packed_handles_mixed_null_pages(spark):
    """A null page ELEMENT inside an otherwise non-null page array
    arrives in the Arrow batch as NaN (float), not None — the packed
    kernel must coerce it to page 1, not crash on int(NaN)."""
    spans = [
        {"kind": "text", "text": None, "media_ref": None, "offset": 0,
         "page": None},
        {"kind": "text", "text": "Question: 3 q", "media_ref": None,
         "offset": 1, "page": 2},
    ]
    d = spark.createDataFrame([("z", spans)],
                              schema=schema.DOCUMENT_SPANS_EXT)
    rows = pipeline.extract_questions(d).collect()
    assert [r.question_number for r in rows] == [3]


def _json_rows(df):
    from pyspark.sql import functions as F

    return sorted(r[0] for r in df.select(
        F.to_json(F.struct(*df.columns))).collect())


def test_engines_read_unicode_option_bullets(spark):
    """Python's IGNORECASE ``[A-Za-z]`` reads ſ, K (Kelvin sign), İ and
    ı as option bullets, keyed by ``.upper()``: S, K, İ, I. All three
    engines must, the Catalyst one through Java's ``(?iU)``."""
    lines = ["Question: 1 Pick one", "A. first", "ſ. long s",
             "\u212a) kelvin", "İ: dotted", "(ı) dotless", "Answer: ſ"]
    docs = spark.createDataFrame(
        [("bul", [{"kind": "text", "text": t, "media_ref": "",
                   "offset": i, "page": 1} for i, t in enumerate(lines)])],
        schema=schema.DOCUMENT_SPANS_EXT,
    )
    got = {e: _json_rows(pipeline.extract_questions(docs, engine=e))
           for e in ("packed", "packed-pandas", "native")}
    assert got["packed"] == got["packed-pandas"] == got["native"]
    (q,) = pipeline.extract_questions(docs).collect()
    assert [(o.key, o.text, o.is_correct) for o in q.options] == [
        ("A", "first", False), ("S", "long s", True),
        ("\u212a", "kelvin", False), ("İ", "dotted", False),
        ("I", "dotless", False)]


def test_engines_treat_null_spans_as_empty_document(spark):
    """A parquet read does not enforce DOCUMENT_SPANS's non-null
    ``spans``. A null span list is an empty document in every engine,
    and the other documents of its Arrow batch keep their pages."""
    from pyspark.sql import types as T

    nullable = T.StructType([
        T.StructField(f.name, f.dataType, f.name == "spans" or f.nullable)
        for f in schema.DOCUMENT_SPANS_EXT.fields
    ])

    def doc(qnum, pages):
        return [
            {"kind": "text", "text": f"Question: {qnum} body",
             "media_ref": "", "offset": 0, "page": pages[0]},
            {"kind": "image", "text": "", "media_ref": f"img/{qnum}",
             "offset": 1, "page": pages[1]},
            {"kind": "text", "text": "Answer: A", "media_ref": "",
             "offset": 2, "page": pages[1]},
        ]

    docs = spark.createDataFrame(
        [("p1", doc(1, [3, 4])), ("nul", None), ("p2", doc(2, [5, 5]))],
        schema=nullable,
    ).coalesce(1)
    for entry in ("extract_questions", "extract_flat_spans",
                  "extract_validation"):
        got = {e: _json_rows(getattr(pipeline, entry)(docs, engine=e))
               for e in ("packed", "packed-pandas", "native")}
        assert got["packed"] == got["packed-pandas"] == got["native"], entry
    raw = {r.doc_id: r for r in pipeline.parse_raw(docs).collect()}
    assert sorted(raw) == ["p1", "p2"]
    pages = sorted((r.doc_id, r.page_start, r.page_end)
                   for r in pipeline.extract_questions(docs).collect())
    assert pages == [("p1", 3, 4), ("p2", 5, 5)]


def test_packed_handles_unsorted_spans(spark):
    spans = generate_doc_spans(7777, mean_questions=5)
    shuffled = list(reversed(spans))  # offsets encode the true order
    docs = spark.createDataFrame(
        [("shuf", shuffled), ("ord", spans)], schema=schema.DOCUMENT_SPANS_EXT
    )
    rows = pipeline.extract_flat_spans(docs).collect()
    a = sorted((r.seq, r.order, r.section, r.kind, r.text, r.media_ref)
               for r in rows if r.doc_id == "shuf")
    b = sorted((r.seq, r.order, r.section, r.kind, r.text, r.media_ref)
               for r in rows if r.doc_id == "ord")
    assert a == b and len(a) > 10


def test_doc_text_equals_groupby_reassembly(spark, monkeypatch):
    """r7: the in-kernel exam reassembly (pipeline.extract_doc_text)
    must be row-equal to the groupBy(collect_list) formulation it
    replaces — including a doc with non-ASCII digits (the kernel's
    Python-exact grammar form) and docs whose flat output has zero text
    spans."""
    from pyspark.sql import functions as F

    corpus = [
        (f"dtx-{i:03d}", generate_doc_spans(7000 + i, mean_questions=7))
        for i in range(12)
    ]
    # Arabic-Indic digits: its slice runs the Python-exact grammar form
    corpus.append(
        (
            "dtx-uni",
            [
                ("text", "Question 1. ما هو ٣ زائد ٤؟", "", 0, 1),
                ("text", "A. سبعة", "", 1, 1),
                ("text", "B. ثمانية", "", 2, 1),
                ("text", "Answer: A", "", 3, 1),
            ],
        )
    )
    docs = spark.createDataFrame(corpus, schema=schema.DOCUMENT_SPANS_EXT)
    kernel = sorted(
        tuple(r) for r in pipeline.extract_doc_text(docs).collect()
    )
    flat = pipeline.extract_flat_spans(docs).where(F.col("kind") == "text")
    grouped = sorted(
        tuple(r)
        for r in flat.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seq", "order", "text"))
                    ),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("text"),
            F.count("*").cast("bigint").alias("n_text_spans"),
        )
        .collect()
    )
    assert kernel == grouped
    assert any(r[0] == "dtx-uni" for r in kernel)
    assert len(kernel) == len(corpus)

    # forced-giant dispatch: the union branch must agree too
    monkeypatch.setattr(pipeline, "GIANT_DOC_SPANS", 10)
    giant = sorted(tuple(r) for r in pipeline.extract_doc_text(docs).collect())
    assert giant == grouped
