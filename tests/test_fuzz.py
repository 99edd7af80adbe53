"""Property-based differential fuzzing: arbitrary interleavings of
anchor-ish, noisy, and junk lines must parse identically to the live
reference FSM. This is the strongest guard on classification order
and state-validity rules (hypothesis shrinks any divergence to a
minimal line sequence)."""

from hypothesis import example, given, settings, strategies as st

from .oracle import flatten_doc, requires_reference, run_reference

# building blocks chosen to collide with every anchor/noise pattern
WORDS = st.sampled_from([
    "Question", "question:", "Answer", "Ans", "Answers", "Key", "Keynote",
    "Explanation", "Reference:", "Solution", "Rationale", "HOTSPOT",
    "hotspot", "A.", "B)", "(C)", "D:", "E -", "a.", "Z.", "AA.", "1.",
    "Topic 1,", "12/463", "https://x.invalid/y", "----", "=====",
    "Questions and Answers PDF", "Box 1:", "text", "body", "B, C", "5",
    "Question 5", "Question: 5", "Question:5", "Question 5 extra",
    "Correct Answer: A", ":", ".", "", " ", "\tQuestion: 7\r",
    # zero-padded anchors: the value (not digit-string length) decides
    # the int64 clamp — '0...042' must parse as 42 in every engine
    "Question: 0005", "Question: 0000000000000000000000042",
    "Question 007:", "Question: 000",
    # unicode dialect torture: NBSP/Zs whitespace rides the vectorized
    # arrow path (PY_WS_CHARS rewrite); non-ASCII digits, İ/ı folds and
    # \b-adjacent non-ASCII words must route their doc to the python
    # kernel — all verified against the live reference either way
    "\xa0Question:\xa05\xa0", "Answer: B", "café body",
    "Question: ٣", "questİon: 5", "optıon text",
    "Thank you for yourété", "  ", " ",
    "Topic\xa07, after", "body\x85tail",
])

LINE = st.builds(
    lambda ws: " ".join(ws) if len(ws) > 1 else (ws[0] if ws else ""),
    st.lists(WORDS, min_size=0, max_size=4),
)



def _span_of(line):
    return st.one_of(
        st.builds(lambda t: ("text", t), line),
        st.builds(
            lambda t1, t2: ("text", t1 + "\n" + t2), line, line
        ),
        st.builds(lambda i: ("image", f"img/{i}.png"), st.integers(0, 5)),
    )


SPAN = _span_of(LINE)

#: where RE2 and Python ``re`` part ways unless the vectorized kernel's
#: Python-exact grammar form closes the gap: Nd digits (Arabic-Indic,
#: Devanagari, fullwidth, mixed, zero-padded past 18 digits), Kawi
#: digits (Nd in RE2's newer Unicode tables, not in Python's), İ/ı/ſ/K
#: (Kelvin sign) in every keyword and option bullet, and \b noise words
#: followed by letters, NBSP, dashes, "_" or a combining mark
UNI_WORDS = [
    "Question: ٣", "Question: ४२", "Question: ５", "Question: 1٢3",
    "Question: \U00011f53", "Question 7\U00011f50:",
    "Question: " + "٠" * 20 + "٤٢", "Question: " + "٩" * 25,
    "questİon: 5", "QUESTıON 8:", "Queſtion: 6", "Question ٥", "٣",
    "Anſwer: A", "\u212aey: ſ", "Answer: İ, A", "Answer: ı",
    "Explanatıon:", "Reference İ", "Ratıonale:", "Solutİon", "HOTſPOT",
    "ſ.", "\u212a)", "İ.", "(ı)", "ı:", "ſ -", "İstanbul", "optıon",
    "Thank you for yourété", "Thank you for your\xa0visit",
    "Thank you for choosing_x", "Get certified–now", "Download freeé",
    "Visit us at\u0345", "For more questionsı", "Vİsit us at x",
    "Topic ٣, x", "Page ٣ of ٥", "Box ٢: x", "Product Questions: ٣",
    "examtopİcs.com x", "Thank you for your vİsit", "\xa0",
]
ASCII_WORDS = [w for w in WORDS.elements if w.isascii()]

#: one document: all-ASCII, or drawn from every word above
DOC = st.one_of(*(
    st.lists(_span_of(st.builds(
        " ".join, st.lists(st.sampled_from(words), max_size=4))),
        max_size=12)
    for words in (ASCII_WORDS, list(WORDS.elements) + UNI_WORDS)
))


def _spans(items):
    out = []
    for i, (kind, payload) in enumerate(items):
        out.append({
            "kind": kind,
            "text": payload if kind == "text" else "",
            "media_ref": payload if kind == "image" else "",
            "offset": i,
            "page": 1 + i // 7,
        })
    return out


def _arrays(spans):
    kinds = [s["kind"] for s in spans]
    texts = [s["text"] for s in spans]
    refs = [s["media_ref"] for s in spans]
    pages = [int(s.get("page") or 1) for s in spans]
    return kinds, texts, refs, pages


@requires_reference
@given(st.lists(SPAN, min_size=1, max_size=25))
@settings(max_examples=200, deadline=None)
def test_fuzz_fused_flat_kernel_matches_reference(items):
    """The fused packed→flat kernel (dkernel._parse_doc +
    _flatten_rows: F8/F9 + §1.4 flatten in Python) against the live
    reference FSM's finalized questions."""
    from pdf_parser_python_spark.operators import dkernel

    spans = _spans(items)
    expected = flatten_doc(run_reference(spans))
    raw = dkernel._parse_doc("f", *_arrays(spans))
    got = [(r[2], r[3], r[4], r[5], r[6], r[7])
           for r in dkernel._flatten_rows(raw)]
    assert got == expected


def packed_docs(docs):
    """``[(doc_id, spans), ...]`` → one packed-projection Arrow batch."""
    import pyarrow as pa

    docs = [(d, sorted(sp, key=lambda s: s["offset"])) for d, sp in docs]

    def col(f, t):
        return pa.array([[f(s) for s in sp] for _, sp in docs],
                        pa.list_(t))

    return pa.RecordBatch.from_arrays(
        [
            pa.array([d for d, _ in docs], pa.string()),
            col(lambda s: s["kind"], pa.string()),
            col(lambda s: s["text"], pa.string()),
            col(lambda s: s["media_ref"], pa.string()),
            col(lambda s: s.get("page") or 1, pa.int32()),
        ],
        names=["doc_id", "kinds", "texts", "refs", "pages"],
    )


def _vkernel_batch(spans):
    return packed_docs([("f", spans)])


def kernel_rows(kernel, batches):
    """A vkernel entry point's rows over ``batches`` as dicts, each map
    value (an anomaly's context, a breakdown) as a dict."""
    import pyarrow as pa

    rows = pa.Table.from_batches(list(kernel(iter(batches)))).to_pylist()
    for r in rows:
        if r.get("anomaly_breakdown") is not None:
            r["anomaly_breakdown"] = dict(r["anomaly_breakdown"])
        for a in r.get("anomalies") or []:
            if a["context"] is not None:
                a["context"] = dict(a["context"])
    return rows


def twin_rows(batches):
    """Every vkernel entry point's expected rows over ``batches``
    (by entry-point name), derived from dkernel's row-exact Python FSM:
    _flatten_rows, _finalize_row and _validate_doc per document, with
    doc texts, question scalars and commit batches built from those."""
    from pdf_parser_python_spark.operators import dkernel
    from pdf_parser_python_spark.operators import vkernel as V

    out = {k: [] for k in (
        "parse_docs_flat_arrow", "parse_docs_final_arrow",
        "question_scalars_arrow", "doc_text_arrow", "validate_docs_arrow",
        "parse_docs_commit_arrow")}
    for b in batches:
        finals, flats = [], []
        for d in b.to_pylist():
            raws = dkernel._parse_doc(d["doc_id"], d["kinds"], d["texts"],
                                      d["refs"], d["pages"])
            flat = [dict(zip(V.FLAT_ARROW_SCHEMA.names, r))
                    for r in dkernel._flatten_rows(raws)]
            fins = [dkernel._finalize_row(raw) for raw in raws]
            finals += [dict(zip(V.QUESTION_FINAL_ARROW_SCHEMA.names, f))
                       for f in fins]
            flats += flat
            rep = dkernel._validate_doc(fins)
            if rep is not None:
                out["validate_docs_arrow"].append(
                    dict(zip(V.VALIDATION_ARROW_SCHEMA.names, rep)))
            texts = sorted((r["seq"], r["order"], r["text"])
                           for r in flat if r["kind"] == "text")
            if texts:
                out["doc_text_arrow"].append({
                    "doc_id": d["doc_id"],
                    "text": " ".join(t for _, _, t in texts),
                    "n_text_spans": len(texts)})
        out["parse_docs_final_arrow"] += finals
        out["parse_docs_flat_arrow"] += flats
        out["question_scalars_arrow"] += [
            {k: f[k] for k in V.QUESTION_SCALARS_ARROW_SCHEMA.names}
            for f in finals]
        out["parse_docs_commit_arrow"] += [
            {**dict.fromkeys(V.COMMIT_ARROW_SCHEMA.names), **r, "output": o}
            for rows, o in ((finals, V.COMMIT_QUESTIONS),
                            (flats, V.COMMIT_FLAT_SPANS))
            for r in rows]
    return out


def _arrow_rows(kernel, spans):
    """Run a vkernel mapInArrow entrypoint over one doc → row tuples."""
    rows = []
    for b in kernel(iter([_vkernel_batch(spans)])):
        rows.extend(zip(*[c.to_pylist() for c in b.columns]))
    return rows


@requires_reference
@given(st.lists(SPAN, min_size=1, max_size=25))
@settings(max_examples=200, deadline=None)
def test_fuzz_vectorized_kernel_matches_reference(items):
    """The arrow/RE2/numpy kernel (operators/vkernel.py — the default
    extract_flat_spans path) against the live reference FSM."""
    from pdf_parser_python_spark.operators import vkernel

    spans = _spans(items)
    expected = flatten_doc(run_reference(spans))
    rows = _arrow_rows(vkernel.parse_docs_flat_arrow, spans)
    rows.sort(key=lambda r: (r[1], r[7]))  # (seq, order) = emission order
    got = [(r[2], r[3], r[4], r[5], r[6], r[7]) for r in rows]
    assert got == expected


@requires_reference
@given(st.lists(SPAN, min_size=1, max_size=25))
@settings(max_examples=200, deadline=None)
def test_fuzz_vectorized_final_matches_reference(items):
    """The arrow full-entity emitter (QUESTION_FINAL: options with J5
    marking, per-section images, anomalies with context, pages,
    computed fields) against the reference's finalized entities."""
    from pdf_parser_python_spark.operators import vkernel

    spans = _spans(items)
    exp = [
        (
            q["question_number"], q["question_type"], q["question_text"],
            [(o["key"], o["text"], o["is_correct"], o["images"])
             for o in q["options"]],
            q["answer_text"], q["explanation_text"],
            q["question_images"], q["answer_images"],
            q["explanation_images"],
            [(a["type"], a["severity"], a.get("context"))
             for a in q["anomalies"]],
            q["anomaly_score"], q["page_start"], q["page_end"],
        )
        for q in run_reference(spans)
    ]
    got = []
    for b in vkernel.parse_docs_final_arrow(iter([_vkernel_batch(spans)])):
        for r in b.to_pylist():
            got.append((
                r["question_number"], r["question_type"],
                r["question_text"],
                [(o["key"], o["text"], o["is_correct"], o["images"])
                 for o in r["options"]],
                r["answer_text"], r["explanation_text"],
                r["question_images"], r["answer_images"],
                r["explanation_images"],
                [(a["type"], a["severity"],
                  dict(a["context"]) if a["context"] is not None else None)
                 for a in r["anomalies"]],
                r["anomaly_score"], r["page_start"], r["page_end"],
            ))
    assert got == exp


@given(st.lists(st.lists(DOC, min_size=1, max_size=4), min_size=1,
                max_size=3))
@example([[
    [("text", "Question: 1 pick\nA. first\nſ. long s option"),
     ("text", "\u212a) kelvin\nAnswer: ſ")],
    [("text", "Question: 2 plain\nA. yes\nAnswer: A")],
]])
@settings(max_examples=200, deadline=None)
def test_fuzz_vectorized_validation_matches_pandas(draw):
    """All six arrow entry points against their python twins on the
    same draw (:func:`twin_rows`): flat spans, finalized entities,
    question scalars, doc texts, validation reports and commit batches.
    Each draw is up to three batches of ASCII and Unicode documents, so
    both of the kernel's grammar forms run, and a Unicode document
    shares its batch with ASCII ones. No reference checkout needed."""
    from pdf_parser_python_spark.operators import vkernel

    n = iter(range(1_000))
    batches = [packed_docs([(f"d{next(n)}", _spans(items)) for items in docs])
               for docs in draw]
    want = twin_rows(batches)
    for name, rows in want.items():
        assert kernel_rows(getattr(vkernel, name), batches) == rows, name


@requires_reference
@given(st.lists(SPAN, min_size=1, max_size=25))
@settings(max_examples=200, deadline=None)
def test_fuzz_fused_finalize_matches_reference(items):
    """The fused finalize (J5 answer marking, anomaly stamping incl.
    context, computed fields) against the reference's finalized
    entities."""
    from pdf_parser_python_spark.operators import dkernel

    spans = _spans(items)
    exp = [
        (
            q["question_number"], q["question_type"],
            [(o["key"], o["is_correct"]) for o in q["options"]],
            [(a["type"], a["severity"], a.get("context"))
             for a in q["anomalies"]],
            q["anomaly_score"], q["page_start"], q["page_end"],
        )
        for q in run_reference(spans)
    ]
    raw = dkernel._parse_doc("f", *_arrays(spans))
    got = []
    for r in raw:
        f = dkernel._finalize_row(r)
        got.append((
            f[2], f[3],
            [(o["key"], o["is_correct"]) for o in f[6]],
            [(a["type"], a["severity"], a["context"]) for a in f[13]],
            f[14], f[11], f[12],
        ))
    assert got == exp


def test_kernel_outputs_have_their_declared_schema():
    """Every kernel output is typed by its ``schema.py`` declaration:
    each vkernel batch's Arrow schema is the type's (every field
    nullable), and each dkernel frame's columns are the type's names,
    on a mixed batch and on an empty input."""
    from pdf_parser_python_spark import schema
    from pdf_parser_python_spark.operators import dkernel
    from pdf_parser_python_spark.operators import vkernel as V

    batch = packed_docs([
        ("ascii", _spans([
            ("text", "Question: 1 pick one\nA. first\nB. second"),
            ("image", "img/1.png"),
            ("text", "Answer: B\nExplanation: because"),
            ("text", "Question: 3 HOTSPOT\nHOTSPOT\nBox 1: x"),
        ])),
        ("unicode", _spans([
            ("text", "Question: ٣ body\nſ. long s\nAnswer: ſ")])),
        ("no-anchor", _spans([("text", "just prose")])),
        ("empty", []),
    ])
    declared = {
        V.parse_docs_flat_arrow: schema.FLAT_SPAN_SEQ,
        V.doc_text_arrow: schema.DOC_TEXT,
        V.question_scalars_arrow: schema.QUESTION_SCALARS,
        V.parse_docs_final_arrow: schema.QUESTION_FINAL,
        V.parse_docs_commit_arrow: schema.EXTRACTION_COMMIT,
        V.validate_docs_arrow: schema.VALIDATION_REPORT,
        dkernel.parse_docs_flat: schema.FLAT_SPAN_SEQ,
        dkernel.parse_docs_final: schema.QUESTION_FINAL,
        dkernel.validate_docs: schema.VALIDATION_REPORT,
    }
    for kernel, st in declared.items():
        arrow = kernel.__module__.endswith("vkernel")
        for inputs in ([batch if arrow else batch.to_pandas()], []):
            outs = list(kernel(iter(inputs)))
            assert outs, kernel.__name__
            assert sum(len(o) for o in outs) > 0 or not inputs, (
                kernel.__name__)
            for out in outs:
                if arrow:
                    assert out.schema.equals(V._arrow_schema(st)), (
                        kernel.__name__)
                else:
                    assert list(out.columns) == st.names, kernel.__name__
