"""Property-based differential fuzzing: arbitrary interleavings of
anchor-ish, noisy, and junk lines must parse identically to the live
reference FSM. This is the strongest guard on classification order
and state-validity rules (hypothesis shrinks any divergence to a
minimal line sequence)."""

from hypothesis import given, settings, strategies as st

from .oracle import flatten_doc, run_reference

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

SPAN = st.one_of(
    st.builds(lambda t: ("text", t), LINE),
    st.builds(
        lambda t1, t2: ("text", t1 + "\n" + t2), LINE, LINE
    ),
    st.builds(lambda i: ("image", f"img/{i}.png"), st.integers(0, 5)),
)


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


def _vkernel_batch(spans):
    import pyarrow as pa

    spans = sorted(spans, key=lambda s: s["offset"])
    return pa.RecordBatch.from_arrays(
        [
            pa.array(["f"], pa.string()),
            pa.array([[s["kind"] for s in spans]], pa.list_(pa.string())),
            pa.array([[s["text"] for s in spans]], pa.list_(pa.string())),
            pa.array([[s["media_ref"] for s in spans]],
                     pa.list_(pa.string())),
            pa.array([[s.get("page") or 1 for s in spans]],
                     pa.list_(pa.int32())),
        ],
        names=["doc_id", "kinds", "texts", "refs", "pages"],
    )


def _arrow_rows(kernel, spans):
    """Run a vkernel mapInArrow entrypoint over one doc → row tuples."""
    rows = []
    for b in kernel(iter([_vkernel_batch(spans)])):
        rows.extend(zip(*[c.to_pylist() for c in b.columns]))
    return rows


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


@given(st.lists(SPAN, min_size=1, max_size=25))
@settings(max_examples=200, deadline=None)
def test_fuzz_vectorized_validation_matches_pandas(items):
    """The arrow kernels against their python twins on the same draw —
    flat spans vs dkernel._flatten_rows, finalized entities vs
    dkernel._finalize_row, validation vs _validate_doc. No reference
    checkout needed; SPAN's Unicode words (non-ASCII digits, İ/ı) send
    some draws through vkernel's fallback to the python FSM."""
    from pdf_parser_python_spark.operators import dkernel, vkernel

    spans = _spans(items)
    raws = dkernel._parse_doc("f", *_arrays(spans))
    assert _arrow_rows(vkernel.parse_docs_flat_arrow, spans) == (
        dkernel._flatten_rows(raws)
    )
    fins = [
        fin for raw in raws if (fin := dkernel._finalize_row(raw)) is not None
    ]
    # arrow hands an anomaly's context map back as (key, value) pairs
    got = [
        r[:13] + ([
            {**a, "context": None if a["context"] is None
             else dict(a["context"])}
            for a in r[13]
        ],) + r[14:]
        for r in _arrow_rows(vkernel.parse_docs_final_arrow, spans)
    ]
    assert got == fins
    rep = dkernel._validate_doc(fins)
    exp = [] if rep is None else [
        rep[:10] + (dict(rep[10]), rep[11])
    ]
    got = []
    for b in vkernel.validate_docs_arrow(iter([_vkernel_batch(spans)])):
        for r in b.to_pylist():
            got.append((
                r["doc_id"], r["total_questions_detected"],
                r["structured_successfully"],
                r["questions_missing_answer"],
                r["questions_missing_explanation"],
                r["failed_to_structure"], r["orphan_images"],
                r["missing_question_numbers"], r["gap_list_suppressed"],
                r["duplicate_question_numbers"],
                dict(r["anomaly_breakdown"]), r["success_rate"],
            ))
    assert got == exp


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
        if f is None:
            continue
        got.append((
            f[2], f[3],
            [(o["key"], o["is_correct"]) for o in f[6]],
            [(a["type"], a["severity"], a["context"]) for a in f[13]],
            f[14], f[11], f[12],
        ))
    assert got == exp
