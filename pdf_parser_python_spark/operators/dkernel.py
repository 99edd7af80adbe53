"""Packed document kernel: the row-exact Python FSM.

The input table is already one row per document with the full ordered
span array, so the kernel parses straight off the packed rows:

    documents --array_sort(spans)--> 4 primitive arrays (native)
        --mapInPandas(parse_docs*)--> question rows

No shuffle anywhere; the only cross-row machinery is Arrow batching.
Tokenization (newline split, strip, noise filter) happens inside the
kernel with compiled regexes — with packed input there is no data-size
win from filtering JVM-side, since whole documents ship regardless.

This is the ``packed-pandas`` engine, the twin the vectorized kernel
(:mod:`.vkernel`) is tested against row for row, and that kernel's
fallback for documents whose characters make RE2 and Python ``re``
diverge. A pathological single document is one task here; the
pipeline's giant-doc dispatch reroutes such documents to
:mod:`.chunked`.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import anchors as A
from ..zipcache import drop_zip_finders

_ANCHOR_ALTERNATION = (
    r"Question\s*:?\s*(?P<qnum>\d+)"
    r"|(?P<hot>HOTSPOT)\s*$"
    r"|\(?(?P<okey>[A-Za-z])\s*[.):\-–—]\s*"
    r"|(?P<ans>(?:Correct\s+)?(?:Answer|Ans|Key))[\s.:]*"
    r"|(?P<exp>Explanation|Reference|Rationale|Solution)\s*:?\s*"
)

#: one C-level regex pass classifies a line completely. The ordered
#: alternation keeps the reference's check order (question → hotspot →
#: option → answer → explanation), and the always-ignore noise check
#: (reference state_machine.py:200-202 — noise wins over every anchor)
#: rides as the FIRST alternative. The two case-SENSITIVE noise rules
#: (separators, lone URLs) keep their sensitivity via (?-i:...).
_COMBINED_NOISE = re.compile(
    r"^\s*(?:(?P<noise>"
    + A.NOISE_CI_BODY
    + r"|(?-i:" + A.NOISE_CS_BODY + r"))"
    + r"|" + _ANCHOR_ALTERNATION + r")",
    re.IGNORECASE,
)
_COVER = A.RE_COVER_NOISE

_COLUMNS = [
    "doc_id", "seq", "question_number", "question_type", "question_text",
    "question_images", "options", "answer_text", "answer_images",
    "explanation_text", "explanation_images", "page_start", "page_end",
    "parse_failed",
]

# FSM states
_QBODY, _OPTION, _ANSWER, _EXPL = 0, 1, 2, 3


class _DocState:
    """Accumulator for one document's question rows."""

    __slots__ = ("doc_id", "seq", "cur", "rows", "failed")

    def __init__(self, doc_id: str) -> None:
        self.doc_id = doc_id
        self.seq = 0
        self.cur: list | None = None
        self.rows: list[tuple] = []
        self.failed = False

    def flush_question(self) -> None:
        q = self.cur
        self.rows.append(
            (
                self.doc_id, self.seq, q[0], q[1], " ".join(q[2]), q[3],
                [
                    {"key": k, "text": " ".join(t), "is_correct": False,
                     "images": im}
                    for (k, t, im) in q[4]
                ],
                " ".join(q[5]), q[6], " ".join(q[7]), q[8], q[9], q[10],
                False,
            )
        )
        self.seq += 1

    def finish(self) -> list[tuple]:
        if self.failed:
            return [(self.doc_id, 0, -1, "mcq", "", [], [], "", [], "", [],
                     1, 1, True)]
        if self.cur is not None:
            self.flush_question()
        return self.rows


def _process_rows(ds: _DocState, kinds, texts, medias, pages) -> None:
    """Run one document's rows (already in order) through the FSM —
    reference state_machine.py:133-366; ``(:N)`` notes cite its lines.
    ``ds.cur`` is the open question, flushed on the next anchor."""
    match = _COMBINED_NOISE.match
    cover = _COVER.match
    state = _QBODY
    cur = None
    opt = None

    for i in range(len(kinds)):
        if kinds[i] == "image":
            if cur is None:
                continue  # pre-amble orphan image (:184-187)
            ref = medias[i]
            if state == _QBODY:
                cur[3].append(ref)
            elif state == _OPTION:
                opt[2].append(ref)
            elif state == _ANSWER:
                cur[6].append(ref)
            else:
                cur[8].append(ref)
            pg = pages[i]
            if pg > cur[10]:
                cur[10] = pg
            continue

        line = texts[i]
        m = match(line)
        if m is None:
            if cur is not None and line:
                if state == _QBODY:
                    cur[2].append(line)
                elif state == _OPTION:
                    opt[1].append(line)
                elif state == _ANSWER:
                    cur[5].append(line)
                else:
                    cur[7].append(line)
            continue

        g = m.lastgroup
        if g == "noise":
            continue  # always-ignored boilerplate (:200-202)
        if g == "qnum":
            rem = line[m.end():].strip()
            if ":" not in line and not rem:
                continue  # solo "Question N" artifact (:209-215)
            if cur is None and cover(line):
                continue  # cover-page noise pre-first-anchor (:276-280)
            if cur is not None:
                ds.flush_question()
            pg = pages[i]
            cur = [min(int(m.group("qnum")), A.QNUM_CAP), "mcq",
                   [], [], [], [], [], [], [], pg, pg]
            ds.cur = cur
            opt = None
            state = _QBODY
            if rem:
                cur[2].append(rem)
        elif cur is None:
            continue  # everything before the first anchor (:231-234)
        elif g == "hot":
            if state == _QBODY:
                cur[1] = "hotspot"
            elif state == _OPTION:
                opt[1].append(line)
            elif state == _ANSWER:
                cur[5].append(line)
            else:
                cur[7].append(line)
        elif g == "okey":
            if state in (_QBODY, _OPTION):
                opt = [m.group("okey").upper(), [], []]
                cur[4].append(opt)
                state = _OPTION
                rem = line[m.end():].strip()
                if rem:
                    opt[1].append(rem)
            elif state == _ANSWER:  # invalid anchor → plain text (:238)
                cur[5].append(line)
            else:
                cur[7].append(line)
        elif g == "ans":
            state = _ANSWER
            opt = None
            rem = line[m.end():].strip()
            if rem:
                cur[5].append(rem)
        else:  # exp
            state = _EXPL
            opt = None
            rem = line[m.end():].strip()
            if rem:
                cur[7].append(rem)


_FLAT_COLUMNS = [
    "doc_id", "seq", "question_number", "section", "kind", "text",
    "media_ref", "order",
]

_FINAL_COLUMNS = [
    "doc_id", "seq", "question_number", "question_type", "question_text",
    "question_images", "options", "answer_text", "answer_images",
    "explanation_text", "explanation_images", "page_start", "page_end",
    "anomalies", "anomaly_score", "has_question_text", "has_answer",
    "has_explanation", "image_count",
]

#: answer-letter extraction (reference state_machine.py:437-452)
_LETTER_BOUND = re.compile(r"\b([A-Z])\b")
_LETTER = re.compile(r"([A-Z])")


def _answer_keys(ans: str) -> list[str]:
    up = ans.strip().upper()
    if "," in up:
        ks = [m for part in up.split(",") for m in _LETTER_BOUND.findall(part)]
    else:
        ks = _LETTER.findall(up)
    seen: set[str] = set()
    out: list[str] = []
    for k in ks:
        if k not in seen:
            seen.add(k)
            out.append(k)
    return out


def _finalize_row(r: tuple) -> tuple | None:
    """Python twin of operators/finalize.py (F8/F9/J5 + anomaly
    stamping + computed fields) for the fused packed path; None for
    parse_failed sentinels. Row-equality with the Column-API finalize is
    asserted by tests — that implementation remains the reference one
    for the other engines."""
    if r[13]:
        return None
    qtext, qimgs, options = r[4], r[5], r[6]
    ans, aimgs, expl, eimgs = r[7], r[8], r[9], r[10]
    opts = [o for o in options if o["text"].strip() != "" or o["images"]]
    if expl != "" and A.is_noise_line(expl.strip()):
        expl = ""  # F9
    has_q = qtext.strip() != ""
    has_a = ans.strip() != ""
    hotspot = r[3] == "hotspot"
    if not hotspot and has_a:
        keys = _answer_keys(ans)
        valid = [o["key"].upper() for o in opts]
        final = [k for k in keys if k in valid] if opts else keys
        opts = [
            {
                "key": o["key"],
                "text": o["text"],
                "is_correct": o["key"].upper() in final,
                "images": o["images"],
            }
            for o in opts
        ]
    anomalies = []
    if not has_q:
        anomalies.append(("missing_question_text", 80,
                          "Question has no text content", None))
    if not hotspot and not has_a:
        anomalies.append(("missing_answer", 60,
                          "Question has no answer section", None))
    if not has_q and qimgs:
        anomalies.append(("orphan_image", 30,
                          "Question body contains only images",
                          {"section": "question"}))
    score = min(100, sum(a[1] for a in anomalies))
    img_count = (
        len(qimgs) + len(aimgs) + len(eimgs)
        + sum(len(o["images"]) for o in opts)
    )
    return (
        r[0], r[1], r[2], r[3], qtext, qimgs, opts, ans, aimgs, expl, eimgs,
        r[11], r[12],
        [{"type": t, "severity": s, "message": m, "context": c}
         for (t, s, m, c) in anomalies],
        score, has_q, has_a, expl.strip() != "", img_count,
    )


def parse_docs_final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas entrypoint: packed documents → FINALIZED question
    entities in one fused pass (schema.QUESTION_FINAL)."""
    drop_zip_finders()
    yielded = False
    for pdf in batches:
        out: list[tuple] = []
        ids = pdf["doc_id"].to_numpy()
        kinds = pdf["kinds"].to_numpy()
        texts = pdf["texts"].to_numpy()
        refs = pdf["refs"].to_numpy()
        pages = pdf["pages"].to_numpy()
        for r in range(len(ids)):
            pg = pages[r]
            pg_list = (
                [1] * len(kinds[r])
                if pg is None
                else [1 if p is None or p != p else int(p) for p in pg]
            )
            for raw in _parse_doc(ids[r], kinds[r], texts[r], refs[r], pg_list):
                fin = _finalize_row(raw)
                if fin is not None:
                    out.append(fin)
        if out:
            yielded = True
            cols = list(zip(*out))
            yield pd.DataFrame(
                {c: cols[i] for i, c in enumerate(_FINAL_COLUMNS)}
            )
    if not yielded:
        yield pd.DataFrame(
            {c: pd.Series(dtype=object) for c in _FINAL_COLUMNS}
        )


_VALIDATION_COLUMNS = [
    "doc_id", "total_questions_detected", "structured_successfully",
    "questions_missing_answer", "questions_missing_explanation",
    "failed_to_structure", "orphan_images", "missing_question_numbers",
    "gap_list_suppressed", "duplicate_question_numbers",
    "anomaly_breakdown", "success_rate",
]


def _round_half_up2(x: float) -> float:
    """DOCUMENTED DEVIATION (README "Documented deviations"): the
    reference's Python ``round(x, 2)`` is banker's rounding, so exact
    dyadic ties differ by 0.01 (1/32 → 3.13 here vs 3.12 there). All
    engines + the DuckDB oracle share this HALF_UP rule on purpose.

    Spark's F.round = BigDecimal(double) HALF_UP — replicated exactly
    (Python's round() is banker's and would diverge on exact ties like
    3.125)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("0.01"), ROUND_HALF_UP))


def _validate_doc(fins: list[tuple]) -> tuple | None:
    """Python twin of operators/validate.validation_report for the
    fused packed path (reference validator.py:39-158): one
    ValidationReport tuple from a doc's finalized rows. Row-equality
    with the relational operator is asserted by tests — that
    implementation remains the reference one. None when the doc
    produced no questions (groupBy emits no row for such docs)."""
    if not fins:
        return None
    doc_id = fins[0][0]
    total = len(fins)
    structured = sum(1 for r in fins if r[15] and r[16])
    missing_answer = [r[2] for r in fins if not r[16]]
    missing_expl = [r[2] for r in fins if not r[17]]
    failed = [r[2] for r in fins if not (r[15] and r[16])]
    orphans = sum(
        1 for r in fins if any(a["type"] == "orphan_image" for a in r[13])
    )
    nums = [r[2] for r in fins]
    mn, mx = min(nums), max(nums)
    sane = (mx - mn) <= 1_000_000
    actual = set(nums)
    missing_nums = (
        sorted(set(range(mn, mx + 1)) - actual) if sane else None
    )
    seen: set[int] = set()
    dup: set[int] = set()
    for n in nums:
        if n in seen:
            dup.add(n)
        seen.add(n)
    types = [a["type"] for r in fins for a in r[13]]
    breakdown = {t: types.count(t) for t in sorted(set(types))}
    rate = _round_half_up2(structured / total * 100) if total else 0.0
    return (
        doc_id, total, structured, missing_answer, missing_expl, failed,
        orphans, missing_nums, not sane, sorted(dup), breakdown, rate,
    )


def validate_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas entrypoint: packed documents → per-doc
    ValidationReport rows in the SAME pass as the parse (zero shuffle,
    tiny output — no question text ever crosses the Arrow boundary).
    Replaces extract_questions → validation_report when the consumer
    only wants the report: that pipeline pays the full FSM parse just
    to aggregate it away."""
    drop_zip_finders()
    yielded = False
    for pdf in batches:
        out: list[tuple] = []
        ids = pdf["doc_id"].to_numpy()
        kinds = pdf["kinds"].to_numpy()
        texts = pdf["texts"].to_numpy()
        refs = pdf["refs"].to_numpy()
        pages = pdf["pages"].to_numpy()
        for r in range(len(ids)):
            pg = pages[r]
            pg_list = (
                [1] * len(kinds[r])
                if pg is None
                else [1 if p is None or p != p else int(p) for p in pg]
            )
            fins = [
                fin
                for raw in _parse_doc(ids[r], kinds[r], texts[r], refs[r],
                                      pg_list)
                if (fin := _finalize_row(raw)) is not None
            ]
            rep = _validate_doc(fins)
            if rep is not None:
                out.append(rep)
        if out:
            yielded = True
            cols = list(zip(*out))
            yield pd.DataFrame(
                {c: cols[i] for i, c in enumerate(_VALIDATION_COLUMNS)}
            )
    if not yielded:
        yield pd.DataFrame(
            {c: pd.Series(dtype=object) for c in _VALIDATION_COLUMNS}
        )


def _parse_doc(doc_id: str, kinds, texts, refs, pages) -> list[tuple]:
    """One packed document → raw question rows.

    Noise filtering is fused into the classifier (_COMBINED_NOISE):
    one C-level regex pass per line instead of separate noise + anchor
    passes."""
    k_l: list[str] = []
    t_l: list[str] = []
    m_l: list[str] = []
    p_l: list[int] = []
    for j in range(len(kinds)):
        if kinds[j] == "image":
            k_l.append("image")
            t_l.append("")
            m_l.append(refs[j] or "")
            p_l.append(pages[j])
        else:
            pg = pages[j]
            for ln in (texts[j] or "").split("\n"):
                t = ln.strip()
                if t:
                    k_l.append("text")
                    t_l.append(t)
                    m_l.append("")
                    p_l.append(pg)
    ds = _DocState(doc_id)
    try:
        _process_rows(ds, k_l, t_l, m_l, p_l)
    except Exception:
        ds.failed = True
    return ds.finish()


def parse_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas entrypoint over (doc_id, kinds, texts, refs, pages)."""
    drop_zip_finders()
    yielded = False
    for pdf in batches:
        out: list[tuple] = []
        ids = pdf["doc_id"].to_numpy()
        kinds = pdf["kinds"].to_numpy()
        texts = pdf["texts"].to_numpy()
        refs = pdf["refs"].to_numpy()
        pages = pdf["pages"].to_numpy()
        for r in range(len(ids)):
            pg = pages[r]
            pg_list = (
                [1] * len(kinds[r])
                if pg is None
                else [1 if p is None or p != p else int(p) for p in pg]
            )
            out.extend(_parse_doc(ids[r], kinds[r], texts[r], refs[r], pg_list))
        if out:
            yielded = True
            cols = list(zip(*out))
            yield pd.DataFrame({c: cols[i] for i, c in enumerate(_COLUMNS)})
    if not yielded:
        yield pd.DataFrame({c: pd.Series(dtype=object) for c in _COLUMNS})


def _flatten_rows(raw_rows: list[tuple]) -> list[tuple]:
    """Apply the finalize rules flatten depends on (F8 ghost-option
    filter, F9 explanation scrub, parse_failed drop — operators/
    finalize.py) and emit the §1.4 canonical flatten
    (operators/flatten.py semantics), directly as FLAT columns.

    Why in the kernel: the Column-API finalize+flatten are interpreted
    higher-order array expressions — measured ~8s of a 13s stage at
    sf0.1 while the whole Python FSM costs ~2.5s. Emitting flat rows
    here removes the nested-array Arrow conversion AND the HOF stage;
    tests assert row-equality against the native finalize→flatten path,
    which stays the reference implementation (and serves engines that
    need the QUESTION_RAW form).
    """
    out: list[tuple] = []
    for r in raw_rows:
        if r[13]:  # parse_failed sentinel — finalize drops it
            continue
        doc_id, seq, qnum = r[0], r[1], r[2]
        order = 0

        def emit(section: str, kind: str, text: str, media: str) -> None:
            nonlocal order
            out.append((doc_id, seq, qnum, section, kind, text, media, order))
            order += 1

        if r[4] != "":
            emit("question", "text", r[4], "")
        for m in r[5]:
            emit("question", "image", "", m)
        for o in r[6]:
            otext, imgs = o["text"], o["images"]
            if otext.strip() == "" and not imgs:
                continue  # F8 ghost option
            emit("options", "text",
                 f"{o['key']}. {otext}" if otext != "" else f"{o['key']}.",
                 "")
            for m in imgs:
                emit("options", "image", "", m)
        if r[7] != "":
            emit("answer", "text", r[7], "")
        for m in r[8]:
            emit("answer", "image", "", m)
        expl = r[9]
        if expl != "" and A.is_noise_line(expl.strip()):
            expl = ""  # F9 boilerplate scrub
        if expl != "":
            emit("explanation", "text", expl, "")
        for m in r[10]:
            emit("explanation", "image", "", m)
    return out


def parse_docs_flat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas entrypoint: packed documents → canonical flat spans
    in one fused pass (zero shuffle, flat primitive output columns)."""
    drop_zip_finders()
    yielded = False
    for pdf in batches:
        out: list[tuple] = []
        ids = pdf["doc_id"].to_numpy()
        kinds = pdf["kinds"].to_numpy()
        texts = pdf["texts"].to_numpy()
        refs = pdf["refs"].to_numpy()
        pages = pdf["pages"].to_numpy()
        for r in range(len(ids)):
            pg = pages[r]
            pg_list = (
                [1] * len(kinds[r])
                if pg is None
                else [1 if p is None or p != p else int(p) for p in pg]
            )
            out.extend(
                _flatten_rows(
                    _parse_doc(ids[r], kinds[r], texts[r], refs[r], pg_list)
                )
            )
        if out:
            yielded = True
            # zip-transpose: pandas infers dtype per column from a flat
            # C-level tuple instead of scanning 2-3M row tuples
            cols = list(zip(*out))
            yield pd.DataFrame(
                {c: cols[i] for i, c in enumerate(_FLAT_COLUMNS)}
            )
    if not yielded:
        yield pd.DataFrame({c: pd.Series(dtype=object) for c in _FLAT_COLUMNS})


def packed_projection(documents: DataFrame) -> DataFrame:
    """Native prep: sort spans by offset, project primitive arrays
    (keeps Arrow transfer to plain list<string>/list<int> — no dicts)."""
    has_page = "page" in documents.schema["spans"].dataType.elementType.names
    spans = F.array_sort(
        "spans", lambda a, b: a["offset"].cast("int") - b["offset"].cast("int")
    )
    return documents.select(
        "doc_id",
        F.transform(spans, lambda s: s["kind"]).alias("kinds"),
        F.transform(spans, lambda s: s["text"]).alias("texts"),
        F.transform(spans, lambda s: s["media_ref"]).alias("refs"),
        (
            F.transform(spans, lambda s: s["page"])
            if has_page
            else F.lit(None).cast("array<int>")
        ).alias("pages"),
    )
