"""Vectorized packed kernel — Arrow/RE2/numpy, no per-line Python.

Profiling the fused pandas kernel (BENCH.md) puts ~80% of stage time
in (a) materializing every span string as a Python object and (b) the
per-line Python FSM loop, while one RE2 pass over ALL span texts costs
~0.05 s per 350k spans. This kernel keeps strings inside Arrow end to
end:

1. explode spans → lines arrow-side (``split_pattern`` + flatten),
   strip with the exact Python ``str.strip()`` whitespace set;
2. classify every line with a handful of RE2 passes
   (``match_substring_regex`` / ``extract_regex``) — same grammar
   constants as every other engine (functions/anchors.py), with
   Python-``re`` alternation priority resolved by boolean masks (every
   alternative anchors at the first non-ws char, so independent masks
   + priority == the combined alternation the pandas kernels use);
3. run the FSM as numpy segmented cumsums — the same closed-form
   decomposition :mod:`.native` proves in Catalyst (state only ever
   advances within a question);
4. assemble output strings with stable lexsort + ``binary_join`` —
   fragments never become Python objects.

Dialect: RE2's ``\\s``/``\\d``/``\\b`` are ASCII-only and its case
folding skips İ/ı, so the kernel runs one of the two RE2 forms that
functions/anchors.py renders: a slice whose lines are all ASCII runs
``anchors.RE2_ASCII`` (the patterns are smaller and RE2 compiles them
on every call); any other slice runs ``anchors.re2_exact()``, built on
a worker's first such slice. Every document stays on this path; tests
assert row-equality with the Python kernel (:mod:`.dkernel`) over all
of Unicode's divergent classes.

Every output's Arrow schema is derived from its ``schema.py`` type
(:func:`_arrow_schema`); no output format is declared here.

Reference semantics: /root/reference/parser/state_machine.py:133-366
(segmentation), crud.py:633-726 (flatten contract).
"""

from __future__ import annotations

import functools
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schema
from ..functions import anchors as A
from ..zipcache import drop_zip_finders

#: NOTE (measured dead end, do not revisit): folding the whole grammar
#: into ONE ordered-alternation extract_regex pass (anchors.RE_LINE
#: style) is ~2× SLOWER than :func:`_classify`'s independent match
#: passes — capture groups in a large alternation push RE2 off its DFA
#: fast path into per-line submatch NFA. Independent group-free
#: match_substring_regex passes each stay on the DFA; group extraction
#: then runs only on the tiny anchor subsets.

_SECTIONS = pa.array(["question", "options", "answer", "explanation"])
_KINDS = pa.array(["text", "image"])


def _relaxed(t: pa.DataType) -> pa.DataType:
    if pa.types.is_map(t):
        return pa.map_(_relaxed(t.key_type), _relaxed(t.item_type))
    if pa.types.is_list(t):
        return pa.list_(_relaxed(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct([(f.name, _relaxed(f.type)) for f in t])
    return t


def _arrow_schema(st) -> pa.Schema:
    """The Arrow schema of a ``schema.py`` output type with every field
    nullable: PySpark's mapInArrow serializer rebuilds each batch with
    ``pa.StructArray.from_arrays``, which rejects the emitters' nested
    arrays against a ``not null`` child field."""
    out = to_arrow_schema(st)
    for i, f in enumerate(out):
        out = out.set(i, f.with_type(_relaxed(f.type)).with_nullable(True))
    return out


FLAT_ARROW_SCHEMA = _arrow_schema(schema.FLAT_SPAN_SEQ)
DOC_TEXT_ARROW_SCHEMA = _arrow_schema(schema.DOC_TEXT)
QUESTION_SCALARS_ARROW_SCHEMA = _arrow_schema(schema.QUESTION_SCALARS)
QUESTION_FINAL_ARROW_SCHEMA = _arrow_schema(schema.QUESTION_FINAL)
COMMIT_ARROW_SCHEMA = _arrow_schema(schema.EXTRACTION_COMMIT)
VALIDATION_ARROW_SCHEMA = _arrow_schema(schema.VALIDATION_REPORT)


def _np(arr) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False)


def _m(arr: pa.Array, pattern: str) -> np.ndarray:
    return _np(pc.match_substring_regex(arr, pattern=pattern)
               .fill_null(False))


def _run_starts(key: np.ndarray) -> np.ndarray:
    out = np.ones(len(key), dtype=bool)
    if len(key) > 1:
        out[1:] = key[1:] != key[:-1]
    return out


def _start_index(start_mask: np.ndarray) -> np.ndarray:
    """Per row: index of its run's first row (start_mask[0] must hold)."""
    n = len(start_mask)
    return np.maximum.accumulate(np.where(start_mask, np.arange(n), 0))


def _run_cumsum(x: np.ndarray, start_idx: np.ndarray,
                inclusive: bool) -> np.ndarray:
    c = np.cumsum(x)
    excl = c - x
    base = excl[start_idx]
    return (c - base) if inclusive else (excl - base)


def _qnum_i64(qs: pa.Array) -> np.ndarray:
    """Anchor digit string → int64, clamping values beyond int64 to
    QNUM_CAP (value-based: leading zeros stripped first — the reference
    uses plain int(), state_machine.py:217). Strings holding non-ASCII
    digits convert with dkernel's own ``min(int(s), QNUM_CAP)``."""
    asc = _np(pc.string_is_ascii(qs))
    stripped = pc.utf8_ltrim(qs, characters="0")
    big = _np(pc.greater(pc.utf8_length(stripped), 18).fill_null(False))
    safe = pc.if_else(
        pa.array(big | ~asc),
        pa.scalar("0"),
        pc.if_else(pc.equal(stripped, ""), pa.scalar("0"), stripped),
    )
    vals = np.where(big, A.QNUM_CAP, _np(pc.cast(safe, pa.int64())))
    for i in np.flatnonzero(~asc):
        vals[i] = min(int(qs[i].as_py()), A.QNUM_CAP)
    return vals


# ── batch explosion ──────────────────────────────────────────────────────


def _explode_batch(batch: pa.RecordBatch):
    """Packed batch → (doc_ids, row-stream dict).

    Every document becomes part of one flat row stream: text lines
    (split on \\n, python-strip, empties dropped) interleaved with
    image rows, in span order. A null span list is an empty document.
    The stream carries the grammar form its lines need (module
    docstring): ASCII when every line is ASCII, else Python-exact.
    """
    doc_ids = batch.column("doc_id")
    kinds = batch.column("kinds")
    pages = batch.column("pages")

    span_parent = _np(pc.list_parent_indices(kinds)).astype(np.int64)
    kind_f = pc.list_flatten(kinds)
    text_f = pc.list_flatten(batch.column("texts"))
    is_img_span = _np(pc.equal(kind_f, "image").fill_null(False))

    # image spans contribute exactly one row each: blank their text
    split_src = pc.if_else(pa.array(is_img_span), pa.scalar(""),
                           text_f.fill_null(""))
    lines_l = pc.split_pattern(split_src, "\n")
    line_parent = _np(pc.list_parent_indices(lines_l)).astype(np.int64)
    line_f = pc.utf8_trim(pc.list_flatten(lines_l),
                          characters=A.PY_WS_CHARS)

    row_img = is_img_span[line_parent]
    keep = row_img | _np(pc.not_equal(line_f, ""))

    # span-indexed page numbers: 1 for the spans of a document without
    # a page list (null, or an all-null column when the source has no
    # page field)
    span_page = np.ones(len(kind_f), dtype=np.int64)
    paged = _np(pc.is_valid(pages))[span_parent]
    if paged.any():
        span_page[paged] = _np(pc.list_flatten(pages).fill_null(1))

    ki = np.flatnonzero(keep)
    lines = pc.take(line_f, pa.array(ki))
    vec = {
        "doc": span_parent[line_parent[ki]],
        "img": row_img[ki],
        "span": line_parent[ki],
        "lines": lines,
        "ref_f": pc.list_flatten(batch.column("refs")),
        "span_page": span_page,
        "g": (A.RE2_ASCII if _np(pc.string_is_ascii(lines)).all()
              else A.re2_exact()),
    }
    return doc_ids, vec


# ── classification + segmentation ────────────────────────────────────────


def _rem(lines: pa.Array, pattern: str) -> pa.Array:
    """Anchor remainder: line minus the ^-anchored prefix, py-stripped
    (at most one match → plain replace-all)."""
    return pc.utf8_trim(
        pc.replace_substring_regex(lines, pattern=pattern,
                                   replacement=""),
        characters=A.PY_WS_CHARS,
    ).fill_null("")


def _classify(lines: pa.Array, img: np.ndarray, g: A.Re2Grammar) -> dict:
    """Full-corpus passes only where every line genuinely needs one;
    solo/cover/qnum run on the question-anchor subset (the per-class
    remainders are computed later on even smaller subsets)."""
    n = len(img)
    noise = _m(lines, g.noise)  # CI+CS alternations, one pass
    q_hit = _m(lines, g.question)
    hot_m = _m(lines, g.hotspot)
    okey_m = _m(lines, g.option)
    ans_m = _m(lines, g.answer)
    exp_m = _m(lines, g.explanation)

    txt = ~img
    noise &= txt
    q_hit &= txt
    hot = hot_m & ~noise & ~q_hit & txt
    okey = okey_m & ~noise & ~q_hit & ~hot_m & txt
    ans = ans_m & ~noise & ~q_hit & ~hot_m & ~okey_m & txt
    exp = exp_m & ~noise & ~q_hit & ~hot_m & ~okey_m & ~ans_m & txt

    solo = np.zeros(n, dtype=bool)
    cover = np.zeros(n, dtype=bool)
    qi = np.flatnonzero(q_hit)
    qnum_sub = np.zeros(0, dtype=np.int64)
    if len(qi):
        # group extraction only on the anchor subsets (~5% of lines)
        qia = pa.array(qi)
        lines_q = pc.take(lines, qia)
        rem_q_sub = _rem(lines_q, g.question)
        solo_sub = (
            ~_np(pc.match_substring(lines_q, ":").fill_null(False))
            & _np(pc.equal(rem_q_sub, ""))
        )
        solo[qi] = solo_sub
        cover[qi] = _m(lines_q, g.cover)
        qnum_sub = _qnum_i64(
            pc.struct_field(
                pc.extract_regex(lines_q, pattern=g.question), "q"
            ).fill_null("0")
        )
    okey_rows = np.flatnonzero(okey)
    okey_vals = pc.utf8_upper(
        pc.struct_field(
            pc.extract_regex(
                pc.take(lines, pa.array(okey_rows)), pattern=g.option
            ),
            "k",
        ).fill_null("")
    )
    return {
        "noise": noise, "q": q_hit, "solo": solo, "cover": cover,
        "hot": hot, "okey": okey, "ans": ans, "exp": exp,
        "qi": qi, "qnum_sub": qnum_sub,
        "okey_rows": okey_rows, "okey_vals": okey_vals,
    }


def _segment(vec: dict, cl: dict) -> dict | None:
    """FSM as segmented cumsums (native.py's closed form):
    valid_q = q & (~cover | a non-cover candidate came before);
    rows before the first valid anchor are dropped (pre-amble skip);
    within a question, left_body latches on the first ANSWER or
    EXPLANATION anchor (state never returns to body/options)."""
    doc = vec["doc"]
    img = vec["img"]
    if len(doc) == 0:
        return None

    drop = cl["noise"] | (cl["q"] & cl["solo"])  # noise + F10 artifacts
    q = cl["q"] & ~cl["solo"]

    doc_start = _start_index(_run_starts(doc))
    cnc = (q & ~cl["cover"]).astype(np.int64)
    prior_cnc = _run_cumsum(cnc, doc_start, inclusive=False)
    valid_q = q & (~cl["cover"] | (prior_cnc > 0))
    started = _run_cumsum(valid_q.astype(np.int64), doc_start,
                          inclusive=True) > 0
    keep = started & ~drop & ~(q & ~valid_q)

    ki = np.flatnonzero(keep)
    if len(ki) == 0:
        return None
    anchor_q = valid_q[ki]
    qid = np.cumsum(anchor_q) - 1  # global 0-based question id
    qstart = _start_index(anchor_q)  # every question opens with one

    ae = (cl["ans"] | cl["exp"])[ki]
    prior_ae = _run_cumsum(ae.astype(np.int64), qstart,
                           inclusive=False) > 0
    opt_valid = cl["okey"][ki] & ~prior_ae
    prior_opts = _run_cumsum(opt_valid.astype(np.int64), qstart,
                             inclusive=False)
    hot_valid = cl["hot"][ki] & ~prior_ae & (prior_opts == 0)
    oi = _run_cumsum(opt_valid.astype(np.int64), qstart, inclusive=True)

    m = len(ki)
    sec_at = np.zeros(m, dtype=np.int8)
    sec_at[opt_valid] = 1
    sec_at[cl["ans"][ki]] = 2
    sec_at[cl["exp"][ki]] = 3
    sec_at[anchor_q] = 0
    is_anchor = anchor_q | opt_valid | ae
    last_anchor = np.maximum.accumulate(
        np.where(is_anchor, np.arange(m), 0))
    sec = sec_at[last_anchor]

    qnum_of_q = cl["qnum_sub"][
        np.searchsorted(cl["qi"], ki[anchor_q])
    ]
    return {
        "ki": ki, "qid": qid, "anchor_q": anchor_q, "img": img[ki],
        "opt_valid": opt_valid, "hot_valid": hot_valid,
        "ans": cl["ans"][ki], "exp": cl["exp"][ki], "oi": oi, "sec": sec,
        "nq": int(qid[-1]) + 1,
        "doc_of_q": doc[ki][anchor_q],
        "qnum_of_q": qnum_of_q,
    }


def _fragments(vec: dict, cl: dict, sg: dict) -> pa.Array:
    """Per kept row: text contribution — anchor remainder for valid
    anchors, the whole line for content and invalid anchors, empty for
    hotspot markers and images. Remainders are computed ONLY on each
    class's row subset; the result assembles with one concat + take."""
    ki = sg["ki"]
    m = len(ki)
    lines_kept = pc.take(vec["lines"], pa.array(ki)).fill_null("")
    g = vec["g"]

    pieces = [lines_kept]
    src_idx = np.arange(m, dtype=np.int64)  # default: the full line
    base = m

    for mask, pattern in (
        (sg["anchor_q"], g.question),
        (sg["opt_valid"], g.option),
        (sg["ans"], g.answer),
        (sg["exp"], g.explanation),
    ):
        rows = np.flatnonzero(mask)
        if len(rows):
            pieces.append(
                _rem(pc.take(lines_kept, pa.array(rows)), pattern))
            src_idx[rows] = base + np.arange(len(rows))
            base += len(rows)

    blank = sg["hot_valid"] | sg["img"]
    if blank.any():
        pieces.append(pa.array([""], pa.string()))
        src_idx[blank] = base

    return pc.take(
        pa.concat_arrays([_combine(p) for p in pieces]),
        pa.array(src_idx),
    )


def _joined_groups(qid, sec, oi, pos, frag):
    """Stable-group text pieces by (qid, sec, oi) in row order; join
    with single spaces arrow-side. Returns (g_qid, g_sec, g_oi, joined),
    lexicographically sorted by (qid, sec, oi)."""
    if len(qid) == 0:
        return (np.zeros(0, np.int64), np.zeros(0, np.int8),
                np.zeros(0, np.int64), pa.array([], pa.string()))
    perm = np.lexsort((pos, oi, sec, qid))
    sq, ss, so = qid[perm], sec[perm], oi[perm]
    newg = np.ones(len(perm), dtype=bool)
    if len(perm) > 1:
        newg[1:] = (sq[1:] != sq[:-1]) | (ss[1:] != ss[:-1]) | (
            so[1:] != so[:-1])
    starts = np.flatnonzero(newg)
    offsets = np.append(starts, len(perm)).astype(np.int32)
    lst = pa.ListArray.from_arrays(pa.array(offsets),
                                   pc.take(frag, pa.array(perm)))
    return sq[starts], ss[starts], so[starts], pc.binary_join(lst, " ")


def _combine(arr):
    return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr


def _core(batch: pa.RecordBatch):
    """Shared front half: explode, classify, segment, fragment, join."""
    doc_ids, vec = _explode_batch(batch)
    cl = _classify(vec["lines"], vec["img"], vec["g"])
    sg = _segment(vec, cl)
    if sg is None:
        return None
    frag = _fragments(vec, cl, sg)

    nonempty = _np(pc.not_equal(frag, ""))
    tmask = ~sg["img"] & nonempty & ~sg["hot_valid"]
    ti = np.flatnonzero(tmask)
    g_qid, g_sec, g_oi, joined = _joined_groups(
        sg["qid"][ti], sg["sec"][ti],
        np.where(sg["sec"][ti] == 1, sg["oi"][ti], 0), ti,
        pc.take(frag, pa.array(ti)),
    )

    # F9: scrub boilerplate explanations. The joined text is made of
    # the slice's lines, so the slice's grammar form is exact for it.
    if len(g_qid):
        em = g_sec == 3
        if em.any():
            badg = _m(joined, vec["g"].noise)
            keepg = ~(em & badg)
            if not keepg.all():
                g_qid, g_sec, g_oi = (g_qid[keepg], g_sec[keepg],
                                      g_oi[keepg])
                joined = pc.take(joined,
                                 pa.array(np.flatnonzero(keepg)))

    state = {
        "doc_ids": doc_ids, "vec": vec, "cl": cl, "sg": sg,
        "g_qid": g_qid, "g_sec": g_sec, "g_oi": g_oi, "joined": joined,
    }
    return state


# ── per-question facts and options (computed once per state) ─────────────


def _per_state(fn):
    """Compute ``fn(state)`` once per kernel state: the commit emitter
    runs the final and flat emitters on one state, and they share it."""

    @functools.wraps(fn)
    def get(state):
        if fn.__name__ not in state:
            state[fn.__name__] = fn(state)
        return state[fn.__name__]

    return get


def _per_question_text(state, sec_code: int):
    """length-nq arrow string array: the joined text of one section."""
    sg = state["sg"]
    m = state["g_sec"] == sec_code
    idx = np.full(sg["nq"], -1, dtype=np.int64)
    idx[state["g_qid"][m]] = np.flatnonzero(m)
    return pc.take(state["joined"],
                   pa.array(idx, mask=idx < 0)).fill_null("")


def _doc_seq(sg):
    doc_of_q = sg["doc_of_q"]
    q_start = _start_index(_run_starts(doc_of_q))
    return (np.arange(sg["nq"]) - q_start).astype(np.int32)


#: anomaly kinds in the reference's emit order (state_machine.py:386-414)
_ANOM_TYPES = pa.array(
    ["missing_question_text", "missing_answer", "orphan_image"]
)
_ANOM_SEV = np.array([80, 60, 30], dtype=np.int32)
_ANOM_MSG = pa.array(
    [
        "Question has no text content",
        "Question has no answer section",
        "Question body contains only images",
    ]
)


@_per_state
def _facts(state) -> dict:
    """Per-question facts (finalize.py / dkernel._finalize_row rules):
    the question, answer and (post-F9) explanation texts, whether each
    is non-empty, the hotspot flag, the question-image count, the 3×nq
    anomaly mask (rows in :data:`_ANOM_TYPES` order) and the score."""
    sg = state["sg"]
    qid, nq = sg["qid"], sg["nq"]
    qtext, anstext, expltext = (_per_question_text(state, c)
                                for c in (0, 2, 3))
    has_q = _np(pc.not_equal(qtext, ""))
    has_a = _np(pc.not_equal(anstext, ""))
    hot = np.zeros(nq, dtype=bool)
    np.logical_or.at(hot, qid[sg["hot_valid"]], True)
    qimg = np.bincount(qid[sg["img"] & (sg["sec"] == 0)], minlength=nq)
    anom = np.stack([~has_q, ~hot & ~has_a, ~has_q & (qimg > 0)])
    return {
        "qtext": qtext, "anstext": anstext, "expltext": expltext,
        "has_q": has_q, "has_a": has_a,
        "has_e": _np(pc.not_equal(expltext, "")),
        "hot": hot, "anom": anom,
        "score": np.minimum(
            100, (anom * _ANOM_SEV[:, None].astype(np.int64)).sum(axis=0)
        ).astype(np.int32),
    }


@_per_state
def _options(state) -> dict:
    """The valid option anchors in (qid, oi) order: their question and
    index, key, joined text, image count, the rows of their images and
    the F8 ghost mask (no text and no image)."""
    sg, cl = state["sg"], state["cl"]
    g_qid, g_sec, g_oi = state["g_qid"], state["g_sec"], state["g_oi"]
    qid, img, sec, oi = sg["qid"], sg["img"], sg["sec"], sg["oi"]

    ovi = np.flatnonzero(sg["opt_valid"])
    opt_qid, opt_oi = qid[ovi], oi[ovi]
    key = pc.take(
        cl["okey_vals"],
        pa.array(np.searchsorted(cl["okey_rows"], sg["ki"][ovi])),
    )

    om = g_sec == 1
    keymul = np.int64(
        max(int(g_oi[om].max(initial=0)), int(opt_oi.max(initial=0))) + 2
    )
    want = opt_qid * keymul + opt_oi
    okeys_sorted = g_qid[om] * keymul + g_oi[om]
    oidx_global = np.flatnonzero(om)
    if len(okeys_sorted):
        pos = np.searchsorted(okeys_sorted, want)
        found = (pos < len(okeys_sorted)) & (
            np.take(okeys_sorted, pos, mode="clip") == want)
        lookup = np.where(found,
                          np.take(oidx_global, pos, mode="clip"), -1)
    else:
        lookup = np.full(len(want), -1, dtype=np.int64)
    text = pc.take(state["joined"],
                   pa.array(lookup, mask=lookup < 0)).fill_null("")

    # option images: sec-1 image rows are sorted by (qid, oi) — the
    # same order as the anchors — so per-anchor runs are contiguous
    img_rows = np.flatnonzero(img & (sec == 1))
    img_keys = qid[img_rows] * keymul + oi[img_rows]
    n_img = (np.searchsorted(img_keys, want, side="right")
             - np.searchsorted(img_keys, want, side="left")).astype(np.int64)
    return {
        "qid": opt_qid, "oi": opt_oi, "key": key, "text": text,
        "n_img": n_img, "img_rows": img_rows,
        "ghost": _np(pc.equal(text, "")) & (n_img == 0),  # F8
    }


# ── flat emitter (§1.4 contract) ─────────────────────────────────────────


def _flat_components(state):
    """Shared back half of the flat emitters: the fully-ordered span
    arrays (text/option/image rows lexsorted to the §1.4 contract
    order) plus the permutation bookkeeping. Consumed by
    :func:`_emit_flat` (row-per-span) and :func:`_emit_doc_text`
    (row-per-document reassembly)."""
    sg = state["sg"]
    vec = state["vec"]
    g_qid, g_sec = state["g_qid"], state["g_sec"]
    qid, img, sec, oi = sg["qid"], sg["img"], sg["sec"], sg["oi"]

    # image pieces
    ii = np.flatnonzero(img)
    img_qid = qid[ii]
    img_sec = sec[ii]
    img_oi = np.where(img_sec == 1, oi[ii], 0)
    img_refs = pc.take(vec["ref_f"],
                       pa.array(vec["span"][sg["ki"]][ii])).fill_null("")

    # option rows: one per valid option anchor that is not a ghost
    op = _options(state)
    otext = op["text"]
    # "K. text" / bare "K."  (last join_element_wise arg = separator)
    opt_text = pc.if_else(
        pc.equal(otext, ""),
        pc.binary_join_element_wise(op["key"], pa.scalar("."), ""),
        pc.binary_join_element_wise(op["key"], pa.scalar(". "), otext,
                                    ""),
    )
    keepo = np.flatnonzero(~op["ghost"])
    opt_qid, opt_oi = op["qid"][keepo], op["oi"][keepo]
    opt_text = pc.take(opt_text, pa.array(keepo))

    # question/answer/explanation text rows
    tm = g_sec != 1
    txt_qid, txt_sec = g_qid[tm], g_sec[tm]
    txt_str = pc.take(state["joined"], pa.array(np.flatnonzero(tm)))

    n_txt, n_opt, n_img = len(txt_qid), len(opt_qid), len(img_qid)
    a_qid = np.concatenate([txt_qid, opt_qid, img_qid])
    a_sec = np.concatenate(
        [txt_sec, np.full(n_opt, 1, np.int8), img_sec])
    a_oi = np.concatenate(
        [np.zeros(n_txt, np.int64), opt_oi, img_oi])
    a_kind = np.concatenate([np.zeros(n_txt + n_opt, np.int8),
                             np.ones(n_img, np.int8)])
    a_tie = np.concatenate([np.zeros(n_txt + n_opt, np.int64),
                            ii.astype(np.int64)])
    a_text = pa.concat_arrays([
        _combine(txt_str), _combine(opt_text),
        pa.array([""] * n_img, pa.string()),
    ])
    a_media = pa.concat_arrays([
        pa.array([""] * (n_txt + n_opt), pa.string()),
        _combine(img_refs),
    ])

    perm = np.lexsort((a_tie, a_kind, a_oi, a_sec, a_qid))
    s_qid = a_qid[perm]
    order = np.arange(len(perm)) - _start_index(_run_starts(s_qid))
    return sg, a_sec, a_kind, a_text, a_media, perm, s_qid, order


def _emit_flat(state) -> pa.RecordBatch:
    (sg, a_sec, a_kind, a_text, a_media, perm, s_qid,
     order) = _flat_components(state)
    seq_of_q = _doc_seq(sg)
    permarr = pa.array(perm)

    return pa.RecordBatch.from_arrays(
        [
            pc.take(state["doc_ids"], pa.array(sg["doc_of_q"][s_qid])),
            pa.array(seq_of_q[s_qid]),
            pa.array(sg["qnum_of_q"][s_qid]),
            pc.take(_SECTIONS, pa.array(a_sec[perm].astype(np.int32))),
            pc.take(_KINDS, pa.array(a_kind[perm].astype(np.int32))),
            pc.take(a_text, permarr),
            pc.take(a_media, permarr),
            pa.array(order.astype(np.int32)),
        ],
        schema=FLAT_ARROW_SCHEMA,
    )


def _emit_doc_text(state) -> pa.RecordBatch:
    """Packed documents → ONE row per document: its text-kind flat
    spans joined with " " in the canonical (seq, order) sequence —
    the exam-reassembly projection, aggregated INSIDE the kernel.

    The kernel already has every document's spans colocated and
    sorted (the lexsort in :func:`_flat_components`), so emitting the
    per-doc reassembly here makes the e2e pipeline's stage 1 a pure
    map — where reassembling downstream pays a groupBy(collect_list)
    shuffle of rows the kernel just had in hand (VERDICT r6 item 2).
    Row-equal to ``flat_spans.where(kind='text').groupBy(doc_id)``
    with array_sort(struct(seq, order, text)): (seq, order) is unique
    within a document, so the kernel's (doc, seq, order) sequence IS
    that sort order. Documents with zero text spans emit no row
    (groupBy-after-filter semantics)."""
    (sg, _a_sec, a_kind, a_text, _a_media, perm, s_qid,
     _order) = _flat_components(state)
    tmask = a_kind[perm] == 0
    sel = perm[tmask]
    texts = _combine(pc.take(a_text, pa.array(sel)))
    docs_per_row = sg["doc_of_q"][s_qid[tmask]]
    starts = np.flatnonzero(_run_starts(docs_per_row))
    offsets = np.append(starts, len(docs_per_row)).astype(np.int32)
    joined = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets), texts),
        pa.scalar(" "),
    )
    return pa.RecordBatch.from_arrays(
        [
            pc.take(state["doc_ids"],
                    pa.array(docs_per_row[starts].astype(np.int64))),
            _combine(joined),
            pa.array(np.diff(offsets).astype(np.int64)),
        ],
        schema=DOC_TEXT_ARROW_SCHEMA,
    )


# ── question-scalars emitter (flagship query projection) ────────────────


def _question_keys(state) -> list:
    """The leading QUESTION_FINAL columns (doc_id, seq,
    question_number, question_type), one row per question."""
    sg = state["sg"]
    return [
        pc.take(state["doc_ids"], pa.array(sg["doc_of_q"])),
        pa.array(_doc_seq(sg)),
        pa.array(sg["qnum_of_q"]),
        pc.if_else(pa.array(_facts(state)["hot"]), pa.scalar("hotspot"),
                   pa.scalar("mcq")),
    ]


def _emit_question_scalars(state) -> pa.RecordBatch:
    """Per-question scalar columns (doc_id, seq, question_number,
    question_type, question_text, answer_text, anomaly_score) — the
    flagship query's projection, straight from the vector state."""
    f = _facts(state)
    return pa.RecordBatch.from_arrays(
        _question_keys(state)
        + [_combine(f["qtext"]), _combine(f["anstext"]),
           pa.array(f["score"])],
        schema=QUESTION_SCALARS_ARROW_SCHEMA,
    )


# ── full-entity emitter (QUESTION_FINAL, nested arrow output) ───────────


def _list_of(values, counts) -> pa.ListArray:
    offsets = np.concatenate(
        ([0], np.cumsum(counts, dtype=np.int64))
    ).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), _combine(values))


def _emit_final(state) -> pa.RecordBatch:
    """QUESTION_FINAL entities straight from the vector state —
    finalize rules (F8/F9/J5, anomaly stamping, computed fields;
    operators/finalize.py) applied with numpy masks + arrow assembly.
    Only answer-key parsing runs per-question Python (\\b dialect)."""
    sg, vec, f = state["sg"], state["vec"], _facts(state)
    qid, img, sec = sg["qid"], sg["img"], sg["sec"]
    nq = sg["nq"]
    anstext = f["anstext"]

    # pages: anchor page opens page_start; only images advance page_end
    # (reference state_machine.py:366 — text never extends it)
    row_span = vec["span"][sg["ki"]]
    row_page = vec["span_page"][row_span]
    page_start = row_page[np.flatnonzero(sg["anchor_q"])].astype(np.int64)
    page_end = page_start.copy()
    ii = np.flatnonzero(img)
    if len(ii):
        np.maximum.at(page_end, qid[ii], row_page[ii])

    def sec_imgs(code):
        rows = np.flatnonzero(img & (sec == code))
        refs = pc.take(vec["ref_f"], pa.array(row_span[rows])).fill_null("")
        return _list_of(refs, np.bincount(qid[rows], minlength=nq))

    q_imgs, a_imgs, e_imgs = sec_imgs(0), sec_imgs(2), sec_imgs(3)

    # ── options: anchors + text + images, F8 ghosts dropped, J5 ──
    op = _options(state)
    opt_qid, opt_key, otext = op["qid"], op["key"], op["text"]
    opt_img_refs = pc.take(
        vec["ref_f"], pa.array(row_span[op["img_rows"]])
    ).fill_null("")
    keep = ~op["ghost"]  # ghosts carry no images, so the values stay intact

    # J5 correct marking (key ∈ valid always, so the reference's
    # intersect-then-contains reduces to membership in the raw key
    # set). Vectorized for ASCII answers — RE2's \b is bit-identical to
    # Python's on pure-ASCII text, so the comma rule is one
    # \bL\b match and the no-comma rule one substring test per distinct
    # key letter; only non-ASCII answers run the python \b-exact parser.
    marked = ~f["hot"] & f["has_a"]
    jrows = np.flatnonzero(marked[opt_qid] & keep)
    correct = np.zeros(len(opt_qid), dtype=bool)
    if len(jrows):
        ja = pa.array(jrows)
        ans_up = pc.utf8_upper(pc.take(anstext, pa.array(opt_qid[jrows])))
        keys_j = pc.take(opt_key, ja).to_pylist()
        is_ascii = _np(pc.string_is_ascii(ans_up))
        has_comma = _np(pc.match_substring(ans_up, ","))
        cj = np.zeros(len(jrows), dtype=bool)
        for letter in set(keys_j):
            if not letter:
                continue
            krows = np.array(
                [i for i, k in enumerate(keys_j) if k == letter],
                dtype=np.int64,
            )
            asc_rows = krows[is_ascii[krows]]
            if len(asc_rows):
                sub = pc.take(ans_up, pa.array(asc_rows))
                hit = np.where(
                    has_comma[asc_rows],
                    _m(sub, f"\\b{letter}\\b"),
                    _np(pc.match_substring(sub, letter)
                        .fill_null(False)),
                )
                cj[asc_rows] = hit
        na_rows = np.flatnonzero(~is_ascii)
        if len(na_rows):
            ans_py = pc.take(ans_up, pa.array(na_rows)).to_pylist()
            for i, r in zip(na_rows, range(len(na_rows))):
                cj[i] = keys_j[i] in A.answer_keys(ans_py[r])
        correct[jrows] = cj

    ki_keep = np.flatnonzero(keep)
    opt_struct = pa.StructArray.from_arrays(
        [
            _combine(pc.take(opt_key, pa.array(ki_keep))),
            _combine(pc.take(otext, pa.array(ki_keep))),
            pa.array(correct[ki_keep]),
            _combine(_list_of(opt_img_refs, op["n_img"])
                     .take(pa.array(ki_keep))),
        ],
        names=schema.OPTION.names,
    )
    options = _list_of(
        opt_struct, np.bincount(opt_qid[ki_keep], minlength=nq)
    )

    # ── anomalies: the facts' mask, question-major ──
    anom = f["anom"]
    codes = np.tile(np.arange(3), nq)[anom.T.ravel()]
    ca = pa.array(codes)
    ctx = pa.array(
        [{"section": "question"} if c == 2 else None for c in codes],
        pa.map_(pa.string(), pa.string()),
    )
    anom_struct = pa.StructArray.from_arrays(
        [
            _combine(pc.take(_ANOM_TYPES, ca)),
            pa.array(_ANOM_SEV[codes]),
            _combine(pc.take(_ANOM_MSG, ca)),
            ctx,
        ],
        names=schema.ANOMALY.names,
    )
    anomalies = _list_of(anom_struct, anom.sum(axis=0))
    img_total = np.bincount(qid[ii], minlength=nq).astype(np.int32)

    return pa.RecordBatch.from_arrays(
        _question_keys(state)
        + [
            _combine(f["qtext"]),
            q_imgs,
            options,
            _combine(anstext),
            a_imgs,
            _combine(f["expltext"]),
            e_imgs,
            pa.array(page_start.astype(np.int32)),
            pa.array(page_end.astype(np.int32)),
            anomalies,
            pa.array(f["score"]),
            pa.array(f["has_q"]),
            pa.array(f["has_a"]),
            pa.array(f["has_e"]),
            img_total,
        ],
        schema=QUESTION_FINAL_ARROW_SCHEMA,
    )


# ── bucket-commit emitter (plans/lineage.py) ────────────────────────────

#: ``output`` values of a commit batch: the partition each row is
#: written to
COMMIT_QUESTIONS = "questions"
COMMIT_FLAT_SPANS = "flat_spans"

def _emit_commit(state) -> pa.RecordBatch:
    """Both committed outputs of one parse as ONE batch: each part
    fills its own columns, nulls fill the rest, and ``output`` names
    the part."""
    parts = [(_emit_final(state), COMMIT_QUESTIONS),
             (_emit_flat(state), COMMIT_FLAT_SPANS)]
    cols = [
        pa.concat_arrays([
            _combine(b.column(f.name)) if f.name in b.schema.names
            else pa.nulls(len(b), f.type)
            for b, _ in parts
        ])
        for f in COMMIT_ARROW_SCHEMA
        if f.name != "output"
    ]
    cols.append(pa.concat_arrays(
        [pa.array([o] * len(b), pa.string()) for b, o in parts]))
    return pa.RecordBatch.from_arrays(cols, schema=COMMIT_ARROW_SCHEMA)


# ── validation emitter (per-doc ValidationReport) ────────────────────────

_BD_KEYS = pa.array(  # breakdown keys in sorted() order
    ["missing_answer", "missing_question_text", "orphan_image"]
)


def _emit_validation(state) -> pa.RecordBatch:
    """Per-doc ValidationReport (reference validator.py:39-158) from
    the vector state: scalar fields via segmented reduceat/bincount,
    list fields via ListArray offsets over doc-sorted values; python
    touches only the rare gap-list docs and the Decimal success-rate
    rounding (exact HALF_UP, dkernel._round_half_up2). Row-equality
    with operators/validate.validation_report and the pandas
    validate_docs kernel is asserted by tests + differential fuzz."""
    from .dkernel import _round_half_up2

    sg, f = state["sg"], _facts(state)
    nq = sg["nq"]
    doc_of_q = sg["doc_of_q"]
    qnum = sg["qnum_of_q"]
    structured = f["has_q"] & f["has_a"]

    starts = np.flatnonzero(_run_starts(doc_of_q))
    nd = len(starts)
    didx = np.cumsum(_run_starts(doc_of_q)) - 1  # doc index per question

    def seg_sum(mask: np.ndarray) -> np.ndarray:
        return np.add.reduceat(mask.astype(np.int64), starts, axis=-1)

    total = seg_sum(np.ones(nq, dtype=bool))
    n_struct = seg_sum(structured)
    anom_n = seg_sum(f["anom"])  # (3, nd), rows in _ANOM_TYPES order

    def num_list(mask: np.ndarray) -> pa.ListArray:
        # qnum/didx are doc-sorted, so masked values group contiguously
        return _list_of(pa.array(qnum[mask]),
                        np.bincount(didx[mask], minlength=nd))

    miss_a = num_list(~f["has_a"])
    miss_e = num_list(~f["has_e"])
    failed = num_list(~structured)

    # duplicates: runs of equal (doc, qnum) in sorted order; a run of
    # length > 1 contributes its value once, per-doc sorted ascending
    order = np.lexsort((qnum, didx))
    sd, sq = didx[order], qnum[order]
    run_start = np.ones(nq, dtype=bool)
    if nq > 1:
        run_start[1:] = (sd[1:] != sd[:-1]) | (sq[1:] != sq[:-1])
    rs = np.flatnonzero(run_start)
    run_len = np.diff(np.append(rs, nq))
    dup_rows = rs[run_len > 1]
    dups = _list_of(pa.array(sq[dup_rows]),
                    np.bincount(sd[dup_rows], minlength=nd))

    # missing numbers: vector min/max + sane guard; the actual gap
    # enumeration runs python-side only for docs that HAVE gaps
    mn = np.minimum.reduceat(qnum, starts)
    mx = np.maximum.reduceat(qnum, starts)
    sane = (mx - mn) <= 1_000_000
    n_distinct = np.bincount(sd[rs], minlength=nd)
    gap_docs = sane & ((mx - mn + 1) != n_distinct)
    missing_py: list = [[] if s else None for s in sane]
    for d in np.flatnonzero(gap_docs):
        lo, hi = int(mn[d]), int(mx[d])
        present = np.zeros(hi - lo + 1, dtype=bool)
        s, e = starts[d], starts[d] + total[d]
        present[qnum[s:e] - lo] = True
        missing_py[d] = (np.flatnonzero(~present) + lo).tolist()
    missing = pa.array(missing_py, pa.list_(pa.int64()))

    # anomaly_breakdown map, keys in sorted() order, zero counts absent
    counts3 = anom_n[[1, 0, 2]]  # (3, nd), _BD_KEYS order
    present3 = counts3 > 0
    codes = np.tile(np.arange(3), nd)[present3.T.ravel()]
    breakdown = pa.MapArray.from_arrays(
        pa.array(np.concatenate(
            ([0], np.cumsum(present3.sum(axis=0)))).astype(np.int32)),
        pc.take(_BD_KEYS, pa.array(codes)),
        pa.array(counts3.T.ravel()[present3.T.ravel()].astype(np.int32)),
    )

    rate = pa.array([
        _round_half_up2(int(s) / int(t) * 100) if t else 0.0
        for s, t in zip(n_struct, total)
    ], pa.float64())

    return pa.RecordBatch.from_arrays(
        [
            pc.take(state["doc_ids"], pa.array(doc_of_q[starts])),
            pa.array(total.astype(np.int32)),
            pa.array(n_struct.astype(np.int32)),
            miss_a,
            miss_e,
            failed,
            pa.array(anom_n[2].astype(np.int32)),
            missing,
            pa.array(~sane),
            dups,
            breakdown,
            rate,
        ],
        schema=VALIDATION_ARROW_SCHEMA,
    )


# ── mapInArrow entrypoints ───────────────────────────────────────────────

#: docs per kernel slice. Spark hands Arrow batches of up to
#: maxRecordsPerBatch (default 10k) PACKED documents — megabytes of
#: text that every vector pass then streams through DRAM. Re-slicing to
#: ~768 docs keeps each pass's working set near-cache (measured: 35%
#: faster single-core on the bench corpus, and it removes most of the
#: memory-bandwidth contention between workers at high parallelism).
#: Output-identical by construction: documents never span batches.
_SLICE_DOCS = 768


def _slices(batch: pa.RecordBatch):
    if batch.num_rows <= _SLICE_DOCS:
        yield batch
        return
    for i in range(0, batch.num_rows, _SLICE_DOCS):
        yield batch.slice(i, _SLICE_DOCS)


def _entry(batches, emit, schema_):
    drop_zip_finders()
    yielded = False
    for batch in (s for b in batches for s in _slices(b)):
        state = _core(batch)
        if state is not None:
            out = emit(state)
            if len(out):
                yielded = True
                yield out
    if not yielded:
        yield pa.RecordBatch.from_arrays(
            [pa.array([], f.type) for f in schema_],
            schema=schema_,
        )


def parse_docs_flat_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint: packed documents → canonical flat spans
    (schema.FLAT_SPAN_SEQ), strings Arrow-resident end to end."""
    yield from _entry(batches, _emit_flat, FLAT_ARROW_SCHEMA)


def doc_text_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint: packed documents → one reassembled text
    per document (doc_id, text, n_text_spans) — zero-Exchange exam
    reassembly (the groupBy(collect_list) it replaces re-shuffled rows
    the kernel already had colocated)."""
    yield from _entry(batches, _emit_doc_text, DOC_TEXT_ARROW_SCHEMA)


def question_scalars_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint: packed documents → per-question scalar
    columns (the flagship extract_questions projection)."""
    yield from _entry(batches, _emit_question_scalars,
                      QUESTION_SCALARS_ARROW_SCHEMA)


def parse_docs_final_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint: packed documents → finalized QUESTION_FINAL
    entities (nested options/images/anomalies built arrow-side)."""
    yield from _entry(batches, _emit_final, QUESTION_FINAL_ARROW_SCHEMA)


def parse_docs_commit_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint for bucket commits: ONE parse per slice
    emits both committed outputs, finalized questions and flat spans,
    as one union-shaped batch (schema.EXTRACTION_COMMIT) whose
    ``output`` column is the partition each row is written to."""
    yield from _entry(batches, _emit_commit, COMMIT_ARROW_SCHEMA)


def validate_docs_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint: packed documents → per-doc
    ValidationReport rows in the same pass as the vectorized parse."""
    yield from _entry(batches, _emit_validation, VALIDATION_ARROW_SCHEMA)
