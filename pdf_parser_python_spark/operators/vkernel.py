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

Dialect safety: RE2's ``\\s``/``\\d``/``\\b`` are ASCII-only while
Python's are Unicode-aware. ``\\s``/``\\S`` are rewritten to the exact
29-char class Python treats as whitespace (anchors.PY_WS_CHARS — NBSP,
NEL, Zs spaces and all; verified char-for-char over all of Unicode in
tests), so ordinary non-ASCII text — including the unicode-whitespace
torture real PDFs carry — stays on the vectorized path. Only documents
containing a character that genuinely diverges between the dialects
fall back to the row-exact Python kernel (:mod:`.dkernel`):
non-ASCII decimal digits (Python ``\\d``/int() accept them), İ/ı
(Python case-folds them into ASCII i/I, RE2 does not), or a ``\\b``
noise-anchor word followed by a non-ASCII word char. Bit-equality with
the reference FSM is never traded for speed; tests assert all engines
agree and the fuzz suite ties this path to the live reference.

Reference semantics: /root/reference/parser/state_machine.py:133-366
(segmentation), crud.py:633-726 (flatten contract).
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..functions import anchors as A
from ..zipcache import drop_zip_finders

# ── RE2 forms of the shared grammar ──────────────────────────────────────
# Python \s (unicode) as explicit RE2 class innards: the exact 29-char
# set from anchors.PY_WS_CHARS (equality with re \s and str.isspace()
# over all of Unicode is asserted by tests/test_engines.py).
_WS_IN = "".join(f"\\x{{{ord(c):x}}}" for c in A.PY_WS_CHARS)

#: chars/contexts where Python `re` and RE2 genuinely diverge — any
#: span matching this routes its document to the Python kernel:
#: İ/ı case-fold into ASCII only in Python; a \b-guarded noise word
#: followed by a non-ASCII word char breaks only RE2's ASCII \b.
#: (Non-ASCII digits are detected separately via \p{Nd} counts.)
_R_RISKY = (
    "[İı]"
    "|(?i:choosing|your|materials|at|questions|certified|free)"
    "[^\\x00-\\x7f]"
)


def _re2(pattern: str, ci: bool) -> str:
    # RE2 has no nested classes, so \s INSIDE [...] (e.g. [\s.:],
    # [\s,]) must expand to the raw innards, not a bracketed class
    import re as _pyre

    p = _pyre.sub(
        r"\[(?:[^\]\\]|\\.)*\]",
        lambda m: m.group(0).replace("\\s", _WS_IN),
        pattern,
    )
    p = p.replace("\\S", f"[^{_WS_IN}]")
    p = p.replace("\\s", f"[{_WS_IN}]")
    return ("(?i)" + p) if ci else p


_R_QUESTION = _re2(A.QUESTION, True).replace("(\\d+)", "(?P<q>\\d+)")
_R_OPTION = _re2(A.OPTION, False).replace("([A-Za-z])", "(?P<k>[A-Za-z])")
_R_ANSWER = _re2(A.ANSWER, True)
_R_EXPLANATION = _re2(A.EXPLANATION, True)
_R_HOTSPOT = _re2(A.HOTSPOT, True)
_R_NOISE_CI = _re2(A.NOISE_CI, True)
_R_NOISE_CS = _re2(A.NOISE_CS, False)
#: both noise alternations in ONE pass (RE2 scoped (?i:) keeps the
#: separator/URL rules case-sensitive) — used by the F9 group scrub
_R_NOISE = f"(?:(?i:{_re2(A.NOISE_CI, False)})|{_re2(A.NOISE_CS, False)})"
_R_COVER = _re2(A.COVER_NOISE, False)

#: NOTE (measured dead end, do not revisit): folding the whole grammar
#: into ONE ordered-alternation extract_regex pass (dkernel._COMBINED_NOISE
#: style) is ~2× SLOWER than the independent match passes above —
#: capture groups in a large alternation push RE2 off its DFA fast
#: path into per-line submatch NFA. Independent group-free
#: match_substring_regex passes each stay on the DFA; group extraction
#: then runs only on the tiny anchor subsets.

#: Python str.strip() whitespace — the full unicode set (utf8_trim
#: is codepoint-aware, so the trim matches str.strip() exactly)
_STRIP_CHARS = A.PY_WS_CHARS

_SECTIONS = pa.array(["question", "options", "answer", "explanation"])
_KINDS = pa.array(["text", "image"])

FLAT_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("seq", pa.int32()),
        ("question_number", pa.int64()),
        ("section", pa.string()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("order", pa.int32()),
    ]
)

QUESTION_SCALARS_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("seq", pa.int32()),
        ("question_number", pa.int64()),
        ("question_type", pa.string()),
        ("question_text", pa.string()),
        ("answer_text", pa.string()),
        ("anomaly_score", pa.int32()),
    ]
)


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
    uses plain int(), state_machine.py:217)."""
    stripped = pc.utf8_ltrim(qs, characters="0")
    big = _np(pc.greater(pc.utf8_length(stripped), 18).fill_null(False))
    safe = pc.if_else(
        pa.array(big),
        pa.scalar("0"),
        pc.if_else(pc.equal(stripped, ""), pa.scalar("0"), stripped),
    )
    vals = _np(pc.cast(safe, pa.int64()))
    return np.where(big, A.QNUM_CAP, vals)


# ── batch explosion + ascii routing ──────────────────────────────────────


def _explode_batch(batch: pa.RecordBatch):
    """Packed batch → (doc_ids, vec row-stream dict, fallback doc list).

    Docs containing dialect-divergent chars (module docstring) go to
    the row-exact python kernel; everything else becomes one flat row
    stream: text lines (split on \\n, python-strip, empties dropped)
    interleaved with image rows, in span order.
    """
    doc_ids = batch.column("doc_id")
    kinds = batch.column("kinds")
    texts = batch.column("texts")
    refs = batch.column("refs")
    pages = batch.column("pages")

    span_parent = _np(pc.list_parent_indices(kinds)).astype(np.int64)
    kind_f = pc.list_flatten(kinds)
    text_f = pc.list_flatten(texts)
    ref_f = pc.list_flatten(refs)
    ndocs = len(doc_ids)

    is_img_span = _np(pc.equal(kind_f, "image").fill_null(False))

    ok = np.ones(ndocs, dtype=bool)
    if len(text_f):
        tf = text_f.fill_null("")
        na = np.flatnonzero(~_np(pc.string_is_ascii(tf)))
        if len(na):
            # risky checks only on the non-ASCII span subset
            sub = pc.take(tf, pa.array(na))
            risky = _m(sub, _R_RISKY) | (
                _np(pc.count_substring_regex(sub, pattern="[\\p{Nd}]"))
                > _np(pc.count_substring_regex(sub, pattern="[0-9]"))
            )
            ok[np.unique(span_parent[na[risky]])] = False

    fb_docs = []
    bad = np.flatnonzero(~ok)
    if len(bad):
        k_py = kinds.to_pylist()
        t_py = texts.to_pylist()
        r_py = refs.to_pylist()
        p_py = pages.to_pylist()
        for d in bad:
            pg = p_py[d]
            pg_list = (
                [1] * len(k_py[d])
                if pg is None
                else [1 if p is None else int(p) for p in pg]
            )
            fb_docs.append((int(d), k_py[d], t_py[d], r_py[d], pg_list))

    # image spans contribute exactly one row each: blank their text
    split_src = pc.if_else(pa.array(is_img_span), pa.scalar(""),
                           text_f.fill_null(""))
    lines_l = pc.split_pattern(split_src, "\n")
    line_parent = _np(pc.list_parent_indices(lines_l)).astype(np.int64)
    line_f = pc.utf8_trim(pc.list_flatten(lines_l),
                          characters=_STRIP_CHARS)

    row_doc = span_parent[line_parent]
    row_img = is_img_span[line_parent]
    nonempty = _np(pc.not_equal(line_f, ""))
    keep = ok[row_doc] & (row_img | nonempty)

    # span-indexed page numbers (packed_projection emits a real list per
    # row or an all-null column when the source has no page field)
    n_spans_total = len(kind_f)
    span_page = np.ones(n_spans_total, dtype=np.int64)
    if pages.null_count == 0 and len(pages):
        pf = pc.list_flatten(pages).fill_null(1)
        if len(pf) == n_spans_total:
            span_page = _np(pf).astype(np.int64)

    ki = np.flatnonzero(keep)
    vec = {
        "doc": row_doc[ki],
        "img": row_img[ki],
        "span": line_parent[ki],
        "lines": pc.take(line_f, pa.array(ki)),
        "ref_f": ref_f,
        "span_page": span_page,
        "ndocs": ndocs,
    }
    return doc_ids, vec, fb_docs


# ── classification + segmentation ────────────────────────────────────────


def _rem(lines: pa.Array, pattern: str) -> pa.Array:
    """Anchor remainder: line minus the ^-anchored prefix, py-stripped
    (at most one match → plain replace-all)."""
    return pc.utf8_trim(
        pc.replace_substring_regex(lines, pattern=pattern,
                                   replacement=""),
        characters=_STRIP_CHARS,
    ).fill_null("")


def _classify(lines: pa.Array, img: np.ndarray) -> dict:
    """Full-corpus passes only where every line genuinely needs one;
    solo/cover/qnum run on the question-anchor subset (the per-class
    remainders are computed later on even smaller subsets)."""
    n = len(img)
    noise = _m(lines, _R_NOISE)  # CI+CS alternations, one pass
    q_hit = _m(lines, _R_QUESTION)
    hot_m = _m(lines, _R_HOTSPOT)
    okey_m = _m(lines, _R_OPTION)
    ans_m = _m(lines, _R_ANSWER)
    exp_m = _m(lines, _R_EXPLANATION)

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
        rem_q_sub = _rem(lines_q, _R_QUESTION)
        solo_sub = (
            ~_np(pc.match_substring(lines_q, ":").fill_null(False))
            & _np(pc.equal(rem_q_sub, ""))
        )
        solo[qi] = solo_sub
        cover[qi] = _m(lines_q, _R_COVER)
        qnum_sub = _qnum_i64(
            pc.struct_field(
                pc.extract_regex(lines_q, pattern=_R_QUESTION), "q"
            ).fill_null("0")
        )
    okey_rows = np.flatnonzero(okey)
    okey_vals = pc.utf8_upper(
        pc.struct_field(
            pc.extract_regex(
                pc.take(lines, pa.array(okey_rows)), pattern=_R_OPTION
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

    pieces = [lines_kept]
    src_idx = np.arange(m, dtype=np.int64)  # default: the full line
    base = m

    for mask, pattern in (
        (sg["anchor_q"], _R_QUESTION),
        (sg["opt_valid"], _R_OPTION),
        (sg["ans"], _R_ANSWER),
        (sg["exp"], _R_EXPLANATION),
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
    doc_ids, vec, fb_docs = _explode_batch(batch)
    cl = _classify(vec["lines"], vec["img"])
    sg = _segment(vec, cl)
    if sg is None:
        return doc_ids, None, fb_docs
    frag = _fragments(vec, cl, sg)

    nonempty = _np(pc.not_equal(frag, ""))
    tmask = ~sg["img"] & nonempty & ~sg["hot_valid"]
    ti = np.flatnonzero(tmask)
    g_qid, g_sec, g_oi, joined = _joined_groups(
        sg["qid"][ti], sg["sec"][ti],
        np.where(sg["sec"][ti] == 1, sg["oi"][ti], 0), ti,
        pc.take(frag, pa.array(ti)),
    )

    # F9: scrub boilerplate explanations. Safe on the vectorized path
    # even for non-ASCII text (NBSP/accents/Zs spaces stay here): docs
    # whose chars make RE2 diverge from Python re (İ/ı case folds,
    # non-ASCII digits, \b-relevant word chars) were already routed to
    # the Python kernel by _explode_batch's dialect-divergence check.
    if len(g_qid):
        em = g_sec == 3
        if em.any():
            badg = _m(joined, _R_NOISE_CI) | _m(joined, _R_NOISE_CS)
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
    return doc_ids, state, fb_docs


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


# ── flat emitter (§1.4 contract) ─────────────────────────────────────────


def _flat_components(state):
    """Shared back half of the flat emitters: the fully-ordered span
    arrays (text/option/image rows lexsorted to the §1.4 contract
    order) plus the permutation bookkeeping. Consumed by
    :func:`_emit_flat` (row-per-span) and :func:`_emit_doc_text`
    (row-per-document reassembly)."""
    sg = state["sg"]
    vec = state["vec"]
    g_qid, g_sec, g_oi = state["g_qid"], state["g_sec"], state["g_oi"]
    joined = state["joined"]
    qid, img, sec, oi = sg["qid"], sg["img"], sg["sec"], sg["oi"]
    nq = sg["nq"]

    # image pieces
    ii = np.flatnonzero(img)
    img_qid = qid[ii]
    img_sec = sec[ii]
    img_oi = np.where(img_sec == 1, oi[ii], 0)
    img_refs = pc.take(vec["ref_f"],
                       pa.array(vec["span"][sg["ki"]][ii])).fill_null("")

    # option rows: one per valid option anchor, in (qid, oi) order
    ovi = np.flatnonzero(sg["opt_valid"])
    opt_qid = qid[ovi]
    opt_oi = oi[ovi]
    opt_key = pc.take(
        state["cl"]["okey_vals"],
        pa.array(np.searchsorted(state["cl"]["okey_rows"],
                                 sg["ki"][ovi])),
    )

    om = g_sec == 1
    keymul = np.int64(
        max(int(g_oi.max(initial=0)), int(opt_oi.max(initial=0))) + 2
    )
    okeys_sorted = g_qid[om] * keymul + g_oi[om]
    want = opt_qid * keymul + opt_oi
    oidx_global = np.flatnonzero(om)
    if len(okeys_sorted):
        pos_in = np.searchsorted(okeys_sorted, want)
        found = (pos_in < len(okeys_sorted)) & (
            np.take(okeys_sorted, pos_in, mode="clip") == want)
        lookup = np.where(found,
                          np.take(oidx_global, pos_in, mode="clip"), -1)
    else:
        lookup = np.full(len(want), -1, dtype=np.int64)
    otext = pc.take(joined,
                    pa.array(lookup, mask=lookup < 0)).fill_null("")
    oimg_keys = img_qid[img_sec == 1] * keymul + img_oi[img_sec == 1]
    opt_has_img = np.isin(want, oimg_keys)
    ghost = _np(pc.equal(otext, "")) & ~opt_has_img  # F8

    # "K. text" / bare "K."  (last join_element_wise arg = separator)
    opt_text = pc.if_else(
        pc.equal(otext, ""),
        pc.binary_join_element_wise(opt_key, pa.scalar("."), ""),
        pc.binary_join_element_wise(opt_key, pa.scalar(". "), otext,
                                    ""),
    )
    keepo = np.flatnonzero(~ghost)
    opt_qid, opt_oi = opt_qid[keepo], opt_oi[keepo]
    opt_text = pc.take(opt_text, pa.array(keepo))

    # question/answer/explanation text rows
    tm = g_sec != 1
    txt_qid, txt_sec = g_qid[tm], g_sec[tm]
    txt_str = pc.take(joined, pa.array(np.flatnonzero(tm)))

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


DOC_TEXT_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("text", pa.string()),
        ("n_text_spans", pa.int64()),
    ]
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


def _emit_question_scalars(state) -> pa.RecordBatch:
    """Per-question scalar columns (doc_id, seq, question_number,
    question_type, question_text, answer_text, anomaly_score) — the
    flagship query's projection, straight from the vector state
    (anomaly rules: finalize.py / dkernel._finalize_row)."""
    sg = state["sg"]
    nq = sg["nq"]
    qtext = _per_question_text(state, 0)
    anstext = _per_question_text(state, 2)

    hot = np.zeros(nq, dtype=bool)
    np.logical_or.at(hot, sg["qid"][sg["hot_valid"]], True)

    qimg = np.zeros(nq, dtype=np.int64)
    qi = sg["img"] & (sg["sec"] == 0)
    np.add.at(qimg, sg["qid"][qi], 1)

    has_q = _np(pc.not_equal(qtext, ""))
    has_a = _np(pc.not_equal(anstext, ""))
    score = (
        80 * (~has_q)
        + 60 * (~hot & ~has_a)
        + 30 * (~has_q & (qimg > 0))
    )
    score = np.minimum(score, 100).astype(np.int32)

    return pa.RecordBatch.from_arrays(
        [
            pc.take(state["doc_ids"], pa.array(sg["doc_of_q"])),
            pa.array(_doc_seq(sg)),
            pa.array(sg["qnum_of_q"]),
            pc.if_else(pa.array(hot), pa.scalar("hotspot"),
                       pa.scalar("mcq")),
            _combine(qtext),
            _combine(anstext),
            pa.array(score),
        ],
        schema=QUESTION_SCALARS_ARROW_SCHEMA,
    )


# ── full-entity emitter (QUESTION_FINAL, nested arrow output) ───────────

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

QUESTION_FINAL_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("seq", pa.int32()),
        ("question_number", pa.int64()),
        ("question_type", pa.string()),
        ("question_text", pa.string()),
        ("question_images", pa.list_(pa.string())),
        (
            "options",
            pa.list_(
                pa.struct(
                    [
                        ("key", pa.string()),
                        ("text", pa.string()),
                        ("is_correct", pa.bool_()),
                        ("images", pa.list_(pa.string())),
                    ]
                )
            ),
        ),
        ("answer_text", pa.string()),
        ("answer_images", pa.list_(pa.string())),
        ("explanation_text", pa.string()),
        ("explanation_images", pa.list_(pa.string())),
        ("page_start", pa.int32()),
        ("page_end", pa.int32()),
        (
            "anomalies",
            pa.list_(
                pa.struct(
                    [
                        ("type", pa.string()),
                        ("severity", pa.int32()),
                        ("message", pa.string()),
                        ("context", pa.map_(pa.string(), pa.string())),
                    ]
                )
            ),
        ),
        ("anomaly_score", pa.int32()),
        ("has_question_text", pa.bool_()),
        ("has_answer", pa.bool_()),
        ("has_explanation", pa.bool_()),
        ("image_count", pa.int32()),
    ]
)

_RE_KEY_BOUND = None  # compiled lazily (keeps import light)


def _answer_key_set(ans: str) -> frozenset:
    """Python twin of finalize._answer_keys membership (exact re \\b
    semantics — the one place RE2 cannot substitute, see finalize.py
    :30-42 / reference state_machine.py:437-452)."""
    global _RE_KEY_BOUND
    import re as _pyre

    if _RE_KEY_BOUND is None:
        _RE_KEY_BOUND = (
            _pyre.compile(r"\b([A-Z])\b"),
            _pyre.compile("([A-Z])"),
        )
    up = ans.strip().upper()
    if "," in up:
        return frozenset(
            m for part in up.split(",")
            for m in _RE_KEY_BOUND[0].findall(part)
        )
    return frozenset(_RE_KEY_BOUND[1].findall(up))


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
    sg, vec, cl = state["sg"], state["vec"], state["cl"]
    g_qid, g_sec, g_oi = state["g_qid"], state["g_sec"], state["g_oi"]
    joined = state["joined"]
    qid, img, sec, oi = sg["qid"], sg["img"], sg["sec"], sg["oi"]
    nq = sg["nq"]

    qtext = _per_question_text(state, 0)
    anstext = _per_question_text(state, 2)
    expltext = _per_question_text(state, 3)  # post-F9
    has_q = _np(pc.not_equal(qtext, ""))
    has_a = _np(pc.not_equal(anstext, ""))
    has_e = _np(pc.not_equal(expltext, ""))

    hot = np.zeros(nq, dtype=bool)
    np.logical_or.at(hot, qid[sg["hot_valid"]], True)

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

    # ── options: anchors + text lookup + images + F8 + J5 ──
    ovi = np.flatnonzero(sg["opt_valid"])
    opt_qid, opt_oi = qid[ovi], oi[ovi]
    opt_key = pc.take(
        cl["okey_vals"],
        pa.array(np.searchsorted(cl["okey_rows"], sg["ki"][ovi])),
    ).fill_null("")

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
    otext = pc.take(joined,
                    pa.array(lookup, mask=lookup < 0)).fill_null("")

    # option images: sec-1 image rows are sorted by (qid, oi) — the
    # same order as the anchors — so per-anchor runs are contiguous
    orows = np.flatnonzero(img & (sec == 1))
    img_keys = qid[orows] * keymul + np.where(
        sec[orows] == 1, oi[orows], 0
    )
    lo = np.searchsorted(img_keys, want, side="left")
    hi = np.searchsorted(img_keys, want, side="right")
    opt_img_counts = (hi - lo).astype(np.int64)
    opt_img_refs = pc.take(
        vec["ref_f"], pa.array(row_span[orows])
    ).fill_null("")

    ghost = _np(pc.equal(otext, "")) & (opt_img_counts == 0)  # F8
    keep = ~ghost  # ghosts carry no images, so the values stay intact

    # J5 correct marking (key ∈ valid always, so the reference's
    # intersect-then-contains reduces to membership in the raw key
    # set). Vectorized for ASCII answers — RE2's \b is bit-identical to
    # Python's on pure-ASCII text, so the comma rule is one
    # \bL\b match and the no-comma rule one substring test per distinct
    # key letter; only non-ASCII answers run the python \b-exact parser.
    marked = ~hot & has_a
    jrows = np.flatnonzero(marked[opt_qid] & keep)
    correct = np.zeros(len(ovi), dtype=bool)
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
                cj[i] = keys_j[i] in _answer_key_set(ans_py[r])
        correct[jrows] = cj

    ki_keep = np.flatnonzero(keep)
    opt_struct = pa.StructArray.from_arrays(
        [
            _combine(pc.take(opt_key, pa.array(ki_keep))),
            _combine(pc.take(otext, pa.array(ki_keep))),
            pa.array(correct[ki_keep]),
            _combine(_list_of(opt_img_refs, opt_img_counts)
                     .take(pa.array(ki_keep))),
        ],
        names=["key", "text", "is_correct", "images"],
    )
    options = _list_of(
        opt_struct, np.bincount(opt_qid[ki_keep], minlength=nq)
    )

    # ── anomalies (emit order: reference state_machine.py:386-414) ──
    qimg_n = np.bincount(qid[img & (sec == 0)], minlength=nq)
    m = np.stack([~has_q, ~hot & ~has_a, ~has_q & (qimg_n > 0)])
    codes = np.tile(np.arange(3), nq)[m.T.ravel()]
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
        names=["type", "severity", "message", "context"],
    )
    anomalies = _list_of(anom_struct, m.sum(axis=0))

    score = np.minimum(
        100, (m * _ANOM_SEV[:, None].astype(np.int64)).sum(axis=0)
    ).astype(np.int32)
    img_total = np.bincount(qid[ii], minlength=nq).astype(np.int32)

    return pa.RecordBatch.from_arrays(
        [
            pc.take(state["doc_ids"], pa.array(sg["doc_of_q"])),
            pa.array(_doc_seq(sg)),
            pa.array(sg["qnum_of_q"]),
            pc.if_else(pa.array(hot), pa.scalar("hotspot"),
                       pa.scalar("mcq")),
            _combine(qtext),
            q_imgs,
            options,
            _combine(anstext),
            a_imgs,
            _combine(expltext),
            e_imgs,
            pa.array(page_start.astype(np.int32)),
            pa.array(page_end.astype(np.int32)),
            anomalies,
            pa.array(score),
            pa.array(has_q),
            pa.array(has_a),
            pa.array(has_e),
            img_total,
        ],
        schema=QUESTION_FINAL_ARROW_SCHEMA,
    )


#: commit form of QUESTION_FINAL: every row carries a ``parse_failed``
#: flag, True only on the one stand-in row a document emits when its
#: Python-fallback parse raised. The bucket commit counts the flags on
#: its write job and drops those rows (plans/lineage.py).
QUESTION_COMMIT_ARROW_SCHEMA = QUESTION_FINAL_ARROW_SCHEMA.append(
    pa.field("parse_failed", pa.bool_())
)


def _fallback_final(doc_ids, fb_docs,
                    flag_failures: bool = False) -> pa.RecordBatch | None:
    from . import dkernel

    schema_ = (QUESTION_COMMIT_ARROW_SCHEMA if flag_failures
               else QUESTION_FINAL_ARROW_SCHEMA)
    rows: list[tuple] = []
    ids_py = doc_ids.to_pylist()
    for d, k, t, r, p in fb_docs:
        for raw in dkernel._parse_doc(ids_py[d], k, t, r, p):
            fin = dkernel._finalize_row(raw)
            if fin is None and flag_failures:  # the failed doc's sentinel
                fin = (raw[0], 0, -1, "mcq", "", [], [], "", [], "", [],
                       1, 1, [], 0, False, False, False, 0)
            if fin is not None:
                rows.append(fin + (raw[13],) if flag_failures else fin)
    if not rows:
        return None
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(list(cols[i]), schema_.field(i).type)
         for i in range(len(cols))],
        schema=schema_,
    )


def _emit_commit(state) -> pa.RecordBatch:
    out = _emit_final(state)
    return pa.RecordBatch.from_arrays(
        out.columns + [pa.array(np.zeros(len(out), dtype=bool))],
        schema=QUESTION_COMMIT_ARROW_SCHEMA,
    )


# ── validation emitter (per-doc ValidationReport) ────────────────────────

VALIDATION_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("total_questions_detected", pa.int32()),
        ("structured_successfully", pa.int32()),
        ("questions_missing_answer", pa.list_(pa.int64())),
        ("questions_missing_explanation", pa.list_(pa.int64())),
        ("failed_to_structure", pa.list_(pa.int64())),
        ("orphan_images", pa.int32()),
        ("missing_question_numbers", pa.list_(pa.int64())),
        ("gap_list_suppressed", pa.bool_()),
        ("duplicate_question_numbers", pa.list_(pa.int64())),
        ("anomaly_breakdown", pa.map_(pa.string(), pa.int32())),
        ("success_rate", pa.float64()),
    ]
)


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

    sg = state["sg"]
    qid, img, sec = sg["qid"], sg["img"], sg["sec"]
    nq = sg["nq"]
    doc_of_q = sg["doc_of_q"]
    qnum = sg["qnum_of_q"]

    has_q = _np(pc.not_equal(_per_question_text(state, 0), ""))
    has_a = _np(pc.not_equal(_per_question_text(state, 2), ""))
    has_e = _np(pc.not_equal(_per_question_text(state, 3), ""))
    hot = np.zeros(nq, dtype=bool)
    np.logical_or.at(hot, qid[sg["hot_valid"]], True)
    qimg_n = np.bincount(qid[img & (sec == 0)], minlength=nq)
    orphan = ~has_q & (qimg_n > 0)
    structured = has_q & has_a
    miss_ans_anom = ~hot & ~has_a

    starts = np.flatnonzero(_run_starts(doc_of_q))
    nd = len(starts)
    didx = np.cumsum(_run_starts(doc_of_q)) - 1  # doc index per question

    def seg_sum(mask: np.ndarray) -> np.ndarray:
        return np.add.reduceat(mask.astype(np.int64), starts)

    total = seg_sum(np.ones(nq, dtype=bool))
    n_struct = seg_sum(structured)
    orphan_n = seg_sum(orphan)
    mqt_n = seg_sum(~has_q)
    manom_n = seg_sum(miss_ans_anom)

    def num_list(mask: np.ndarray) -> pa.ListArray:
        # qnum/didx are doc-sorted, so masked values group contiguously
        return _list_of(pa.array(qnum[mask]),
                        np.bincount(didx[mask], minlength=nd))

    miss_a = num_list(~has_a)
    miss_e = num_list(~has_e)
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
    counts3 = np.stack([manom_n, mqt_n, orphan_n])  # (3, nd) key-sorted
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
            pa.array(orphan_n.astype(np.int32)),
            missing,
            pa.array(~sane),
            dups,
            breakdown,
            rate,
        ],
        schema=VALIDATION_ARROW_SCHEMA,
    )


def _fallback_validation(doc_ids, fb_docs) -> pa.RecordBatch | None:
    from . import dkernel

    rows: list[tuple] = []
    ids_py = doc_ids.to_pylist()
    for d, k, t, r, p in fb_docs:
        fins = [
            fin
            for raw in dkernel._parse_doc(ids_py[d], k, t, r, p)
            if (fin := dkernel._finalize_row(raw)) is not None
        ]
        rep = dkernel._validate_doc(fins)
        if rep is not None:
            rows.append(rep)
    if not rows:
        return None
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(list(cols[i]), VALIDATION_ARROW_SCHEMA.field(i).type)
            for i in range(len(cols))
        ],
        schema=VALIDATION_ARROW_SCHEMA,
    )


# ── mapInArrow entrypoints ───────────────────────────────────────────────


def _fallback_flat(doc_ids, fb_docs) -> pa.RecordBatch | None:
    from . import dkernel

    rows: list[tuple] = []
    ids_py = doc_ids.to_pylist()
    for d, k, t, r, p in fb_docs:
        rows.extend(dkernel._flatten_rows(
            dkernel._parse_doc(ids_py[d], k, t, r, p)))
    if not rows:
        return None
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(list(cols[i]), FLAT_ARROW_SCHEMA.field(i).type)
         for i in range(len(cols))],
        schema=FLAT_ARROW_SCHEMA,
    )


def _fallback_doc_text(doc_ids, fb_docs) -> pa.RecordBatch | None:
    from . import dkernel

    rows: list[tuple] = []
    ids_py = doc_ids.to_pylist()
    for d, k, t, r, p in fb_docs:
        flat = dkernel._flatten_rows(dkernel._parse_doc(ids_py[d], k, t, r, p))
        # FLAT schema tuple: (doc_id, seq, qnum, section, kind, text,
        # media_ref, order) — text-kind spans in (seq, order) sequence
        spans = sorted(
            ((f[1], f[7], f[5]) for f in flat if f[4] == "text")
        )
        if spans:
            rows.append(
                (ids_py[d], " ".join(s[2] for s in spans), len(spans))
            )
    if not rows:
        return None
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(list(cols[i]), DOC_TEXT_ARROW_SCHEMA.field(i).type)
         for i in range(len(cols))],
        schema=DOC_TEXT_ARROW_SCHEMA,
    )


def _fallback_scalars(doc_ids, fb_docs) -> pa.RecordBatch | None:
    from . import dkernel

    rows: list[tuple] = []
    ids_py = doc_ids.to_pylist()
    for d, k, t, r, p in fb_docs:
        for raw in dkernel._parse_doc(ids_py[d], k, t, r, p):
            fin = dkernel._finalize_row(raw)
            if fin is not None:
                rows.append((fin[0], fin[1], fin[2], fin[3], fin[4],
                             fin[7], fin[14]))
    if not rows:
        return None
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(list(cols[i]),
                  QUESTION_SCALARS_ARROW_SCHEMA.field(i).type)
         for i in range(len(cols))],
        schema=QUESTION_SCALARS_ARROW_SCHEMA,
    )


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


def _entry(batches, emit, fallback, schema_):
    drop_zip_finders()
    yielded = False
    for batch in (s for b in batches for s in _slices(b)):
        doc_ids, state, fb_docs = _core(batch)
        if state is not None:
            out = emit(state)
            if len(out):
                yielded = True
                yield out
        if fb_docs:
            fb = fallback(doc_ids, fb_docs)
            if fb is not None and len(fb):
                yielded = True
                yield fb
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
    yield from _entry(batches, _emit_flat, _fallback_flat,
                      FLAT_ARROW_SCHEMA)


def doc_text_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint: packed documents → one reassembled text
    per document (doc_id, text, n_text_spans) — zero-Exchange exam
    reassembly (the groupBy(collect_list) it replaces re-shuffled rows
    the kernel already had colocated)."""
    yield from _entry(batches, _emit_doc_text, _fallback_doc_text,
                      DOC_TEXT_ARROW_SCHEMA)


def question_scalars_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint: packed documents → per-question scalar
    columns (the flagship extract_questions projection)."""
    yield from _entry(batches, _emit_question_scalars, _fallback_scalars,
                      QUESTION_SCALARS_ARROW_SCHEMA)


def parse_docs_final_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint: packed documents → finalized QUESTION_FINAL
    entities (nested options/images/anomalies built arrow-side)."""
    yield from _entry(batches, _emit_final, _fallback_final,
                      QUESTION_FINAL_ARROW_SCHEMA)


def parse_docs_commit_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint for bucket commits: parse_docs_final_arrow
    plus the ``parse_failed`` flag column, so the failure count rides
    the questions write job (schema.QUESTION_COMMIT)."""
    yield from _entry(batches, _emit_commit,
                      partial(_fallback_final, flag_failures=True),
                      QUESTION_COMMIT_ARROW_SCHEMA)


def validate_docs_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint: packed documents → per-doc
    ValidationReport rows in the same pass as the vectorized parse."""
    yield from _entry(batches, _emit_validation, _fallback_validation,
                      VALIDATION_ARROW_SCHEMA)
