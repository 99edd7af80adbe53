"""Anchor and noise grammar of the Dumpsgate exam-dump format.

This is the *extension surface* of the engine (the reference's
equivalents live at /root/reference/parser/state_machine.py:43-121).
It is the only module that renders the grammar for a regex engine: the
grammar is written once, as Python ``re`` strings, and every other
module imports a finished pattern. Python ``re`` (packed-pandas):
``RE_*``, with :data:`RE_LINE`. Java (Catalyst: native, tokenize,
finalize, the giant-doc split flag, the rescan): ``J_*``. RE2 (Arrow:
the vectorized kernel): :data:`RE2_ASCII` and :func:`re2_exact`. The
SQL oracle's DuckDB forms (functions/oracle.py ``R2_*``) are the
reference the engines are checked against and stay there.

Dialect notes. Every pattern is ``^``-anchored where the reference
used ``.match`` (``rlike`` searches); IGNORECASE is an inline ``(?i)``.
- Java: ``(?U)`` makes ``\\b``/``\\d``/``\\w`` Unicode-aware and folds
  ſ, K (Kelvin sign), İ and ı as Python does, but its ``\\s`` (Unicode
  White_Space) lacks the \\x1C-\\x1F separators Python counts, and
  Java 17's ``\\d`` (Unicode 13) lacks the Tangsa digits
  (U+16AC0-16AC9) Python 3.11's (Unicode 14) reads: every ``J_*``
  spells ``\\s`` as :data:`J_WS_CLASS` and ``\\d`` as
  :data:`J_DIGIT_CLASS`. (All 29 characters
  spelled out are slower in Java: 3M strings through the five
  split-flag patterns took 6.4-7.0 s against 2.5-3.5 s, 4-vCPU local[4].)
  ``F.trim`` strips U+0020 only: strip with :data:`J_PY_STRIP`. A
  cast reads ASCII digits only: ``translate`` a ``\\d+`` match through
  :func:`py_digits` first.
- RE2: ASCII ``\\b``/``\\s``/``\\d``, and İ/ı do not fold.
  :data:`RE2_ASCII` rewrites ``\\s``/``\\S`` only (exact on ASCII
  lines); :func:`re2_exact` also spells ``\\d``, ``\\b``, a
  case-insensitive ``i`` and the option key class as classes read off
  Python's ``re`` over every codepoint.
"""

from __future__ import annotations

import functools
import re
import unicodedata
from typing import NamedTuple

# ── structural anchors (state_machine.py:46-66 semantics) ────────────────

#: "Question: 1" / "Question 42" / "question:7" — captures the number.
QUESTION = r"^\s*Question\s*:?\s*(\d+)"

#: Option bullet: "A.", "B)", "(C)", "D:", "E -" (IGNORECASE makes
#: lowercase bullets valid too; key is upper-cased downstream).
OPTION = "^\\s*\\(?([A-Za-z])\\s*[.):\\-–—]\\s*"

#: Answer anchor: "Answer:", "Correct Answer.", "Ans", "Key:" — note the
#: trailing ``[\s.:]*`` is greedy-but-optional, so "Answers may vary"
#: *does* anchor with remainder "s may vary" (faithful to reference).
ANSWER = r"^\s*(?:Correct\s+)?(?:Answer|Ans|Key)[\s.:]*"

#: Explanation anchor: "Explanation:", "Reference", "Rationale:",
#: "Solution" — colon optional, so "Solution architecture" anchors too.
EXPLANATION = r"^\s*(?:Explanation|Reference|Rationale|Solution)\s*:?\s*"

#: Standalone HOTSPOT marker (only honored in QUESTION_BODY state).
HOTSPOT = r"^\s*HOTSPOT\s*$"

#: Page-end artifact "Question 5" — a *whole line* with no colon and no
#: trailing content is dropped, never an anchor (state_machine.py:120-121,
#: 209-215). "Question: 5" IS a real anchor.
SOLO_QUESTION = r"^\s*Question\s*\d+\s*$"

# ── noise / boilerplate (state_machine.py:70-112) ────────────────────────
# The reference holds 18 separate always-ignore patterns; they collapse to
# two alternations split by case-sensitivity (the separator-line and
# lone-URL rules are case-SENSITIVE in the reference; everything else is
# IGNORECASE).

_NOISE_CI_PARTS = [
    r"^\s*Questions and Answers PDF.*$",
    r"^\s*(?:Page\s*)?\d+\s*(?:/|of)\s*\d+\s*$",          # "8/528", "Page 8 of 528"
    r"^\s*Thank\s+you\s+for\s+(?:choosing|your)\b.*",
    r"^\s*We.re\s+confident\s+these\s+materials\b.*",
    r"^\s*Best\s+of\s+luck\s+with\s+your\s+studies.*",
    r"^\s*Topic\s+\d+[\s,].*",
    r"^\s*Product\s+Questions\s*:\s*\d+\s*$",
    r"^\s*Thank\s+you\s+for\s+your\s+visit\.?\s*$",
    r"^\s*Visit\s+us\s+at\b.*",
    r"^\s*For\s+more\s+questions\b.*",
    r"^\s*Get\s+certified\b.*",
    r"^\s*Download\s+free\b.*",
    r"^examtopics?\.(?:com|org|net).*",                   # .match ⇒ start-anchored
    r"^certification.s*prep.*",
    r"^dumpsgate\.com.*",
    r"^\s*Box\s*\d+\s*:.*",
    r"^\s*Select and Place:.*",
]

NOISE_CI = "(?:" + "|".join(_NOISE_CI_PARTS) + ")"

#: Anchor-free alternation bodies (no leading ``^``) for embedding the
#: noise rules inside a larger start-anchored pattern (all parts are
#: non-capturing internally, so named groups around them stay reliable).
NOISE_CI_BODY = "|".join(
    p[1:] if p.startswith("^") else p for p in _NOISE_CI_PARTS
)

_NOISE_CS_PARTS = [r"^\s*[=\-]{4,}\s*$", r"^\s*https?://\S+\s*$"]

#: Case-sensitive noise: separator rules ("====", "----") and lone URLs.
NOISE_CS = "(?:" + "|".join(_NOISE_CS_PARTS) + ")"

NOISE_CS_BODY = "|".join(p[1:] for p in _NOISE_CS_PARTS)

#: Cover-page noise — standalone number or short exam code; only applied
#: to lines *before the first effective question anchor* of a document
#: (state_machine.py:114-118, 276-280).
COVER_NOISE = r"^\s*(?:\d{1,5}|[A-Z][A-Za-z0-9\-_.]{0,30})\s*$"

#: Python ``str.strip()``'s whitespace as literal characters: exactly
#: the chars ``str.isspace()`` and ``re``'s ``\s`` (unicode mode) treat
#: as whitespace. The Arrow kernel's trim set and the source of the RE2
#: ``\s`` rewrite.
PY_WS_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)

# ── Python re forms (the packed-pandas kernel) ───────────────────────────

RE_QUESTION = re.compile(QUESTION, re.IGNORECASE)
RE_SOLO_QUESTION = re.compile(SOLO_QUESTION, re.IGNORECASE)
RE_NOISE_CI = re.compile(NOISE_CI, re.IGNORECASE)
RE_NOISE_CS = re.compile(NOISE_CS)
RE_COVER_NOISE = re.compile(COVER_NOISE)


def _named(pattern: str, inner: str, name: str) -> str:
    """``pattern`` after its ``^\\s*`` lead, with ``inner`` (bare, or a
    group's body) as the named group ``name``."""
    body = pattern.removeprefix(r"^\s*")
    group = next(g for g in (f"({inner})", f"(?:{inner})", inner)
                 if g in body)
    return body.replace(group, f"(?P<{name}>{inner})", 1)


#: One match classifies a line; ``lastgroup`` names the class. Noise
#: comes first (it wins over every anchor, state_machine.py:200-202;
#: separators and lone URLs stay case-sensitive), then the anchors in
#: the reference's check order.
RE_LINE = re.compile(
    r"^\s*(?:(?P<noise>" + NOISE_CI_BODY + r"|(?-i:" + NOISE_CS_BODY + r"))|"
    + "|".join((
        _named(QUESTION, r"\d+", "qnum"),
        _named(HOTSPOT, "HOTSPOT", "hot"),
        _named(OPTION, "[A-Za-z]", "okey"),
        _named(ANSWER, r"(?:Correct\s+)?(?:Answer|Ans|Key)", "ans"),
        _named(EXPLANATION, "Explanation|Reference|Rationale|Solution",
               "exp"),
    ))
    + ")",
    re.IGNORECASE,
)

#: Answer letters (state_machine.py:437-452): the word-bounded single
#: letters of each comma-separated part, else every uppercase letter.
#: finalize runs them in Java, :func:`answer_keys` in Python.
ANSWER_LETTER = r"\b([A-Z])\b"
LETTER = "([A-Z])"
_RE_ANSWER_LETTER = re.compile(ANSWER_LETTER)
_RE_LETTER = re.compile(LETTER)


def answer_keys(ans: str) -> list[str]:
    """The option keys an answer text names, first occurrence first."""
    up = ans.strip().upper()
    if "," in up:
        keys = [k for part in up.split(",")
                for k in _RE_ANSWER_LETTER.findall(part)]
    else:
        keys = _RE_LETTER.findall(up)
    return list(dict.fromkeys(keys))


# ── Java-regex (Catalyst) forms ──────────────────────────────────────────

#: Python's ``\s`` under Java's ``(?U)``
_J_WS = r"\s\x1C-\x1F"
J_WS_CLASS = f"[{_J_WS}]"

#: Python's ``\d`` under Java's ``(?U)``: Java 17's Unicode 13 digits
#: and Unicode 14's Tangsa digits
J_DIGIT_CLASS = r"[\d\x{16AC0}-\x{16AC9}]"


def _java(flags: str, pattern: str) -> str:
    """Java form of a grammar pattern: inline ``flags``, with ``\\s``,
    ``\\S`` and ``\\d`` read as Python reads them."""
    return f"(?{flags})" + re.sub(
        r"\\([sSd])",
        lambda m: {"S": f"[^{_J_WS}]", "s": J_WS_CLASS,
                   "d": J_DIGIT_CLASS}[m[1]],
        pattern,
    )


J_QUESTION = _java("iU", QUESTION)
J_OPTION = _java("iU", OPTION)
J_ANSWER = _java("iU", ANSWER)
J_EXPLANATION = _java("iU", EXPLANATION)
J_HOTSPOT = _java("iU", HOTSPOT)
J_SOLO_QUESTION = _java("iU", SOLO_QUESTION)
J_NOISE_CI = _java("iU", NOISE_CI)
J_NOISE_CS = _java("U", NOISE_CS)
J_COVER_NOISE = _java("U", COVER_NOISE)

#: Question anchors anywhere in raw multi-line text (the rescan: anchors
#: may sit mid-block, background_worker.py:417-419)
J_RAW_QUESTION = r"(?i)(?:^|\n)" + QUESTION.removeprefix("^")

#: Java-regex character class equal to :data:`PY_WS_CHARS` without
#: ``(?U)``: ASCII \s, the \x1C-\x1F separators, NEL, NBSP and the
#: Unicode Zs spaces PDFs carry.
J_PY_STRIP_CLASS = (
    "[\\s\\x1C-\\x1F\\u0085\\u00A0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000]"
)

#: ``regexp_replace(col, J_PY_STRIP, "")`` strips a line as Python's
#: ``str.strip()`` does.
J_PY_STRIP = f"^{J_PY_STRIP_CLASS}+|{J_PY_STRIP_CLASS}+$"


#: Clamp for parsed question numbers: the reference's Python int is
#: unbounded, but Arrow/Catalyst carry int64. Any anchor number with
#: more than 18 digits is clamped to this value by EVERY engine (so the
#: engines-agree invariant holds and no kernel can overflow/crash).
QNUM_CAP = 10**18 - 1


def _codepoints() -> str:
    """Every non-surrogate codepoint, ascending, as one string."""
    import numpy as np

    cps = np.arange(0x110000, dtype=np.uint32)
    return cps[(cps < 0xD800) | (cps > 0xDFFF)].tobytes().decode(
        "utf-32-le")


@functools.lru_cache(maxsize=1)
def py_digits() -> tuple[str, str]:
    """The non-ASCII decimal digits Python's ``int()`` reads, and their
    ASCII digits: the ``translate`` table that makes a Java ``(?U)\\d+``
    match castable."""
    digits = "".join(c for c in filter(str.isdecimal, _codepoints())
                     if not c.isascii())
    return digits, "".join(str(unicodedata.decimal(c)) for c in digits)


# ── RE2 (Arrow) forms ────────────────────────────────────────────────────

#: Python's ``\s`` as RE2 class innards
_WS_IN = "".join(f"\\x{{{ord(c):x}}}" for c in PY_WS_CHARS)

#: a bracketed class of a grammar pattern (RE2 has no nested classes)
_CLASS = re.compile(r"(\[(?:[^\]\\]|\\.)*\])")


class Re2Grammar(NamedTuple):
    """One RE2 form of every pattern the vectorized kernel runs."""

    question: str
    option: str
    answer: str
    explanation: str
    hotspot: str
    noise: str  # NOISE_CI and NOISE_CS in one pass
    cover: str


def _py_class(pattern: str, every: str) -> str:
    """RE2 class innards: the codepoint ranges of ``every`` (each
    codepoint once, ascending) that Python's ``re`` matches with the
    one-character ``pattern``."""
    rng = ((ord(m[0][0]), ord(m[0][-1]))
           for m in re.finditer(f"(?:{pattern})+", every))
    return "".join(f"\\x{{{a:x}}}" + (f"-\\x{{{b:x}}}" if b > a else "")
                   for a, b in rng)


def _py_classes() -> dict:
    """Python's Unicode ``\\d``, ``\\w``, case-insensitive ``i`` and
    case-insensitive ``[A-Za-z]`` (the option key) as RE2 class innards,
    read off Python's own ``re`` over every non-surrogate codepoint.
    RE2's ``\\p{Nd}`` is no substitute: its Unicode tables can be newer
    than Python's and count more digits."""
    every = _codepoints()
    return {k: _py_class(p, every) for k, p in (
        ("d", r"\d"), ("w", r"\w"), ("i", "(?i:i)"),
        ("key", "(?i:[A-Za-z])"))}


def _re2(pattern: str, ci: bool, py: dict | None = None) -> str:
    """RE2 form of a grammar pattern: ``\\s``/``\\S`` become Python's
    whitespace set. With ``py`` (:func:`_py_classes`) ``\\d`` becomes
    Python's decimal digits, ``\\b`` (always after an ASCII letter in
    the grammar) a non-word char or the end, and a case-insensitive
    ``i``/``I`` also matches İ and ı, which RE2 does not fold."""
    parts = _CLASS.split(pattern)  # odd items are bracketed classes
    for j, p in enumerate(parts):
        if j % 2:  # inside a class: splice in the raw innards
            p = p.replace("\\s", _WS_IN)
        else:
            if py:
                if ci:
                    p = re.sub(r"(?<!\\)[iI]", lambda _: f"[{py['i']}]", p)
                p = p.replace("\\d", f"[{py['d']}]").replace(
                    "\\b", f"(?-i:$|[^{py['w']}])")
            p = p.replace("\\S", f"[^{_WS_IN}]").replace(
                "\\s", f"[{_WS_IN}]")
        parts[j] = p
    p = "".join(parts)
    return f"(?i:{p})" if ci else p


def _grammar(py: dict | None) -> Re2Grammar:
    key = py["key"] if py else "A-Za-z"
    return Re2Grammar(
        question=_re2(QUESTION.replace("(\\d+)", "(?P<q>\\d+)"), True, py),
        option=_re2(OPTION.replace("([A-Za-z])", f"(?P<k>[{key}])"),
                    False, py),
        answer=_re2(ANSWER, True, py),
        explanation=_re2(EXPLANATION, True, py),
        hotspot=_re2(HOTSPOT, True, py),
        noise=f"(?:{_re2(NOISE_CI, True, py)}|"
              f"{_re2(NOISE_CS, False, py)})",
        cover=_re2(COVER_NOISE, False, py),
    )


#: the form for slices whose lines are all ASCII
RE2_ASCII = _grammar(None)


@functools.lru_cache(maxsize=1)
def re2_exact() -> Re2Grammar:
    """The Python-exact form, built on a process's first non-ASCII
    slice (the class scan and the build take ~0.2 s)."""
    return _grammar(_py_classes())


def is_noise_line(line: str) -> bool:
    """Always-ignored boilerplate check (python side)."""
    return bool(RE_NOISE_CI.match(line) or RE_NOISE_CS.match(line))
