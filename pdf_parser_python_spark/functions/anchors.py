"""Anchor and noise grammar of the Dumpsgate exam-dump format.

This is the *extension surface* of the engine (the reference's
equivalents live at /root/reference/parser/state_machine.py:43-121).
Patterns are kept as plain strings so the same grammar drives:

- the vectorized pandas classifier (Python ``re`` / pandas ``.str``), and
- native Column expressions (Java regex via ``rlike`` /
  ``regexp_extract``) — dialect notes below.

Dialect notes (Python re ↔ Java regex):
- case-insensitivity: Python ``re.IGNORECASE`` ↔ Java inline ``(?i)``;
- ``match()`` (anchored-at-start) ↔ ``rlike`` is search semantics, so all
  patterns here are explicitly ``^``-anchored where the reference used
  ``.match``;
- ``\\b``, ``\\s``, ``\\d`` behave identically for ASCII input; Java's
  ``(?U)`` makes them Unicode-aware, as Python's are;
- IGNORECASE folds ſ, K (Kelvin sign), İ and ı into ASCII letters in
  Python; ``(?iU)`` does the same in Java, so J_OPTION is ``(?iU)`` as
  dkernel's option alternative is IGNORECASE;
- RE2 (the vectorized kernel) has ASCII ``\\b``/``\\s``/``\\d`` and does
  not fold İ/ı: operators/vkernel.py builds a Python-exact RE2 form of
  this grammar for non-ASCII input.
"""

from __future__ import annotations

import re

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

# ── compiled Python forms (for the pandas kernel + pure-python oracle) ───

RE_QUESTION = re.compile(QUESTION, re.IGNORECASE)
RE_SOLO_QUESTION = re.compile(SOLO_QUESTION, re.IGNORECASE)
RE_NOISE_CI = re.compile(NOISE_CI, re.IGNORECASE)
RE_NOISE_CS = re.compile(NOISE_CS)
RE_COVER_NOISE = re.compile(COVER_NOISE)

# ── Java-regex (Catalyst) forms ──────────────────────────────────────────
# (?U) gives Java \s/\b the unicode semantics Python `re` has by
# default on str patterns — PDFs carry NBSP and friends.

J_QUESTION = "(?iU)" + QUESTION
J_OPTION = "(?iU)" + OPTION
J_ANSWER = "(?iU)" + ANSWER
J_EXPLANATION = "(?iU)" + EXPLANATION
J_HOTSPOT = "(?iU)" + HOTSPOT
J_SOLO_QUESTION = "(?iU)" + SOLO_QUESTION
J_NOISE_CI = "(?iU)" + NOISE_CI
J_NOISE_CS = "(?U)" + NOISE_CS
J_COVER_NOISE = "(?U)" + COVER_NOISE


#: Java-regex character class equal to Python ``str.strip()``'s
#: whitespace set: ASCII \s, the \x1C-\x1F file/group/record/unit
#: separators (``str.isspace`` counts them; Java's plain \s does NOT),
#: NEL, NBSP and the unicode Zs spaces PDFs carry. One constant so the
#: JVM tokenizer and the Python kernels' ``.strip()`` cannot drift.
J_PY_STRIP_CLASS = (
    "[\\s\\x1C-\\x1F\\u0085\\u00A0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000]"
)

#: The same set as literal characters: exactly the chars Python's
#: ``str.strip()`` / ``str.isspace()`` / ``re`` ``\s`` (unicode mode)
#: treat as whitespace. Single source for the Arrow kernel's trim set
#: and its RE2 ``\s`` rewrite (operators/vkernel.py).
PY_WS_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)

#: Clamp for parsed question numbers: the reference's Python int is
#: unbounded, but Arrow/Catalyst carry int64. Any anchor number with
#: more than 18 digits is clamped to this value by EVERY engine (so the
#: engines-agree invariant holds and no kernel can overflow/crash).
QNUM_CAP = 10**18 - 1


def is_noise_line(line: str) -> bool:
    """Always-ignored boilerplate check (python side)."""
    return bool(RE_NOISE_CI.match(line) or RE_NOISE_CS.match(line))
