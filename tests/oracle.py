"""Pure-python oracles used only by tests.

- :func:`flatten_question` — the canonical ordered flatten specified by
  the reference UI contract (/root/reference/parser/crud.py:633-726),
  applied to a question *dict* (either a reference ``_parsed.json``
  entry or our engine's collected Row.asDict(recursive=True)).
- :func:`run_reference` — run the live reference FSM on a span list.
  It needs the reference checkout at :data:`REFERENCE`; tests whose only
  oracle is that checkout carry :data:`requires_reference`, and tests
  with their own expected values compare against it only when
  :data:`HAVE_REFERENCE`.
"""

from __future__ import annotations

import os
from typing import Any

import pytest

REFERENCE = "/root/reference"
HAVE_REFERENCE = os.path.isdir(os.path.join(REFERENCE, "parser"))
requires_reference = pytest.mark.skipif(
    not HAVE_REFERENCE, reason=f"needs the reference checkout at {REFERENCE}"
)


def flatten_question(q: dict[str, Any]) -> list[tuple[str, str, str, str, int]]:
    """→ [(section, kind, text, media_ref, order), ...] per crud.py rules."""
    out: list[tuple[str, str, str, str, int]] = []
    idx = 0

    def add(section: str, kind: str, text: str, media: str) -> None:
        nonlocal idx
        out.append((section, kind, text, media, idx))
        idx += 1

    if q.get("question_text"):
        add("question", "text", q["question_text"], "")
    for m in q.get("question_images") or []:
        add("question", "image", "", m)
    for o in q.get("options") or []:
        key, text = o.get("key", ""), o.get("text", "")
        add("options", "text", f"{key}. {text}" if text else f"{key}.", "")
        for m in o.get("images") or []:
            add("options", "image", "", m)
    if q.get("answer_text"):
        add("answer", "text", q["answer_text"], "")
    for m in q.get("answer_images") or []:
        add("answer", "image", "", m)
    if q.get("explanation_text"):
        add("explanation", "text", q["explanation_text"], "")
    for m in q.get("explanation_images") or []:
        add("explanation", "image", "", m)
    return out


def flatten_doc(questions: list[dict]) -> list[tuple]:
    """All questions of one document, tagged by question_number."""
    out = []
    for q in questions:
        for s in flatten_question(q):
            out.append((q["question_number"], *s))
    return out


def run_reference(spans: list[dict]) -> list[dict]:
    """Run the live reference FSM on spans (kind/text/media_ref/offset[/page])."""
    import sys

    if REFERENCE not in sys.path:
        sys.path.insert(0, REFERENCE)
    from parser.models import BlockType, ContentBlock
    from parser.state_machine import StateMachineParser

    blocks = []
    for s in sorted(spans, key=lambda x: x["offset"]):
        blocks.append(
            ContentBlock(
                type=BlockType.TEXT if s["kind"] == "text" else BlockType.IMAGE,
                content=s["text"] if s["kind"] == "text" else s["media_ref"],
                page_number=int(s.get("page") or 1),
                bbox=(0.0, 0.0, 1.0, 1.0),
                order_index=int(s["offset"]),
            )
        )
    parser = StateMachineParser()
    qs = parser.parse(blocks)
    return [q.model_dump() for q in qs]
