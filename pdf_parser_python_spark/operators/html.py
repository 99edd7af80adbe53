"""HTML main-content extraction: boilerplate strip + DOM-density
heuristics, expressed as native Catalyst regex pipelines.

The north rule names "HTML boilerplate strip, PDF/layout parse, DOM
heuristics" as the main-content extraction tier; the PDF/layout lane
is ``sources/pdfscan.py`` and this module is the HTML lane.  The
heuristics are the public Boilerpipe/CETR family (Kohlschütter et al.,
WSDM 2010; Weninger et al., WWW 2010): segment the document into block
nodes, then drop blocks that are short (< :data:`MIN_TEXT` visible
chars) or link-dense (anchor text > half the visible text).  The
reference repo has no HTML source — its closest analogue is the
block/line classifier feeding the FSM
(/root/reference/parser/block_extractor.py:80-160), which this lane
mirrors at the span level: every document flattens to the same ordered
``(kind, text, media_ref, offset)`` span rows the rest of the engine
consumes (input-table shape), so extracted HTML docs flow into the
same dedup / similarity / store operators.

Parsing model (the documented contract):

- ``script`` / ``style`` / comments and the boilerplate containers
  ``nav`` / ``header`` / ``footer`` / ``aside`` are removed first
  (:data:`RE_STRIP`, non-greedy, dotall);
- the remainder is scanned for a FLATTENED block sequence — ``h1 h2 p
  li div img`` (:data:`RE_NODE`).  Same-tag nesting is out of contract
  (non-greedy matching would close at the inner terminator); inline
  markup (``<a>``, spans) inside a block is handled in-block;
- per block: visible text = tags→space, whitespace-squeezed, trimmed;
  link text = concatenated ``<a>`` bodies; keep a text block iff
  ``len(text) >= MIN_TEXT`` and ``2*link_len <= len(text)``; ``img``
  blocks always survive as media spans (``media_ref`` from ``src``);
- ``offset`` re-indexes the kept spans 0..n-1 per doc in DOM order.

Every regex lives in the Java-regex ∩ RE2 ∩ Python-re common subset
(no backrefs, no lookaround) so the DuckDB oracle
(functions/oracle.py:html_extract_sql) replays the identical semantics.

Design notes for 100 TB:
- the native path is pure Catalyst (regexp_extract_all → per-array
  HOF filter → posexplode, so the array position of the FILTERED
  array IS the span offset) — whole-stage codegen end to end, no
  Python in the hot path, and ZERO shuffles: the executed plan is
  map-only (tests/test_html.py asserts no Exchange), which scales
  embarrassingly to any executor count;
- the Arrow path (`engine="arrow"`) is pandas-vectorized ``.str`` ops
  inside ``mapInPandas`` — one regex pass per Arrow batch, no per-row
  Python loop — for clusters where the regex work should ride the
  Python workers instead of the JVM;
- giant pages are bounded: blocks are extracted per document row, so a
  pathological page costs one task, not a skewed shuffle partition
  (the giant-doc dispatch in plans/pipeline.py covers packed rows).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..zipcache import drop_zip_finders

#: strip-first boilerplate: scripts/styles/comments + container chrome.
RE_STRIP = (
    "(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>"
    "|<!--.*?-->|<nav[^>]*>.*?</nav>|<header[^>]*>.*?</header>"
    "|<footer[^>]*>.*?</footer>|<aside[^>]*>.*?</aside>"
)

#: flattened block-node alternation (leftmost-first in Java/RE2/re).
RE_NODE = (
    "(?s)<h1[^>]*>.*?</h1>|<h2[^>]*>.*?</h2>|<p[^>]*>.*?</p>"
    "|<li[^>]*>.*?</li>|<div[^>]*>.*?</div>|<img[^>]*>"
)

RE_TAG = "<[^>]*>"            #: any tag → space (visible-text strip)
RE_WS = r"\s+"                #: whitespace squeeze
RE_SRC = 'src="([^"]*)"'      #: img media_ref
RE_LINK = "<a[^>]*>([^<]*)</a>"  #: anchor bodies (link-density numerator)

MIN_TEXT = 8                  #: minimum visible chars for a text block

SPAN_COLS = ("doc_id", "offset", "kind", "text", "media_ref")


# ── deterministic synthetic corpus ──────────────────────────────────────

def synth_html(docs: DataFrame) -> DataFrame:
    """``documents(doc_id, text, source)`` → ``(doc_id, html)``.

    A pure Catalyst string expression (no UDF, no randomness): page
    chrome (title/style/script/nav/header/footer), a heading, then
    ``n_paras = least(6, 1 + floor(len/96))`` paragraph blocks cut from
    the document text (64-char windows), an ``<img>`` before every
    4th-aligned paragraph, an inline link in every ``k%3==1``
    paragraph, plus a link-farm div (dropped by link density) and a
    stub div (dropped by MIN_TEXT).  The DuckDB oracle synthesizes the
    byte-identical corpus in SQL (functions/oracle.py:html_corpus_ctes)
    — the whole lane is hash-checked end to end.
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    d = F.col("doc_id").cast("string")
    src = F.coalesce(F.col("source"), F.lit(""))
    n_paras = F.least(
        F.lit(6).cast("bigint"), F.floor(F.length(t) / F.lit(96)) + F.lit(1)
    ).cast("int")

    def node(k):
        ks = k.cast("string")
        para = F.substr(t, k * F.lit(64) + F.lit(1), F.lit(64))
        img = F.when(
            (F.col("doc_id") + k) % 4 == 0,
            F.concat(F.lit('<img src="img://'), d, F.lit("/"), ks, F.lit('">')),
        ).otherwise(F.lit(""))
        linked = F.concat(
            F.lit("<p>"), para, F.lit(' <a href="/x/'), d, F.lit('">'),
            F.substr(t, F.lit(1), F.lit(16)), F.lit("</a></p>"),
        )
        plain = F.concat(F.lit("<p>"), para, F.lit("</p>"))
        return F.concat(img, F.when(k % 3 == 1, linked).otherwise(plain))

    html = F.concat(
        F.lit("<html><head><title>Doc "), d, F.lit("</title>"),
        F.lit("<style>.m0 sans</style>"),
        F.lit('<script>var x="</p>" trap(x)</script></head>'),
        F.lit('<body><nav><a href="/">home</a> <a href="/a">about</a>'
              ' <a href="/c">contact</a></nav>'),
        F.lit("<header><h1>"), F.substr(t, F.lit(1), F.lit(24)),
        F.lit("</h1></header>"),
        F.lit("<!-- build 2026 -->"),
        F.lit("<h2>"), F.substr(t, F.lit(9), F.lit(24)), F.lit("</h2>"),
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_paras - 1), node), ""
        ),
        F.lit('<div><a href="/t/1">tag one</a> <a href="/t/2">tag two</a>'
              "</div>"),
        F.lit("<div>ok</div>"),
        F.lit("<footer>(c) 2026 "), src, F.lit("</footer></body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


# ── extraction ──────────────────────────────────────────────────────────

def html_to_spans(html_df: DataFrame, engine: str = "native") -> DataFrame:
    """``(doc_id, html)`` → ordered span rows ``SPAN_COLS``.

    ``engine="native"`` is the pure-Catalyst default; ``"arrow"`` runs
    the same semantics pandas-vectorized inside ``mapInPandas``.  Both
    feed the shared offset indexer so outputs are frame-identical.
    """
    if engine == "arrow":
        return _arrow_spans(html_df)
    if engine != "native":
        raise ValueError(f"unknown engine {engine!r}")

    clean = F.regexp_replace(F.col("html"), RE_STRIP, "")
    nodes = F.regexp_extract_all(clean, F.lit(RE_NODE), F.lit(0))

    def feat(n):
        stripped = F.trim(
            F.regexp_replace(F.regexp_replace(n, RE_TAG, " "), RE_WS, " ")
        )
        link_len = F.length(
            F.array_join(F.regexp_extract_all(n, F.lit(RE_LINK), F.lit(1)),
                         "")
        )
        return F.struct(
            n.alias("node"), stripped.alias("stripped"),
            link_len.alias("link_len"),
        )

    # boilerplate filter INSIDE the array: posexplode of the filtered
    # array then yields the kept-span offset directly — no per-doc
    # window, no Exchange anywhere in the plan (map-only extraction).
    kept = F.filter(
        F.transform(nodes, feat),
        lambda s: s.node.startswith("<img")
        | (
            (F.length(s.stripped) >= MIN_TEXT)
            & (F.lit(2) * s.link_len <= F.length(s.stripped))
        ),
    )
    ex = html_df.select(
        "doc_id", F.posexplode(kept).alias("offset", "s")
    )
    is_media = F.col("s.node").startswith("<img")
    return ex.select(
        "doc_id",
        F.col("offset").cast("int").alias("offset"),
        F.when(is_media, F.lit("media"))
        .when(F.col("s.node").startswith("<h"), F.lit("heading"))
        .otherwise(F.lit("text"))
        .alias("kind"),
        F.when(is_media, F.lit("")).otherwise(F.col("s.stripped"))
        .alias("text"),
        F.when(
            is_media,
            F.coalesce(F.regexp_extract(F.col("s.node"), RE_SRC, 1),
                       F.lit("")),
        )
        .otherwise(F.lit(""))
        .alias("media_ref"),
    )


def _arrow_spans(html_df: DataFrame) -> DataFrame:
    """Pandas-vectorized block extraction (``.str`` ops, no per-row
    Python loop) — the ``mapInPandas`` twin of the native path."""
    import pandas as pd  # local: executors import lazily

    rx_strip = re.compile(RE_STRIP)
    rx_node = re.compile(RE_NODE)
    rx_tag = re.compile(RE_TAG)
    rx_ws = re.compile(RE_WS)
    rx_src = re.compile(RE_SRC)
    rx_link = re.compile(RE_LINK)

    def gen(batches):
        drop_zip_finders()
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            nodes = pdf["html"].fillna("").str.replace(
                rx_strip, "", regex=True
            ).str.findall(rx_node)
            tmp = pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "node": nodes.values}
            )
            tmp = tmp.explode("node")
            tmp = tmp[tmp["node"].notna()]
            if not len(tmp):
                continue
            ns = tmp["node"].astype(str)
            stripped = (
                ns.str.replace(rx_tag, " ", regex=True)
                .str.replace(rx_ws, " ", regex=True)
                .str.strip()
            )
            link_len = ns.str.findall(rx_link).str.join("").str.len()
            is_media = ns.str.startswith("<img").to_numpy()
            slen = stripped.str.len().to_numpy()
            keep = is_media | (
                (slen >= MIN_TEXT) & (2 * link_len.to_numpy() <= slen)
            )
            # filter FIRST; cumcount over the surviving rows is then the
            # kept-span offset — mirrors the native filtered-array plan.
            tmp, ns = tmp[keep], ns[keep]
            if not len(tmp):
                continue
            is_media = is_media[keep]
            kind = np.where(
                is_media, "media",
                np.where(ns.str.startswith("<h").to_numpy(), "heading",
                         "text"),
            )
            media_ref = np.where(
                is_media,
                ns.str.extract(rx_src, expand=False).fillna("").to_numpy(),
                "",
            )
            out = pd.DataFrame(
                {
                    "doc_id": tmp["doc_id"].to_numpy(),
                    "offset": tmp.groupby(level=0).cumcount()
                    .to_numpy().astype("int32"),
                    "kind": kind,
                    "text": np.where(is_media, "",
                                     stripped[keep].to_numpy()),
                    "media_ref": media_ref,
                }
            )
            yield out

    return html_df.mapInPandas(
        gen,
        "doc_id bigint, offset int, kind string, text string,"
        " media_ref string",
    )


# ── downstream shapes ───────────────────────────────────────────────────

def spans_to_docs(spans: DataFrame) -> DataFrame:
    """Exploded span rows → the input-table shape
    ``(doc_id, spans: array<struct<kind,text,media_ref,offset>>)``."""
    return spans.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ),
            lambda s: F.struct(
                s.kind.alias("kind"), s.text.alias("text"),
                s.media_ref.alias("media_ref"), s.offset.alias("offset"),
            ),
        ).alias("spans")
    )


def main_content(spans: DataFrame) -> DataFrame:
    """Per-doc main-content rollup: ordered visible text + block stats.

    One partial-aggregating groupBy; the ordered join rides
    array_sort(collect_list(struct(offset, text))) so no extra window.
    """
    txt = F.when(F.col("kind") != "media", F.struct("offset", "text"))
    return spans.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(txt)), lambda s: s.text
            ),
            " ",
        ).alias("main_text"),
        F.sum(F.when(F.col("kind") == "text", 1).otherwise(0))
        .cast("bigint").alias("n_text"),
        F.sum(F.when(F.col("kind") == "heading", 1).otherwise(0))
        .cast("bigint").alias("n_headings"),
        F.sum(F.when(F.col("kind") == "media", 1).otherwise(0))
        .cast("bigint").alias("n_media"),
    ).select(
        "doc_id", "main_text",
        F.length("main_text").cast("bigint").alias("n_chars"),
        "n_text", "n_headings", "n_media",
    )
