"""End-to-end extraction plan.

Default (``engine="packed"``), one scan and one Python barrier, no
Exchange:

    documents(doc_id, spans[]) ──packed_projection (native: spans
        sorted by offset → kinds/texts/refs/pages arrays)──▶
        mapInArrow(vkernel.*_arrow) ──▶ questions | flat spans |
        validation | doc text | question scalars

The vectorized kernel (operators/vkernel.py) tokenizes, drops noise and
runs the FSM inside the pass, and builds each output there, so no
finalize/flatten stage follows it. It parses every document: a slice
with non-ASCII lines runs RE2 patterns built with Python ``re``'s
Unicode semantics. Documents above
``GIANT_DOC_SPANS`` spans reroute to operators/chunked.py: anchor-aligned
chunks, one hash exchange on (doc_id, chunk), the same kernel. Whether
an input holds such a document is decided from the input on every call
(``_has_giant``): from the parquet footer statistics of a scalar
``n_spans`` column when the scan has them (zero Spark jobs), else by
one small probe job; a streaming input is never rerouted.

Every packed entry point is the same plan (``_packed``): giant-doc
split → packed_projection → one kernel pass → union with the chunked
branch, whose QUESTION_FINAL rows each call maps to its own output.

The other engines are row-equal by test: ``packed-pandas`` is the same
plan with the pandas kernel under mapInPandas (extract_questions,
extract_flat_spans and extract_validation); ``native`` is the FSM in
Catalyst over ``tokenize``'s line rows (noise filtered JVM-side), then
finalize and flatten as Column expressions (``parse_raw`` is its parse
stage). Any other engine name raises ValueError when the plan is built,
before any probe job runs.

Scale notes (100 TB / 10^12 docs):
- the packed default needs no shuffle: the input is already one row
  per document, and a pathological document is bounded by the giant-doc
  reroute instead;
- on the native engine the hash partition by ``doc_id`` is the only
  shuffle and the skew point: it has no giant-doc dispatch, so a giant
  document is one window task there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schema
from ..functions import anchors as A
from ..operators import chunked, dkernel
from ..operators import finalize as _finalize
from ..operators import flatten as _flatten
from ..operators import native as _native
from ..operators import validate as _validate

#: Giant-document dispatch threshold (spans per doc). The packed engines
#: carry one document per Arrow row, so a pathological doc is one task.
#: Round-4 measurement (BENCH.md): decoding a packed giant row is
#: inherently ONE scan task (~7.5s at 2M spans — more than the whole
#: fused single-task parse at 9.3s), so rerouting merely-large docs
#: can never win wall-clock; the r3 threshold of 250k was ~20× too
#: low. Dispatch now engages only where the single task becomes a
#: memory hazard and a material stage tail (≈25s+, ~0.5GB Arrow row);
#: the reroute (operators/chunked.py: anchor-aligned chunks + the same
#: vectorized kernel) bounds kernel memory per task and spreads
#: everything after the serial scan. Documents this size should be
#: split to span rows AT INGEST (chunked.span_chunk_projection), which
#: keeps the scan itself parallel.
GIANT_DOC_SPANS = 5_000_000

#: offset-chunk width for rerouted giant docs (tasks/doc ≈ n_spans/this)
GIANT_CHUNK = 100_000


def _doc_size(documents: DataFrame):
    """Per-doc span count: prefers a scalar ``n_spans`` column when the
    table carries one — at 100 TB materialize it at ingest so parquet
    row-group min/max stats prune the giant-branch scan to ~zero I/O."""
    return (
        F.col("n_spans")
        if "n_spans" in documents.columns
        else F.size("spans")
    )


#: footer-stats bound: above this many input files the driver-side
#: footer walk is skipped in favor of the (stats-pruned) probe job —
#: which is the right tool for huge tables anyway. At real 100-TB
#: Iceberg scale the catalog's table-level column stats replace both.
_FOOTER_MAX_FILES = 1024


def _footer_max_doc_spans(documents: DataFrame) -> int | None:
    """Driver-side max per-doc span count from parquet row-group footer
    statistics — ZERO Spark jobs, so a cold ``extract_questions`` plan
    build stays job-free when the table carries a scalar ``n_spans``
    column with stats (the recommended 100-TB ingest shape).

    Returns None when unavailable (no ``n_spans``, non-local-file plan,
    > ``_FOOTER_MAX_FILES`` files, stats missing) — callers then fall
    back to the probe job. When the DataFrame carries filters
    above the scan, ``inputFiles()`` still lists the underlying files,
    so the bound is conservative (may over-report a giant that the
    filter drops): a perf-only false positive, never a correctness one.
    That guarantee requires ``n_spans`` to be the SCAN's own column —
    a derived/recomputed ``n_spans`` (alias over size(spans) after
    re-packing, a rename) could exceed a smaller same-named file
    column and silently UNDER-report, so the analyzed plan is checked
    and any plan that aliases something AS n_spans falls back to the
    probe job.
    """
    if "n_spans" not in documents.columns:
        return None
    try:
        # reject derived columns: an unmodified scan attribute appears
        # in the analyzed plan only as `n_spans#NN`; any Project/rename
        # that (re)defines it prints `... AS n_spans#NN`
        import re

        plan = documents._jdf.queryExecution().analyzed().toString()
        if re.search(r" AS n_spans#\d", plan):
            return None
    except Exception:
        return None
    try:
        files = documents.inputFiles()
    except Exception:
        return None
    if not files or len(files) > _FOOTER_MAX_FILES:
        return None
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    mx = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None  # remote FS: let the partition-pruned job do it
        path = unquote(parsed.path)
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return None
        col_idx = next(
            (
                i
                for i in range(md.num_columns)
                if md.schema.column(i).path == "n_spans"
            ),
            None,
        )
        if col_idx is None:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            if st is None or not st.has_min_max or st.max is None:
                return None
            mx = max(mx, int(st.max))
    return mx


def _has_giant(documents: DataFrame) -> bool:
    """Does ``documents`` hold a document above ``GIANT_DOC_SPANS``
    spans? Decided from the input on every call, so the chunked branch
    (seconds of fixed plan/stage overhead) joins the plan only when an
    outlier exists. The footer statistics decide when they can
    (``_footer_max_doc_spans``: zero Spark jobs); otherwise one tiny
    probe job does. A streaming input has no giant-doc dispatch (no
    eager job on a stream)."""
    if documents.isStreaming:
        return False
    footer_max = _footer_max_doc_spans(documents)
    if footer_max is not None:
        return footer_max > GIANT_DOC_SPANS
    return not documents.where(
        _doc_size(documents) > F.lit(GIANT_DOC_SPANS)
    ).isEmpty()


def tokenize(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans[]) → LINE-schema rows (native only).

    Text spans are split on newlines (posexplode keeps intra-block
    order), trimmed, empty lines dropped, and always-ignored noise
    filtered JVM-side. Image spans pass through untouched.
    """
    has_page = "page" in documents.schema["spans"].dataType.elementType.names
    s = F.explode("spans").alias("s")
    base = documents.select("doc_id", s).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
        (F.col("s.page") if has_page else F.lit(1)).cast("int").alias("page"),
    )

    text_lines = (
        base.where(F.col("kind") == "text")
        .select(
            "doc_id",
            "kind",
            F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
            "media_ref",
            "offset",
            "page",
        )
        # python str.strip() parity
        .withColumn("text", F.regexp_replace("line", A.J_PY_STRIP, ""))
        .drop("line")
        .where(F.col("text") != "")
        # F2 noise pushdown: always-ignored boilerplate never reaches
        # the kernel (state-independent by definition)
        .where(~F.col("text").rlike(A.J_NOISE_CI) & ~F.col("text").rlike(A.J_NOISE_CS))
    )
    images = base.where(F.col("kind") == "image").select(
        "doc_id", "kind", F.lit(0).alias("line_no"), "media_ref", "offset", "page",
    ).withColumn("text", F.lit(""))

    cols = ["doc_id", "kind", "text", "media_ref", "offset", "line_no", "page"]
    return text_lines.select(cols).unionByName(images.select(cols))


def parse_raw(documents: DataFrame) -> DataFrame:
    """documents → raw question rows (schema.QUESTION_RAW), pre-finalize:
    the Catalyst FSM over ``tokenize``'s line rows — the ``native``
    engine's parse stage."""
    return _native.parse_native(tokenize(documents))


def _packed(
    documents: DataFrame,
    engine: str,
    out_schema,
    arrow_fn: str,
    pandas_fn,
    giant,
) -> DataFrame:
    """The packed plan every ``extract_*`` call shares: giant-doc split
    → ``packed_projection`` → one kernel pass, unioned with the chunked
    branch for the documents above ``GIANT_DOC_SPANS`` spans.

    ``arrow_fn`` names the ``vkernel`` entry point (``engine="packed"``);
    ``pandas_fn`` is its dkernel twin (``"packed-pandas"``), None where
    the call has no twin. ``giant`` turns the chunked branch's
    QUESTION_FINAL rows into ``out_schema`` rows. The engine is checked
    before ``_has_giant`` can run its probe job."""
    if engine == "packed":
        from ..operators import vkernel

        kernel = getattr(vkernel, arrow_fn)
    elif engine == "packed-pandas" and pandas_fn is not None:
        kernel = pandas_fn
    else:
        raise ValueError(f"unknown engine {engine!r}")
    giant_rows = None
    if _has_giant(documents):
        # the big branch rescans the input: cheap under n_spans stats, a
        # size(spans) pass otherwise
        sz = _doc_size(documents)
        giant_rows = giant(chunked.parse_giant_final(
            documents.where(sz > F.lit(GIANT_DOC_SPANS)), GIANT_CHUNK))
        documents = documents.where(sz <= F.lit(GIANT_DOC_SPANS))
    proj = dkernel.packed_projection(documents)
    if engine == "packed":
        out = proj.mapInArrow(kernel, schema=out_schema)
    else:
        out = proj.mapInPandas(kernel, schema=out_schema)
    if giant_rows is not None:
        out = out.unionByName(giant_rows)
    return out


def extract_questions(documents: DataFrame, *, engine: str = "packed") -> DataFrame:
    """documents → finalized question table (the flagship operator).

    Packed default = the vectorized Arrow kernel (parse + finalize in
    one pass, nested entities assembled arrow-side — operators/
    vkernel.py); engine="packed-pandas" keeps the fused pandas kernel;
    engine="native" keeps parse → Column finalize, and tests assert row
    equality between all of them. On the packed engines, documents
    above ``GIANT_DOC_SPANS`` spans route to the anchor-chunked branch
    (operators/chunked.py) — no single-task straggler on skewed
    corpora. ``native`` has no giant-doc dispatch."""
    if engine == "native":
        return _finalize.finalize_questions(parse_raw(documents))
    return _packed(
        documents, engine, schema.QUESTION_FINAL,
        "parse_docs_final_arrow", dkernel.parse_docs_final,
        lambda questions: questions,
    )


def extract_validation(documents: DataFrame, *, engine: str = "packed") -> DataFrame:
    """documents → per-doc ValidationReport (reference validator.py).

    The packed engines compute the report INSIDE the parse kernel
    (vkernel.validate_docs_arrow / dkernel.validate_docs): one scan →
    one kernel pass, zero shuffle, and no question text ever crosses
    the Arrow boundary — where extract_questions → validation_report
    pays the full FSM parse and then aggregates it away (r2 bench:
    6.99 s vs 5.69 s for the parse alone at sf0.1). engine="native"
    keeps the relational decomposition (operators/validate.py),
    row-equal by test."""
    if engine == "native":
        return _validate.validation_report(
            extract_questions(documents, engine="native")
        )
    return _packed(
        documents, engine, schema.VALIDATION_REPORT,
        "validate_docs_arrow", dkernel.validate_docs,
        _validate.validation_report,
    )


def extract_flat_spans(documents: DataFrame, *, engine: str = "packed") -> DataFrame:
    """documents → canonical ordered output spans (§1.4 contract).

    The packed engines emit flat primitive columns straight from the
    kernel pass (vkernel.parse_docs_flat_arrow: RE2 classify + numpy
    segmented cumsums + arrow-side joins, strings never become Python
    objects; dkernel.parse_docs_flat its pandas twin). The Column-API
    finalize+flatten stage they replace is interpreted HOF expressions
    costing ~3× the FSM itself; the fused path is row-equal by test.
    engine="native" keeps parse → finalize → flatten (the reference
    decomposition).
    """
    if engine == "native":
        return _flatten.flat_spans(
            extract_questions(documents, engine="native")
        )
    return _packed(
        documents, engine, schema.FLAT_SPAN_SEQ,
        "parse_docs_flat_arrow", dkernel.parse_docs_flat,
        _flatten.flat_spans,
    )


def _giant_doc_text(questions: DataFrame) -> DataFrame:
    flat = _flatten.flat_spans(questions).where(F.col("kind") == "text")
    return flat.groupBy("doc_id").agg(
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


def extract_doc_text(documents: DataFrame) -> DataFrame:
    """documents → ONE reassembled text per document (doc_id, text,
    n_text_spans): the text-kind flat spans joined with " " in the
    canonical (seq, order) sequence — exam reassembly, the e2e
    pipeline's stage-1 boundary.

    Zero Exchange: the vectorized kernel already has each document's
    spans colocated and sorted, so the per-doc aggregation happens
    INSIDE the mapInArrow pass (operators/vkernel.doc_text_arrow).
    Row-equal to ``extract_flat_spans(...).where(kind='text')
    .groupBy(doc_id).agg(sort-by-(seq, order) string join)`` — which
    is exactly what the rare giant-doc branch still computes (one
    extra shuffle over a handful of outlier docs)."""
    return _packed(
        documents, "packed", schema.DOC_TEXT,
        "doc_text_arrow", None, _giant_doc_text,
    )


def extract_question_scalars(documents: DataFrame) -> DataFrame:
    """documents → per-question scalar columns (doc_id, seq,
    question_number, question_type, question_text, answer_text,
    anomaly_score) via the vectorized kernel — the flagship query's
    projection without materializing nested options/images/anomalies.
    For the full QUESTION_FINAL entity table use extract_questions."""
    return _packed(
        documents, "packed", schema.QUESTION_SCALARS,
        "question_scalars_arrow", None,
        lambda questions: questions.select(*schema.QUESTION_SCALARS.names),
    )
