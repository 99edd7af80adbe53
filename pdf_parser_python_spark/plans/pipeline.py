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
chunks, one hash exchange on (doc_id, chunk), the same kernel.

The other engines are row-equal by test: ``packed-pandas`` is the same
plan with the pandas kernel under mapInPandas; ``native`` is the FSM in
Catalyst over ``tokenize``'s line rows (noise filtered JVM-side), then
finalize and flatten as Column expressions. Any other engine name
raises ValueError when the plan is built.

Scale notes (100 TB / 10^12 docs):
- the packed default needs no shuffle: the input is already one row
  per document, and a pathological document is bounded by the giant-doc
  reroute instead;
- on the native engine the hash partition by ``doc_id`` is the only
  shuffle and the skew point (its ``chunk_size`` option is the
  segment-level alternative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schema
from ..functions import anchors as A
from ..operators import finalize as _finalize
from ..operators import flatten as _flatten
from ..operators import dkernel

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


def _giant_split(
    documents: DataFrame, threshold: int
) -> tuple[DataFrame, DataFrame]:
    """(small, big) split by per-doc span count. The big branch rescans
    the input (cheap under n_spans/stats; a size(spans) pass otherwise)
    — the price of never letting one degenerate document serialize a
    1000-executor stage."""
    sz = _doc_size(documents)
    return (
        documents.where(sz <= F.lit(threshold)),
        documents.where(sz > F.lit(threshold)),
    )


#: probe memo: (session id, analyzed-plan semanticHash, threshold) →
#: bool. A heuristic cache — a false stale entry can only cost perf
#: (straggler or an empty union branch), never correctness.
_GIANT_PROBE_CACHE: dict[tuple, bool] = {}

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
    back to the memoized probe job. When the DataFrame carries filters
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


def _resolve_threshold(documents: DataFrame, kw: dict) -> int | None:
    """Giant-doc dispatch policy for the packed engines.

    ``giant_doc_spans`` kw: ``"auto"`` (default) bounds the corpus's
    max doc size — `any doc > GIANT_DOC_SPANS spans?` — and only
    builds the union plan when outliers exist, because the chunked
    branch carries seconds of fixed plan/stage overhead that the common
    giant-free case must not pay. The bound comes from parquet footer
    stats read driver-side (``_footer_max_doc_spans``: zero Spark
    jobs) when the table carries ``n_spans``; otherwise one tiny
    memoized probe job. An explicit int forces the static union
    (deterministic plan, no probe); None disables dispatch. Streaming
    inputs skip the probe (no eager jobs on a stream).
    """
    threshold = kw.get("giant_doc_spans", "auto")
    if threshold != "auto":
        return threshold
    if documents.isStreaming:
        return None
    try:
        key = (
            documents.sparkSession.sparkContext.applicationId,
            documents._jdf.queryExecution().analyzed().semanticHash(),
            GIANT_DOC_SPANS,
        )
    except Exception:  # non-JVM edge: probe without memo
        key = None
    if key is not None and key in _GIANT_PROBE_CACHE:
        has_giant = _GIANT_PROBE_CACHE[key]
    else:
        footer_max = _footer_max_doc_spans(documents)
        if footer_max is not None:
            has_giant = footer_max > GIANT_DOC_SPANS
        else:
            has_giant = not documents.where(
                _doc_size(documents) > F.lit(GIANT_DOC_SPANS)
            ).isEmpty()
        if key is not None:
            _GIANT_PROBE_CACHE[key] = has_giant
    return GIANT_DOC_SPANS if has_giant else None


def _parse_giant_final(big: DataFrame) -> DataFrame:
    """Giant-doc branch: anchor-aligned chunking + the SAME vectorized
    kernel as the main path (operators/chunked.py — r4 rework: the
    previous chunked-native-FSM branch was measured ~15× slower than a
    single vkernel task, so dispatch never won wall-clock). One hash
    exchange on (doc_id, chunk); a giant document spreads over
    ~n_spans/GIANT_CHUNK kernel rows."""
    from ..operators.chunked import parse_giant_final

    return parse_giant_final(big, chunk_spans=GIANT_CHUNK)


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
        # python str.strip() parity (shared class, anchors.py — includes
        # the \x1C-\x1F separators Java's \s misses)
        .withColumn(
            "text",
            F.regexp_replace(
                "line",
                f"^{A.J_PY_STRIP_CLASS}+|{A.J_PY_STRIP_CLASS}+$",
                "",
            ),
        )
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


def parse_raw(
    documents: DataFrame,
    engine: str = "packed",
    chunk_size: int | None = None,
) -> DataFrame:
    """documents → raw question rows (pre-finalize).

    engine="packed" (default): the pandas kernel straight off the
    packed span arrays (operators/dkernel.py), scan → mapInPandas, no
    shuffle. engine="native": the Catalyst FSM over ``tokenize``'s line
    rows; ``chunk_size`` turns on its intra-doc parallel segmentation
    for giant docs. Any other engine raises ValueError.
    """
    if engine == "packed":
        proj = dkernel.packed_projection(documents)
        return proj.mapInPandas(dkernel.parse_docs, schema=schema.QUESTION_RAW)
    if engine == "native":
        from ..operators.native import parse_native

        return parse_native(tokenize(documents), chunk_size=chunk_size)
    raise ValueError(f"unknown engine {engine!r}")


def extract_questions(documents: DataFrame, **kw) -> DataFrame:
    """documents → finalized question table (the flagship operator).

    Packed default = the vectorized Arrow kernel (parse + finalize in
    one pass, nested entities assembled arrow-side — operators/
    vkernel.py); engine="packed-pandas" keeps the fused pandas kernel;
    engine="native" keeps parse → Column finalize, and tests assert row
    equality between all of them. Documents above ``giant_doc_spans``
    (default auto-probe; None disables) auto-route to the anchor-chunked
    branch (operators/chunked.py) — no single-task straggler on skewed
    corpora."""
    engine = kw.get("engine", "packed")
    if engine in ("packed", "packed-pandas"):
        threshold = _resolve_threshold(documents, kw)
        small, big = (
            (documents, None)
            if threshold is None
            else _giant_split(documents, threshold)
        )
        proj = dkernel.packed_projection(small)
        if engine == "packed":
            from ..operators import vkernel

            out = proj.mapInArrow(
                vkernel.parse_docs_final_arrow,
                schema=schema.QUESTION_FINAL,
            )
        else:
            out = proj.mapInPandas(
                dkernel.parse_docs_final, schema=schema.QUESTION_FINAL
            )
        if big is not None:
            out = out.unionByName(_parse_giant_final(big))
        return out
    return _finalize.finalize_questions(parse_raw(documents, **kw))


def extract_validation(documents: DataFrame, **kw) -> DataFrame:
    """documents → per-doc ValidationReport (reference validator.py).

    The default packed engine computes the report INSIDE the parse
    kernel (dkernel.validate_docs): one scan → mapInPandas pass, zero
    shuffle, and no question text ever crosses the Arrow boundary —
    where extract_questions → validation_report pays the full FSM parse
    and then aggregates it away (r2 bench: 6.99 s vs 5.69 s for the
    parse alone at sf0.1). engine="native" keeps the relational
    decomposition (operators/validate.py), row-equal by test."""
    engine = kw.get("engine", "packed")
    if engine in ("packed", "packed-pandas"):
        from ..operators.validate import validation_report as _vrep

        threshold = _resolve_threshold(documents, kw)
        small, big = (
            (documents, None)
            if threshold is None
            else _giant_split(documents, threshold)
        )
        proj = dkernel.packed_projection(small)
        if engine == "packed":
            from ..operators import vkernel

            out = proj.mapInArrow(
                vkernel.validate_docs_arrow,
                schema=schema.VALIDATION_REPORT,
            )
        else:
            out = proj.mapInPandas(
                dkernel.validate_docs, schema=schema.VALIDATION_REPORT
            )
        if big is not None:
            out = out.unionByName(_vrep(_parse_giant_final(big)))
        return out
    from ..operators.validate import validation_report

    return validation_report(extract_questions(documents, **kw))


def extract_flat_spans(documents: DataFrame, **kw) -> DataFrame:
    """documents → canonical ordered output spans (§1.4 contract).

    The default packed engine uses the FUSED kernel
    (dkernel.parse_docs_flat): scan → one mapInPandas emitting flat
    primitive columns. The Column-API finalize+flatten stage it
    replaces is interpreted HOF expressions costing ~3× the FSM itself;
    the fused path is row-equal by test. engine="native" keeps
    parse → finalize → flatten (the reference decomposition).
    """
    engine = kw.get("engine", "packed")
    if engine in ("packed", "packed-pandas"):
        threshold = _resolve_threshold(documents, kw)
        small, big = (
            (documents, None)
            if threshold is None
            else _giant_split(documents, threshold)
        )
        proj = dkernel.packed_projection(small)
        if engine == "packed":
            # vectorized kernel (operators/vkernel.py): RE2 classify +
            # numpy segmented cumsums + arrow-side joins — strings never
            # become Python objects (~2.7x the pandas fused kernel)
            from ..operators import vkernel

            out = proj.mapInArrow(
                vkernel.parse_docs_flat_arrow, schema=schema.FLAT_SPAN_SEQ
            )
        else:
            out = proj.mapInPandas(
                dkernel.parse_docs_flat, schema=schema.FLAT_SPAN_SEQ
            )
        if big is not None:
            out = out.unionByName(
                _flatten.flat_spans(_parse_giant_final(big))
            )
        return out
    return _flatten.flat_spans(extract_questions(documents, **kw))


def extract_doc_text(
    documents: DataFrame, giant_doc_spans="auto"
) -> DataFrame:
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
    from ..operators import vkernel

    threshold = _resolve_threshold(
        documents, {"giant_doc_spans": giant_doc_spans}
    )
    small, big = (
        (documents, None)
        if threshold is None
        else _giant_split(documents, threshold)
    )
    proj = dkernel.packed_projection(small)
    out = proj.mapInArrow(vkernel.doc_text_arrow, schema=schema.DOC_TEXT)
    if big is not None:
        flat = _flatten.flat_spans(_parse_giant_final(big)).where(
            F.col("kind") == "text"
        )
        out = out.unionByName(
            flat.groupBy("doc_id").agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("seq", "order", "text")
                            )
                        ),
                        lambda s: s["text"],
                    ),
                    " ",
                ).alias("text"),
                F.count("*").cast("bigint").alias("n_text_spans"),
            )
        )
    return out


def extract_question_scalars(
    documents: DataFrame, giant_doc_spans="auto"
) -> DataFrame:
    """documents → per-question scalar columns (doc_id, seq,
    question_number, question_type, question_text, answer_text,
    anomaly_score) via the vectorized kernel — the flagship query's
    projection without materializing nested options/images/anomalies.
    For the full QUESTION_FINAL entity table use extract_questions."""
    from ..operators import vkernel

    threshold = _resolve_threshold(
        documents, {"giant_doc_spans": giant_doc_spans}
    )
    small, big = (
        (documents, None)
        if threshold is None
        else _giant_split(documents, threshold)
    )
    proj = dkernel.packed_projection(small)
    out = proj.mapInArrow(
        vkernel.question_scalars_arrow, schema=schema.QUESTION_SCALARS
    )
    if big is not None:
        out = out.unionByName(
            _parse_giant_final(big).select(
                "doc_id", "seq", "question_number", "question_type",
                "question_text", "answer_text", "anomaly_score",
            )
        )
    return out
