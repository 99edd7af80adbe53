"""Giant-document branch v2: anchor-aligned chunking + the SAME
vectorized Arrow kernel as the main path.

Round-4 measurement (BENCH.md): the previous giant branch (chunked
pure-Catalyst FSM, operators/native.py) runs at ~23k lines/s on
local[32] — ~15× slower than a single vkernel task, so auto-dispatch
never won wall-clock. The fix exploits an FSM property instead of a
different engine: a ``Question: N`` anchor line that is neither a solo
"Question N" artifact (line-local test, dkernel.py:151-152) nor
cover-page noise (only consulted while no question is open,
dkernel.py:153-156) unconditionally flushes the open question and
hard-resets all parser state (reference state_machine.py:205-230).
Splitting a giant document AT such spans therefore yields pseudo-
documents whose independent parses equal the whole-doc parse — the
only cross-chunk state is the ``seq`` counter, restored afterwards by
a per-chunk offset (window over #chunks rows, not spans).

Scale shape: one explode, flag evaluation distributed after a round-
robin repartition, chunk assignment via a per-doc bucket map (tiny:
``n_spans/chunk`` rows) broadcast onto span rows, one hash exchange on
(doc_id, chunk) to re-pack pseudo-docs, then the ordinary
scan→mapInArrow kernel. A 10⁷-span document becomes ~n/chunk
independent kernel rows instead of one straggler task; everything is
lazy (no driver collect), so plan construction stays job-free.

Safe-split subtleties mirrored from the kernels:
- the anchor must be the first NON-EMPTY line of its span (earlier
  lines would belong to the previous question); empty lines use the
  kernels' python-strip parity class;
- noise wins over anchors (dkernel._COMBINED_NOISE order), so a first
  line matching any always-ignore pattern is not a split;
- ties on duplicate span offsets may re-order differently from the
  packed comparator sort; offsets are unique in every source this
  engine ships (pdfscan re-index, spans generator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import schema
from ..functions import anchors as A

#: pseudo-doc id separator (never appears in real doc ids)
SEP = "\x1d"

#: bound on chunks per document: keeps the per-doc bucket map and the
#: seq-offset window tiny even for a 10^9-span pathology, while 256
#: kernel rows per doc saturate any executor fleet
MAX_CHUNKS = 256


def _strip(col):
    return F.regexp_replace(
        col, f"^{A.J_PY_STRIP_CLASS}+|{A.J_PY_STRIP_CLASS}+$", ""
    )


def _safe_split_flag():
    """First non-empty stripped line of the span is an unconditional
    question anchor."""
    first = F.get(
        F.filter(
            F.transform(F.split(F.col("text"), "\n"), _strip),
            lambda x: x != "",
        ),
        0,
    )
    return (
        (F.col("kind") == "text")
        & first.isNotNull()
        & first.rlike(A.J_QUESTION)
        & ~first.rlike(A.J_SOLO_QUESTION)
        & ~first.rlike(A.J_COVER_NOISE)
        & ~first.rlike(A.J_NOISE_CI)
        & ~first.rlike(A.J_NOISE_CS)
    )


def span_chunk_projection(
    span_rows: DataFrame, chunk_spans: int
) -> DataFrame:
    """Span-grained giant documents → packed pseudo-doc rows
    (doc_id+SEP+chunk, kinds, texts, refs, pages) cut at safe anchors
    every ≥chunk_spans spans — the chunked twin of
    dkernel.packed_projection.

    Input: one row per span (doc_id, kind, text, media_ref, offset[,
    page]) — the RECOMMENDED ingest shape for giant documents. A
    document packed as one row is decoded by one scan task no matter
    what runs downstream (measured: the serial explode alone costs
    ~7.5s at 2M spans — more than the whole single-task fused parse),
    so at 100 TB, split pathological documents into span rows (or
    sub-row chunks) AT INGEST and this projection gives the kernel
    full-cluster parallelism end to end.

    ``offset`` need only be UNIQUE per doc and order-defining — it
    does NOT have to be dense 0..n-1. Byte/char offsets, or gaps left
    by upstream filtering, are fine: the chunk bucket table is sized
    from max(offset), so every span's bucket exists (chunk width is
    then measured in offset units, with ≥``chunk_spans`` offset units
    per chunk and ≤MAX_CHUNKS chunks per doc either way)."""
    has_page = "page" in span_rows.columns
    ex = span_rows.select(
        "doc_id", "kind", "text", "media_ref",
        F.col("offset").cast("long").alias("offset"),
        (F.col("page") if has_page else F.lit(None)).cast("int")
        .alias("page"),
    )

    # per-doc chunk width: ≥chunk_spans, and ≤MAX_CHUNKS chunks/doc.
    # n = max(offset)+1, NOT count(*): bucket keys downstream are
    # offset/width, so the bucket table must span the offset RANGE —
    # sizing it from the row count silently drops spans whose offset
    # exceeds the count when offsets are non-dense (byte offsets,
    # filtered gaps). Dense 0..n-1 inputs are unchanged: max+1 == n.
    meta = ex.groupBy("doc_id").agg(
        (F.max("offset") + 1).cast("long").alias("n")
    ).select(
        "doc_id", "n",
        F.greatest(
            F.lit(chunk_spans), F.ceil(F.col("n") / MAX_CHUNKS)
        ).cast("long").alias("width"),
    )
    return _chunk_and_pack(ex, meta, has_page)


def packed_chunk_projection(big: DataFrame, chunk_spans: int) -> DataFrame:
    """Packed giant documents (one row per doc) → the same pseudo-doc
    rows via an explode. NOTE the scan/explode of a packed giant row is
    inherently ONE task (see span_chunk_projection) — this wrapper
    bounds kernel memory and the post-scan stage tail, not scan time."""
    spark = big.sparkSession
    has_page = "page" in big.schema["spans"].dataType.elementType.names
    try:
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        # platforms set this conf to "auto" (AQE-managed); any
        # reasonable fan-out works here — it only spreads the regex
        # flag evaluation — so fall back to the cluster default
        shuffle_n = spark.sparkContext.defaultParallelism

    s = F.explode("spans").alias("s")
    ex = big.select("doc_id", s).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").cast("long").alias("offset"),
        (F.col("s.page") if has_page else F.lit(None)).cast("int")
        .alias("page"),
    )
    # the explode of one giant row is a single task; re-distribute
    # BEFORE the regex flag evaluation so it runs on every core
    ex = ex.repartition(shuffle_n)

    # per-doc chunk width: ≥chunk_spans, and ≤MAX_CHUNKS chunks/doc.
    # n = max(offset)+1 (not array size) for the same non-dense-offset
    # reason as span_chunk_projection: bucket keys are offset/width.
    n_expr = (
        F.array_max(F.transform("spans", lambda s: s["offset"]))
        .cast("long") + 1
    )
    meta = big.select(
        "doc_id",
        F.greatest(
            F.lit(chunk_spans),
            F.ceil(n_expr / MAX_CHUNKS),
        ).cast("long").alias("width"),
        n_expr.alias("n"),
    )
    return _chunk_and_pack(ex, meta, has_page)


def _chunk_and_pack(ex: DataFrame, meta: DataFrame,
                    has_page: bool) -> DataFrame:

    flagged = ex.withColumn("_safe", _safe_split_flag())
    bounds = (
        flagged.where("_safe")
        .join(F.broadcast(meta), "doc_id")
        .groupBy("doc_id", (F.col("offset") / F.col("width"))
                 .cast("long").alias("bucket"))
        .agg(F.min("offset").alias("b"))
    )
    # complete per-doc bucket table (tiny) + running last boundary
    buckets = meta.select(
        "doc_id", "width",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.col("n") / F.col("width")))
        ).alias("bucket"),
    )
    w_cur = (
        Window.partitionBy("doc_id").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_prev = (
        Window.partitionBy("doc_id").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_map = (
        buckets.join(bounds, ["doc_id", "bucket"], "left")
        .select(
            "doc_id", "bucket", "b",
            F.last("b", ignorenulls=True).over(w_prev).alias("prev_b"),
        )
    )

    assigned = (
        flagged.join(F.broadcast(meta.select("doc_id", "width")), "doc_id")
        .withColumn(
            "bucket", (F.col("offset") / F.col("width")).cast("long")
        )
        .join(F.broadcast(bucket_map), ["doc_id", "bucket"])
        .withColumn(
            "chunk",
            F.coalesce(
                F.when(
                    F.col("b").isNotNull() & (F.col("offset") >= F.col("b")),
                    F.col("b"),
                ).otherwise(F.col("prev_b")),
                F.lit(-1),
            ),
        )
    )

    packed = (
        assigned.groupBy("doc_id", "chunk")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("offset", "kind", "text", "media_ref", "page")
                )
            ).alias("sp")
        )
        .select(
            F.concat(
                F.col("doc_id"), F.lit(SEP), F.col("chunk").cast("string")
            ).alias("doc_id"),
            F.transform("sp", lambda x: x["kind"]).alias("kinds"),
            F.transform("sp", lambda x: x["text"]).alias("texts"),
            F.transform("sp", lambda x: x["media_ref"]).alias("refs"),
            (
                F.transform("sp", lambda x: x["page"])
                if has_page
                else F.lit(None).cast("array<int>")
            ).alias("pages"),
        )
    )
    return packed


def parse_giant_final(big: DataFrame, chunk_spans: int) -> DataFrame:
    """Packed giant documents → finalized QUESTION_FINAL rows via the
    vectorized kernel over anchor-aligned chunks; ``seq`` re-offset so
    output rows equal the whole-document parse."""
    return _kernel_and_stitch(packed_chunk_projection(big, chunk_spans))


def parse_span_rows_final(
    span_rows: DataFrame, chunk_spans: int
) -> DataFrame:
    """Span-grained giant documents (one row per span — the ingest
    shape that keeps the scan parallel) → finalized QUESTION_FINAL
    rows, row-equal to the packed whole-document parse."""
    return _kernel_and_stitch(span_chunk_projection(span_rows, chunk_spans))


def _kernel_and_stitch(proj: DataFrame) -> DataFrame:
    from . import vkernel

    out = proj.mapInArrow(
        vkernel.parse_docs_final_arrow, schema=schema.QUESTION_FINAL
    )
    out = out.withColumn(
        "_doc", F.substring_index("doc_id", SEP, 1)
    ).withColumn(
        "_chunk", F.substring_index("doc_id", SEP, -1).cast("long")
    )
    # seq stitch: ONE window renumber over the QUESTION rows (5-25×
    # fewer than spans) — chunks ordered by their boundary offset
    # (head = -1 first), original order kept within a chunk. A join
    # against per-chunk counts would re-run the kernel subtree for the
    # count aggregate (no subtree reuse across self-joins — measured
    # 2× the whole wall); the window costs one narrow per-doc sort.
    w = Window.partitionBy("_doc").orderBy("_chunk", "seq")
    stitched = (
        out.withColumn("seq", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("doc_id", F.col("_doc"))
        .drop("_doc", "_chunk")
    )
    return stitched.select([f.name for f in schema.QUESTION_FINAL.fields])
