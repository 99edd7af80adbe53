"""Giant-document branch v2: anchor-aligned chunking + the SAME
vectorized Arrow kernel as the main path.

Round-4 measurement (BENCH.md): the previous giant branch (chunked
pure-Catalyst FSM, operators/native.py) runs at ~23k lines/s on
local[32] — ~15× slower than a single vkernel task, so auto-dispatch
never won wall-clock. The fix exploits an FSM property instead of a
different engine: a ``Question: N`` anchor line that is neither a solo
"Question N" artifact (line-local test, dkernel.py:141-142) nor
cover-page noise (only consulted while no question is open,
dkernel.py:143-146) unconditionally flushes the open question and
hard-resets all parser state (reference state_machine.py:205-230).
Splitting a giant document AT such spans therefore yields pseudo-
documents whose independent parses equal the whole-doc parse — the
only cross-chunk state is the ``seq`` counter, restored afterwards by
a per-chunk offset (window over #chunks rows, not spans).

Scale shape: the span rows are scanned twice and nothing else. The
first scan evaluates the safe-split flag once per span (one
``regexp_extract`` of the first non-empty line, then the grammar
matches on that line alone) inside ONE aggregation over fine buckets
of ``chunk_spans`` offsets, which keeps each bucket's first safe
split. Window functions on that small table (one exchange on
doc_id) coarsen it to ≤MAX_CHUNKS chunks per doc, each with its head
and the previous head, and one row per doc carries them as an array
indexed by chunk bucket: the broadcast map. The second scan looks
every span's chunk up in that map, one hash exchange on (doc_id,
chunk) re-packs pseudo-docs, then the ordinary scan→mapInArrow kernel
runs (a packed giant row is exploded and round-robin re-distributed
first). A 10⁷-span document becomes ~n/chunk independent kernel rows
instead of one straggler task; everything is lazy (no driver
collect), so plan construction stays job-free.

Safe-split subtleties mirrored from the kernels:
- the anchor must be the first NON-EMPTY line of its span (earlier
  lines would belong to the previous question); empty lines use the
  kernels' python-strip parity class;
- noise wins over anchors (anchors.RE_LINE order), so a first
  line matching any always-ignore pattern is not a split;
- the flag's patterns are anchors' ``J_*`` forms, which read ``\\s``
  and ``\\d`` as Python does;
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


#: the first non-empty line of a span, stripped as ``str.strip()``
#: strips it (group 1; "" when every line is blank): leading blank
#: lines and whitespace go to the possessive prefix, trailing
#: whitespace of that line to the lazy body's tail. Lines split on
#: "\n" only, as the kernels split them; ``\z``, not ``$``, because
#: Java's ``$`` also matches before a final \r, \u0085, \u2028 or
#: \u2029.
_FIRST_LINE = (
    f"^{A.J_PY_STRIP_CLASS}*+([^\\n]*?)"
    f"[{A.J_PY_STRIP_CLASS}&&[^\\n]]*+(?:\\n|\\z)"
)


def _first_line():
    """The span's first non-empty stripped line: ONE ``regexp_extract``
    per span."""
    return F.regexp_extract(
        F.coalesce(F.col("text"), F.lit("")), _FIRST_LINE, 1
    )


def _safe_split_flag(first=None):
    """First non-empty stripped line of the span is an unconditional
    question anchor: an anchor, and neither a solo "Question N" nor
    cover or boilerplate noise. ``first``: that line, when the caller
    has already projected :func:`_first_line` (so the plan evaluates
    it once)."""
    first = _first_line() if first is None else first
    flag = ((F.col("kind") == "text") & (first != "")
            & first.rlike(A.J_QUESTION))
    for p in (A.J_SOLO_QUESTION, A.J_COVER_NOISE, A.J_NOISE_CI,
              A.J_NOISE_CS):
        flag = flag & ~first.rlike(p)
    return flag


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
    by upstream filtering, are fine: chunks are ranges of offsets
    (≥``chunk_spans`` offset units each, ≤MAX_CHUNKS per doc), so
    every span falls in one whatever the gaps."""
    has_page = "page" in span_rows.columns
    ex = span_rows.select(
        "doc_id", "kind", "text", "media_ref",
        F.col("offset").cast("long").alias("offset"),
        (F.col("page") if has_page else F.lit(None)).cast("int")
        .alias("page"),
    )
    return _chunk_and_pack(ex, chunk_spans, has_page)


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
    return _chunk_and_pack(ex, chunk_spans, has_page)


def _chunk_and_pack(ex: DataFrame, chunk_spans: int,
                    has_page: bool) -> DataFrame:
    # ONE aggregation over fine buckets of chunk_spans offsets: each
    # bucket's first safe-split offset (null when it has none)
    fb = (F.col("offset") / chunk_spans).cast("long")
    fine = (
        ex.withColumn("_first", _first_line())
        .groupBy("doc_id", fb.alias("fb"))
        .agg(F.min(F.when(_safe_split_flag(F.col("_first")),
                          F.col("offset"))).alias("b"))
    )
    # coarsen on that small table: k fine buckets per chunk bucket, so
    # a doc has ≤MAX_CHUNKS of them; each one's head is its first safe
    # split and ``prev`` the last head before it
    k = F.greatest(
        F.lit(1),
        F.ceil((F.max("fb").over(Window.partitionBy("doc_id")) + 1)
               / MAX_CHUNKS),
    )
    w_prev = (
        Window.partitionBy("doc_id").orderBy("cb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    heads = (
        fine.withColumn("k", k)
        .groupBy("doc_id", "k", (F.col("fb") / F.col("k")).cast("long")
                 .alias("cb"))
        .agg(F.min("b").alias("head"))
        .withColumn("prev", F.last("head", ignorenulls=True).over(w_prev))
    )
    # the broadcast map: ONE row per doc, its (head, prev) pairs in an
    # array indexed by chunk bucket (null where no span falls)
    entries = F.col("hp")
    bucket_map = (
        heads.groupBy("doc_id", "k")
        .agg(F.max("cb").alias("last"),
             F.collect_list(F.struct("cb", "head", "prev")).alias("hp"))
        .select(
            "doc_id", "k",
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.col("last")),
                lambda c: F.get(F.filter(entries, lambda e: e["cb"] == c), 0),
            ).alias("hp"),
        )
    )

    e = F.col("hp")[(fb / F.col("k")).cast("int")]
    assigned = ex.join(F.broadcast(bucket_map), "doc_id").withColumn(
        "chunk",
        F.when(F.col("offset") >= e["head"], e["head"])
        .otherwise(F.coalesce(e["prev"], F.lit(-1).cast("long"))),
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
