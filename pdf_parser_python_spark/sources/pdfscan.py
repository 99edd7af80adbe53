"""Raw-document scan phase: binary files → layout blocks → spans table.

Re-expresses the reference's BlockExtractor phase
(/root/reference/parser/block_extractor.py) as a distributed scan:

    spark.read.format("binaryFile") → mapInPandas(extract) → block rows
        → native window re-index → spans table (input_hint shape)

Operators covered (SURVEY.md §2.1/2.2):
- S1 page scan: per-page text blocks with bbox (block_extractor.py:57-122);
- S2 page-range scan: clamp + prune before extraction (:146-152);
- S3 image extract: per-page image records (:234-357);
- S4 per-page (y0, x0) sort + global order re-index (:205-223) — done
  natively with window row_number, not in Python;
- F4 min-image-size filter (:289-293);
- F5 logo/repeat-image filter: content hash seen more than `logo_max`
  times with rendered area < 10,000 → dropped from then on (:308-325);
- F6 degenerate-bbox filter (:270-272, 301-303);
- F7 per-page image cap (:250-254) — the 1,051-images-on-a-page guard.

PyMuPDF is not installed in this container, so the *codec* is dual:
real PDFs raise unless ``fitz`` imports (gated, untested here), and a
deterministic textual layout format ("SPDF") exercises the entire
distributed path in tests. The SPDF grammar, one directive per line:

    SPDF
    @page <width> <height>
    @text <x0> <y0> <x1> <y1> <text, "\\n" escaped>
    @image <x0> <y0> <x1> <y1> <width_px> <height_px> <media_ref>
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..zipcache import drop_zip_finders

try:  # pragma: no cover — not in this container
    import fitz  # noqa: F401

    HAVE_FITZ = True
except Exception:  # pragma: no cover
    HAVE_FITZ = False

BLOCK = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("x0", T.DoubleType(), False),
        T.StructField("y0", T.DoubleType(), False),
        T.StructField("x1", T.DoubleType(), False),
        T.StructField("y1", T.DoubleType(), False),
        T.StructField("img_w", T.IntegerType(), True),
        T.StructField("img_h", T.IntegerType(), True),
        T.StructField("img_hash", T.StringType(), True),
    ]
)


def _parse_spdf(doc_id: str, payload: bytes, page_range=None) -> list[tuple]:
    """Decode the deterministic SPDF layout format into block tuples."""
    lines = payload.decode("utf-8", errors="replace").split("\n")
    if not lines or lines[0].strip() != "SPDF":
        raise ValueError("not an SPDF payload")
    out = []
    page = 0
    for ln in lines[1:]:
        if ln.startswith("@page"):
            page += 1
        elif ln.startswith("@text "):
            if page_range and not (page_range[0] <= page <= page_range[1]):
                continue  # S2: page-range prune
            _, x0, y0, x1, y1, rest = ln.split(" ", 5)
            out.append(
                (doc_id, "text", rest.replace("\\n", "\n"), None, page,
                 float(x0), float(y0), float(x1), float(y1), None, None,
                 None)
            )
        elif ln.startswith("@image "):
            if page_range and not (page_range[0] <= page <= page_range[1]):
                continue
            _, x0, y0, x1, y1, w, h, ref = ln.split(" ", 7)
            out.append(
                (doc_id, "image", None, ref, page,
                 float(x0), float(y0), float(x1), float(y1), int(w), int(h),
                 hashlib.md5(ref.encode()).hexdigest())
            )
    return out


def _parse_fitz(
    doc_id: str,
    payload: bytes,
    page_range: tuple[int, int] | None = None,
    page_image_cap: int = 2000,
    fitz_mod=None,
) -> list[tuple]:
    """Real-PDF decode via PyMuPDF, faithful to the reference's
    BlockExtractor (/root/reference/parser/block_extractor.py:124-357):

    - per-page ``get_text("dict", TEXT_PRESERVE_WHITESPACE)``; text
      block content = lines joined by "\\n", spans concatenated
      (:228-232); empty-after-strip blocks dropped (:182);
    - page-range clamp, 1-indexed inclusive (:146-152);
    - xref image extract with a per-document xref cache (:241-262);
      bbox = first rendered rect (:265-270, 301-305);
    - the >cap-images page guard emits no images for that page
      (:250-254) — kept in-kernel so a pathological page never decodes
      thousands of xrefs.

    DIFFERENCES (deliberate, distributed design): the min-size /
    degenerate-bbox / logo-repeat filters (F4-F6) are NOT applied here —
    they run natively in :func:`filter_blocks` over the emitted
    (img_w, img_h, img_hash) columns, same as the SPDF path, so Catalyst
    sees them as predicates. ``media_ref`` is content-addressed
    (``img://{doc_id}/{md5[:16]}``) instead of a written PNG path —
    the reference's save-once-per-hash file reuse (:308-343) becomes
    hash-identity; an object-store sink can materialize payloads later.

    ``fitz_mod`` injects a fitz-shaped shim for tests (PyMuPDF is not
    installed in this container).
    """
    if fitz_mod is None:  # pragma: no cover — exercised via shim in tests
        import fitz as fitz_mod
    out: list[tuple] = []
    xref_cache: dict[int, tuple] = {}
    with fitz_mod.open(stream=payload, filetype="pdf") as doc:
        total = doc.page_count
        start, end = 1, total
        if page_range:
            start, end = max(1, page_range[0]), min(total, page_range[1])
        for page_idx in range(start - 1, end):
            page = doc[page_idx]
            page_num = page_idx + 1

            imgs = page.get_images(full=True)
            if len(imgs) > page_image_cap:
                imgs = []  # block_extractor.py:250-254
            for img in imgs:
                xref = img[0]
                if xref in xref_cache:
                    meta = xref_cache[xref]
                else:
                    try:
                        base = doc.extract_image(xref)
                    except Exception:
                        base = None
                    if not base:
                        # do NOT cache the failure: the reference only
                        # caches successful extractions, so a transient
                        # per-page decode error is retried on later
                        # pages (block_extractor.py image loop)
                        continue
                    data = base["image"]
                    h = hashlib.md5(data).hexdigest()
                    meta = (base["width"], base["height"], h,
                            f"img://{doc_id}/{h[:16]}")
                    xref_cache[xref] = meta
                if meta is None:
                    continue
                rects = page.get_image_rects(xref)
                if not rects:
                    continue  # hidden on this page (:265-267, 297-299)
                r = rects[0]
                out.append(
                    (doc_id, "image", None, meta[3], page_num,
                     float(r.x0), float(r.y0), float(r.x1), float(r.y1),
                     int(meta[0]), int(meta[1]), meta[2])
                )

            pdict = page.get_text(
                "dict", flags=getattr(fitz_mod, "TEXT_PRESERVE_WHITESPACE", 0)
            )
            for block in pdict.get("blocks", []):
                if block.get("type") != 0:
                    continue
                text = "\n".join(
                    "".join(s["text"] for s in line.get("spans", []))
                    for line in block.get("lines", [])
                )
                if not text.strip():
                    continue
                bb = block["bbox"]
                out.append(
                    (doc_id, "text", text, None, page_num,
                     float(bb[0]), float(bb[1]), float(bb[2]), float(bb[3]),
                     None, None, None)
                )
    return out


def scan_blocks(
    spark: SparkSession,
    input_glob: str,
    page_range: tuple[int, int] | None = None,
) -> DataFrame:
    """binaryFile scan → raw block rows (pre-filter)."""
    binaries = spark.read.format("binaryFile").load(input_glob).select(
        F.regexp_extract(F.col("path"), r"([^/]+)\.[a-z]+$", 1).alias("doc_id"),
        "content",
    )

    pr = page_range

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        cols = [f.name for f in BLOCK.fields]
        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(payload)
                if b.startswith(b"SPDF"):
                    rows.extend(_parse_spdf(doc_id, b, pr))
                elif HAVE_FITZ:  # pragma: no cover — fitz absent here
                    rows.extend(_parse_fitz(doc_id, b, pr))
                else:
                    raise ValueError(
                        f"{doc_id}: unknown payload and PyMuPDF unavailable"
                    )
            yield pd.DataFrame(rows, columns=cols)

    return binaries.mapInPandas(extract, schema=BLOCK)


def filter_blocks(
    blocks: DataFrame,
    min_img_px: int = 50,
    page_image_cap: int = 2000,
    logo_max: int = 5,
    logo_area: float = 10_000.0,
) -> DataFrame:
    """Native layout filters F4-F7 (all Column ops, no Python)."""
    is_img = F.col("kind") == "image"
    area = (F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0"))

    # F6 degenerate bbox; F4 min pixel size
    out = blocks.where(
        ~is_img
        | (
            ((F.col("x1") - F.col("x0")) >= 1)
            & ((F.col("y1") - F.col("y0")) >= 1)
            & (F.col("img_w") >= min_img_px)
            & (F.col("img_h") >= min_img_px)
        )
    )

    # F7 per-page image cap: a page with more than `cap` images keeps none
    per_page = Window.partitionBy("doc_id", "page")
    out = out.withColumn(
        "_page_imgs", F.sum(is_img.cast("int")).over(per_page)
    ).where(~is_img | (F.col("_page_imgs") <= page_image_cap))

    # F5 logo filter: occurrences of a hash beyond `logo_max` with a
    # small rendered area are dropped (running count in reading order)
    seq = Window.partitionBy("doc_id", "img_hash").orderBy(
        "page", "y0", "x0"
    )
    out = out.withColumn(
        "_nth", F.when(is_img, F.row_number().over(seq)).otherwise(F.lit(0))
    ).where(~is_img | ~((F.col("_nth") > logo_max) & (area < logo_area)))

    return out.drop("_page_imgs", "_nth")


def blocks_to_documents(blocks: DataFrame) -> DataFrame:
    """S4 + W1 natively: per-page (y0,x0) sort, global re-index, then
    pack into the input_hint spans table."""
    order = Window.partitionBy("doc_id").orderBy("page", "y0", "x0")
    indexed = blocks.withColumn(
        "offset", (F.row_number().over(order) - 1).cast("int")
    )
    span = F.struct(
        F.col("kind").alias("kind"),
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("media_ref", F.lit("")).alias("media_ref"),
        F.col("offset").alias("offset"),
        F.col("page").alias("page"),
    )
    return (
        indexed.select("doc_id", span.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list("s"),
                lambda a, b: a["offset"].cast("int") - b["offset"].cast("int"),
            ).alias("spans")
        )
    )


def write_spdf(path: str, pages: list[list[tuple]]) -> None:
    """Test helper: serialize pages of (kind, bbox..., payload) tuples
    into the SPDF format. Each page is a list of directives:
    ("text", x0, y0, x1, y1, text) or ("image", x0, y0, x1, y1, w, h, ref).
    """
    lines = ["SPDF"]
    for page in pages:
        lines.append("@page 612 792")
        for d in page:
            if d[0] == "text":
                lines.append(
                    f"@text {d[1]} {d[2]} {d[3]} {d[4]} "
                    + d[5].replace("\n", "\\n")
                )
            else:
                lines.append(
                    f"@image {d[1]} {d[2]} {d[3]} {d[4]} {d[5]} {d[6]} {d[7]}"
                )
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
