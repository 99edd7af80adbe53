"""Event-time streaming aggregations with watermarks, plus a custom
stateful operator for line-grained streaming ingestion.

The reference is batch-only (SURVEY.md §2.8: no watermarks/session
windows exist there), but a 100 TB ingestion pipeline consumes span
streams; these are the streaming building blocks:

- :func:`windowed_event_counts` — tumbling event-time windows with a
  watermark bounding state and dropping late data (the standard
  "metrics rollup" shape for extraction-metric streams);
- :func:`sessionize_stream` — session windows keyed by user with a
  gap timeout (the time-based cousin of the anchor-based FSM
  sessionization);
- :func:`stateful_doc_assembler` — applyInPandasWithState: reassembles
  documents from a stream of individual spans (doc_id, span) and emits
  a completed document row once a document goes quiet for
  ``timeout_ms`` — the custom stateful operator for sources that
  deliver spans incrementally instead of packed rows. Downstream, the
  normal batch pipeline parses the emitted packed rows.
- :func:`stateful_streaming_dedup` — applyInPandasWithState: exact
  first-seen dedup over an unbounded document stream. The digest is
  computed JVM-side (one md5 projection) so the stateful stage only
  shuffles (digest, doc_id) pairs; per-digest state is 16 bytes.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..zipcache import drop_zip_finders


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window counts per event_type; state bounded by the
    watermark, late rows beyond it dropped."""
    # watermarks require TIMESTAMP (not NTZ)
    events_stream = events_stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user with a gap timeout."""
    events_stream = events_stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


ASSEMBLED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_spans", T.IntegerType(), False),
        T.StructField("spans_json", T.StringType(), False),
    ]
)

_STATE = T.StructType(
    [T.StructField("buf", T.StringType(), True)]
)


def stateful_doc_assembler(
    span_stream: DataFrame, timeout_ms: int = 1000
) -> DataFrame:
    """Span stream (doc_id, kind, text, media_ref, offset) → packed
    document rows via applyInPandasWithState (processing-time timeout =
    "document went quiet")."""

    def assemble(key, pdfs, state):
        drop_zip_finders()
        import json

        if state.hasTimedOut:
            (buf,) = state.get
            state.remove()
            spans = json.loads(buf) if buf else []
            spans.sort(key=lambda s: s["offset"])
            yield pd.DataFrame(
                [(key[0], len(spans), json.dumps(spans))],
                columns=["doc_id", "n_spans", "spans_json"],
            )
            return

        existing = json.loads(state.get[0]) if state.exists else []
        for pdf in pdfs:
            for _, r in pdf.iterrows():
                existing.append(
                    {
                        "kind": r["kind"],
                        "text": r["text"] or "",
                        "media_ref": r["media_ref"] or "",
                        "offset": int(r["offset"]),
                    }
                )
        state.update((json.dumps(existing),))
        state.setTimeoutDuration(timeout_ms)
        return
        yield  # pragma: no cover

    return span_stream.groupBy("doc_id").applyInPandasWithState(
        assemble,
        outputStructType=ASSEMBLED,
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def assembled_documents(assembled: DataFrame) -> DataFrame:
    """Assembler output (doc_id, n_spans, spans_json) → packed
    DOCUMENT_SPANS rows, so finished documents flow straight into the
    vectorized batch kernel (``pipeline.extract_questions`` /
    ``extract_flat_spans``) INSIDE the same streaming query — the
    stateful op is the only stateful stage; everything after it is a
    stateless mapInArrow, which Structured Streaming permits in append
    mode. This is how the streaming and batch paths share vkernel."""
    from .. import schema as _schema

    span_type = _schema.DOCUMENT_SPANS["spans"].dataType
    return assembled.select(
        "doc_id",
        F.from_json("spans_json", span_type).alias("spans"),
        "n_spans",
    )


DEDUP_EMIT = T.StructType(
    [
        T.StructField("text_md5", T.StringType(), False),
        T.StructField("keeper_doc_id", T.LongType(), True),
        T.StructField("n_copies", T.LongType(), False),
    ]
)

_DEDUP_STATE = T.StructType(
    [
        T.StructField("keeper", T.LongType(), True),
        T.StructField("n_seen", T.LongType(), True),
    ]
)


def stateful_streaming_dedup(
    doc_stream: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Exact first-seen dedup over an unbounded document stream.

    Batch exact dedup (operators/dedup.exact_dedup) is one
    hash-groupBy; on a stream the "have I seen this digest?" set must
    OUTLIVE micro-batches, which is precisely GroupState. Semantics:

    - the digest (md5 of ``text_col``) is computed JVM-side before the
      stateful stage, so only slim ``(text_md5, doc_id)`` pairs shuffle;
    - the FIRST micro-batch a digest appears in emits one row
      ``(text_md5, keeper_doc_id, n_copies)`` where ``keeper_doc_id``
      is the min doc_id among that batch's copies (deterministic
      within a batch regardless of partition arrival order) and
      ``n_copies`` counts that batch's copies;
    - every LATER copy — same batch (grouped away), later batch, or
      after a restart (state lives in the checkpoint) — is dropped,
      only bumping the state counter. Emission is append-mode
      exactly-once: a digest yields exactly one output row ever.

    Over a single micro-batch this equals the batch groupBy
    ``(md5(text), min(doc_id), count(*))`` — the driver oracle; the
    cross-batch/restart behavior is pytest-covered. State per digest is
    two longs, so 10^10 distinct documents cost ~320 GB of state
    spread across executors — RocksDB state store territory, linear
    and shardable, never a driver structure.
    """
    d = doc_stream.select(
        F.md5(F.col(text_col)).alias("text_md5"), "doc_id"
    )

    def first_seen(key, pdfs, state):
        drop_zip_finders()
        n_new = 0
        mn = None
        for pdf in pdfs:
            if len(pdf):
                n_new += len(pdf)
                m = int(pdf["doc_id"].min())
                mn = m if mn is None else min(mn, m)
        if state.exists:
            keeper, n_seen = state.get
            state.update((keeper, int(n_seen) + n_new))
        else:
            state.update((mn, n_new))
            yield pd.DataFrame(
                [(key[0], mn, n_new)],
                columns=["text_md5", "keeper_doc_id", "n_copies"],
            )

    return d.groupBy("text_md5").applyInPandasWithState(
        first_seen,
        outputStructType=DEDUP_EMIT,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_streams(
    left_stream: DataFrame,
    right_stream: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    window_sec: int = 3600,
    watermark: str = "2 hours",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream inner join bounded by an event-time interval:
    pairs of the same key with ``left.ts <= right.ts < left.ts +
    window_sec``. Both sides carry watermarks and the join condition
    includes the time range, so Spark bounds BOTH state stores — left
    rows age out once the watermark passes ``ts + window_sec``, right
    rows once it passes ``ts``. Without the range the state would
    grow forever; this is the streaming twin of
    operators/temporal.range_join and is value-checked against the
    SAME plain inequality-join oracle (driver query
    ``streaming_range_join``)."""
    l = left_stream.select(
        F.col(on).alias(left_prefix + on),
        F.col(ts).cast("timestamp").alias(left_prefix + ts),
        *[
            F.col(c).alias(left_prefix + c)
            for c in left_stream.columns
            if c not in (on, ts)
        ],
    ).withWatermark(left_prefix + ts, watermark)
    r = right_stream.select(
        F.col(on).alias(right_prefix + on),
        F.col(ts).cast("timestamp").alias(right_prefix + ts),
        *[
            F.col(c).alias(right_prefix + c)
            for c in right_stream.columns
            if c not in (on, ts)
        ],
    ).withWatermark(right_prefix + ts, watermark)
    lt, rt = F.col(left_prefix + ts), F.col(right_prefix + ts)
    cond = (
        (F.col(left_prefix + on) == F.col(right_prefix + on))
        & (rt >= lt)
        & (rt < lt + F.expr(f"INTERVAL {int(window_sec)} SECONDS"))
    )
    return l.join(r, cond, "inner")
