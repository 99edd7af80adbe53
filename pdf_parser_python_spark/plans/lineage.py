"""Checkpoint-resumable extraction with per-partition lineage + metrics.

Reference semantics being re-expressed (SURVEY.md §2.8):

- micro-batch unit: the reference commits per PDF page
  (/root/reference/parser/background_worker.py:189-232); here the unit
  is a doc_id-hash bucket of the input table — state never spans
  buckets because every document lives in exactly one;
- checkpoint: the reference advances ``exams.current_page``
  (background_worker.py:226); here a lineage row
  ``(partition_id, status, metrics...)`` is appended after each bucket
  commits;
- resume/replay: the reference re-runs pages 1..N-1 through the FSM
  (background_worker.py:179-186); here resume is a pure anti-join of
  bucket ids against the lineage table — no replay, because grouping
  by doc_id gives the FSM its whole input;
- idempotent writes: the reference deletes page-range rows before
  re-insert (background_worker.py:343-357, database.py:289-322); here
  each bucket's output directories are overwritten before its lineage
  row lands (write data → commit lineage), so a crash between the two
  re-runs the bucket harmlessly.

A bucket commit is ONE write job straight off the staged input: one
vectorized ``mapInArrow`` pass of the read path's kernel
(operators/vkernel.py) parses each document once and emits both
outputs, questions and flat spans, as one batch written partitioned
by output. Every journal count is an Observation on that job, and
staging is one write job too, so a run costs one job per step and
reads nothing back. The commit used to be two writes, one per output,
kept because the kernel's compute is small next to a job's fixed
cost; measured, that same fixed cost made the second job the larger
price (see ``_write_bucket``).

Storage is a parquet directory layout with Iceberg-shaped semantics
(no Iceberg runtime jar ships in this sandbox); the lineage contract
is identical — swap `_write_bucket` for `overwritePartitions` on a
real catalog.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schema
from ..operators import dkernel, vkernel


#: bucket commits in flight at once (r8, guide §2.6): the driver-side
#: loop was fully serialized — each bucket is a small job whose tail
#: leaves most executors idle, so at 16+ buckets the wall was
#: dominated by per-commit fixed cost. A bounded pool overlaps
#: independent bucket jobs (FIFO scheduling back-fills the tail of one
#: job with tasks of the next). Per-bucket commit atomicity is
#: unchanged: each bucket still writes its data directories first and
#: appends its lineage row after (under a lock), so kill/resume
#: semantics are identical. A fixed width, not a setting: the pool
#: only bounds how many small jobs the driver submits at once, and
#: Spark's scheduler shares the executors among them.
LINEAGE_POOL = 8


def _pooled(fn, units: list):
    """Run ``fn`` over ``units`` with up to LINEAGE_POOL driver
    threads; returns the non-None results in submission order (map
    preserves order, so resume bookkeeping is deterministic)."""
    if len(units) <= 1:
        return [r for u in units if (r := fn(u)) is not None]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
        max_workers=min(LINEAGE_POOL, len(units))
    ) as pool:
        return [r for r in pool.map(fn, units) if r is not None]


def _journal(**fields: T.DataType) -> T.StructType:
    """A journal row type, fields in declared order. Every field is
    nullable, so a journal written before a field existed still loads
    (that field reads null)."""
    return T.StructType([T.StructField(n, t) for n, t in fields.items()])


_INT, _LONG, _DOUBLE, _STR = (T.IntegerType(), T.LongType(), T.DoubleType(),
                              T.StringType())


class ExtractionJob:
    """Driver-side loop: process pending buckets, one commit each
    (up to :data:`LINEAGE_POOL` buckets in flight)."""

    def __init__(self, out_dir: str, n_buckets: int = 16) -> None:
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.staged_dir = os.path.join(out_dir, "input_bucketed")
        #: one directory per bucket commit, partitioned by output:
        #: commits/bucket=b/output=questions and .../output=flat_spans
        self.commits_dir = os.path.join(out_dir, "commits")
        self.lineage_path = os.path.join(out_dir, "lineage.jsonl")
        self._lineage_lock = __import__("threading").Lock()

    # ── lineage bookkeeping ──────────────────────────────────────────

    def lineage_rows(self) -> list[dict]:
        if not os.path.exists(self.lineage_path):
            return []
        with open(self.lineage_path) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    #: the journal's row type (per-job-kind metric columns): every
    #: journal row, done or failed, has these fields (:meth:`_row`), and
    #: the lineage frame has this schema however many rows it holds
    JOURNAL = _journal(
        partition_id=_INT, status=_STR, docs_parsed=_LONG,
        spans_emitted=_LONG, questions_emitted=_LONG, parse_failures=_LONG,
        wall_sec=_DOUBLE, input_spans=_LONG, error=_STR,
    )

    def _row(self, pid: int, status: str, **fields) -> dict:
        """A journal row: ``fields`` over zero metrics, zero wall time
        and an empty error."""
        row = dict.fromkeys(self.JOURNAL.names, 0)
        row.update(partition_id=pid, status=status, wall_sec=0.0, error="")
        row.update(fields)
        return row

    def _empty_row(self, bucket: int) -> dict:
        return self._row(bucket, "done")

    def _failed_row(self, bucket: int, exc: Exception) -> dict:
        return self._row(bucket, "failed", error=str(exc)[:500])

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.lineage_rows(), self.JOURNAL)

    def _latest_done(self, phase: str | None = None) -> dict[int, dict]:
        """partition_id → its latest ``done`` journal row (of ``phase``,
        when given). A unit re-committed under a retained journal has
        several done rows; the last one describes the data on disk."""
        return {
            r["partition_id"]: r
            for r in self.lineage_rows()
            if r["status"] == "done"
            and (phase is None or r.get("phase") == phase)
        }

    def done_buckets(self) -> set[int]:
        return set(self._latest_done())

    def pending_buckets(self) -> list[int]:
        done = self.done_buckets()
        return [b for b in range(self.n_buckets) if b not in done]

    def _append_lineage(self, row: dict) -> None:
        # one row per line, serialized under a lock: concurrent bucket
        # commits (LINEAGE_POOL) may finish in any order, and resume
        # only reads the journal as a set keyed by partition_id
        with self._lineage_lock:
            os.makedirs(self.out_dir, exist_ok=True)
            with open(self.lineage_path, "a") as fh:
                fh.write(json.dumps(row) + "\n")

    # ── bucket processing ────────────────────────────────────────────

    def _bucketed(self, documents: DataFrame) -> DataFrame:
        return documents.withColumn(
            "bucket",
            F.pmod(F.xxhash64("doc_id"), F.lit(self.n_buckets)).cast("int"),
        )

    def _stage_input(self, documents: DataFrame) -> str:
        """One-time ingest normalization, ONE write job: the input
        partitioned by bucket, so every bucket commit is partition-
        pruned instead of a full-corpus scan (the parquet stand-in for
        an Iceberg table partitioned on bucket(doc_id)). The input
        schema is saved beside the _STAGED marker, so no bucket read
        infers it from parquet footers (each inference is a Spark
        job); the per-bucket input metrics ride on each commit's write
        job instead (:meth:`_observed`). Idempotent via the marker.
        """
        staged = self.staged_dir
        marker = os.path.join(staged, "_STAGED")
        if not os.path.exists(marker):
            self._bucketed(documents).write.mode("overwrite").partitionBy(
                "bucket"
            ).parquet(staged)
            with open(os.path.join(staged, "_schema.json"), "w") as fh:
                fh.write(documents.schema.json())
            with open(marker, "w") as fh:
                fh.write("ok\n")
        return staged

    def _input_schema(self) -> T.StructType:
        """The staged input's schema (saved by :meth:`_stage_input`);
        before anything is staged, (doc_id, text) strings."""
        path = os.path.join(self.staged_dir, "_schema.json")
        if not os.path.exists(path):
            return T.StructType([T.StructField(c, T.StringType())
                                 for c in ("doc_id", "text")])
        with open(path) as fh:
            return T.StructType.fromJson(json.load(fh))

    def _empty_input(self, spark: SparkSession) -> DataFrame:
        """An empty input frame, from which an output schema is derived
        by analysis alone (no job)."""
        return spark.createDataFrame([], self._input_schema())

    def _input_metric_expr(self):
        """Second per-bucket input metric (first is doc count) — the
        extraction job tracks input spans; subclasses override."""
        return F.sum(F.size("spans"))

    def _observed(self, docs: DataFrame) -> tuple[DataFrame, Observation]:
        """``docs`` with the bucket's input metrics observed on the
        commit's write job: docs (``d``) and the second metric
        (``s``)."""
        ob = Observation()
        return docs.observe(
            ob,
            F.count(F.lit(1)).alias("d"),
            self._input_metric_expr().alias("s"),
        ), ob

    @staticmethod
    def _input_counts(ob: Observation) -> tuple[int, int]:
        m = ob.get
        return int(m["d"]), int(m["s"] or 0)

    def _write_bucket(self, bucket: int, docs: DataFrame) -> dict:
        """One bucket commit: ONE ``mapInArrow`` write job over the
        bucket's staged input.

        The read path's vectorized kernel parses each document once
        and emits both outputs, finalized questions and flat spans, as
        one union-shaped batch (schema.EXTRACTION_COMMIT) written
        partitioned by its ``output`` column. A commit used to be two
        write jobs, one per output, on the argument that the kernel's
        compute is small next to a job's fixed cost; by that same
        argument the second job was the larger cost. Measured on the
        perfbench ``extract_read`` corpus (4-vCPU Xeon, traced, seeds
        3-5), the resume run that commits one ~50-document bucket took
        0.85/0.97/0.70 s against 1.00/1.01/0.90 s with two write jobs,
        and a two-bucket run with its read-back takes 3 Spark jobs
        instead of 12. Every
        journal count is an Observation on this one job: questions and
        flat spans on the kernel output, docs and spans on the input.
        ``parse_failures`` stays in the journal and is always 0: every
        document parses in the vectorized kernel, so a parse that
        raises fails the job, and the bucket is journaled ``failed``.
        """
        t0 = time.perf_counter()
        bdir = os.path.join(self.commits_dir, f"bucket={bucket}")
        # delete-before-insert (reference background_worker.py:343-357)
        shutil.rmtree(bdir, ignore_errors=True)

        # metric counts ride ON the write action (Observation API) —
        # r5: separate count() jobs were measured as a large share of
        # the per-bucket fixed cost (BENCH.md lineage phase)
        docs, ob_in = self._observed(docs)
        out = F.col("output")
        ob = Observation()
        dkernel.packed_projection(docs).mapInArrow(
            vkernel.parse_docs_commit_arrow, schema=schema.EXTRACTION_COMMIT
        ).observe(
            ob,
            *[F.count_if(out == v).alias(v) for v in (
                vkernel.COMMIT_QUESTIONS, vkernel.COMMIT_FLAT_SPANS)],
        ).write.mode(
            "overwrite"
        ).partitionBy("output").parquet(bdir)
        n_docs, n_spans_in = self._input_counts(ob_in)
        m = ob.get
        return self._row(
            bucket, "done", docs_parsed=n_docs,
            spans_emitted=int(m[vkernel.COMMIT_FLAT_SPANS]),
            questions_emitted=int(m[vkernel.COMMIT_QUESTIONS]),
            wall_sec=round(time.perf_counter() - t0, 3),
            input_spans=n_spans_in,
        )

    def run(
        self,
        spark: SparkSession,
        documents: DataFrame,
        max_buckets: int | None = None,
    ) -> dict:
        """Process pending buckets (resume == call run() again).

        ``max_buckets`` limits how many buckets this invocation commits
        — the test hook for simulated interruption.
        """
        pending = self.pending_buckets()
        if max_buckets is not None:
            pending = pending[:max_buckets]
        spark = documents.sparkSession
        staged = self._stage_input(documents)
        processed = self._commit_buckets(spark, staged, pending)
        return {
            "processed": processed,
            "remaining": self.pending_buckets(),
            "total_buckets": self.n_buckets,
        }

    def _commit_buckets(
        self, spark: SparkSession, staged: str, pending: list[int]
    ) -> list[int]:
        """Commit each pending bucket, up to LINEAGE_POOL at a time
        (guide §2.6: concurrent driver threads let the next bucket's
        tasks back-fill executors idled by the current bucket's tail).
        Commit protocol per bucket is unchanged — data first, lineage
        row after — and a failure never blocks the other buckets."""

        in_schema = self._input_schema()

        def commit(b: int) -> int | None:
            bdir = os.path.join(staged, f"bucket={b}")
            if not os.path.exists(bdir):  # hash range empty at this size
                self._append_lineage(self._empty_row(b))
                return b
            docs_b = spark.read.schema(in_schema).parquet(bdir)
            try:
                row = self._write_bucket(b, docs_b)
            except Exception as exc:  # never lose prior commits
                self._append_lineage(self._failed_row(b, exc))
                return None
            self._append_lineage(row)
            return b

        return _pooled(commit, pending)

    # ── results ──────────────────────────────────────────────────────

    @staticmethod
    def _read(spark: SparkSession, schema_: T.StructType,
              paths: list[str]) -> DataFrame:
        """Committed parquet at those of ``paths`` that exist, read with
        ``schema_`` (no footer-inference job); an empty frame of
        ``schema_`` while none exists."""
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            return spark.createDataFrame([], schema_)
        return spark.read.schema(schema_).parquet(*paths)

    def _done_paths(self, base: str, *leaf: str) -> list[str]:
        return [os.path.join(base, f"bucket={b}", *leaf)
                for b in sorted(self.done_buckets())]

    def questions(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, schema.QUESTION_FINAL, self._done_paths(
            self.commits_dir, f"output={vkernel.COMMIT_QUESTIONS}"))

    def flat_spans(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, schema.FLAT_SPAN_SEQ, self._done_paths(
            self.commits_dir, f"output={vkernel.COMMIT_FLAT_SPANS}"))


class CurationJob(ExtractionJob):
    """Checkpoint-resumable CURATION: the composite keep/drop gate
    (operators/curation.py) under the exact bucket-commit contract of
    :class:`ExtractionJob` — doc_id-hash buckets, delete-before-insert,
    lineage row appended after data, resume = run() again and only
    pending buckets execute. Every per-bucket metric rides on the
    write via the Observation API: docs gated and kept on the
    verdicts, docs and tokens on the input. Extends the north-rule
    resumability story from extraction to the training-data lane."""

    JOURNAL = _journal(
        partition_id=_INT, status=_STR, docs_in=_LONG, docs_gated=_LONG,
        docs_kept=_LONG, wall_sec=_DOUBLE, input_tokens=_LONG,
        error=_STR,
    )

    def __init__(
        self,
        out_dir: str,
        n_buckets: int = 16,
        line_width: int = 10,
        **gate_kw,
    ) -> None:
        super().__init__(out_dir, n_buckets)
        self.verdicts_dir = os.path.join(out_dir, "verdicts")
        self.line_width = line_width
        self.gate_kw = gate_kw

    def _input_metric_expr(self):
        from ..operators.textstats import token_count

        return F.sum(
            token_count(F.coalesce(F.col("text"), F.lit(""))).cast("long")
        )

    def _gate(self, docs: DataFrame) -> DataFrame:
        from ..operators.curation import curation_filter
        from ..operators.repetition import chunked_lines

        return curation_filter(
            docs.drop("bucket"),
            lines=chunked_lines(F.col("text"), self.line_width),
            **self.gate_kw,
        )

    def _write_bucket(self, bucket: int, docs: DataFrame) -> dict:
        t0 = time.perf_counter()
        vdir = os.path.join(self.verdicts_dir, f"bucket={bucket}")
        shutil.rmtree(vdir, ignore_errors=True)
        docs, ob_in = self._observed(docs)
        ob = Observation()
        self._gate(docs).observe(
            ob,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("k"),
        ).write.mode("overwrite").parquet(vdir)
        n_docs, n_tokens_in = self._input_counts(ob_in)
        return self._row(
            bucket, "done", docs_in=n_docs, docs_gated=int(ob.get["n"]),
            docs_kept=int(ob.get["k"] or 0),
            wall_sec=round(time.perf_counter() - t0, 3),
            input_tokens=n_tokens_in,
        )

    def verdicts(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, self._gate(self._empty_input(spark)).schema,
                          self._done_paths(self.verdicts_dir))


class DedupJob(ExtractionJob):
    """Checkpoint-resumable NEAR-DUP detection: the minhash/LSH pass
    (operators/dedup.py) under the bucket-commit contract.

    A 100-TB pipeline checkpoints its near-dup pass, not just the
    gate: the signature computation is the expensive, embarrassingly-
    parallel part, so phase 1 commits ``minhash_signatures`` per
    doc_id-hash bucket (delete-before-insert, lineage row after data —
    a crash never recomputes a committed bucket). Phase 2 runs once
    every signature bucket is committed: ONE BAND per commit of the
    banded-LSH candidate pass (``minhash_lsh_pairs``'s slim bucket
    self-join with the same ``max_bucket`` skew cap), reading the
    committed signature store — partition-pruned, never re-hashing
    text. Resume = ``run()`` again: pending buckets execute first,
    then pending bands. ``pairs()`` is the union of committed bands
    with cross-band pair dedup — row-equal to a non-resumable
    ``minhash_lsh_pairs`` over the same corpus (asserted in tests and
    the ``lineage_dedup`` driver query).

    Reference lineage semantics: background_worker.py:179-232 (commit
    unit + resume), database.py:289-322 (delete-before-insert);
    extended to the training-data lane."""

    JOURNAL = _journal(
        partition_id=_INT, phase=_STR, status=_STR, docs_in=_LONG,
        rows_emitted=_LONG, wall_sec=_DOUBLE, input_tokens=_LONG,
        error=_STR,
    )

    def __init__(
        self,
        out_dir: str,
        n_buckets: int = 16,
        k: int = 32,
        bands: int = 8,
        shingle_k: int = 3,
        threshold: float = 0.5,
        max_bucket: int | None = 4096,
        hasher=None,
    ) -> None:
        super().__init__(out_dir, n_buckets)
        from ..functions.hashing import xx64

        self.k = k
        self.bands = bands
        self.shingle_k = shingle_k
        self.threshold = threshold
        self.max_bucket = max_bucket
        self.hasher = hasher if hasher is not None else xx64
        self.sigs_dir = os.path.join(out_dir, "signatures")
        self.pairs_dir = os.path.join(out_dir, "pairs")

    # ── lineage bookkeeping (two phases in one journal) ──────────────

    def done_buckets(self) -> set[int]:
        return set(self._latest_done("sig"))

    def done_bands(self) -> set[int]:
        return set(self._latest_done("band"))

    def pending_bands(self) -> list[int]:
        done = self.done_bands()
        return [b for b in range(self.bands) if b not in done]

    def _row(self, pid: int, phase: str, status: str, **fields) -> dict:
        return super()._row(pid, status, phase=phase, **fields)

    def _input_metric_expr(self):
        from ..operators.textstats import token_count

        return F.sum(
            token_count(F.coalesce(F.col("text"), F.lit(""))).cast("long")
        )

    # ── phase 1: per-bucket signatures ───────────────────────────────

    def _empty_row(self, bucket: int) -> dict:
        return self._row(bucket, "sig", "done")

    def _failed_row(self, bucket: int, exc: Exception) -> dict:
        return self._row(bucket, "sig", "failed", error=str(exc)[:500])

    def _signatures(self, docs: DataFrame) -> DataFrame:
        from ..operators.dedup import minhash_signatures

        return minhash_signatures(
            docs.drop("bucket"), k=self.k, shingle_k=self.shingle_k,
            hasher=self.hasher,
        )

    def _write_bucket(self, bucket: int, docs: DataFrame) -> dict:
        # the base _commit_buckets pool calls _write_bucket; phase 1
        # of this job commits signatures
        t0 = time.perf_counter()
        sdir = os.path.join(self.sigs_dir, f"bucket={bucket}")
        shutil.rmtree(sdir, ignore_errors=True)
        docs, ob_in = self._observed(docs)
        ob = Observation()
        self._signatures(docs).observe(
            ob, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(sdir)
        n_docs, n_tokens_in = self._input_counts(ob_in)
        return self._row(
            bucket, "sig", "done", docs_in=n_docs,
            rows_emitted=int(ob.get["n"]),
            wall_sec=round(time.perf_counter() - t0, 3),
            input_tokens=n_tokens_in,
        )

    # ── phase 2: per-band LSH candidate pass ─────────────────────────

    def _sigs(self, spark: SparkSession) -> DataFrame:
        sig_schema = self._signatures(self._empty_input(spark)).schema
        return self._read(
            spark, sig_schema, self._done_paths(self.sigs_dir)
        ).select("doc_id", "signature")

    def _band_pairs(self, sigs: DataFrame, band: int) -> DataFrame:
        """One band of minhash_lsh_pairs (operators/dedup.py) over a
        signature store: the same slim (doc_id, bucket) self-join,
        max_bucket skew cap and signature-similarity verify
        (``dedup._lsh_pairs``), identical hashing via the shared
        combiner."""
        from ..operators.dedup import _lsh_pairs, band_bucket_sql

        bucket = band_bucket_sql(self.hasher, self.k, self.bands, band)
        slim = sigs.selectExpr("doc_id", f"{bucket} AS bucket")
        return _lsh_pairs(slim, ["bucket"], sigs, self.k, self.threshold,
                          self.max_bucket)

    def _write_band(self, spark: SparkSession, band: int) -> dict:
        """Commit one band's pairs over the committed signature store:
        partition-pruned, never re-hashing text."""
        t0 = time.perf_counter()
        pdir = os.path.join(self.pairs_dir, f"band={band}")
        shutil.rmtree(pdir, ignore_errors=True)
        ob = Observation()
        self._band_pairs(self._sigs(spark), band).observe(
            ob, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(pdir)
        return self._row(
            band, "band", "done", rows_emitted=int(ob.get["n"] or 0),
            wall_sec=round(time.perf_counter() - t0, 3),
        )

    # ── driver loop ──────────────────────────────────────────────────

    def run(
        self,
        spark: SparkSession,
        documents: DataFrame,
        max_buckets: int | None = None,
        max_bands: int | None = None,
    ) -> dict:
        """Process pending signature buckets, then (once ALL buckets
        are committed) pending LSH bands. ``max_buckets``/``max_bands``
        bound one invocation — the simulated-interruption test hook."""
        pending = self.pending_buckets()
        if max_buckets is not None:
            pending = pending[:max_buckets]
        staged = self._stage_input(documents)
        processed = self._commit_buckets(spark, staged, pending)
        bands_done = []
        if not self.pending_buckets():
            pb = self.pending_bands()
            if max_bands is not None:
                pb = pb[:max_bands]

            def commit_band(band: int) -> int | None:
                try:
                    row = self._write_band(spark, band)
                except Exception as exc:
                    self._append_lineage(
                        self._row(band, "band", "failed",
                                  error=str(exc)[:500])
                    )
                    return None
                self._append_lineage(row)
                return band

            # bands are independent jobs over the committed signature
            # store — same bounded pool as bucket commits (§2.6)
            bands_done = _pooled(commit_band, pb)
        return {
            "processed": processed,
            "bands_processed": bands_done,
            "remaining": self.pending_buckets(),
            "bands_remaining": self.pending_bands(),
            "total_buckets": self.n_buckets,
            "total_bands": self.bands,
        }

    # ── results ──────────────────────────────────────────────────────

    def signatures(self, spark: SparkSession) -> DataFrame:
        return self._sigs(spark)

    def pairs(self, spark: SparkSession) -> DataFrame:
        """Union of committed bands, cross-band pair dedup — row-equal
        to minhash_lsh_pairs over the same corpus once all bands are
        committed (a pair found in several bands has ONE similarity)."""
        empty_sigs = spark.createDataFrame(
            [], self._signatures(self._empty_input(spark)).schema)
        return self._read(
            spark,
            self._band_pairs(empty_sigs, 0).schema,
            [os.path.join(self.pairs_dir, f"band={b}")
             for b in sorted(self.done_bands())],
        ).dropDuplicates(["doc_a", "doc_b"])
