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

A bucket commit is two writes straight off the staged input, each ONE
vectorized ``mapInArrow`` pass of the read path's kernel
(operators/vkernel.py): questions, then flat spans. Parsing twice is
cheaper than parsing once and staging: the kernel's compute is small
next to the per-job cost of a staged raw table that a Catalyst
finalize and a flatten job would each read back. Part of that per-job
cost was the Python worker re-reading ``pyspark.zip`` and the Spark
jar before every task (see ``zipcache.py``); with that gone the
traced commit p50 on the perfbench corpus fell from 1.70 s to 1.15 s
(4-vCPU Xeon), while the kernel still parses either output of the
100-document corpus in 30-40 ms outside Spark, so the commit stays
two writes.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


class ExtractionJob:
    """Driver-side loop: process pending buckets, one commit each
    (up to :data:`LINEAGE_POOL` buckets in flight)."""

    def __init__(self, out_dir: str, n_buckets: int = 16) -> None:
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.questions_dir = os.path.join(out_dir, "questions")
        self.spans_dir = os.path.join(out_dir, "flat_spans")
        self.lineage_path = os.path.join(out_dir, "lineage.jsonl")
        self._lineage_lock = __import__("threading").Lock()

    # ── lineage bookkeeping ──────────────────────────────────────────

    def lineage_rows(self) -> list[dict]:
        if not os.path.exists(self.lineage_path):
            return []
        with open(self.lineage_path) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    #: schema of the empty lineage frame (per-job-kind metric columns).
    #: done/empty/failed rows all emit this EXACT key set (error = ""
    #: when absent) so lineage()'s createDataFrame never has to merge
    #: heterogeneous dicts — schema inference over mixed key sets is
    #: where a single failed bucket used to break the lineage frame.
    EMPTY_LINEAGE_SCHEMA = (
        "partition_id int, status string, docs_parsed long, "
        "spans_emitted long, questions_emitted long, "
        "parse_failures long, wall_sec double, input_spans long, "
        "error string"
    )

    def lineage(self, spark: SparkSession) -> DataFrame:
        rows = self.lineage_rows()
        if not rows:
            return spark.createDataFrame([], self.EMPTY_LINEAGE_SCHEMA)
        return spark.createDataFrame(rows)

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
        """One-time ingest normalization: write the input partitioned by
        bucket so every per-bucket pass is partition-pruned instead of a
        full-corpus scan (the parquet stand-in for an Iceberg table
        partitioned on bucket(doc_id)). Per-bucket input metrics
        (docs, spans) are computed HERE, in one aggregation over the
        staged table, so bucket commits never re-scan the input for
        bookkeeping. Idempotent via a _STAGED marker.
        """
        staged = os.path.join(self.out_dir, "input_bucketed")
        marker = os.path.join(staged, "_STAGED")
        if not os.path.exists(marker):
            self._bucketed(documents).write.mode("overwrite").partitionBy(
                "bucket"
            ).parquet(staged)
            m = (
                documents.sparkSession.read.parquet(staged)
                .groupBy("bucket")
                .agg(
                    F.count("*").alias("d"),
                    self._input_metric_expr().alias("s"),
                )
                .collect()
            )
            metrics = {int(r["bucket"]): [int(r["d"]), int(r["s"] or 0)]
                       for r in m}
            with open(os.path.join(staged, "_input_metrics.json"), "w") as fh:
                json.dump(metrics, fh)
            with open(marker, "w") as fh:
                fh.write("ok\n")
        return staged

    def _input_metric_expr(self):
        """Second per-bucket input metric (first is doc count) — the
        extraction job tracks input spans; subclasses override."""
        return F.sum(F.size("spans"))

    def _input_metrics(self, staged: str, bucket: int) -> tuple[int, int]:
        with open(os.path.join(staged, "_input_metrics.json")) as fh:
            metrics = json.load(fh)
        return tuple(metrics.get(str(bucket), [0, 0]))

    def _write_bucket(
        self, bucket: int, docs: DataFrame, n_docs: int, n_spans_in: int
    ) -> dict:
        """One bucket commit: two kernel passes over the bucket's staged
        input, questions then flat spans, and no staged intermediate.

        Both outputs come from the read path's vectorized kernel, one
        ``mapInArrow`` write job each. A staged parse would run once
        but costs a third job plus two parquet read-backs, and the
        kernel's compute is small next to that per-job cost, which is
        still about 0.6 s per job once the workers skip the per-task
        zip re-read (commit p50 1.15 s for two jobs). The
        parse-failure count rides the questions write: its kernel
        flags the stand-in row of each document whose Python-fallback
        parse failed, the Observation sums the flag, and the rows are
        dropped before the write (the flat-spans kernel emits nothing
        for them). Input metrics come from staging time.
        """
        t0 = time.perf_counter()
        qdir = os.path.join(self.questions_dir, f"bucket={bucket}")
        sdir = os.path.join(self.spans_dir, f"bucket={bucket}")
        # delete-before-insert (reference background_worker.py:343-357)
        for d in (qdir, sdir):
            shutil.rmtree(d, ignore_errors=True)

        # metric counts ride ON the write actions (Observation API) —
        # r5: separate count() jobs were measured as a large share of
        # the per-bucket fixed cost (BENCH.md lineage phase)
        from pyspark.sql import Observation

        proj = dkernel.packed_projection(docs)
        failed = F.col("parse_failed")
        ob_q = Observation()
        proj.mapInArrow(
            vkernel.parse_docs_commit_arrow, schema=schema.QUESTION_COMMIT
        ).observe(
            ob_q,
            F.sum((~failed).cast("long")).alias("n"),
            F.sum(failed.cast("long")).alias("nf"),
        ).where(~failed).drop("parse_failed").write.mode(
            "overwrite"
        ).parquet(qdir)
        n_q = int(ob_q.get["n"] or 0)
        n_fail = int(ob_q.get["nf"] or 0)

        ob_s = Observation()
        proj.mapInArrow(
            vkernel.parse_docs_flat_arrow, schema=schema.FLAT_SPAN_SEQ
        ).observe(ob_s, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(sdir)
        n_spans_out = int(ob_s.get["n"])
        return {
            "partition_id": bucket,
            "status": "done",
            "docs_parsed": n_docs,
            "spans_emitted": int(n_spans_out),
            "questions_emitted": int(n_q),
            "parse_failures": int(n_fail),
            "wall_sec": round(time.perf_counter() - t0, 3),
            "input_spans": int(n_spans_in),
            "error": "",
        }

    def _empty_row(self, bucket: int) -> dict:
        return {
            "partition_id": bucket, "status": "done", "docs_parsed": 0,
            "spans_emitted": 0, "questions_emitted": 0,
            "parse_failures": 0, "wall_sec": 0.0, "input_spans": 0,
            "error": "",
        }

    def _failed_row(self, bucket: int, exc: Exception) -> dict:
        return {
            "partition_id": bucket, "status": "failed", "docs_parsed": 0,
            "spans_emitted": 0, "questions_emitted": 0,
            "parse_failures": 0, "wall_sec": 0.0, "input_spans": 0,
            "error": str(exc)[:500],
        }

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

        def commit(b: int) -> int | None:
            bdir = os.path.join(staged, f"bucket={b}")
            if not os.path.exists(bdir):  # hash range empty at this size
                self._append_lineage(self._empty_row(b))
                return b
            docs_b = spark.read.parquet(bdir)
            metrics = self._input_metrics(staged, b)
            try:
                row = self._write_bucket(b, docs_b, *metrics)
            except Exception as exc:  # never lose prior commits
                self._append_lineage(self._failed_row(b, exc))
                return None
            self._append_lineage(row)
            return b

        return _pooled(commit, pending)

    # ── results ──────────────────────────────────────────────────────

    def _read_done(self, spark: SparkSession, base: str) -> DataFrame:
        paths = [
            p
            for b in sorted(self.done_buckets())
            if os.path.exists(p := os.path.join(base, f"bucket={b}"))
        ]
        return spark.read.option("basePath", base).parquet(*paths)

    def questions(self, spark: SparkSession) -> DataFrame:
        return self._read_done(spark, self.questions_dir)

    def flat_spans(self, spark: SparkSession) -> DataFrame:
        return self._read_done(spark, self.spans_dir)


class CurationJob(ExtractionJob):
    """Checkpoint-resumable CURATION: the composite keep/drop gate
    (operators/curation.py) under the exact bucket-commit contract of
    :class:`ExtractionJob` — doc_id-hash buckets, delete-before-insert,
    lineage row appended after data, resume = run() again and only
    pending buckets execute. Per-bucket metrics ride on the write via
    the Observation API (docs gated, docs kept); input metrics (docs,
    tokens) come from staging time. Extends the north-rule resumability
    story from extraction to the training-data lane."""

    EMPTY_LINEAGE_SCHEMA = (
        "partition_id int, status string, docs_in long, docs_gated long, "
        "docs_kept long, wall_sec double, input_tokens long, error string"
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

    def _empty_row(self, bucket: int) -> dict:
        return {
            "partition_id": bucket, "status": "done", "docs_in": 0,
            "docs_gated": 0, "docs_kept": 0, "wall_sec": 0.0,
            "input_tokens": 0, "error": "",
        }

    def _failed_row(self, bucket: int, exc: Exception) -> dict:
        return {
            "partition_id": bucket, "status": "failed", "docs_in": 0,
            "docs_gated": 0, "docs_kept": 0, "wall_sec": 0.0,
            "input_tokens": 0, "error": str(exc)[:500],
        }

    def _write_bucket(
        self, bucket: int, docs: DataFrame, n_docs: int, n_tokens_in: int
    ) -> dict:
        from pyspark.sql import Observation

        from ..operators.curation import curation_filter
        from ..operators.repetition import chunked_lines

        t0 = time.perf_counter()
        vdir = os.path.join(self.verdicts_dir, f"bucket={bucket}")
        shutil.rmtree(vdir, ignore_errors=True)
        ob = Observation()
        gate = curation_filter(
            docs.drop("bucket"),
            lines=chunked_lines(F.col("text"), self.line_width),
            **self.gate_kw,
        )
        gate.observe(
            ob,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("k"),
        ).write.mode("overwrite").parquet(vdir)
        return {
            "partition_id": bucket,
            "status": "done",
            "docs_in": n_docs,
            "docs_gated": int(ob.get["n"]),
            "docs_kept": int(ob.get["k"] or 0),
            "wall_sec": round(time.perf_counter() - t0, 3),
            "input_tokens": int(n_tokens_in),
            "error": "",
        }

    def verdicts(self, spark: SparkSession) -> DataFrame:
        return self._read_done(spark, self.verdicts_dir).drop("bucket")


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

    EMPTY_LINEAGE_SCHEMA = (
        "partition_id int, phase string, status string, docs_in long, "
        "rows_emitted long, wall_sec double, input_tokens long, "
        "error string"
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

    def _row(self, pid: int, phase: str, status: str, docs_in: int = 0,
             rows_emitted: int = 0, wall: float = 0.0,
             input_tokens: int = 0, error: str = "") -> dict:
        return {
            "partition_id": pid, "phase": phase, "status": status,
            "docs_in": docs_in, "rows_emitted": rows_emitted,
            "wall_sec": round(wall, 3), "input_tokens": input_tokens,
            "error": error,
        }

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

    def _write_bucket(self, bucket, docs, n_docs, n_tokens_in) -> dict:
        # the base _commit_buckets pool calls _write_bucket; phase 1
        # of this job commits signatures
        return self._write_sig_bucket(bucket, docs, n_docs, n_tokens_in)

    def _write_sig_bucket(
        self, bucket: int, docs: DataFrame, n_docs: int, n_tokens_in: int
    ) -> dict:
        from pyspark.sql import Observation

        from ..operators.dedup import minhash_signatures

        t0 = time.perf_counter()
        sdir = os.path.join(self.sigs_dir, f"bucket={bucket}")
        shutil.rmtree(sdir, ignore_errors=True)
        ob = Observation()
        sigs = minhash_signatures(
            docs.drop("bucket"), k=self.k, shingle_k=self.shingle_k,
            hasher=self.hasher,
        )
        sigs.observe(ob, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(sdir)
        return self._row(
            bucket, "sig", "done", docs_in=n_docs,
            rows_emitted=int(ob.get["n"]),
            wall=time.perf_counter() - t0, input_tokens=n_tokens_in,
        )

    # ── phase 2: per-band LSH candidate pass ─────────────────────────

    def _sigs(self, spark: SparkSession) -> DataFrame:
        return self._read_done(spark, self.sigs_dir).select(
            "doc_id", "signature"
        )

    def _write_band(self, spark: SparkSession, band: int) -> dict:
        """One band of minhash_lsh_pairs (operators/dedup.py) over the
        committed signature store: slim (doc_id, bucket) self-join,
        max_bucket skew cap, signature-similarity verify — identical
        hashing via the shared combiner."""
        from pyspark.sql import Observation

        from ..functions.hashing import combiner_for
        from ..operators.dedup import _drop_over_cap

        t0 = time.perf_counter()
        pdir = os.path.join(self.pairs_dir, f"band={band}")
        shutil.rmtree(pdir, ignore_errors=True)
        sigs = self._sigs(spark)
        combine = combiner_for(self.hasher)
        rpb = self.k // self.bands
        bucket = combine(
            [F.col("signature")[band * rpb + r] for r in range(rpb)], 0
        )
        slim = sigs.select("doc_id", bucket.alias("bucket"))
        if self.max_bucket is not None:
            # same cap semantics as minhash_lsh_pairs, same r8 shape:
            # over-cap-key anti join instead of a whole-frame window
            slim = _drop_over_cap(slim, ["bucket"], self.max_bucket)
        a, b = slim.alias("a"), slim.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        # join strategy is AQE's, from the store's runtime size (as in
        # minhash_lsh_pairs)
        sa = sigs.select(F.col("doc_id").alias("doc_a"),
                         F.col("signature").alias("sig_a"))
        sb = sigs.select(F.col("doc_id").alias("doc_b"),
                         F.col("signature").alias("sig_b"))
        sim = (
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda eq: eq,
                )
            )
            / F.lit(self.k)
        )
        ob = Observation()
        out = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("sig_similarity", F.round(sim, 4))
            .where(F.col("sig_similarity") >= self.threshold)
            .select("doc_a", "doc_b", "sig_similarity")
        )
        out.observe(ob, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(pdir)
        return self._row(
            band, "band", "done", rows_emitted=int(ob.get["n"] or 0),
            wall=time.perf_counter() - t0,
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
        paths = [
            p
            for b in sorted(self.done_bands())
            if os.path.exists(p := os.path.join(self.pairs_dir,
                                                f"band={b}"))
        ]
        return (
            spark.read.option("basePath", self.pairs_dir)
            .parquet(*paths)
            .select("doc_a", "doc_b", "sig_similarity")
            .dropDuplicates(["doc_a", "doc_b"])
        )
