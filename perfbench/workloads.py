"""The benchmark's workloads.

Each workload materializes its seeded inputs (``setup``), computes the
reference its outputs are checked against (``reference``, untimed, once
per seed; it also returns the checks that need only be made once), and
runs one closed-loop iteration of its jobs (``iteration``: every public
call and every sink action inside its own span, every job's output
checked). From a traced iteration, ``layers`` derives the per-layer
metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_python_spark.operators import chunked
from pdf_parser_python_spark.operators import flatten as flatten_op
from pdf_parser_python_spark.operators import validate
from pdf_parser_python_spark.plans import lineage, pipeline

from . import gen
from .trace import Attribution, Tracer, node_metric, task_summary, walk


# ── shared helpers ──────────────────────────────────────────────────────

def digest(df: DataFrame) -> tuple[int, int]:
    """Order-independent (row count, sum of row hashes) of ``df``.
    Map-typed columns (not hashable in Spark) are hashed as JSON."""
    cols = [
        F.to_json(F.col(f.name)) if "map<" in f.dataType.simpleString()
        else F.col(f.name)
        for f in df.schema.fields
    ]
    r = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return int(r["n"]), int(r["s"] or 0)


class Context:
    """What a workload needs from the runner."""

    def __init__(self, spark: SparkSession, seed: int, scale: float,
                 cores: int, work: str, trace: bool) -> None:
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.cores = cores
        self.work = work
        self.trace = trace

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class Workload:
    name = ""
    docs = 0   # input documents per iteration
    spans = 0  # input spans per iteration

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def setup(self) -> None:
        raise NotImplementedError

    def load(self) -> None:
        """(Re)open the materialized inputs in the current session."""
        raise NotImplementedError

    def reference(self) -> list[tuple[str, bool, str]]:
        """Untimed, once per seed: the reference outputs, and the checks
        made only once, as (name, ok, detail)."""
        return []

    def iteration(self, tr: Tracer) -> list[tuple[str, bool]]:
        raise NotImplementedError

    def layers(self, at: Attribution, tr: Tracer, it) -> dict:
        return {}

    # helpers ------------------------------------------------------------
    def _digest_jobs(self, tr: Tracer, jobs) -> list[tuple[str, bool]]:
        """Run ``(name, build, want)`` jobs: the public call (span
        ``call:name``), then the sink action that drains its DataFrame
        into a digest (span ``sink:name``), checked against ``want``. A
        job that raises counts as failed; the loop goes on."""
        res = []
        for name, build, want in jobs:
            try:
                with tr.span(f"call:{name}"):
                    df = build()
                with tr.span(f"sink:{name}"):
                    got = digest(df)
                res.append((name, got == want))
            except Exception:
                res.append((name, False))
        return res


def _ids(spans) -> set:
    return {sp.id for sp in spans}


def python_nodes(execs, name: str) -> list[dict]:
    return [n for x in execs for p in x.plans for n in walk(p)
            if n["nodeName"] == name]


def rows_into(node: dict, totals: dict) -> float:
    """Rows entering a node: 'number of output rows' of the nearest
    descendant that reports it."""
    todo = list(node.get("children", []))
    while todo:
        n = todo.pop(0)
        if any(m["name"] == "number of output rows" for m in n["metrics"]):
            return node_metric([n], totals, "number of output rows")
        todo.extend(n.get("children", []))
    return 0.0


def kernel_metrics(at: Attribution, span_ids: set, node: str) -> dict:
    """Python-boundary metrics of the ``node`` (MapInArrow/MapInPandas)
    operators run in ``span_ids``: task time of the stages that run
    them, rows and Arrow bytes across the boundary."""
    execs = at.executions(span_ids)
    totals = at.accum_totals(span_ids)
    nodes = python_nodes(execs, node)
    busy = task_summary(at.tasks(
        span_ids, lambda s: node in at.log.stage_scopes.get(s, ())
    ))["busy_s"]
    seen, rows_in = set(), 0.0
    for n in nodes:
        key = tuple(m["accumulatorId"] for m in n["metrics"])
        if key not in seen:
            seen.add(key)
            rows_in += rows_into(n, totals)
    return {
        "busy_s": busy,
        "rows_in": rows_in,
        "rows_out": node_metric(nodes, totals, "number of output rows"),
        "arrow_mb_in": node_metric(
            nodes, totals, "data sent to Python workers") / 1e6,
        "arrow_mb_out": node_metric(
            nodes, totals, "data returned from Python workers") / 1e6,
    }


def spark_metrics(at: Attribution, span_ids: set) -> dict:
    ts = task_summary(at.tasks(span_ids))
    return {
        "sources.scan_mb": ts["input_mb"],
        "spark.jobs": float(len(at.jobs(span_ids))),
        "spark.tasks": float(ts["tasks"]),
        "spark.shuffle_mb": ts["shuffle_mb"],
        "spark.spill_mb": ts["spill_mb"],
        "spark.gc_s": ts["gc_s"],
        "spark.task_skew": ts["task_skew"],
    }


# ── extract_read ────────────────────────────────────────────────────────

EXTRACT_CALLS = ("extract_flat_spans", "extract_questions",
                 "extract_validation", "extract_doc_text")
GIANT_PACKED = "giant:extract_flat_spans"
GIANT_CHUNKED = "giant:chunked.parse_span_rows_final"


class ExtractRead(Workload):
    """Three parts per iteration, all checked against references:

    - read: the seeded exam corpus through the four public extract_*
      calls, checked against the packed-pandas twin;
    - giant: one seeded giant document in two shapes, packed as one row
      through the default ``extract_flat_spans`` (a single fused-kernel
      task, the straggler shape) and span-grained through
      ``chunked.parse_span_rows_final``, both checked against the packed
      whole-document parse;
    - write: the same exam corpus through ``plans.lineage.ExtractionJob``
      in a fresh output dir: stage, interrupted run, resume, no-op
      resume, then the committed outputs read back and checked against
      the twin.
    """

    name = "extract_read"
    N_DOCS = 100
    N_BUCKETS = 2

    def setup(self) -> None:
        c = self.ctx
        n = max(20, int(self.N_DOCS * c.scale))
        gen.exam_corpus(c.spark, c.seed, n, lane=0,
                        partitions=2 * c.cores).write.mode(
            "overwrite").parquet(c.path("exam"))
        n_q = gen.giant_questions(c.seed, c.scale)
        gen.giant_doc(c.spark, c.seed, n_q).write.mode("overwrite").parquet(
            c.path("giant_packed"))
        gen.giant_span_rows(c.spark, c.seed, n_q, 2 * c.cores).write.mode(
            "overwrite").parquet(c.path("giant_rows"))
        self.load()

    def load(self) -> None:
        c = self.ctx
        self.docs_df = c.spark.read.parquet(c.path("exam"))
        self.giant = c.spark.read.parquet(c.path("giant_packed"))
        self.giant_rows = c.spark.read.parquet(c.path("giant_rows"))
        self.n_questions = gen.giant_questions(c.seed, c.scale)
        giant_spans = 5 * self.n_questions
        # two chunks per core: the span-grained shape runs in parallel
        self.chunk = -(-giant_spans // (2 * c.cores))
        r = self.docs_df.agg(F.count(F.lit(1)), F.sum("n_spans")).first()
        # the exam corpus is input twice (read and write), the giant
        # document twice (once in each shape)
        self.docs = 2 * int(r[0]) + 2
        self.spans = 2 * int(r[1]) + 2 * giant_spans
        self._runs = 0
        self.journals: dict[int, list] = {}

    def _call(self, name: str, **kw) -> DataFrame:
        return getattr(pipeline, name)(self.docs_df, **kw)

    def reference(self):
        # the row-exact packed-pandas twin parses once; flat spans,
        # validation and doc text derive from its questions through the
        # package's relational decomposition (row-equal by its tests)
        questions = self._call("extract_questions", engine="packed-pandas")
        questions = questions.persist()
        flat = flatten_op.flat_spans(questions)
        doc_text = flat.where(F.col("kind") == "text").groupBy("doc_id").agg(
            F.array_join(F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "order", "text"))),
                lambda s: s["text"],
            ), " ").alias("text"),
            F.count(F.lit(1)).cast("bigint").alias("n_text_spans"),
        )
        self.cols = {"questions": questions.columns,
                     "flat_spans": flat.columns}
        self.ref = {
            "extract_questions": digest(questions),
            "extract_flat_spans": digest(flat),
            "extract_validation": digest(
                validate.validation_report(questions)),
            "extract_doc_text": digest(doc_text),
        }
        questions.unpersist()
        # the giant document: both shapes must be row-equal to the
        # packed whole-document parse, which finds every planted question
        giant_q = pipeline.extract_questions(self.giant).persist()
        self.ref[GIANT_CHUNKED] = digest(giant_q)
        self.ref[GIANT_PACKED] = digest(flatten_op.flat_spans(giant_q))
        giant_q.unpersist()
        n_giant = self.ref[GIANT_CHUNKED][0]
        return [(f"reference:{k}", n > 0, f"{n} rows")
                for k, (n, _) in self.ref.items()] + [
            ("reference:giant_planted_questions",
             n_giant == self.n_questions,
             f"{n_giant} questions vs {self.n_questions} planted")]

    def iteration(self, tr):
        return self._digest_jobs(tr, [
            (name, lambda name=name: self._call(name), self.ref[name])
            for name in EXTRACT_CALLS
        ] + [
            (GIANT_PACKED, lambda: pipeline.extract_flat_spans(self.giant),
             self.ref[GIANT_PACKED]),
            (GIANT_CHUNKED, lambda: chunked.parse_span_rows_final(
                self.giant_rows, self.chunk), self.ref[GIANT_CHUNKED]),
        ]) + self._write(tr)

    # the write part ---------------------------------------------------
    def _out_dir(self) -> str:
        self._runs += 1
        d = self.ctx.path("lineage_out", str(self._runs))
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)
        return d

    def _check_journal(self, runs, journal) -> bool:
        """Every bucket journaled ``done`` exactly once, the interrupted
        run committed half of them and the no-op resume none."""
        done = sorted(r["partition_id"] for r in journal
                      if r["status"] == "done")
        return (done == list(range(self.N_BUCKETS))
                and len(journal) == self.N_BUCKETS
                and len(runs["interrupted"]["processed"])
                == self.N_BUCKETS // 2
                and not runs["resume"]["remaining"]
                and runs["noop_resume"]["processed"] == [])

    def _write(self, tr) -> list[tuple[str, bool]]:
        it = tr.current
        self.journals[it.id] = []
        spark = self.ctx.spark
        try:
            job = lineage.ExtractionJob(self._out_dir(),
                                        n_buckets=self.N_BUCKETS)
            runs = {}
            for tag, mb in (("stage", 0), ("interrupted", self.N_BUCKETS // 2),
                            ("resume", None), ("noop_resume", None)):
                with tr.span(f"call:plans.lineage.run:{tag}"):
                    runs[tag] = job.run(spark, self.docs_df, max_buckets=mb)
            with tr.span("call:plans.lineage.read_back"):
                outs = {"questions": job.questions(spark).drop("bucket"),
                        "flat_spans": job.flat_spans(spark).drop("bucket")}
            self.journals[it.id] = journal = job.lineage_rows()
            res = [("lineage:journal", self._check_journal(runs, journal))]
        except Exception:
            return [("lineage:journal", False), ("lineage:questions", False),
                    ("lineage:flat_spans", False)]
        for name, df in outs.items():
            want = self.ref[f"extract_{name}"]
            try:
                with tr.span(f"sink:lineage:{name}"):
                    got = digest(df.select(*self.cols[name]))
                res.append((f"lineage:{name}", got == want))
            except Exception:
                res.append((f"lineage:{name}", False))
        return res

    def layers(self, at, tr, it):
        spans = tr.subtree(it)
        # the packed engine: the four calls and the packed giant document
        packed = [sp for sp in spans if sp.name.split(":", 1)[-1]
                  in EXTRACT_CALLS + (GIANT_PACKED,)]
        calls = [sp for sp in packed if sp.name.startswith("call:")]
        out = {
            "plans.pipeline.call_s": sum(sp.wall_s for sp in calls),
            "plans.pipeline.call_jobs": float(len(at.jobs(_ids(calls)))),
        }
        for k, v in kernel_metrics(at, _ids(packed), "MapInArrow").items():
            out[f"operators.vkernel.{k}"] = v
        ts = task_summary(at.tasks(_ids(
            sp for sp in spans if GIANT_CHUNKED in sp.name)))
        for k in ("busy_s", "tasks", "max_task_s", "shuffle_mb"):
            out[f"operators.chunked.{k}"] = float(ts[k])
        out.update(self._write_layers(at, spans, self.journals.get(it.id, [])))
        return out

    @staticmethod
    def _write_layers(at, spans, journal) -> dict:
        by = {sp.name: sp for sp in spans}
        run_ids = _ids(sp for sp in spans if sp.name.startswith(
            "call:plans.lineage.run:"))
        walls = [r["wall_sec"] for r in journal
                 if r["status"] == "done" and r["docs_parsed"] > 0]
        out = {
            "plans.lineage.stage_s": by["call:plans.lineage.run:stage"].wall_s,
            "plans.lineage.noop_resume_s":
                by["call:plans.lineage.run:noop_resume"].wall_s,
            "plans.lineage.commit_s_p50":
                statistics.median(walls) if walls else 0.0,
            "plans.lineage.commit_s_max": max(walls, default=0.0),
            "plans.lineage.commits": float(sum(
                r["status"] == "done" for r in journal)),
            "plans.lineage.failed_commits": float(sum(
                r["status"] == "failed" for r in journal)),
            "plans.lineage.write_mb":
                task_summary(at.tasks(run_ids))["output_mb"],
        }
        # the three per-bucket write jobs, told apart by output directory
        kinds = {"dkernel": "/raw_questions/", "finalize": "/questions/",
                 "flatten": "/flat_spans/"}
        exec_kind = {}
        for x in at.executions(run_ids):
            for k, marker in kinds.items():
                if marker in x.description and "InsertIntoHadoopFs" in (
                        x.description):
                    exec_kind[x.id] = k
        busy = {k: 0.0 for k in kinds}
        for t in at.tasks(run_ids):
            job = at.log.jobs.get(at.stage_job.get(t.stage))
            k = exec_kind.get(job.execution) if job else None
            if k is not None:
                busy[k] += t.run_s
        for k, v in busy.items():
            out[f"operators.{k}.busy_s"] = v
        return out


# ── curate_dedup ────────────────────────────────────────────────────────

#: plan-node label patterns of the training-data lane, in lane order.
LANE_LAYERS = (
    ("curation", ("MapInPandas", "keep#")),
    ("contamination", ("gram_hash",)),
    ("dedup", ("ph#", "_win#", "n_kept#", "text_deduped#")),
    ("mixture", ("source#", "tokens_avail#", "n_epochs#", "residual_ppm#",
                 "epoch#")),
    ("packing", ("_cum_in_b#", "_b#", "pack_id#", "_off#")),
)
_LANE_ORDER = {name: i for i, (name, _) in enumerate(LANE_LAYERS)}


def _label_plan(node: dict, acc_label: dict) -> str | None:
    """Label a lane plan node with its layer: the latest (in lane order)
    of its own pattern match and its children's labels, since data
    only flows forward through the lane. Every accumulator of the node
    is mapped to that label in ``acc_label``, so a task's layer can be
    read off the metrics it updated."""
    ranked = [_label_plan(c, acc_label) for c in node.get("children", [])]
    text = node["nodeName"] + " " + node.get("simpleString", "")
    ranked += [name for name, pats in LANE_LAYERS
               if any(p in text for p in pats)]
    ranked = [x for x in ranked if x is not None]
    label = max(ranked, key=_LANE_ORDER.get) if ranked else None
    if label:
        for m in node.get("metrics", []):
            acc_label[m["accumulatorId"]] = label
    return label


class CurateDedup(Workload):
    """Training-data lane as one lazy job, then a minhash near-dup job,
    over the planted text corpus."""

    name = "curate_dedup"
    #: corpus size as a share of gen.text_layout's full size
    SIZE = 0.1
    SEQ_LEN = 2048
    TARGET_TOKENS = 40_000
    MAX_BUCKET = 256
    #: planted-pair recall of minhash_lsh_pairs at its defaults (k=32,
    #: 8 bands, threshold 0.5) on textgen's one-token-edit clusters:
    #: 0.9186 at gen.text_layout's full size; texts depend only on the
    #: original ids, so the seed's relabeling leaves it unchanged
    MIN_RECALL = 0.9

    def setup(self) -> None:
        c = self.ctx
        self.layout = gen.text_layout(self.SIZE * c.scale)
        gen.text_corpus(c.spark, c.seed, self.layout,
                        partitions=c.cores).write.mode("overwrite").parquet(
            c.path("text"))
        self.load()

    def load(self) -> None:
        self.layout = gen.text_layout(self.SIZE * self.ctx.scale)
        self.docs_df = self.ctx.spark.read.parquet(self.ctx.path("text"))
        # a text corpus has no spans: spans_per_s does not apply
        self.docs = self.docs_df.count()

    # the lane, one public call per span -----------------------------------
    def _lane(self, tr: Tracer | None):
        from pdf_parser_python_spark.operators.contamination import (
            decontaminated,
        )
        from pdf_parser_python_spark.operators.curation import curation_filter
        from pdf_parser_python_spark.operators.dedup import paragraph_dedup
        from pdf_parser_python_spark.operators.mixture import (
            mixture_plan,
            mixture_sample,
        )
        from pdf_parser_python_spark.operators.packing import (
            pack_sequences,
            pack_stats,
        )
        from pdf_parser_python_spark.operators.repetition import chunked_lines
        from pdf_parser_python_spark.operators.textstats import tokens

        span = tr.span if tr is not None else _nullspan
        docs = self.docs_df
        # prompts and sources are picked by text, which the seed's doc-id
        # relabeling leaves alone: every seed does the same work
        pick = F.abs(F.xxhash64("text"))
        prompts = docs.where(pick % 50 == 0).select(
            F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 12))
            .alias("text"))
        with span("call:operators.curation.curation_filter"):
            kept = curation_filter(
                docs, engine="arrow", line_width=10, min_quality=0,
                langs=("en", "und"), passthrough=("text",),
            ).where("keep").select("doc_id", "text")
        with span("call:operators.contamination.decontaminated"):
            clean = decontaminated(kept, prompts)
        with span("call:operators.dedup.paragraph_dedup"):
            deduped = paragraph_dedup(
                clean, paragraphs=chunked_lines(F.col("text"), 15))
        srcd = deduped.where(F.col("n_kept") > 0).select(
            "doc_id", F.col("text_deduped").alias("text"),
            F.concat(F.lit("s"), (pick % 8).cast("string")).alias("source"),
        )
        weights = {f"s{i}": float(1 + (i % 3)) for i in range(8)}
        with span("call:operators.mixture.mixture_sample"):
            mixed = mixture_sample(
                srcd, mixture_plan(srcd, weights, self.TARGET_TOKENS))
        with span("call:operators.packing.pack_sequences"):
            packed = pack_sequences(
                mixed.select(
                    (F.col("doc_id") * 128 + F.col("epoch")).alias("doc_id"),
                    "text"),
                seq_len=self.SEQ_LEN)
            stats = pack_stats(packed, self.SEQ_LEN).agg(
                F.count(F.lit(1)).alias("n_packs"),
                F.sum("n_tokens").alias("tokens"),
                F.sum("n_docs").alias("n_docs"),
            )
        return {"prompts": prompts, "kept": kept, "clean": clean,
                "deduped": deduped, "mixed": mixed, "stats": stats}

    def _pairs(self) -> DataFrame:
        from pdf_parser_python_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(self.docs_df, max_bucket=self.MAX_BUCKET)

    def _recall(self, pairs: list) -> float:
        found = set()
        for a, b in pairs:
            ca = gen.planted_cluster(gen.original_id(a, self.ctx.seed))
            cb = gen.planted_cluster(gen.original_id(b, self.ctx.seed))
            if ca is not None and ca == cb:
                found.add((min(a, b), max(a, b)))
        return len(found) / gen.planted_pairs(self.layout)

    def reference(self):
        """Decontamination splits the kept corpus exactly, checked once
        (the lane's inputs do not change between iterations), and the
        token and document totals of the mixture the packer must
        consume. The pack totals and the planted recall are checked on
        every iteration's own output (``_check_outputs``)."""
        from pdf_parser_python_spark.operators.contamination import (
            contamination_report,
        )
        from pdf_parser_python_spark.operators.textstats import token_count

        lane = self._lane(None)
        kept, clean = lane["kept"].persist(), lane["clean"].persist()
        n_kept, n_clean = kept.count(), clean.count()
        dirty = contamination_report(kept, lane["prompts"]).select("doc_id")
        r = dirty.join(
            clean.select(F.col("doc_id").alias("clean_id")),
            F.col("doc_id") == F.col("clean_id"), "left",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.count("clean_id").alias("overlap"),
        ).first()
        n_dirty, overlap = int(r["n"]), int(r["overlap"])
        m = lane["mixed"].agg(
            F.sum(token_count(F.col("text"))).alias("tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        ).first()
        self.mixed = (int(m["tokens"] or 0), int(m["n_docs"]))
        # fixed per seed, so taken here once: the per-layer ratios
        self.n_kept = n_kept
        if self.ctx.trace:
            p = lane["deduped"].agg(F.sum("n_kept"), F.sum("n_paras")).first()
            self.para_kept_frac = int(p[0] or 0) / int(p[1]) if p[1] else 0.0
        kept.unpersist()
        clean.unpersist()
        return [
            ("lane", n_clean + n_dirty == n_kept and overlap == 0
             and n_kept > 0,
             f"clean {n_clean} + contaminated {n_dirty} vs kept {n_kept},"
             f" overlap {overlap}"),
            ("mixture", self.mixed[0] > 0, f"(tokens, docs) {self.mixed}"),
        ]

    def _check_outputs(self, stats, pairs: list) -> list[tuple[str, bool]]:
        """The packs hold exactly the mixture's tokens and documents, and
        are full but for the last; the planted near-dup pairs are found
        at the expected recall."""
        tokens = int(stats["tokens"] or 0)
        n_packs = int(stats["n_packs"] or 0)
        lane_ok = (
            (tokens, int(stats["n_docs"] or 0)) == self.mixed
            and 0 < n_packs <= -(-tokens // self.SEQ_LEN)
        )
        return [("lane", lane_ok),
                ("minhash_lsh_pairs", self._recall(pairs) >= self.MIN_RECALL)]

    def iteration(self, tr):
        try:
            lane = self._lane(tr)
            with tr.span("sink:lane"):
                stats = lane["stats"].first()
            with tr.span("call:operators.dedup.minhash_lsh_pairs"):
                pairs = self._pairs()
            with tr.span("sink:minhash_lsh_pairs"):
                rows = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
        except Exception:
            return [("lane", False), ("minhash_lsh_pairs", False)]
        self.last_pairs = len(rows)
        return self._check_outputs(stats, rows)

    def layers(self, at, tr, it):
        spans = tr.subtree(it)
        lane_sink = [sp for sp in spans if sp.name == "sink:lane"]
        pair_spans = [sp for sp in spans if "minhash_lsh_pairs" in sp.name]
        lane_ids = _ids(lane_sink)
        out = {f"operators.{name}.busy_s": 0.0 for name, _ in LANE_LAYERS}
        shuffle = {name: 0.0 for name, _ in LANE_LAYERS}
        # a lane task's time goes to the latest layer among the plan
        # nodes whose metrics it updated (the stage's output operator);
        # the gate kernel's own Python time goes to curation
        acc_label: dict = {}
        execs = at.executions(lane_ids)
        for x in execs:
            for p in x.plans:
                _label_plan(p, acc_label)
        gate = python_nodes(execs, "MapInPandas")
        py_accs = {m["accumulatorId"] for n in gate for m in n["metrics"]
                   if m["name"] == "time to run Python workers"}
        for t in at.tasks(lane_ids):
            py_s = sum(v for a, v in t.accums.items() if a in py_accs) / 1e3
            ranked = [acc_label[a] for a in t.accums if a in acc_label]
            out["operators.curation.busy_s"] += min(py_s, t.run_s)
            if ranked:
                name = max(ranked, key=_LANE_ORDER.get)
                out[f"operators.{name}.busy_s"] += max(0.0, t.run_s - py_s)
                shuffle[name] += t.shuffle_write_mb
        totals = at.accum_totals(lane_ids)
        bcast = [n for x in execs for p in x.plans for n in walk(p)
                 if n["nodeName"] == "BroadcastExchange"
                 and "gram_hash" in n.get("simpleString", "")
                 + str(n.get("children"))]
        out["operators.contamination.broadcast_mb"] = node_metric(
            bcast, totals, "data size") / 1e6
        gated = node_metric(gate, totals, "number of output rows")
        out["operators.curation.kept_frac"] = (
            self.n_kept / gated if gated else 0.0)
        out["operators.packing.shuffle_mb"] = shuffle["packing"]
        # the near-dup job is the dedup layer end to end
        pair_ids = _ids(pair_spans)
        ps = task_summary(at.tasks(pair_ids))
        out["operators.dedup.busy_s"] += ps["busy_s"]
        out["operators.dedup.shuffle_mb"] = shuffle["dedup"] + ps["shuffle_mb"]
        out["operators.dedup.call_s"] = sum(
            sp.wall_s for sp in spans
            if sp.name in ("call:operators.dedup.paragraph_dedup",
                           "call:operators.dedup.minhash_lsh_pairs"))
        pexecs = at.executions(pair_ids)
        ptotals = at.accum_totals(pair_ids)
        joins = [n for x in pexecs for p in x.plans for n in walk(p)
                 if "Join" in n["nodeName"] and "band" in n.get(
                     "simpleString", "") and "bucket" in n.get(
                     "simpleString", "")]
        cand = node_metric(joins, ptotals, "number of output rows")
        out["operators.dedup.pairs_out"] = float(self.last_pairs)
        out["operators.dedup.pair_yield"] = (
            self.last_pairs / cand if cand else 0.0)
        out["operators.dedup.para_kept_frac"] = self.para_kept_frac
        return out


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


def _nullspan(name: str) -> _NullSpan:
    return _NullSpan()


WORKLOADS = {w.name: w for w in (ExtractRead, CurateDedup)}
