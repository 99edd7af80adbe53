"""Metric and workload definitions. ``BENCHMARK.json`` and
``perfbench/layers.json`` are generated from this module and the
self-tests keep them equal to it:

    python3 -m perfbench.metrics > BENCHMARK.json
    python3 -m perfbench.metrics --layers > perfbench/layers.json
"""

from __future__ import annotations

import json
import sys

COMMAND = ["python3", "perfbench/run.py"]
RUN_SECONDS = 6

WORKLOADS = {
    "extract_read": "seeded exam corpus read (operators.vkernel) and "
                    "written with checkpoints (plans.lineage), plus one "
                    "giant doc packed and span-grained (operators.chunked)",
    "curate_dedup": "curation->decontam->para dedup->mixture->packing lane "
                    "plus minhash LSH pairs: shuffle, join, broadcast, "
                    "hashing; bypasses vkernel",
}

#: name -> (unit, better, bound). Every one applies to every workload
#: and is never 0; ok_frac is 1 - failed_frac. Timings get the largest
#: bound allowed: on a shared 4-vCPU host, runs of the same code on
#: different seeds spread by 10-20% (CHANGES.md has the runs).
END_TO_END = {
    "run_s": ("s", "lower", 0.25),
    "docs_per_s": ("1/s", "higher", 0.25),
    "cpu_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
    "ok_frac": ("ratio", "higher", 0.01),
    "setup_s": ("s", "lower", 0.25),
}

#: name -> (unit, better); layers a workload does not run report 0
PER_LAYER = {
    "spans_per_s": ("1/s", "higher"),
    "resume_s": ("s", "lower"),
    "failed_frac": ("ratio", "lower"),
    "plans.pipeline.call_s": ("s", "lower"),
    "plans.pipeline.call_jobs": ("count", "lower"),
    "operators.vkernel.busy_s": ("s", "lower"),
    "operators.vkernel.rows_in": ("count", "lower"),
    "operators.vkernel.rows_out": ("count", "lower"),
    "operators.vkernel.arrow_mb_in": ("MB", "lower"),
    "operators.vkernel.arrow_mb_out": ("MB", "lower"),
    "operators.chunked.busy_s": ("s", "lower"),
    "operators.chunked.tasks": ("count", "lower"),
    "operators.chunked.max_task_s": ("s", "lower"),
    "operators.chunked.shuffle_mb": ("MB", "lower"),
    "plans.lineage.stage_s": ("s", "lower"),
    "plans.lineage.commit_s_p50": ("s", "lower"),
    "plans.lineage.commit_s_max": ("s", "lower"),
    "plans.lineage.commits": ("count", "lower"),
    "plans.lineage.failed_commits": ("count", "lower"),
    "plans.lineage.noop_resume_s": ("s", "lower"),
    "plans.lineage.write_mb": ("MB", "lower"),
    "operators.dkernel.busy_s": ("s", "lower"),
    "operators.finalize.busy_s": ("s", "lower"),
    "operators.flatten.busy_s": ("s", "lower"),
    "operators.curation.busy_s": ("s", "lower"),
    "operators.curation.kept_frac": ("ratio", "higher"),
    "operators.contamination.busy_s": ("s", "lower"),
    "operators.contamination.broadcast_mb": ("MB", "lower"),
    "operators.dedup.call_s": ("s", "lower"),
    "operators.dedup.busy_s": ("s", "lower"),
    "operators.dedup.shuffle_mb": ("MB", "lower"),
    "operators.dedup.pairs_out": ("count", "higher"),
    "operators.dedup.pair_yield": ("ratio", "higher"),
    "operators.dedup.para_kept_frac": ("ratio", "higher"),
    "operators.mixture.busy_s": ("s", "lower"),
    "operators.packing.busy_s": ("s", "lower"),
    "operators.packing.shuffle_mb": ("MB", "lower"),
    "sources.scan_mb": ("MB", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.shuffle_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "bench.traced_run_s": ("s", "lower"),
    "bench.trace_overhead_frac": ("ratio", "lower"),
}

_ALL = tuple(WORKLOADS)

#: layer (prefix of its per-layer metrics) -> (the metrics a change in
#: the layer should move, the workloads the layer is measured on)
LAYERS = {
    "plans.pipeline": (("run_s",), ("extract_read",)),
    "operators.vkernel": (("spans_per_s", "cpu_s"), ("extract_read",)),
    "operators.chunked": (("run_s",), ("extract_read",)),
    "plans.lineage": (("run_s", "resume_s"), ("extract_read",)),
    "operators.dkernel": (("run_s", "resume_s"), ("extract_read",)),
    "operators.finalize": (("run_s", "resume_s"), ("extract_read",)),
    "operators.flatten": (("run_s", "resume_s"), ("extract_read",)),
    "operators.curation": (("run_s", "cpu_s"), ("curate_dedup",)),
    "operators.contamination": (("run_s", "cpu_s"), ("curate_dedup",)),
    "operators.dedup": (("run_s", "peak_rss_mb"), ("curate_dedup",)),
    "operators.mixture": (("run_s",), ("curate_dedup",)),
    "operators.packing": (("run_s",), ("curate_dedup",)),
    "sources": (("run_s", "peak_rss_mb"), _ALL),
    "spark": (("run_s", "peak_rss_mb"), _ALL),
}


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": k, "why": v} for k, v in WORKLOADS.items()],
        "end_to_end": [
            {"name": k, "unit": u, "better": b, "bound": bound}
            for k, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": k, "unit": u, "better": b}
            for k, (u, b) in PER_LAYER.items()
        ],
    }


def layers_json() -> dict:
    """The layer -> metric -> workload map, with each layer's own
    per-layer metrics."""
    return {
        layer: {
            "metrics": [m for m in PER_LAYER if m.startswith(layer + ".")],
            "should_move": list(moves),
            "workloads": list(wls),
        }
        for layer, (moves, wls) in LAYERS.items()
    }


if __name__ == "__main__":
    doc = layers_json() if "--layers" in sys.argv[1:] else benchmark_json()
    print(json.dumps(doc, indent=2))
