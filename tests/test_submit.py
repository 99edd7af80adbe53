"""The north-rule launch contract: `spark-submit --py-files <zip>
scripts/run_extraction.py` must work with the package importable ONLY
from the shipped zip (cwd outside the repo), producing the bucket-loop
summary JSON — the same invocation shape a multi-executor cluster uses
(reference: pdf_parser_python's CLI entry, parser/main.py).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    return os.path.join(pyspark.__path__[0], "bin", "spark-submit")


@pytest.mark.slow
def test_spark_submit_py_files_batch(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    zp = str(tmp_path / "pkg.zip")

    from pdf_parser_python_spark.sources.spans import synthetic_corpus

    synthetic_corpus(spark, 30, mean_questions=6).write.parquet(corpus)

    with zipfile.ZipFile(zp, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "pdf_parser_python_spark")
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zp,
            os.path.join(REPO, "scripts", "run_extraction.py"),
            "--input", corpus, "--output", out, "--buckets", "4",
        ],
        cwd=str(tmp_path),  # package NOT importable from cwd
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert summary["mode"] == "batch"
    assert summary["processed"] == [0, 1, 2, 3]
    assert summary["remaining"] == []
    assert summary["docs_parsed"] == 30
    assert summary["parse_failures"] == 0
    assert summary["spans_emitted"] > 0
    # outputs landed where the job said they would (bucket-partitioned:
    # commits/bucket=b/output=questions)
    cdir = os.path.join(out, "commits")
    parts = [
        f
        for root, _dirs, files in os.walk(cdir)
        if os.path.basename(root) == "output=questions"
        and os.path.basename(os.path.dirname(root)).startswith("bucket=")
        for f in files
        if f.endswith(".parquet")
    ]
    assert parts, os.listdir(cdir)
