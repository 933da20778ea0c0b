"""The spark-submit --py-files launch path, driven end-to-end.

jobs/run_pipeline.py is the production entrypoint; these tests prove the
packaged launch works the way the docstring claims: the package rides a
--py-files zip, the submitted ``--master`` governs the cluster size (the
session factory must NOT override it with its local[N] default — it did
until session.py::_submitted_master), and the sinks + summaries land.

Each test pays a fresh-JVM spark-submit (~40-60 s); kept to the happy
path and the ``--pedantic`` failure, each on a tiny input.
"""

from __future__ import annotations

import re
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


needs_submit = pytest.mark.skipif(
    not Path(SPARK_SUBMIT).exists(), reason="spark-submit not on PATH"
)


def _submit_job(spark, tmp_path, lines, *job_args):
    """Write ``lines`` as one conversation, zip the package, and run
    jobs/run_pipeline.py under spark-submit; returns (result, out_dir)."""
    rows = [
        ("c1", i, "system", line, None) for i, line in enumerate(lines)
    ]
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    inp = str(tmp_path / "transcripts")
    src.write.parquet(inp)

    zpath = tmp_path / "pipeline.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted((REPO / "quake3_log_analyser_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out = tmp_path / "out"
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", str(zpath),
            str(REPO / "jobs" / "run_pipeline.py"),
            "--input", inp,
            "--output", str(out),
            "--checkpoint", str(tmp_path / "ck"),
            *job_args,
        ],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    return r, out


@needs_submit
def test_spark_submit_honors_master_and_writes_sinks(spark, tmp_path):
    r, out = _submit_job(
        spark, tmp_path,
        [
            r" 0:00 InitGame: \fraglimit\20\timelimit\15",
            " 0:01 Kill: 2 3 7: A killed B by MOD_ROCKET",
            " 0:02 ShutdownGame:",
        ],
        "--ops", "kills", "--run-id", "submit-test",
    )
    assert r.returncode == 0, r.stderr[-3000:]
    # the submitted master must govern the run — not session.py's default
    m = re.search(r"master=(\S+) parallelism=(\d+)", r.stdout)
    assert m and m.group(1) == "local[4]" and m.group(2) == "4", r.stdout[-500:]
    assert (out / "sinks").is_dir() and (out / "match_summaries").is_dir()
    got = spark.read.parquet(str(out / "match_summaries")).collect()
    assert len(got) == 1 and got[0]["total_kills"] == 1


@needs_submit
def test_spark_submit_pedantic_fails_on_malformed_line(spark, tmp_path):
    """``--pedantic`` with the full op menu: one malformed line fails the
    job with ``LogParsingError`` before any sink or summary commits."""
    r, out = _submit_job(
        spark, tmp_path,
        [
            r" 0:00 InitGame: \fraglimit\20\timelimit\15",
            " 0:01 ClientConnect: 2a",
            " 0:02 Kill: 2 3 7: A killed B by MOD_ROCKET",
            " 0:03 ShutdownGame:",
        ],
        "--ops", "kills,means_of_death,player_resolutions,reported_scores",
        "--run-id", "submit-pedantic", "--pedantic",
    )
    assert r.returncode != 0, r.stdout[-2000:]
    assert "LogParsingError" in r.stderr, r.stderr[-3000:]
    assert not (out / "match_summaries" / "_SUCCESS").exists()
    assert not (out / "sinks" / "_SUCCESS").exists()
