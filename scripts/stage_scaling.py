"""Per-stage N-vs-4N scaling curves (VERDICT r1 next-step #1).

Isolates each pipeline stage over the same 16M-turn table at two core
counts (fresh JVM per measurement via subprocess) so the stage that breaks
scaling is identified by measurement, not guesswork.

Stages:
  scan       parquet scan + count (I/O + row decode floor)
  parse      Arrow parser (mapInArrow) + cheap agg — the Python boundary
  parse_expr JVM expression parser + same agg — the no-Python control
  window     expr parse + sessionize window (shuffle + sort, no Python)
  e2e        full summarize_matches(kills) — parse + window + 2-level agg

Usage:
  python scripts/stage_scaling.py run <cpus> <stage> <table>   # one measure
  python scripts/stage_scaling.py [n_small] [n_big]            # full matrix
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

STAGES = ["scan", "parse", "parse_expr", "window", "e2e"]


def measure(cpus: int, stage: str, tpath: str, reps: int = 2) -> None:
    from pyspark.sql import functions as F

    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.sessionize import sessionize
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches
    from quake3_log_analyser_spark.schemas import TRANSCRIPT_SCHEMA
    from quake3_log_analyser_spark.session import get_spark

    # same hardened protocol as scaling_worker.py: 64 MB splits (>= one
    # task per core on the many-small-files bench table) and TWO warm runs
    spark = get_spark(
        f"stage-{stage}", cpus=cpus, shuffle_partitions=cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(64 * 1024 * 1024)},
    )
    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(tpath)
    n_turns = t.count()

    def job():
        if stage == "scan":
            return t.count()
        if stage in ("parse", "parse_expr"):
            parser = "arrow" if stage == "parse" else "expr"
            parsed = parse_transcripts(
                t, parser=parser, fields=["killer_name", "victim_name"]
            )
            return parsed.agg(F.count("killer_name")).collect()[0][0]
        if stage == "window":
            sess = sessionize(
                parse_transcripts(
                    t.select("conv_id", "turn_idx", "text"),
                    parser="expr", fields=["killer_name", "victim_name"],
                )
            )
            return sess.agg(F.sum(F.col("is_match_end").cast("long"))).collect()[0][0]
        if stage == "e2e":
            return (
                summarize_matches(t, ops={"kills"})
                .agg(F.count(F.lit(1)))
                .collect()[0][0]
            )
        raise ValueError(stage)

    job()  # warm-up: codegen + python workers
    job()  # second warm-up: this VM needs it before timings stabilize
    best = min(
        (lambda t0=time.perf_counter(): (job(), time.perf_counter() - t0)[1])()
        for _ in range(reps)
    )
    print(
        json.dumps(
            {
                "stage": stage,
                "cpus": cpus,
                "seconds": round(best, 3),
                "n_turns": n_turns,
                "turns_per_sec": round(n_turns / best),
            }
        )
    )


def run_matrix(n_small: int, n_big: int) -> None:
    from scaling_bench import ensure_big_table

    tpath = ensure_big_table(16_000_000)
    results = {}
    for stage in STAGES:
        for cpus in (n_small, n_big):
            out = subprocess.run(
                [sys.executable, __file__, "run", str(cpus), stage, tpath],
                capture_output=True, text=True, timeout=3600,
            )
            lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
            if not lines:
                print(f"{stage}@{cpus} FAILED: {out.stderr[-1500:]}")
                continue
            r = json.loads(lines[-1])
            results[(stage, cpus)] = r
            print(f"{stage:11s} cpus={cpus:3d} {r['seconds']:8.2f}s "
                  f"{r['turns_per_sec']:>10,} turns/s")
    print()
    for stage in STAGES:
        a, b = results.get((stage, n_small)), results.get((stage, n_big))
        if a and b:
            eff = (a["seconds"] / b["seconds"]) / (n_big / n_small)
            print(f"{stage:11s} scaling efficiency {n_small}->{n_big}: {eff:.3f}")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "run":
        measure(int(sys.argv[2]), sys.argv[3], sys.argv[4])
    else:
        n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 8
        n_big = int(sys.argv[2]) if len(sys.argv) > 2 else 32
        run_matrix(n_small, n_big)
