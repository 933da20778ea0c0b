"""One trial of a benchmark workload in a fresh JVM.

    python3 perfbench/trial.py <spec.json> <setup|main|trace> <result.json>

``spec.json`` is written by ``run.py``.  Modes:

* ``setup``: session start only.
* ``main``: session start, one cold run, warm-up runs, then timed runs
  until their total time reaches the spec's ``seconds``.  Tracing is off.
* ``trace``: ``main`` with the Spark event log on, then prefix runs of
  public calls to the noop sink for per-layer self times, the resume path
  (job workload only), a restart without tracing to measure the tracing
  overhead, and (summaries workload only) a restart at ``local[1]``.

Every run's output is checked outside its timed region.  A run that raises
or fails its check counts as failed.
"""

from __future__ import annotations

import json
import os
import runpy
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
from eventlog import EventLog, skew, window_exchanges  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

APP = "perfbench"
MB = 1e6
AGG_NODES = {"HashAggregate", "ObjectHashAggregate", "SortAggregate", "FlatMapGroupsInPandas"}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _files(*dirs: Path) -> int:
    return sum(1 for d in dirs if d.exists() for _ in d.rglob("*.parquet"))


def _rounded(times: list[float]) -> list[float]:
    return [round(x, 3) for x in times]


def _ms(log: EventLog, node, metric: str) -> float:
    """A timing SQL metric in seconds."""
    scale = 1e-9 if node.types.get(metric) == "nsTiming" else 1e-3
    return log.value(node, metric) * scale


class Trial:
    def __init__(self, spec: dict):
        self.spec = spec
        self.wl = WORKLOADS[spec["workload"]]
        self.input = spec["input"]
        self.work = Path(spec["work"])
        self.out = self.work / "out"
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.output_files: list[int] = []
        self.notes: list[str] = []
        self.spark = None

    # -- session ---------------------------------------------------------
    def start(self, cpus: int | None = None, extra_conf: dict | None = None) -> float:
        """Session start plus what the program does before its first run
        (package imports; for the job, loading its entry module)."""
        t0 = time.perf_counter()
        from quake3_log_analyser_spark.session import get_spark

        self.spark = get_spark(APP, cpus=cpus, extra_conf=extra_conf)
        if self.wl.path == "job":
            self.job_main = runpy.run_path(
                str(ROOT / "jobs" / "run_pipeline.py"), run_name="perfbench_job"
            )["main"]
        return time.perf_counter() - t0

    def stop(self) -> None:
        self.spark.stop()

    def conf(self) -> dict:
        c = self.spark.sparkContext.getConf()
        keys = ["spark.master", "spark.driver.memory", "spark.local.dir",
                "spark.driver.extraJavaOptions", "spark.sql.shuffle.partitions"]
        return {k: c.get(k) for k in keys}

    def load(self):
        from quake3_log_analyser_spark.sources.transcripts import load_transcripts

        return load_transcripts(self.spark, self.input)

    # -- one run ---------------------------------------------------------
    def _execute(self):
        if self.wl.path == "summaries":
            from quake3_log_analyser_spark.plans.pipeline import summarize_matches

            return summarize_matches(self.load(), ops=self.wl.ops).collect()
        sys.argv = [
            "run_pipeline.py", "--input", self.input, "--output", str(self.out),
            "--checkpoint", str(self.out / "checkpoint"),
            "--ops", ",".join(sorted(self.wl.ops)), "--run-id", APP,
        ]
        self.job_main()
        return None

    def _check(self, result) -> list[str]:
        want = tuple(self.spec["expected_digest"])
        if self.wl.path == "summaries":
            got = check.digest(check.row_dicts(result))
            return [] if got == want else [f"summaries {got} != expected {want}"]
        errors = check.check_sinks(
            self.out / "sinks", Path(self.input), self.spec["sink_counts"]
        )
        got = check.digest(check.parquet_rows(self.out / "match_summaries"))
        if got != want:
            errors.append(f"match_summaries {got} != expected {want}")
        self.output_files.append(_files(self.out / "sinks", self.out / "match_summaries"))
        return errors

    def run(self, label: str) -> float | None:
        """One checked run; its wall time, or None if it raised.  A run whose
        output fails its check keeps its time and counts as failed."""
        sc = self.spark.sparkContext
        sc.setJobDescription(label)
        self.attempted += 1
        t0 = time.perf_counter()
        elapsed = None
        try:
            result = self._execute()
            elapsed = time.perf_counter() - t0
            sc.setJobDescription(None)
            errors = self._check(result)
        except Exception as e:  # a failed run is counted, not fatal
            errors = [f"{type(e).__name__}: {str(e)[:400]}"]
        sc.setJobDescription(None)
        if errors:
            self.failed += 1
            self.errors.append(f"{label}: {errors}")
        return elapsed

    def timed_runs(self, seconds: float, label: str, min_runs: int = 3) -> list[float]:
        """Checked runs until their total time reaches ``seconds``."""
        times: list[float] = []
        i = 0
        while sum(times) < seconds or len(times) < min_runs:
            t = self.run(f"{label}:{i}")
            i += 1
            if t is not None:
                times.append(t)
            elif i - len(times) >= 3:
                break
        self.last_label = f"{label}:{i - 1}"
        return times

    def warm(self, runs: int, extra: int = 2) -> None:
        """At least ``runs`` warm-up runs, then up to ``extra`` more while
        the JIT still makes them faster (a run over 5% faster than every
        earlier one), so that timing starts at the steady state."""
        times: list[float] = []
        for k in range(runs + extra):
            t = self.run(f"warmup:{k}")
            if t is None:
                continue
            improving = not times or t < 0.95 * min(times)
            times.append(t)
            if len(times) >= runs and not improving:
                break

    # -- traced extras ---------------------------------------------------
    def timed_call(self, label: str, fn, reps: int = 2) -> float:
        """Fastest of ``reps`` calls of ``fn``, a prefix run whose output is
        not checked."""
        sc = self.spark.sparkContext
        best = float("inf")
        for k in range(reps):
            sc.setJobDescription(f"{label}:{k}")
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        sc.setJobDescription(None)
        return best

    def jvm_stats(self) -> dict:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        cm = self.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        compile_ms = cm.METRIC_COMPILATION_TIME()
        return {
            "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
            "heap_peak_mb": sum(
                p.getPeakUsage().getUsed()
                for p in mf.getMemoryPoolMXBeans()
                if str(p.getType()) == "Heap memory"
            ) / MB,
            "compile_s": compile_ms.getCount() * compile_ms.getSnapshot().getMean() / 1e3,
            "max_method_bytes": cm.METRIC_GENERATED_METHOD_BYTECODE_SIZE()
            .getSnapshot().getMax(),
        }


# -- per-layer prefixes ------------------------------------------------------

# the kills menu's early discard and parse fields, as plans/pipeline.py's
# summarize_matches builds them; the traced run notes it when the prefix
# keeps other rows than the real run
DISCARD_TOKENS = ["Kill", "InitGame", "Exit", "ShutdownGame"]
KILL_FIELDS = ["killer_name", "victim_name"]


def _discard(df):
    from functools import reduce

    from pyspark.sql import functions as F

    return df.filter(
        reduce(lambda a, b: a | b, [F.col("text").like(f"% {t}:%") for t in DISCARD_TOKENS])
    )


def summaries_layers(t: Trial, full_s: float) -> dict:
    """Prefix runs of the kills summarize_matches path: scan, early discard
    + parse, sessionize; summarize is the full run minus the last prefix."""
    from pyspark.sql import functions as F

    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.sessionize import sessionize

    scan = lambda: t.load().select("conv_id", "turn_idx", "text")  # noqa: E731
    parsed = lambda fields: parse_transcripts(  # noqa: E731
        _discard(scan()), parser="auto", fields=fields
    )
    s_scan = t.timed_call("prefix:scan", lambda: _noop(scan()))
    s_parse = t.timed_call("prefix:parse", lambda: _noop(parsed(KILL_FIELDS)))
    s_sess = t.timed_call(
        "prefix:sessionize", lambda: _noop(sessionize(parsed(KILL_FIELDS)))
    )
    errors = (
        parsed(KILL_FIELDS + ["parse_error_kind"])
        .filter(F.col("parse_error_kind").isNotNull())
        .count()
    )
    return {
        "sources.scan_s": s_scan,
        "parse.self_s": s_parse - s_scan,
        "sessionize.self_s": s_sess - s_parse,
        "summarize.self_s": full_s - s_sess,
        "parse.errors": errors,
        # layers this path does not run
        "replay.max_group_rows": 0,
        "route.write_s": 0.0,
        "checkpoint.run_s": 0.0,
        "checkpoint.noop_resume_s": 0.0,
        "checkpoint.files": 0,
    }


def job_layers(t: Trial) -> dict:
    """Prefix runs of the job path: scan, full-width parse, sessionize,
    five-sink write; and fold parse, then the replay fold."""
    from pyspark.sql import functions as F

    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.route import write_sinks
    from quake3_log_analyser_spark.operators.sessionize import sessionize
    from quake3_log_analyser_spark.operators.summarize import (
        FOLD_COLUMNS,
        summarize_extended,
    )
    from quake3_log_analyser_spark.operators.translate import translate

    fold_fields = [c for c in FOLD_COLUMNS if c not in ("conv_id", "turn_idx")]
    fold_in = lambda: translate(  # noqa: E731
        parse_transcripts(
            t.load().select("conv_id", "turn_idx", "text"),
            parser="arrow", fields=fold_fields,
        )
    )
    s_scan = t.timed_call("prefix:scan", lambda: _noop(t.load()))
    s_parse = t.timed_call("prefix:parse", lambda: _noop(parse_transcripts(t.load())))
    s_sess = t.timed_call(
        "prefix:sessionize", lambda: _noop(sessionize(parse_transcripts(t.load())))
    )
    s_sinks = t.timed_call(
        "prefix:route",
        lambda: write_sinks(
            sessionize(parse_transcripts(t.load())), str(t.work / "prefix_sinks")
        ),
    )
    s_fold_in = t.timed_call("prefix:fold_input", lambda: _noop(fold_in()))
    s_fold = t.timed_call(
        "prefix:fold", lambda: _noop(summarize_extended(fold_in(), t.wl.ops))
    )
    errors = (
        parse_transcripts(t.load()).filter(F.col("parse_error_kind").isNotNull()).count()
    )
    max_group = fold_in().groupBy("conv_id").count().agg(F.max("count")).first()[0]
    return {
        "sources.scan_s": s_scan,
        "parse.self_s": s_parse - s_scan,
        "sessionize.self_s": s_sess - s_parse,
        "route.write_s": s_sinks - s_sess,
        "summarize.self_s": s_fold - s_fold_in,
        "parse.errors": errors,
        "replay.max_group_rows": max_group,
    }


def resume_layers(t: Trial) -> dict:
    """The --resume path from an empty checkpoint, then a second call that
    must process nothing; the summaries must equal the expected ones."""
    from quake3_log_analyser_spark.plans.checkpoint import run_resumable

    base, ck = t.work / "resume", t.work / "resume" / "checkpoint"

    def call():
        return run_resumable(
            t.spark, t.load(), str(base), str(ck), run_id=APP, n_units=16, ops=t.wl.ops
        )

    out = {}
    for key, want_units in (("checkpoint.run_s", 16), ("checkpoint.noop_resume_s", 0)):
        t.attempted += 1
        t0 = time.perf_counter()
        units = call()
        out[key] = time.perf_counter() - t0
        if len(units) != want_units:
            t.failed += 1
            t.errors.append(f"{key}: processed {len(units)} units, want {want_units}")
    got = check.digest(check.parquet_rows(base / "summaries", drop=("convhash",)))
    if got != tuple(t.spec["expected_digest"]):
        t.failed += 1
        t.errors.append(f"resume summaries {got} != expected")
    out["checkpoint.files"] = _files(base / "summaries", ck)
    return out


def sql_layers(t: Trial, log: EventLog) -> dict:
    """Per-layer values Spark recorded for the last traced timed run."""
    execs = log.with_description(t.last_label)
    nodes = [n for x in execs for n in x.nodes()]
    win_ex = [e for x in execs if x.plan for e in window_exchanges(x.plan)]
    win_ids = {id(e) for e in win_ex}
    summary_nodes = [
        n for x in execs
        if any(m.name in AGG_NODES for m in x.nodes())
        for n in x.nodes()
    ]
    scanned = sum(
        log.value(n, "number of output rows")
        for n in summary_nodes if n.name.startswith("Scan")
    )
    kept = sum(
        log.value(n, "number of output rows")
        for n in summary_nodes if n.name == "Filter" and "Contains(text" in n.desc
    ) or scanned
    window_tasks = log.stage_tasks(execs, "Window")
    prefix_kept = sum(
        log.value(n, "number of output rows")
        for x in log.with_description("prefix:parse:0")
        for n in x.nodes() if n.name == "Filter" and "Contains(text" in n.desc
    )
    if prefix_kept and prefix_kept != kept:
        t.notes.append(f"prefix discard kept {prefix_kept} rows, the run {kept}")

    def total(names, metric, pred=lambda n: True):
        return sum(log.value(n, metric) for n in nodes if n.name in names and pred(n))

    sinks_writes = [
        n for n in nodes
        if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand")
        and "/sinks" in n.desc
    ]
    return {
        "sources.read_mb": sum(
            log.value(n, "size of files read") for n in nodes if n.name.startswith("Scan")
        ) / MB,
        "pipeline.discard_keep_ratio": kept / scanned if scanned else 0.0,
        "pipeline.discard_precision": t.spec["consumed_rows"] / kept if kept else 0.0,
        "parse.py_mb_sent": total({"MapInArrow"}, "data sent to Python workers") / MB,
        "sessionize.shuffle_mb": sum(
            log.value(e, "shuffle bytes written") for e in win_ex
        ) / MB,
        "sessionize.task_skew": skew(window_tasks),
        "sessionize.spill_mb": sum(x["disk_spill"] for x in window_tasks) / MB,
        "summarize.shuffle_mb": total(
            {"Exchange"}, "shuffle bytes written", lambda n: id(n) not in win_ids
        ) / MB,
        "summarize.agg_peak_mb": max(
            [log.task_max(n, "peak memory") for n in nodes if n.name == "HashAggregate"],
            default=0,
        ) / MB,
        "replay.self_s": sum(
            _ms(log, n, "time to run Python workers")
            for n in nodes if n.name == "FlatMapGroupsInPandas"
        ),
        "replay.py_mb_sent": total(
            {"FlatMapGroupsInPandas"}, "data sent to Python workers"
        ) / MB,
        "route.commit_s": sum(
            _ms(log, n, "task commit time") + _ms(log, n, "job commit time")
            for n in sinks_writes
        ),
        "route.files": sum(log.value(n, "number of written files") for n in sinks_writes),
        "route.mb": sum(log.value(n, "written output") for n in sinks_writes) / MB,
        "session.tasks_failed": log.tasks_failed,
    }


def trace(t: Trial, seconds: float) -> dict:
    ev_dir = t.work / "eventlog"
    ev_dir.mkdir(parents=True, exist_ok=True)
    start_s = t.start(
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(ev_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    )
    t.run("cold")
    t.warm(t.wl.warmup)
    gc0 = t.jvm_stats()["gc_ms"]
    traced = t.timed_runs(seconds, "run", t.wl.min_timed)
    jvm = t.jvm_stats()
    layers = {
        "session.start_s": start_s,
        "session.gc_s": (jvm["gc_ms"] - gc0) / 1e3 / max(len(traced), 1),
        "session.heap_peak_mb": jvm["heap_peak_mb"],
        "codegen.compile_s": jvm["compile_s"],
        "codegen.max_method_bytes": jvm["max_method_bytes"],
    }
    full_s = statistics.median(traced)
    if t.wl.path == "summaries":
        layers.update(summaries_layers(t, full_s))
    else:
        layers.update(job_layers(t))
        layers.update(resume_layers(t))
    t.stop()
    (log_path,) = [p for p in ev_dir.iterdir() if p.is_file()]
    layers.update(sql_layers(t, EventLog(log_path)))

    # the same runs with tracing off, after a restart in the same JVM; the
    # local[1] runs follow a second restart, so both sides of the scaling
    # ratio run in a restarted session
    t.start()
    t.warm(2, extra=0)
    untraced = t.timed_runs(seconds / 2, "untraced", min_runs=3)
    turns = t.spec["turns"]
    layers["trace.turns_per_s"] = turns / full_s
    layers["trace.untraced_turns_per_s"] = turns / statistics.median(untraced)
    layers["trace.overhead"] = full_s / statistics.median(untraced) - 1
    layers["session.scaling_1to4"] = 0.0
    t.notes.append(f"traced runs {_rounded(traced)}, untraced {_rounded(untraced)}")
    if t.wl.path == "summaries":
        t.stop()
        t.start(cpus=1)
        t.warm(1, extra=0)
        single = t.timed_runs(0, "local1", min_runs=2)
        layers["session.scaling_1to4"] = statistics.median(single) / statistics.median(
            untraced
        )
        t.notes.append(f"local[1] runs {_rounded(single)}")
    t.stop()
    return {"layers": layers}


def main() -> None:
    spec_path, mode, result_path = sys.argv[1:4]
    spec = json.loads(Path(spec_path).read_text())
    t = Trial(spec)
    result: dict = {}
    if mode == "setup":
        result["setup_s"] = t.start()
    elif mode == "main":
        result["setup_s"] = t.start()
        result["conf"] = t.conf()
        result["cold_s"] = t.run("cold")
        t.warm(t.wl.warmup)
        result["run_s"] = t.timed_runs(spec["seconds"], "run", t.wl.min_timed)
    elif mode == "trace":
        result.update(trace(t, spec["seconds"]))
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    result.update(
        attempted=t.attempted, failed=t.failed, errors=t.errors,
        output_files=t.output_files, notes=t.notes,
    )
    Path(result_path).write_text(json.dumps(result))
    if mode != "trace":
        # leave the session to the caller's process-group teardown; a clean
        # stop only costs time here (trace stops to flush its event log)
        os._exit(0)


if __name__ == "__main__":
    main()
