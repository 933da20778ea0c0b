"""Benchmark of the transcript pipeline.

    python3 perfbench/run.py --workload kills_uniform --seed 1 --seconds 10 --trace 0

Run from the repository root.  It generates the workload's input from the
seed, runs the program in fresh JVMs (``perfbench/trial.py``), checks every
run's output, and prints one JSON object as its last line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, from one traced trial.

The program runs with its shipped session defaults.  Only deployment
settings are set, and each is printed: the core count, the Spark local
directory and the temporary directories (kept inside the checkout), and the
import path of the package for the Python workers.

An untraced run makes three trials, each in a fresh JVM: two that only set
up, then the main trial (set-up, cold run, warm-up, timed runs).  So
``setup_s`` is the median of three start-ups.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import check  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DEADLINE_S = 170  # the whole run, generation and every trial included
MB = 1e6
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


class TrialError(RuntimeError):
    pass


class Sampler(threading.Thread):
    """Peak memory of every process this benchmark started (a trial, its
    JVM and Python workers) and peak size of a directory, sampled from
    /proc and the file system."""

    def __init__(self, local_dir: Path):
        super().__init__(daemon=True)
        self.local_dir = local_dir
        self.peak_rss = self.peak_dir = 0
        self.peak_split: dict[str, float] = {}
        self.done = threading.Event()

    def run(self) -> None:
        tick = 0
        while not self.done.wait(0.2):
            by_pid = tree_pss()
            total = sum(pss for _, pss in by_pid.values())
            if total > self.peak_rss:
                self.peak_rss = total
                self.peak_split = {}
                for name, pss in by_pid.values():
                    self.peak_split[name] = self.peak_split.get(name, 0) + pss / MB
            tick += 1
            if tick % 3 == 0:
                self.peak_dir = max(self.peak_dir, dir_bytes(self.local_dir))


def become_subreaper() -> None:
    """Make this process the parent of every orphan among its descendants.

    A trial's JVM outlives the trial's Python process by its shutdown, and
    PySpark's worker daemon puts itself and its workers in a process group
    of their own; as orphans they would leave this process's tree.  As a
    subreaper it keeps them, so ``stop_descendants`` finds every one."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def descendants(root: int) -> list[int]:
    """Processes below ``root`` in the process tree, zombies included: a
    zombie has ended, but is gone only once its parent reaps it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def tree_pss() -> dict[int, tuple[str, int]]:
    """pid -> (command, proportional set size) for every process this
    benchmark started.  PSS is resident memory with pages shared by forked
    processes (the Python workers) split among them, not counted once per
    process."""
    out = {}
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[pid] = (name, int(line.split()[1]) * 1024)
                        break
        except OSError:
            continue
    return out


def dir_bytes(path: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                continue
    return total


def reap() -> None:
    """Collect the exit status of every ended child (orphans included)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants() -> None:
    """Kill every process this benchmark started, directly or not, and wait
    until each has ended and is reaped.  Orphans are this process's
    children (see ``become_subreaper``), so it reaps them itself."""
    end = time.monotonic() + 60
    while True:
        reap()
        live = descendants(os.getpid())
        if not live:
            return
        if time.monotonic() > end:
            raise TrialError(f"processes {live} did not end after SIGKILL")
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


class Runner:
    def __init__(self, work: Path, spec: dict, env: dict, deadline: float):
        self.work, self.env, self.deadline = work, env, deadline
        self.spec_path = work / "spec.json"
        self.spec_path.write_text(json.dumps(spec))
        self.log = work / "trials.log"
        self.count = 0
        self.walls: list[tuple[str, float]] = []

    def trial(self, mode: str) -> tuple[dict, float, float]:
        """Run one trial; returns (result, peak PSS MB, peak local dir MB)."""
        self.count += 1
        t0 = time.monotonic()
        result_path = self.work / f"result-{self.count}.json"
        with open(self.log, "ab") as log:
            proc = subprocess.Popen(
                [sys.executable, str(HERE / "trial.py"), str(self.spec_path),
                 mode, str(result_path)],
                cwd=self.work, env=self.env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            sampler = Sampler(self.work / "spark-local")
            sampler.start()
            try:
                rc = proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                sampler.done.set()
                sampler.join()
                proc.kill()
                proc.wait()
                stop_descendants()
        self.walls.append((mode, round(time.monotonic() - t0, 2)))
        self.peak_split = sampler.peak_split
        if rc != 0:
            tail = self.log.read_text(errors="replace")[-3000:]
            why = "timed out" if rc is None else f"exited {rc}"
            raise TrialError(f"{mode} trial {why}; log tail:\n{tail}")
        return (
            json.loads(result_path.read_text()),
            sampler.peak_rss / MB,
            sampler.peak_dir / MB,
        )


def manifest() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def child_env(work: Path) -> tuple[dict, dict]:
    """Environment for trials: the caller's, minus any session override the
    package reads, plus the deployment settings (returned separately)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    overrides = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_LOCAL_DIR": str(work / "spark-local"),
        "PYTHONPATH": str(ROOT),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(overrides)
    return env, overrides


def cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others (the 8th field)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def mem_total_gb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


def pick(metrics: dict, names) -> dict:
    """The metrics BENCHMARK.json names, in its order; all must exist."""
    names = [x["name"] if isinstance(x, dict) else x for x in names]
    missing = [n for n in names if n not in metrics]
    if missing:
        raise TrialError(f"metrics not measured: {missing}")
    return {n: metrics[n] for n in names}


def report_errors(res: dict) -> None:
    for e in res["errors"][:5]:
        print("failed run:", e)
    for n in res["notes"]:
        print("note:", n)


def fmt(metrics: dict, units: dict) -> str:
    return "  ".join(f"{k}={v:.6g} {units[k]}" for k, v in metrics.items())


def measure(args, wl, work: Path, t_start: float) -> tuple[dict, int, int]:
    t0 = time.perf_counter()
    g = gen.generate(
        f"{wl.name}:{args.seed}", wl.turns, wl.convs, wl.mix,
        wl.hot_share, wl.malformed_share,
    )
    gen.write_parquet(g, work / "input", n_files=8)
    props = g.properties(wl.ops)
    spec = {
        "workload": wl.name,
        "work": str(work),
        "input": str(work / "input"),
        "seconds": args.seconds,
        "turns": g.turns,
        "consumed_rows": props["consumed_rows"],
        "expected_digest": check.digest(check.expected_summaries(g.events_by_conv, wl.ops)),
        "sink_counts": check.expected_sink_counts(g.type_counts()),
    }
    props["gen_s"] = time.perf_counter() - t0
    print("input:", json.dumps(props))

    env, overrides = child_env(work)
    print("env overrides:", json.dumps(overrides))
    runner = Runner(work, spec, env, t_start + DEADLINE_S)
    m = manifest()

    if args.trace:
        res, mem_peak, dir_peak = runner.trial("trace")
        metrics = dict(
            res["layers"],
            **{"session.peak_pss_mb": mem_peak, "session.localdir_peak_mb": dir_peak},
        )
        names = {x["name"]: x["unit"] for x in m["per_layer"]}
        for name, v in sorted(metrics.items()):
            print(f"layer {name} = {v:.6g} {names.get(name, '?')}")
        report_errors(res)
        return pick(metrics, names), res["attempted"], res["failed"]

    setups = [runner.trial("setup")[0]["setup_s"] for _ in range(2)]
    cpu0 = cpu_times()
    res, rss_peak, _ = runner.trial("main")
    print(f"cpu steal during the main trial: {steal_share(cpu0, cpu_times()):.2%}")
    print("peak memory by process (MB):",
          {k: round(v, 1) for k, v in runner.peak_split.items()})
    setups.append(res["setup_s"])
    print("session conf:", json.dumps(res["conf"]))
    print(
        f"note: shipped spark.driver.memory={res['conf']['spark.driver.memory']} "
        f"on a host with {mem_total_gb():.1f} GiB RAM; not overridden"
    )
    if not res["run_s"] or res["cold_s"] is None:
        raise TrialError(f"no completed timed or cold run: {res['errors'][:3]}")
    metrics = {
        "turns_per_s": g.turns / statistics.median(res["run_s"]),
        "setup_s": statistics.median(setups),
    }
    attempted, failed = res["attempted"], res["failed"]
    # printed beside the JSON metrics, not in them: see perfbench/NOTES.md
    shown = dict(
        metrics, cold_s=res["cold_s"], peak_rss_mb=rss_peak,
        error_rate=failed / attempted,
    )
    units = {x["name"]: x["unit"] for x in m["end_to_end"]}
    units.update(cold_s="s", peak_rss_mb="MB", error_rate="ratio")
    if wl.path == "job":
        shown["output_files"] = statistics.median(res["output_files"])
        units["output_files"] = "count"
    print(f"timed runs ({len(res['run_s'])}):", [round(x, 4) for x in res["run_s"]])
    print("setups:", [round(x, 4) for x in setups])
    print("trial walls:", runner.walls)
    print("end-to-end:", fmt(shown, units))
    report_errors(res)
    return pick(metrics, m["end_to_end"]), attempted, failed


def main() -> int:
    t_start = time.monotonic()
    # a terminated benchmark still tears down its trial and work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    needed = [ROOT / "quake3_log_analyser_spark" / "session.py",
              ROOT / "jobs" / "run_pipeline.py", ROOT / "BENCHMARK.json"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.is_file()]
    if missing:
        print(f"error: program files missing: {missing}", file=sys.stderr)
        return 2

    become_subreaper()
    wl = WORKLOADS[args.workload]
    work = ROOT / ".perfbench_work" / f"{wl.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        metrics, attempted, failed = measure(args, wl, work, t_start)
    except TrialError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        # on every way out, nothing the benchmark started outlives it
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    units = {x["name"]: x["unit"] for x in manifest()["end_to_end"] + manifest()["per_layer"]}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
