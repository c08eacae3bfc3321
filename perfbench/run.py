"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Runs the workload, whose inputs the seed
sets, in a fresh driver process (``perfbench/driver.py``) for
at least the given time, checks its outputs and prints one JSON object as
the last line of standard output.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

PACKAGE = "recommender_system_with_pyspark_spark"
DRIVER_TIMEOUT_S = 170

# peak_rss_mb is reported in the detail line only: the JVM's heap grows by
# GC ergonomics, and its peak moved by a third between runs of one seed.
END_TO_END = {
    "setup_s": "s",
    "suite_s": "s",
    "geomean_s": "s",
}

_QUERY_LAYER = (
    "wall_s", "driver_s", "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
    "sched_wait_s", "shuffle_mb", "spill_mb", "input_mb", "core_busy",
    "stage_skip_frac", "failed_tasks",
)
LAYERS = {
    "golden": ("wall_s", "task_s"),
    "bgg": ("wall_s", "jobs", "task_s", "shuffle_mb"),
    "models.grid_fit": (
        "wall_s", "driver_s", "jobs", "task_s", "cpu_s", "gc_s", "sched_wait_s",
        "shuffle_mb", "spill_mb", "core_busy",
    ),
    "models.refit": ("wall_s", "driver_s", "jobs", "task_s", "shuffle_mb", "core_busy"),
    "models.evaluate": ("wall_s", "jobs", "task_s"),
    "models.recommend": ("wall_s", "task_s", "shuffle_mb"),
    "queries": _QUERY_LAYER,
}
_UNITS = {"s": "s", "mb": "MB", "busy": "ratio", "frac": "ratio"}


def unit_of(metric: str) -> str:
    return _UNITS.get(metric.rsplit("_", 1)[-1], "count")


def per_layer_names() -> list[str]:
    names = ["session.start_s", "session.warmup_s"]
    names += [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms]
    names += [f"query.{q}.wall_s" for q in W.RELATIONAL]
    names += ["trace.run_wall_s", "trace.unattributed_s", "trace.suite_s", "trace.untagged_jobs"]
    return names


# --------------------------------------------------------------------------
# host and process tree
# --------------------------------------------------------------------------


def meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs, since
    boot. A run that overlaps a burst of it reads slower everywhere."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_record() -> dict:
    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.SubprocessError):
        java = "unknown"
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": list(os.getloadavg()),
        "mem_available_mb": round(meminfo_mb("MemAvailable")),
        "cpu_steal_s": cpu_steal_s(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
    }


def _proc_stats() -> list[tuple[int, int, int]]:
    """(pid, parent pid, process group) of every running process; zombies,
    which have ended, are left out."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            out.append((int(pid), int(fields[1]), int(fields[2])))
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, ppid, _ in _proc_stats():
        kids.setdefault(ppid, []).append(pid)
    return kids


def kill_group(pgid: int, timeout: float = 30.0) -> None:
    """SIGKILL a process group and wait until none of its members is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + timeout
    while any(g == pgid for _, _, g in _proc_stats()) and time.time() < deadline:
        time.sleep(0.05)


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (``statm``, which
    is cheap to read, unlike ``smaps``)."""
    kids, stack, pages = _children(), [root], 0
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            pass
    return pages * os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


def run_driver(cmd: list[str], env: dict, log_path: str) -> tuple[int, float]:
    """Run one driver process to completion; returns (exit code, peak RSS
    of its process tree in MB). The whole process group is killed on
    timeout or interrupt."""
    peak = [0.0]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        done = threading.Event()

        def sample() -> None:
            while not done.wait(0.5):
                peak[0] = max(peak[0], tree_rss_mb(proc.pid))

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            code = proc.wait(timeout=DRIVER_TIMEOUT_S)
        finally:
            done.set()
            sampler.join()
            # the JVM and Python workers are in the driver's process group
            kill_group(proc.pid)
            proc.wait()
    return code, peak[0]


# --------------------------------------------------------------------------


def write_expected(run_dir: str, workload: str) -> tuple[str, bool]:
    """Write the query workloads' oracle results for the driver; returns
    the file and whether they had to be recomputed (see
    ``workloads.expected_results``)."""
    if workload not in W.QUERY_WORKLOADS:
        return "", False
    expected, recomputed = W.expected_results()
    path = os.path.join(run_dir, "expected.json")
    with open(path, "w") as fh:
        json.dump(expected, fh)
    return path, recomputed


def layer_metrics(result: dict) -> dict[str, float]:
    tr = result["trace"]
    passes = max(1, result["passes"])
    out = {"session.start_s": result["start_s"], "session.warmup_s": result["warmup_s"]}
    for layer, metrics in LAYERS.items():
        got = dict(tr["layers"].get(layer, {}))
        if layer == "bgg":
            # als_workflow's own work: its model spans are layers of their own
            got["wall_s"] = got.get("self_s", 0.0)
        for m in metrics:
            v = got.get(m, 0.0)
            # counts and times are per pass over the workload; ratios as is
            out[f"{layer}.{m}"] = v if m in ("core_busy", "stage_skip_frac") else v / passes
    for q in W.RELATIONAL:
        out[f"query.{q}.wall_s"] = tr["query_wall_s"].get(q, 0.0)
    out["trace.run_wall_s"] = tr["run_wall_s"]
    out["trace.unattributed_s"] = tr["unattributed_s"]
    out["trace.suite_s"] = result["suite_s"]
    out["trace.untagged_jobs"] = tr["jobs_untagged"]
    return out


def _exit_on_signal(signum, frame) -> None:
    # turns SIGTERM (and SIGINT, which a background shell ignores) into an
    # exception, so run_driver kills the driver's process group on the way out
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _exit_on_signal)
    signal.signal(signal.SIGINT, _exit_on_signal)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)) or not os.path.isfile(
        os.path.join(root, "__spark_entry__.py")
    ):
        print(f"perfbench: {PACKAGE}/ and __spark_entry__.py not found in {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    host = host_record()
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    try:
        expected, recomputed = write_expected(run_dir, args.workload)
        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(host["nproc"]),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            "PYTHONUNBUFFERED": "1",
        })
        base = [
            sys.executable, os.path.join(HERE, "driver.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--root", root, "--work", run_dir,
            "--data", W.DATA_DIR, "--expected", expected, "--cpus", str(host["nproc"]),
        ]
        out = os.path.join(run_dir, "result.json")
        code, peak_rss = run_driver(base + ["--trace", str(args.trace), "--out", out], env,
                                    os.path.join(run_dir, "driver.log"))
        if code != 0:
            with open(os.path.join(run_dir, "driver.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise RuntimeError(f"driver exited {code}")
        with open(out) as fh:
            result = json.load(fh)
    except Exception as exc:
        print(f"perfbench: run failed: {exc}", file=sys.stderr)
        return 1
    else:
        shutil.rmtree(run_dir, ignore_errors=True)

    host["loadavg_end"] = list(os.getloadavg())
    host["cpu_steal_s"] = cpu_steal_s() - host["cpu_steal_s"]
    ops, checks = result["ops"], result["checks"]
    attempted = len(ops) + len(checks)
    failed = sum(o["failed"] for o in ops) + sum(not c["ok"] for c in checks)
    if args.trace:
        values = layer_metrics(result)
        metrics = {k: {"value": values[k], "unit": unit_of(k)} for k in per_layer_names()}
    else:
        metrics = {k: {"value": result[k], "unit": u} for k, u in END_TO_END.items()}

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "passes": result["passes"], "oracle_recomputed": recomputed,
        "error_rate": failed / attempted, "peak_rss_mb": peak_rss,
        **{k: result[k] for k in ("start_s", "warmup_s", "check_s", "window_s")},
        "check_seconds": {c["query"]: c["seconds"] for c in checks if "query" in c},
        "pipeline_checks": [c for c in checks if "query" not in c],
        "failed_checks": [c for c in checks if not c["ok"]],
        "failed_ops": [o for o in ops if o["failed"]],
        **{k: result[k] for k in ("query_medians", "pass_seconds", "step_medians") if k in result},
    }
    print("perfbench detail: " + json.dumps(detail))
    for name, m in metrics.items():
        print(f"perfbench {args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
