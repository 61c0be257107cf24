#!/usr/bin/env python3
"""perfbench: the sdp_spark benchmark. One workload per process.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 10 --trace 0

Builds the sf0.1 fixture once per checkout under ``.bench_build/perfbench``,
gives the run a fresh private scratch root there (cwd, TMPDIR,
SPARK_LOCAL_DIRS and java.io.tmpdir of the measured process), runs ``worker.py`` in it, measures
what the run left behind, deletes the root and prints the result as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. A ``perfbench-run`` line before it records where the run ran: seed,
cpus, nproc, loadavg at start and end, CPU steal, pyspark and Java versions,
the steady-window sample count and any failing key.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170.0  # a run must end within 180 s


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _stop_group(pgid: int, timeout: float = 15.0) -> None:
    """Terminate whatever is left of the run's process group (JVM, Python
    workers) and wait until every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + timeout
        while time.monotonic() < end and _group_alive(pgid):
            time.sleep(0.1)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def _clean_stale(build: str) -> None:
    """Remove the run roots and result files of runs that were killed;
    a run's entries carry its pid, and a live run's are left alone."""
    for entry in os.scandir(build):
        prefix, _, rest = entry.name.partition("-")
        if prefix not in ("run", "result"):
            continue
        pid = rest.split("-", 1)[0].split(".", 1)[0]
        try:
            os.kill(int(pid), 0)
            continue  # that run is still going
        except (ValueError, ProcessLookupError):
            pass
        except PermissionError:
            continue
        if entry.is_dir(follow_symlinks=False):
            shutil.rmtree(entry.path, ignore_errors=True)
        else:
            os.unlink(entry.path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=4, help="local[N] cores, capped at nproc")
    ap.add_argument("--driver-mem", default="2g",
                    help="spark.driver.memory; the heap is fixed at this size")
    args = ap.parse_args(argv)
    started = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "sdp_spark", "__init__.py")):
        print(f"perfbench: no sdp_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(BUILD, exist_ok=True)
    _clean_stale(BUILD)
    data = fixture.ensure(os.path.join(BUILD, "data"))

    nproc = os.cpu_count() or 1
    cpus = min(args.cpus, nproc)
    load_start = os.getloadavg()
    run_root = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=BUILD)
    out = os.path.join(BUILD, f"result-{os.getpid()}.json")
    spans_out = os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": run_root,
        "SPARK_LOCAL_DIRS": run_root,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # the JVM's own temp files (native-library extracts, artifact dirs)
        # and perf-counter file stay inside the run root too
        "JAVA_TOOL_OPTIONS": " ".join(p for p in (
            env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={run_root}", "-XX:-UsePerfData") if p),
        # heap fixed at its maximum: a growable heap moved the JVM's peak
        # RSS by up to 20% between identical runs, as G1 resized it
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{args.driver_mem} pyspark-shell",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--cpus", str(cpus), "--out", out]
    if args.trace:
        cmd += ["--spans-out", spans_out]
    ticks = _cpu_ticks()
    env["PERFBENCH_T0"] = repr(time.monotonic())
    proc = subprocess.Popen(cmd, cwd=run_root, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(DEADLINE_S - (time.monotonic() - started), 1.0))
    except subprocess.TimeoutExpired:
        code = None
        print("perfbench: run exceeded its deadline", file=sys.stderr)
    finally:
        _stop_group(proc.pid)
        if proc.poll() is None:
            proc.wait()
    steal = _steal_pct(ticks, _cpu_ticks())
    try:
        scratch = measure.scratch_usage(run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)
    os.unlink(out)

    if args.trace:
        layers = res["layers"]
        layers["scratch.dirs_created"] = scratch["dirs_created"]
        layers["scratch.cache_mb"] = scratch["cache_mb"]
        layers["scratch.leaked_mb"] = scratch["leaked_mb"]
        values, units = layers, PER_LAYER
    else:
        values = dict(res["metrics"], scratch_left_mb=scratch["left_mb"])
        units = END_TO_END
    measure.check_metric_names(units)
    if set(values) != set(units) or any(not math.isfinite(v) for v in values.values()):
        print(f"perfbench: incomplete metrics {sorted(set(units) ^ set(values))}", file=sys.stderr)
        return 1
    info = dict(res["info"], workload=args.workload, seed=args.seed, trace=args.trace,
                cpus=cpus, nproc=nproc, driver_mem=args.driver_mem, steal_pct=steal,
                loadavg_start=list(load_start), loadavg_end=list(os.getloadavg()))
    print("perfbench-run " + json.dumps(info, sort_keys=True))
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
