"""One benchmark run, executed by ``run.py`` inside the run's private scratch
root (cwd, TMPDIR and SPARK_LOCAL_DIRS all point there).

Phases, in order:
  setup    import, ``plans.registry.load_all()``, ``session.get_spark``,
           ``sources.fixtures.load_tables`` (timed from process launch);
  first    one pass in the fresh process (JIT, memo builds, derived files);
  steady   a fixed number of passes: qps and latency;
  rebuild  ``sdp_spark.unpersist_all()`` then one pass: memo rebuild cost;
  check    every query of one more pass against its reference, untimed.

Each query is the registry ``fn()`` call (or ``dialect.sql_mysql`` on the
templated text) followed by a ``noop`` write, as ``bench.py`` runs them. With
``--trace 1`` the steady passes alternate traced and untraced, so the run
also measures its own tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

T_LAUNCH = float(os.environ.get("PERFBENCH_T0", time.monotonic()))
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import measure  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from metrics import LAYER_MODULES, PER_LAYER, STREAM_FIELDS  # noqa: E402

# Steady passes per run: two, or four in a traced run (its T U U T order).
# The count is fixed rather than timed, so a faster engine gives the same
# samples and leaves the same per-call dirs, not more of them. Both
# workloads have an odd number of keys per pass, which puts the median on
# the middle key's own two samples rather than in the gap between keys.
STEADY_PASSES = 2
TRACED_STEADY_PASSES = 4


@dataclass
class Sample:
    phase: str
    label: str
    build_s: float
    exec_s: float
    pass_no: int
    traced: bool


class Run:
    def __init__(self, spark, registry, sf_dir: str, workload: str, seed: int,
                 tracer, counter=None, progress: list | None = None):
        from sdp_spark import dialect

        self.spark, self.registry, self.sf_dir = spark, registry, sf_dir
        self.seed = seed
        self.order = workloads.pass_order(workload, seed)
        self.sql_mysql = dialect.sql_mysql
        self.tracer, self.counter, self.progress = tracer, counter, progress
        self.samples: list[Sample] = []
        self.failures: list[tuple[str, str, str]] = []
        self.records: list[dict] = []  # traced queries: counts and stream progress
        self.kept: list[tuple] = []  # (label, DataFrame, reference) of the rebuild pass
        self.attempted = 0
        unmapped = {self._module(k) for k in self.order} - set(LAYER_MODULES)
        if unmapped:
            raise SystemExit(f"perfbench: modules missing from LAYER_MODULES: {sorted(unmapped)}")

    def _module(self, label: str) -> str:
        if label in workloads.TEMPLATES:
            return "dialect"
        return self.registry[label].fn.__module__.removeprefix("sdp_spark.")

    def queries(self, pass_no: int):
        """(label, module, build thunk, DuckDB SQL or None) for one pass."""
        lits = workloads.literals(self.seed, pass_no)
        for label in self.order:
            if label in workloads.TEMPLATES:
                mysql, twin = workloads.render(label, lits)
                yield label, "dialect", (lambda t=mysql: self.sql_mysql(self.spark, self.sf_dir, t)), twin
            else:
                spec = self.registry[label]
                yield label, self._module(label), (lambda s=spec: s.fn(self.spark, self.sf_dir)), spec.oracle

    def run_pass(self, pass_no: int, phase: str, traced: bool, keep: bool = False) -> float:
        """Run one pass; with ``keep`` the returned frames are held for
        ``check()``, which then re-executes them without calling fn() again."""
        self.tracer.enabled = traced
        start = time.perf_counter()
        for label, module, build, ref in self.queries(pass_no):
            df = self.run_query(pass_no, phase, label, module, build, traced)
            if keep:
                self.kept.append((label, df, ref))
        return time.perf_counter() - start

    def run_query(self, pass_no, phase, label, module, build, traced):
        """Build and run one query; returns its DataFrame, or None if it failed."""
        self.attempted += 1
        qid = len(self.records)
        tag = f"perfbench-q{qid}"
        mark = len(self.progress) if self.progress is not None else 0
        if traced:
            self.tracer.query = qid
            self.counter.begin(tag)
        try:
            with self.tracer.span("query"):
                t0 = time.perf_counter()
                with self.tracer.span(f"{module}.build"):
                    df = build()
                t1 = time.perf_counter()
                with self.tracer.span(f"{module}.exec"):
                    df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
        except Exception as exc:  # a failed query is counted; the run goes on
            traceback.print_exc()
            self.failures.append((phase, label, f"{type(exc).__name__}: {str(exc)[:200]}"))
            return None
        finally:
            if traced:
                counts = self.counter.end(tag)
                self.records.append({"qid": qid, "phase": phase, "pass_no": pass_no,
                                     "label": label, "module": module, **counts,
                                     "stream": self.progress[mark:]})
                self.tracer.query = None
        self.samples.append(Sample(phase, label, t1 - t0, t2 - t1, pass_no, traced))
        return df

    def check(self) -> tuple[int, int, list[str]]:
        """(checked, matching, failing labels) over the kept frames."""
        self.tracer.enabled = False
        con = checks.connect(self.sf_dir)
        ok, bad = 0, []
        for label, df, ref in self.kept:
            try:
                if df is None:
                    why = "query failed"
                elif ref is None:
                    why = "no reference"
                else:
                    why = checks.check_sql(df, con, ref, cache=label not in workloads.TEMPLATES)
            except Exception as exc:  # a query that fails its check is reported
                why = f"{type(exc).__name__}: {str(exc)[:200]}"
            if why is None:
                ok += 1
            else:
                bad.append(label)
                print(f"perfbench: check failed: {label}: {why}", file=sys.stderr)
        con.close()
        return len(self.kept), ok, bad


def _steady_window(run: Run, trace: bool, jvm_pid: int):
    """A fixed number of whole passes, so every key contributes the same
    number of samples. A traced run alternates traced (T) and untraced (U)
    passes as T U U T, so drift within the run cancels out of the tracing
    overhead."""
    start = time.perf_counter()
    pass_s = {True: [], False: []}
    cpu = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    n_passes = TRACED_STEADY_PASSES if trace else STEADY_PASSES
    for pass_no in range(1, n_passes + 1):
        traced = trace and (pass_no - 1) % 4 in (0, 3)
        if traced:
            before = (spans.cpu_s(os.getpid()), spans.cpu_s(jvm_pid), spans.workers_cpu_s(jvm_pid))
        pass_s[traced].append(run.run_pass(pass_no, "steady", traced))
        if traced:
            after = (spans.cpu_s(os.getpid()), spans.cpu_s(jvm_pid), spans.workers_cpu_s(jvm_pid))
            for k, b, a in zip(("driver", "jvm", "workers"), before, after):
                cpu[k] += a - b
    return time.perf_counter() - start, n_passes + 1, pass_s, cpu


def _layers(run: Run, tracer, setup: dict, pass_s: dict, cpu: dict, memo: dict,
            mem: dict) -> dict[str, float]:
    """Per-layer numbers, per traced steady pass unless named otherwise."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(setup)
    n_pass = len(pass_s[True])
    by_query = {r["qid"]: r for r in run.records}
    selft = measure.self_times(tracer.spans)

    def phase_of(span) -> str | None:
        rec = by_query.get(span.query)
        return rec["phase"] if rec else None

    rebuild_mod: dict[str, float] = {}
    steady_mod: dict[str, float] = {}
    for s in tracer.spans:
        ph = phase_of(s)
        if ph not in ("steady", "rebuild"):
            continue
        kind = s.name.rsplit(".", 1)[-1]
        if kind in ("build", "exec"):
            mod = s.name.rsplit(".", 1)[0]
            dur = selft[s.span_id] if kind == "build" else s.duration
            if ph == "steady" and mod in LAYER_MODULES:
                out[f"{mod}.{kind}_s"] += dur / n_pass
                if kind == "exec":
                    out[f"{mod}.calls"] += 1 / n_pass
            target = steady_mod if ph == "steady" else rebuild_mod
            target[mod] = target.get(mod, 0.0) + s.duration
        elif ph == "steady" and s.name == "sources.fixtures.table":
            out["sources.fixtures.table_calls"] += 1 / n_pass
            out["sources.fixtures.table_s"] += s.duration / n_pass
        elif ph == "steady" and s.name == "dialect.translate":
            out["dialect.translate_calls"] += 1 / n_pass
            out["dialect.translate_s"] += s.duration / n_pass
    for r in run.records:
        if r["phase"] != "steady":
            continue
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}"] += r[k] / n_pass
        if r["module"] in LAYER_MODULES:
            out[f"{r['module']}.spark_jobs"] += r["jobs"] / n_pass
        for p in r["stream"]:
            out["streaming.ops.batches"] += 1 / n_pass
            out["streaming.ops.input_rows"] += p.get("input_rows", 0) / n_pass
            for name, key in STREAM_FIELDS:
                out[f"streaming.ops.{name}"] += p.get(key, 0) / n_pass
    for mod in LAYER_MODULES:
        extra = rebuild_mod.get(mod, 0.0) - steady_mod.get(mod, 0.0) / n_pass
        out[f"{mod}.rebuild_extra_s"] = extra
    out["memo.released"] = memo["released"]
    out["memo.unpersist_s"] = memo["unpersist_s"]
    out["memo.rebuild_extra_s"] = memo["rebuild_pass_s"] - statistics.median(pass_s[True])
    out["proc.driver_cpu_s"] = cpu["driver"] / n_pass
    out["proc.jvm_cpu_s"] = cpu["jvm"] / n_pass
    out["proc.workers_cpu_s"] = cpu["workers"] / n_pass
    out["proc.jvm_peak_rss_mb"] = mem["jvm"]
    out["proc.jvm_old_gen_peak_mb"] = mem["jvm_old_gen"]
    per_pass = len(run.order)
    traced_s = sum(pass_s[True]) / len(pass_s[True])
    untraced_s = sum(pass_s[False]) / len(pass_s[False])
    out["trace.qps_traced"] = per_pass / traced_s
    out["trace.qps_untraced"] = per_pass / untraced_s
    out["trace.overhead_pct"] = 100.0 * (traced_s / untraced_s - 1.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the driver's interface; the steady window is a fixed pass count")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-out")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    counter = None
    progress: list | None = None
    setup_layers: dict[str, float] = {}
    tracer = spans.Tracer(enabled=trace)
    if trace:
        tracer.install()
    t = time.perf_counter()
    with tracer.span("plans.registry.load_all"):
        from sdp_spark.plans.registry import load_all

        registry = load_all()
    setup_layers["plans.registry.load_all_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        from sdp_spark.session import get_spark

        spark = get_spark("perfbench", cpus=args.cpus)
    setup_layers["session.get_spark_s"] = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    from sdp_spark.sources import fixtures

    t = time.perf_counter()
    fixtures.load_tables(spark, args.data)
    setup_layers["sources.fixtures.load_tables_s"] = time.perf_counter() - t
    setup_s = time.monotonic() - T_LAUNCH

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    if trace:
        tracer.install_dialect()
        counter = spans.JobCounter(spark)
        progress = []
        spark.streams.addListener(spans.streaming_listener(progress))
    run = Run(spark, registry, args.data, args.workload, args.seed, tracer, counter, progress)

    first_pass_s = run.run_pass(0, "first", trace)
    window_s, pass_no, pass_s, cpu = _steady_window(run, trace, jvm_pid)

    import sdp_spark

    t = time.perf_counter()
    released = sdp_spark.unpersist_all()
    memo = {"released": released, "unpersist_s": time.perf_counter() - t}
    memo["rebuild_pass_s"] = run.run_pass(pass_no, "rebuild", trace, keep=True)

    # Memory is read before the checks: their DuckDB oracles and Arrow
    # copies belong to the benchmark, not to the engine.
    mem = {"driver": spans.peak_rss_mb(os.getpid()), "jvm": spans.peak_rss_mb(jvm_pid),
           "jvm_old_gen": spans.jvm_old_gen_peak_mb(spark)}

    t = time.perf_counter()
    checked, matching, bad = run.check()
    check_s = time.perf_counter() - t

    steady = [s for s in run.samples if s.phase == "steady"]
    lat = [s.build_s + s.exec_s for s in steady]
    returned = len(run.samples)
    metrics = {
        "setup_s": setup_s,
        "first_pass_s": first_pass_s,
        "qps": len(steady) / window_s,
        "latency_p50_s": measure.percentile(lat, 0.5) if lat else float("nan"),
        "latency_p90_s": measure.percentile(lat, 0.9) if lat else float("nan"),
        "rebuild_pass_s": memo["rebuild_pass_s"],
        "peak_rss_mb": mem["driver"] + mem["jvm"],
        "ok_ratio": returned / run.attempted,
        "correct_ratio": matching / checked,
    }
    layers = None
    if trace:
        layers = _layers(run, tracer, setup_layers, pass_s, cpu, memo, mem)
        if args.spans_out:
            tracer.dump(args.spans_out)

    per_key: dict[str, dict[str, float]] = {}
    for s in run.samples:
        per_key.setdefault(s.label, {}).setdefault(s.phase, []).append(s.build_s + s.exec_s)
    info = {
        "per_key_s": {k: {ph: round(statistics.median(v), 3) for ph, v in d.items()}
                      for k, d in per_key.items()},
        "steady_samples": len(steady),
        "steady_beyond_p90": measure.samples_beyond(len(steady), 0.9),
        "steady_passes": sum(len(v) for v in pass_s.values()),
        "steady_window_s": window_s,
        "check_s": check_s,
        "memory_mb": mem,
        "failed_queries": sorted({f[1] for f in run.failures}),
        "failed_checks": bad,
        "pyspark": __import__("pyspark").__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }
    spark.stop()
    result = {
        "attempted": run.attempted + checked,
        "failed": len(run.failures) + len(bad),
        "metrics": metrics,
        "layers": layers,
        "info": info,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
