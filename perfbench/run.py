"""The repository's benchmark: one workload, one seed, one run.

Usage, from the repository root::

    python3 perfbench/run.py --workload iceberg --seed 1 --seconds 10 --trace 0

One client runs a closed loop: each operation starts when the last
one and its check have finished. The run builds its inputs from the
seed, runs one untimed warm round, then whole rounds until
``--seconds`` have passed. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of
``BENCHMARK.json``. The line before it is the run's context record.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from typing import Any

from sparkstats import SPARK_FIELDS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "iceberg_tools_spark"
SETUP_REPS = 3
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
DRIVER_MEM = "2g"


# ---------------------------------------------------------------- stats


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest ladder percentile with at
    least ten samples above it (nearest rank), or None."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= 10:
            return p, xs[rank - 1]
    return None


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_summary(records: list[dict[str, Any]], kinds: tuple[str, ...]) -> dict[str, Any]:
    out = {}
    for kind in kinds:
        lat = [r["latency_s"] for r in records if r["kind"] == kind and r["ok"]]
        if not lat:
            continue
        entry = {"n": len(lat), "p50_ms": statistics.median(lat) * 1e3}
        t = tail(lat)
        if t is not None:
            entry["tail_pct"], entry["tail_ms"] = t[0], t[1] * 1e3
        out[kind] = entry
    return out


# ---------------------------------------------------------------- set-up


def _environment(run_dir: str) -> int:
    """Point every scratch path of Spark, the JVM and Python into
    ``run_dir``; returns the CPU count used."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the package from the checkout
        "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
    })
    tempfile.tempdir = None
    return cpus


def _start_spark(run_dir: str, cpus: int):
    from iceberg_tools_spark.session import get_spark

    # -XX:-UsePerfData: no hsperfdata files under the system /tmp
    java_opts = (f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                 f"-Dderby.system.home={os.path.join(run_dir, 'derby')}")
    return get_spark("perfbench", cpus=cpus, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": java_opts,
        # keep every job and execution of a run in the status stores
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _git_revision() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


# ---------------------------------------------------------------- harness


class Harness:
    """Runs operations, times them, checks them and, in traced
    rounds, records spans and Spark deltas."""

    def __init__(self, spark, workload, tracer=None, stats=None):
        self.sc = spark.sparkContext
        self.workload = workload
        self.tracer = tracer
        self.stats = stats
        self.records: list[dict[str, Any]] = []
        self.errors: list[str] = []
        self.totals = dict.fromkeys(
            ("driver_cpu_s", "driver_wait_s", "registry_build_s", "registry_eager_jobs",
             "action_s", "plan_s", "op_wall_s", "worker_cpu_s"), 0.0)
        self.spark_totals = dict.fromkeys(SPARK_FIELDS, 0.0)

    def run_round(self, ops, phase: str, traced: bool) -> None:
        for op in ops:
            self.run_op(op, phase, traced)

    def run_op(self, op, phase: str, traced: bool) -> None:
        op_id = len(self.records)
        self.sc.setJobGroup(f"perfbench-{op_id}", f"{self.workload.name}:{op.kind}")
        tr = self.tracer if traced else None
        build = op.build
        if tr is not None:
            if op.owner:
                build = tr.span_wrapper(op.owner, _named(build, op.kind))
            if op.registry:
                build = tr.span_wrapper("registry.build", _named(build, op.kind))
            self.stats.mark()
            worker0 = self.stats.worker_cpu_s()
            tr.enabled = True
            root = tr.open(op.kind, op=op_id, phase=phase)
        err = obj = result = None
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        t_build = None
        try:
            obj = build()
            t_build = time.perf_counter()
            build_end_ms = time.time() * 1e3
            if tr is not None:
                a = tr.open("spark.action")
                try:
                    result = op.action(obj)
                finally:
                    tr.close(a)
            else:
                result = op.action(obj)
        except Exception as e:  # an operation that raises counts as failed
            err = e
        t1 = time.perf_counter()
        cpu_s = time.process_time() - cpu0
        if tr is not None:
            tr.close(root)
            tr.enabled = False
            if t_build is None:
                t_build, build_end_ms = t1, time.time() * 1e3
            self._account(op, obj, root, t1 - t0, t1 - t_build, t_build - t0, cpu_s,
                          build_end_ms, worker0)
        self.sc.setJobGroup(f"perfbench-check-{op_id}", "untimed check")
        if err is None:
            try:
                op.check(result)
                if tr is not None and op.counts is not None:
                    for k, v in op.counts(result).items():
                        tr.add(k, v)
            except Exception as e:
                err = e
        if err is not None:
            msg = f"{op.kind} (op {op_id}, {phase}): {type(err).__name__}: {err}"
            self.errors.append(msg)
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
            traceback.print_exception(err, file=sys.stderr)
        self.records.append({"kind": op.kind, "latency_s": t1 - t0, "ok": err is None,
                             "phase": phase, "traced": traced})

    def _account(self, op, obj, root, wall, action_s, build_s, cpu_s, build_end_ms,
                 worker0) -> None:
        delta = self.stats.delta(split_ms=build_end_ms)
        eager = delta.pop("jobs_before_split")
        worker = self.stats.worker_cpu_s() - worker0
        plan_s = _catalyst_seconds(obj)
        self.tracer.spans[root].update(spark=delta, worker_cpu_s=worker, plan_s=plan_s)
        t = self.totals
        t["driver_cpu_s"] += cpu_s
        t["driver_wait_s"] += wall - cpu_s
        t["op_wall_s"] += wall
        t["worker_cpu_s"] += worker
        t["plan_s"] += plan_s
        t["action_s"] += action_s
        if op.registry:
            t["registry_build_s"] += build_s
            t["registry_eager_jobs"] += eager
        for k, v in delta.items():
            if k == "peak_exec_memory_bytes":
                self.spark_totals[k] = max(self.spark_totals[k], v)
            else:
                self.spark_totals[k] += v


def _named(fn, name: str):
    """``fn`` under ``name``, which the span it gets is named after."""
    def call(*args, **kwargs):
        return fn(*args, **kwargs)

    call.__name__ = name
    return call


def _catalyst_seconds(obj) -> float:
    """Parsing, analysis, optimization and planning time recorded by
    the QueryExecution tracker of a DataFrame (0 for other results)."""
    jdf = getattr(obj, "_jdf", None)
    if jdf is None:
        return 0.0
    phases = jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs() / 1e3
    return total


# ---------------------------------------------------------------- the run


def measure(args, run_dir: str) -> tuple[dict[str, Any], dict[str, Any]]:
    """Set up, warm, measure; returns (result line, context record)."""
    import pyspark

    from workloads import WORKLOADS, dir_bytes

    cpus = _environment(run_dir)
    t0 = time.perf_counter()
    spark = _start_spark(run_dir, cpus)
    spark_start_s = time.perf_counter() - t0
    tracer = stats = None
    try:
        workload = WORKLOADS[args.workload](spark, os.path.join(run_dir, "work"), args.seed)
        if args.trace:
            import layers
            from sparkstats import SparkStats
            from tracer import Tracer

            tracer = Tracer()
            layers.install(tracer)
            stats = SparkStats(spark)
        harness = Harness(spark, workload, tracer, stats)

        builds = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            workload.setup(rep)
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        workload.prepare_checks()
        checks_s = time.perf_counter() - t
        t = time.perf_counter()
        harness.run_round(workload.round(0), "warm", False)
        warm_s = time.perf_counter() - t
        setup_s = statistics.median(builds) + warm_s

        # whole rounds until the time is used; a traced run alternates
        # traced and untraced rounds and runs at least one of each
        start = time.perf_counter()
        rounds = 0
        while True:
            traced = bool(args.trace) and rounds % 2 == 0
            harness.run_round(workload.round(1 + rounds), "measure", traced)
            rounds += 1
            if time.perf_counter() - start >= args.seconds and (not args.trace or rounds >= 2):
                break
        measured_s = time.perf_counter() - start

        t = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id)").write.format("noop").mode(
            "overwrite").save()
        calibration_s = time.perf_counter() - t
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cpus, "pyspark": pyspark.__version__,
            "git_revision": _git_revision(), "calibration_s": calibration_s,
            "spark_start_s": spark_start_s, "setup_builds_s": builds,
            "check_prep_s": checks_s, "warm_s": warm_s,
            "measured_s": measured_s, "rounds": rounds, "inputs": workload.context(),
        }
    finally:
        if tracer is not None:
            tracer.unpatch()
        _stop_spark(spark)
    context["scratch_bytes_left"] = dir_bytes(os.path.join(run_dir, "tmp"))

    recs = harness.records
    attempted, failed = len(recs), sum(not r["ok"] for r in recs)
    measured = [r for r in recs if r["phase"] == "measure" and not r["traced"]]
    kinds = kind_summary(measured, workload.kinds)
    lat = [r["latency_s"] for r in measured if r["ok"]]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(lat) / sum(lat) if lat else 0.0, "1/s"),
        "p50_ms": (geomean([k["p50_ms"] for k in kinds.values()]) if kinds else 0.0, "ms"),
        "driver_peak_rss_mb": (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"),
    }
    workload_metrics = {
        "failed_ops_ratio": (failed / attempted if attempted else 1.0, "ratio"),
        **{f"{k}_p50_ms": (v["p50_ms"], "ms") for k, v in kinds.items()},
        **{f"{k}_tail_ms": (v["tail_ms"], "ms") for k, v in kinds.items() if "tail_ms" in v},
        **workload.extra_metrics(),
    }
    context["kinds"] = kinds
    context["workload_metrics"] = _fmt(workload_metrics)
    context["errors"] = harness.errors[:20]

    if args.trace:
        import layers

        traced_ops = sum(1 for r in recs if r["traced"])
        metrics = layers.layer_metrics(
            tracer.counters, harness.spark_totals, traced_ops, {**harness.totals, "cores": cpus})
        traced_kinds = kind_summary([r for r in recs if r["traced"]], workload.kinds)
        common = [k for k in kinds if k in traced_kinds]
        if common:
            t_ms = geomean([traced_kinds[k]["p50_ms"] for k in common])
            u_ms = geomean([kinds[k]["p50_ms"] for k in common])
            context["tracing_overhead"] = {"traced_p50_ms": t_ms, "untraced_p50_ms": u_ms,
                                           "overhead_ms": t_ms - u_ms,
                                           "overhead_share": (t_ms - u_ms) / u_ms}
        context["self_time_check"], context["span_dump"] = _dump_spans(tracer, args)
    else:
        metrics = end_to_end
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": _fmt(metrics)}
    return result, context


def _fmt(metrics: dict[str, tuple[float, str]]) -> dict[str, dict[str, Any]]:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}


def _dump_spans(tracer, args) -> tuple[dict[str, Any], str]:
    """Write the spans (with self times) to perfbench/out/ and check,
    per operation, that self times sum to no more than its wall."""
    self_s = tracer.self_times()
    spans = []
    by_op: dict[Any, list[int]] = {}
    for i, (s, st) in enumerate(zip(tracer.spans, self_s)):
        spans.append({**s, "id": i, "self_s": st})
        by_op.setdefault(s["op"], []).append(i)
    worst = 0.0
    for op, idxs in by_op.items():
        root = next(i for i in idxs if tracer.spans[i]["parent"] is None)
        wall = tracer.spans[root]["end"] - tracer.spans[root]["start"]
        covered = sum(self_s[i] + tracer.spans[i]["light_s"] for i in idxs)
        worst = max(worst, covered / wall if wall > 0 else 0.0)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": spans, "counters": dict(tracer.counters)}, f)
    check = {"ops": len(by_op), "max_self_over_wall": worst, "ok": worst <= 1.0 + 1e-6}
    return check, os.path.relpath(path, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result, context = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
