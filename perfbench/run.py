"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_train_png --seed 1 --seconds 12 --trace 0

Runs one workload of ``perfbench/workloads.py`` from the root of a
checkout and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``.  The line before it records the machine, the
versions and informational figures.  ``--smoke`` shrinks the data to a
self-test size and runs one pass.

Every file the run writes lives under ``.perfbench_run/`` in the
checkout (removed at exit); a traced run leaves its span and event-log
records in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny data, one pass")
    return p.parse_args(argv)


def machine_memory_bytes() -> int:
    with open("/proc/meminfo") as fh:
        total = next(int(ln.split()[1]) * 1024 for ln in fh if ln.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return total


def driver_heap() -> str:
    """A quarter of the machine's memory, between 1 and 4 GiB."""
    return f"{max(1, min(4, machine_memory_bytes() // 4 // 2**30))}g"


def configure_launch(run_dir: str, nproc: int, heap: str, event_log: str | None) -> None:
    """Environment for the Spark JVM, its Python workers and every temp
    file: all of it inside this run's fresh directory, so no index
    cache or temp file outlives the run."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--driver-java-options", java_opts]
    if event_log:
        os.makedirs(event_log)
        for k, v in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", "file://" + event_log),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
        ):
            submit += ["--conf", f"{k}={v}"]
    old_path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "PYTHONPATH": os.pathsep.join(
                [ROOT, BENCH_DIR] + ([old_path] if old_path else [])
            ),
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": heap,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        }
    )
    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still running: kill and reap
            proc.kill()
            proc.wait()


def rss_mb() -> float:
    with open("/proc/self/status") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmRSS:"))
    return kb / 1024


def cpu_seconds() -> float:
    """CPU seconds of this process and its descendants: the JVM and
    Spark's Python workers."""
    from petastorm_spark.benchmark.procstats import process_tree_sample

    return process_tree_sample()["cpu_seconds"]


def host_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of the machine so far.  Busy is user + nice +
    system + irq + softirq of ``/proc/stat``; a tick the hypervisor
    withheld from a vCPU that wanted to run counts as steal only."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:]]
    return t[0] + t[1] + t[2] + t[5] + t[6], (t[7] if len(t) > 7 else 0)


def granted(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the CPU time the machine asked for between the
    :func:`host_ticks` samples ``a`` and ``b`` that the host granted:
    1 - steal / (busy + steal)."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return 1 - steal / (busy + steal) if busy + steal > 0 else 1.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))]


class Ctx:
    """What a workload sees of the run: its arguments, the session,
    the operation counts and the job-group tagging."""

    def __init__(self, args, nproc: int, run_dir: str, spark):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.nproc = nproc
        self.work_dir = run_dir
        self.bench_dir = BENCH_DIR
        self.spark = spark
        self.tracing = False
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def reader_seed(self, i) -> int:
        return self.seed * 1000 + (i if isinstance(i, int) else 999)

    def job_group(self, i, label: str) -> None:
        self.spark.sparkContext.setJobGroup(f"p{i}:{label}", label)

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    @contextmanager
    def op(self, what: str, fatal: bool = True):
        """One operation; one that raises counts as failed.  A fatal
        failure ends the run, a non-fatal one is recorded and skipped."""
        self.attempted += 1
        try:
            yield
        except Exception as e:  # noqa: BLE001 - counted, reported, re-raised if fatal
            traceback.print_exc(file=sys.stderr)
            self._fail(f"{what}: {type(e).__name__}: {e}")
            if fatal:
                raise

    def check(self, ok, what: str) -> None:
        """One output check; a false ``ok`` counts as a failed operation."""
        self.attempted += 1
        if not ok:
            self._fail(what)


def untraced(passes: list[dict]) -> list[dict]:
    return [r for r in passes if not r["traced"]]


def measure(ctx: Ctx, workload, tracer) -> list[dict]:
    """Run passes until ``seconds`` have passed (at least one; in a
    traced run passes alternate untraced/traced and there are at least
    two).  Returns one record per pass; ``pass_s`` is the workload's
    own pass wall, ``granted_s`` that wall times the share of CPU time
    the host granted during the pass (see README.md)."""
    recs = []
    start = time.perf_counter()
    i = 0
    while True:
        traced = ctx.trace and i % 2 == 1
        gc.collect()
        cpu0, host0 = cpu_seconds(), host_ticks()
        if traced:
            tracer.install()
            ctx.tracing = True
        try:
            rec = workload.run_pass(i)
        finally:
            if traced:
                tracer.uninstall()
                ctx.tracing = False
        cpu1, host1 = cpu_seconds(), host_ticks()
        rec["rss_mb"] = rss_mb()
        rec["cpu_s"] = cpu1 - cpu0
        rec["granted"] = granted(host0, host1)
        rec["granted_s"] = rec["pass_s"] * rec["granted"]
        rec["i"], rec["traced"] = i, traced
        rec["spans"] = tracer.take() if traced else []
        recs.append(rec)
        i += 1
        if ctx.trace and i < 2:
            continue
        elapsed = time.perf_counter() - start
        if ctx.smoke or elapsed >= ctx.seconds:
            return recs


def end_to_end(setup_s: float, passes: list[dict]) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(r["granted_s"] for r in passes),
        "rss_mb": statistics.median(r["rss_mb"] for r in passes),
    }


def per_layer(workload, session_s, passes, groups) -> tuple[dict, dict]:
    """Per-layer metrics (per traced pass) and span self times."""
    from tracing import span_totals

    traced = [r for r in passes if r["traced"]]
    plain = untraced(passes)
    ids = [r["i"] for r in traced]
    k = len(traced)
    steps = [s for r in plain for s in r["steps_ms"]]
    traced_tags = {f"p{i}" for i in ids}
    spark: dict = {}
    for g, acc in groups.items():
        if g.split(":", 1)[0] in traced_tags:
            for key, v in acc.items():
                spark[key] = spark.get(key, 0.0) + v
    out = {
        "session.start_s": session_s,
        "step_ms_p50": statistics.median(steps),
        "step_ms_p99": percentile(steps, 99),
        "pass_cpu_s": statistics.median(r["cpu_s"] for r in plain),
        "time_to_first_s": statistics.median(r["first_s"] for r in plain),
        "step_samples": len(steps),
        "trace.overhead_ratio": (
            statistics.median(r["granted_s"] for r in traced)
            / statistics.median(r["granted_s"] for r in plain)
            - 1
        ),
        "trace.spans": sum(len(r["spans"]) for r in traced) / k,
        "spark.jobs": spark.get("jobs", 0.0) / k,
        "spark.stages": spark.get("stages", 0.0) / k,
        "spark.tasks": spark.get("tasks", 0.0) / k,
        "spark.executor_cpu_s": spark.get("executor_cpu_s", 0.0) / k,
        "spark.jvm_gc_s": spark.get("jvm_gc_s", 0.0) / k,
        "spark.shuffle_write_mb": spark.get("shuffle_write_bytes", 0.0) / 2**20 / k,
        "spark.spill_mb": spark.get("spill_bytes", 0.0) / 2**20 / k,
    }
    out.update(workload.rates(plain))
    out.update(workload.layers(traced))
    out.update(workload.spark_layers(groups, ids))
    # self time per span name: its duration minus that of its children
    totals = span_totals([s for r in traced for s in r["spans"]])
    child = {}
    for r in traced:
        for name, t0, t1, _tid, parent, _c in r["spans"]:
            if parent:
                child[parent] = child.get(parent, 0.0) + (t1 - t0)
    self_s = {n: (t["s"] - child.get(n, 0.0)) / k for n, t in totals.items()}
    return out, self_s


def run(args, spec: dict, run_dir: str, nproc: int) -> tuple[dict, dict]:
    heap = driver_heap()
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    configure_launch(run_dir, nproc, heap, event_log)
    sys.path[:0] = [ROOT, BENCH_DIR]
    os.chdir(run_dir)  # anything Spark writes relative to the cwd stays here

    import numpy
    import pyarrow
    import pyspark

    from tracing import Tracer, fold_event_log
    from workloads import WORKLOADS

    t0, host0 = time.perf_counter(), host_ticks()
    from petastorm_spark.session import get_spark

    spark = get_spark("perfbench", cpus=nproc)
    session_s = time.perf_counter() - t0
    ctx = Ctx(args, nproc, run_dir, spark)
    tracer = Tracer()
    try:
        workload = WORKLOADS[args.workload](ctx)
        workload.setup()
        setup_wall = time.perf_counter() - t0
        setup_granted = granted(host0, host_ticks())
        passes = measure(ctx, workload, tracer)
    finally:
        stop_spark(spark)

    used = untraced(passes)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "cores": nproc,
        "driver_heap": heap,
        "versions": {
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
        },
        "setup_wall_s": setup_wall,
        "setup_granted": setup_granted,
        "pass_walls_s": [r["pass_s"] for r in passes],
        "pass_granted": [r["granted"] for r in passes],
        "pass_cpu_s": [r["cpu_s"] for r in passes],
        "pass_rss_mb": [r["rss_mb"] for r in passes],
        "step_samples": sum(len(r["steps_ms"]) for r in used),
        "failures": ctx.failures,
    }
    info.update(workload.rates(used))
    if args.trace:
        groups = fold_event_log(event_log, "p")
        metrics, self_s = per_layer(workload, session_s, passes, groups)
        names = spec["per_layer"]
        info["trace_file"] = write_trace_record(args, info, metrics, self_s, passes)
    else:
        metrics = end_to_end(setup_wall * setup_granted, used)
        names = spec["end_to_end"]
    extra = set(metrics) - {m["name"] for m in names}
    if extra:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(extra)}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }
    return info, result


def write_trace_record(args, info, metrics, self_s, passes) -> str:
    """The traced run's records, written once at the end: per-layer
    values next to the end-to-end metric each should move, span self
    times, and every pass's wall."""
    from workloads import moves

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    record = {
        "env": info,
        "layers": {
            name: {"value": v, "moves": moves(name)}
            for name, v in sorted(metrics.items())
        },
        "span_self_s_per_pass": self_s,
        "passes": [
            {"i": r["i"], "traced": r["traced"], "pass_s": r["pass_s"], "first_s": r["first_s"]}
            for r in passes
        ],
    }
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    return os.path.relpath(path, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "petastorm_spark", "__init__.py")):
        print(
            "perfbench: no petastorm_spark package beside perfbench/; "
            "run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        info, result = run(args, spec, run_dir, nproc)
    except Exception:  # noqa: BLE001 - report the cause, print no result
        traceback.print_exc(file=sys.stderr)
        print("perfbench: run failed; no result", file=sys.stderr)
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"perfbench_env": info}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
