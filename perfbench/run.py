"""Benchmark runner: one workload (or all three) for one seed.

    python3 perfbench/run.py --workload lake_mutate --seed 1 --seconds 10 --trace 0

Prints a human-readable table (every metric by name, with its unit, in
the workload's own terms) and, as the last line of standard output, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the run is traced (Spark UI on, spans around every
layer's public functions) and the metrics are the per-layer ones.

The launcher sizes Spark to the host: ``SPARK_GRAFT_CPUS`` from the
usable core count, ``SPARK_GRAFT_DRIVER_MEM`` from host memory, and a
per-run work directory (Spark local dirs, temp files, warehouse) under
``perfbench/_work`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "write_gmean_ms": "ms",
    "read_gmean_ms": "ms",
    "bytes_per_live_byte": "ratio",
    "engine_mem_mb": "MB",
}

# (workload, role) -> the name the workload's own docs use for it
ISSUE_NAMES = {
    "lake_mutate": {"write": "commit", "read": "read"},
    "search_plane": {"write": "sync", "read": "serve"},
    "analytics": {"write": "ingest", "read": "query"},
}


def host_launch(work: str, trace: bool) -> dict:
    """Host-sized Spark settings, exported before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # an eighth of host memory, 1..8 GB: the JVM heap of a local-mode
    # driver holds every executor, but the host is shared and every
    # working set here is a few MB
    mem_gb = max(1, min(8, round(total_kb / (8 * 1024 * 1024))))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for d in ("spark-local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(env)
    time.tzset()
    tempfile.tempdir = env["TMPDIR"]
    return {"cpus": cpus, "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"], "host_mem_gb": round(total_kb / 2**20, 1)}


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap starts at its maximum, so GC work does not hinge on
        # how far the heap happened to grow
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby"
        ),
    }
    if trace:
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
            "spark.sql.ui.retainedExecutions": "100",
        })
    return conf


def steal_s() -> float:
    """CPU time the hypervisor took from this host's vCPUs, all vCPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _status_kb(field: str) -> int:
    with open("/proc/self/status") as f:
        return int(next(line for line in f if line.startswith(field)).split()[1])


class MemProbe:
    """The driver memory the engine holds at the end of the timed loop.
    JVM: heap in use once full GCs stop freeing any, plus class metadata
    (the non-heap pools other than the JIT's code cache, whose size
    follows compile timing), so it reads live engine state, not the heap
    size the launcher chose. Python: the driver's RSS high-water mark
    above its RSS once the inputs were generated (the mark is reset
    there)."""

    def __init__(self) -> None:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        self.base_kb = _status_kb("VmRSS")

    def mb(self, spark) -> float:
        py_mb = (_status_kb("VmHWM") - self.base_kb) / 1024.0
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        system = spark.sparkContext._jvm.java.lang.System
        # Python's collector first: DataFrames it holds as garbage pin
        # their JVM plans (and through them cached and checkpointed
        # blocks) until py4j detaches them. Then full GCs until two in a
        # row free under 1 MB, each letting Spark's ContextCleaner
        # release what the one before made unreachable. A single GC read
        # up to 130 MB high, depending on when Python last collected;
        # stopping at the first idle GC still read 50 MB high in one run
        # of ten. A quarter second between GCs read the same as a half.
        gc.collect()
        heap, idle = math.inf, 0
        for _ in range(10):
            system.gc()
            time.sleep(0.25)
            now = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
            idle = idle + 1 if heap - now < 2**20 else 0
            heap = min(heap, now)
            if idle == 2:
                break
        jvm_mb = (heap + sum(
            p.getUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Non-heap memory" and not p.getName().startswith("CodeHeap")
        )) / 2**20
        print(f"perfbench: memory jvm live {jvm_mb:.0f} MB (heap {heap / 2**20:.0f} MB), "
              f"python growth {py_mb:.0f} MB", file=sys.stderr)
        return jvm_mb + py_mb


def kind_medians(ops) -> dict[str, float]:
    """Median latency (ms) of each op kind, by the ops' labels."""
    by: dict[str, list[float]] = {}
    for op in ops:
        by.setdefault(op.label, []).append(op.ms)
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def gmean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def tail(values: list[float]) -> tuple[str, float] | None:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it (nearest rank), or None when the sample is too small."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            rank = max(1, -(-p * n // 100))
            return f"p{p}", sorted(values)[rank - 1]
    return None


class Runner:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.conf = session_conf(work, bool(args.trace))
        self.spark = None
        self.tracer = None

    def start_session(self):
        from datalake_toolkit_spark import session

        t0 = time.time()
        spark = session.get_spark(app_name="perfbench", extra_conf=self.conf)
        spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            import spans

            if self.tracer is None:
                self.tracer = spans.Tracer(spark)
                spans.install(self.tracer)
            self.tracer.rebind(spark)
            self.tracer.record("session", "get_spark", t0, time.time())
        self.spark = spark
        return spark

    def stop_session(self) -> None:
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and wait for the gateway JVM to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a hung JVM is killed
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def run_workload(self, name: str) -> dict:
        import workloads

        args = self.args
        wdir = os.path.join(self.work, name)
        ctx = workloads.Ctx(args.seed, args.scale, wdir)
        wl = workloads.WORKLOADS[name](ctx)
        wl.corrupt = args.corrupt_expected
        if self.tracer is not None:
            self.tracer.spans, self.tracer.phase, self.tracer.active = [], "setup", True
        marks = [("start", time.perf_counter())]
        wl.generate()
        marks.append(("generate", time.perf_counter()))
        mem = MemProbe()
        # set-up = session start (once: it launches the JVM) + the median
        # of the workload's builds, each into a fresh directory
        self.stop_session()
        t0 = time.perf_counter()
        ctx.spark = self.start_session()
        session_s = time.perf_counter() - t0
        ctx.tracer = self.tracer
        builds = []
        for r in range(wl.setup_reps):
            shutil.rmtree(os.path.join(wdir, f"setup{r - 1}"), ignore_errors=True)
            span = self.tracer.span("client", "setup") if self.tracer else nullcontext()
            t0 = time.perf_counter()
            with span:
                wl.setup(ctx.spark, os.path.join(wdir, f"setup{r}"))
            builds.append(time.perf_counter() - t0)
        setup_s = [session_s + b for b in builds]
        marks.append(("setup", time.perf_counter()))
        client = workloads.Client(args.seconds, self.tracer)
        if self.tracer is not None:
            self.tracer.phase = "run"
        steal0 = steal_s()
        wl.run(client)
        print(f"perfbench: vCPU steal during the run {steal_s() - steal0:.1f}s", file=sys.stderr)
        marks.append(("run", time.perf_counter()))
        if self.tracer is not None:
            self.tracer.active = False
        mem_mb = mem.mb(ctx.spark)  # before the checks load their references
        problems = wl.check(client)
        marks.append(("check", time.perf_counter()))
        print("perfbench: phases " + " ".join(
            f"{b[0]}={b[1] - a[1]:.1f}s" for a, b in zip(marks, marks[1:])), file=sys.stderr)
        ops = client.ops
        writes = [op for op in ops if op.kind == wl.write_kind]
        reads = [op for op in ops if op.kind == wl.read_kind]
        result = {
            "workload": name,
            "attempted": len(ops),
            "failed": sum(not op.ok for op in ops),
            "problems": problems,
            "e2e": {
                "setup_s": statistics.median(setup_s),
                "ops_per_s": len(ops) / client.busy_s,
                "write_gmean_ms": gmean(kind_medians(writes).values()),
                "read_gmean_ms": gmean(kind_medians(reads).values()),
                "bytes_per_live_byte": wl.bytes_per_live_byte(),
                "engine_mem_mb": mem_mb,
            },
            "samples": {"write": writes, "read": reads, "setup": setup_s},
            "extra": wl.issue_metrics(client),
        }
        if self.tracer is not None:
            self.tracer.collect()
            import spans

            result["layers"] = spans.layer_metrics(self.tracer)
            out = os.path.join(HERE, "_work", "spans", f"{name}-seed{args.seed}.jsonl")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            self.tracer.dump(out)
            result["spans_file"] = os.path.relpath(out, ROOT)
        return result


def report(res: dict, launch: dict) -> list[str]:
    """Human-readable table in the workload's own terms."""
    name, e = res["workload"], res["e2e"]
    roles = ISSUE_NAMES[name]
    lines = [f"== {name}  seed={res['seed']}  cpus={launch['cpus']}  "
             f"driver_mem={launch['driver_mem']}  host_mem={launch['host_mem_gb']}GB"]

    def row(metric, value, unit, note=""):
        lines.append(f"  {metric:<36} {value:>14.4f} {unit:<6} {note}")

    row("setup_s", e["setup_s"], "s",
        f"(session start + median of {len(res['samples']['setup'])} builds)")
    row("ops_per_s", e["ops_per_s"], "1/s", f"({res['attempted']} ops, one closed-loop client)")
    row("failed_op_ratio", res["failed"] / max(1, res["attempted"]), "ratio")
    for role in ("write", "read"):
        ops = res["samples"][role]
        vals = [op.ms for op in ops]
        label = roles[role]
        row(f"{label}_p50_ms", statistics.median(vals) if vals else 0.0, "ms", f"(n={len(vals)})")
        t = tail(vals)
        if t:
            row(f"{label}_tail_ms", t[1], "ms", f"({t[0]}, n={len(vals)})")
        else:
            lines.append(f"  {label + '_tail_ms':<36} {'n/a':>14} ms     "
                         f"(n={len(vals)}: fewer than 20 samples)")
        per_kind = kind_medians(ops)
        row(f"{role}_gmean_ms", e[f"{role}_gmean_ms"], "ms",
            f"(geometric mean of {len(per_kind)} per-kind medians)")
        if len(per_kind) > 1:
            for k, v in per_kind.items():
                n = sum(op.label == k for op in ops)
                row(f"  {label}[{k}]", v, "ms", f"(median, n={n})")
    row("bytes_per_live_byte", e["bytes_per_live_byte"], "ratio")
    for k, v in res["extra"].items():
        row(k, v, "MB/s" if k.endswith("mb_s") else "count")
    row("engine_mem_mb", e["engine_mem_mb"], "MB", "(JVM live heap + class metadata, Python growth)")
    if "layers" in res:
        lines.append(f"  per-layer (traced run; spans in {res['spans_file']}):")
        for k, (v, unit) in res["layers"].items():
            lines.append(f"    {k:<52} {v:>14.3f} {unit}")
    for p in res["problems"]:
        lines.append(f"  CHECK FAILED: {p}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["lake_mutate", "search_plane", "analytics", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size; 1.0 = sf0.1 row counts, 0.01 = sf0.001")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected result (tests the checks)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "datalake_toolkit_spark", "__init__.py")):
        print(f"perfbench: no datalake_toolkit_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    os.makedirs(work)
    launch = host_launch(work, bool(args.trace))
    runner = Runner(args, work)
    os.chdir(work)  # anything Spark drops in its cwd lands in the work dir
    results = []
    try:
        names = ["lake_mutate", "search_plane", "analytics"] if args.workload == "all" else [args.workload]
        for name in names:
            res = runner.run_workload(name)
            res["seed"] = args.seed
            results.append(res)
            print("\n".join(report(res, launch)), flush=True)
    finally:
        runner.shutdown()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    out = {
        "correct": all(not r["problems"] and not r["failed"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
    }
    metrics = {}
    for r in results:
        prefix = f"{r['workload']}." if len(results) > 1 else ""
        if args.trace:
            items = {k: {"value": v, "unit": u} for k, (v, u) in r["layers"].items()}
        else:
            items = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in r["e2e"].items()}
        metrics.update({prefix + k: v for k, v in items.items()})
    out["metrics"] = metrics
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
