"""Seeded, layer-attributed benchmark of semantik_spark.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. It generates its inputs from
``--seed`` into ``.perfbench_work/`` under the checkout, starts a local
Spark session on every core the process may use, builds what the
workload needs (timed as set-up), runs the workload's operations in a
closed loop for at least ``--seconds``, ending at a round boundary,
checks the outputs, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` switches on
the Spark event log (through the launch conf) and job-group tagging and
reports the per-layer metrics instead, including its own end-to-end
numbers under ``traced.`` so the tracing overhead can be read off.
Lines before the last one are a human-readable summary. The workloads,
metrics and the layer -> metric map are listed in perfbench/layers.json.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# the session's default heap (16g) is more than a small shared host has free
DRIVER_MEM = "3g"

E2E_UNITS = {"setup_s": "s", "op_ms_p50": "ms", "items_per_s": "1/s",
             "cpu_ms_per_item": "ms"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def launch_env(work: Path, cores: int, trace: bool) -> None:
    """Everything the Spark launch needs, set before the JVM starts."""
    for d in ("local", "tmp", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers (chunking's mapInPandas) import semantik_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    confs = {"spark.sql.warehouse.dir": str(work / "warehouse"),
             "spark.ui.showConsoleProgress": "false"}
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = (work / "events").as_uri()
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options",
             f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def effective_cores(spark, cores: int, rows: int = 8_000_000) -> float:
    """Host-capacity canary: a fixed-CPU spin of one task, then of
    ``cores`` tasks; cores x (one-task time) / (all-task time)."""
    def spin(n: int) -> float:
        t = time.perf_counter()
        spark.range(0, rows * n, 1, n).selectExpr("max(xxhash64(id, id))").collect()
        return time.perf_counter() - t

    one = min(spin(1), spin(1))  # the first may still be compiling
    return cores * one / spin(cores)


def op_ms_p50(walls: dict[str, list[float]]) -> float:
    """Median wall of each kind of operation, geometric mean over kinds.
    A median over a mix of kinds would sit in the gap between fast and
    slow kinds and jump with small changes to either."""
    if not walls:
        return 0.0
    logs = [math.log(statistics.median(v) * 1000.0) for v in walls.values()]
    return math.exp(sum(logs) / len(logs))


class Ctx:
    """What a workload gets: the session, tracer, work dir and counters."""

    def __init__(self, spark, tracer, work: Path, seed: int, cores: int,
                 trace: bool):
        self.spark, self.tracer, self.work = spark, tracer, str(work)
        self.seed, self.cores, self.trace = seed, cores, trace
        self.jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        self.live_rdds_max = 0

    def pyworker_cpu(self) -> float:
        import spans as tr

        return tr.cpu_s(self.jvm_pid)[1]

    def sample_live_rdds(self) -> None:
        if self.trace:
            n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            self.live_rdds_max = max(self.live_rdds_max, n)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, work: Path, cores: int) -> dict:
    """One run: set-up, warm-up, timed loop, checks; the result object."""
    import spans as tr
    import workloads

    launch_env(work, cores, bool(args.trace))
    t0 = time.time()
    from semantik_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.time() - t0
    tracer = tr.Tracer(spark.sparkContext, on=bool(args.trace))
    ctx = Ctx(spark, tracer, work, args.seed, cores, bool(args.trace))
    w = workloads.WORKLOADS[args.workload](ctx)
    try:
        cores_start = effective_cores(spark, cores)
        t1 = time.time()
        w.setup()
        setup_s = session_s + time.time() - t1
        t2 = time.time()
        w.warmup()
        warmup_s = time.time() - t2

        walls: dict[str, list[float]] = {}  # operation kind -> walls
        items, failed, i = 0, 0, 0
        cpu0 = sum(tr.cpu_s(ctx.jvm_pid))
        loop_start = time.perf_counter()
        while i < w.max_ops and (i == 0 or i % w.ops_per_round
                                 or time.perf_counter() - loop_start < args.seconds):
            t = time.perf_counter()
            try:
                with tracer.span("op", i=i):
                    items += w.op(i)
                walls.setdefault(w.kind(i), []).append(time.perf_counter() - t)
            except Exception:  # a failed operation is counted; the loop goes on
                traceback.print_exc()
                failed += 1
            i += 1
        cpu = sum(tr.cpu_s(ctx.jvm_pid)) - cpu0
        loop_s = time.perf_counter() - loop_start
        cores_end = effective_cores(spark, cores)
        t3 = time.time()
        failed += w.check() if walls else 0
        check_s = time.time() - t3
        rss = tr.peak_rss_mb(ctx.jvm_pid)
        jvm_cpu, py_cpu = tr.cpu_s(ctx.jvm_pid)
    finally:
        stop_session(spark)

    e2e = {
        "setup_s": setup_s,
        "op_ms_p50": op_ms_p50(walls),
        "items_per_s": items / sum(map(sum, walls.values())) if walls else 0.0,
        "cpu_ms_per_item": cpu * 1000.0 / items if items else 0.0,
    }
    summary = {f"{k} ({E2E_UNITS[k]})": v for k, v in e2e.items()}
    summary.update({"attempted": i, "failed": failed,
                    "failed_frac": failed / max(1, i),
                    "host.effective_cores start/end": (cores_start, cores_end),
                    "phases s (setup, warm-up, loop, check)":
                        (setup_s, warmup_s, loop_s, check_s)})
    if args.workload == "serve_mix":
        for p in workloads.SERVE_PATHS:
            ms = [(s["end"] - s["start"]) * 1000.0 / workloads.BATCH
                  for s in tracer.by_name(f"serve.{p}") if s["timed"]]
            summary[f"{p}_ms_q (ms)"] = statistics.median(ms) if ms else None
    for k, v in summary.items():
        print(f"# {k}: {v}")

    if args.trace:
        import layers

        log = tr.EventLog(str(work / "events"))
        log.charge(tracer)
        # kept after the run, beside the removed work dir
        tracer.dump(str(work.parent / f"spans-{args.workload}-{args.seed}.json"))
        metrics = layers.per_layer(ctx, w, log, {
            "session.start_s": session_s, "jvm.peak_rss_mb": rss,
            "jvm.cpu_s": jvm_cpu, "pyworker.cpu_s": py_cpu,
            "host.effective_cores_start": cores_start,
            "host.effective_cores_end": cores_end,
            **{f"traced.{k}": v for k, v in e2e.items()},
        })
        units = layers.UNITS
    else:
        metrics, units = e2e, E2E_UNITS
    return {"correct": failed == 0, "attempted": i, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main(argv) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import semantik_spark
    except ImportError:
        semantik_spark = None
    if semantik_spark is None or Path(semantik_spark.__file__).resolve().parent != ROOT / "semantik_spark":
        print(f"perfbench: no semantik_spark package under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = measure(args, work, len(os.sched_getaffinity(0)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
