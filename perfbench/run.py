"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload er_vocab --seed 1 --seconds 10 --trace 0

Run from the repository root. One invocation is one fresh process with one
local[nproc] Spark session from the program's own factory
(session.get_spark); the heap is sized from /proc/meminfo and passed
through SPARK_GRAFT_DRIVER_MEM. All scratch files live in
.perfbench_work/ under the repository root and are removed at exit.

--trace 0  times operations until --seconds have passed (at least one),
           checks the outputs, and reports the end-to-end metrics.
--trace 1  starts a session with the event log on and runs the workload's
           first operation with spans; reports the per-layer metrics of
           that operation. Its wall, trace.wall_s, against the operation
           wall of an untraced run of the same seed is the tracing
           overhead.
--size smoke  tiny inputs for the benchmark's own tests.

The last stdout line is {"correct", "attempted", "failed", "metrics"}; the
line before it records the host (nproc, MemTotal, heap, loadavg before and
after). Exit code 0 when every check passed, 1 when a check failed or the
program raised (then the result has no metrics), 2 when the program is
missing or the workload unknown (no result line then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.monotonic()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "character_identification_spark")

E2E_UNITS = {
    "setup_s": "s",
    "throughput": "1/s",
    "quality": "ratio",
}


def meminfo_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def heap_mb(mem_total_mb: int) -> int:
    """A quarter of physical memory, between 1 and 8 GiB: the host is
    shared, and the workloads' working sets are far below it."""
    return max(1024, min(8192, mem_total_mb // 4))


class Session:
    """The run's Spark session. ``start`` times one set-up: session up and
    the Python worker pool warm (one pandas UDF through the noop sink)."""

    def __init__(self, work: str, cores: int):
        self.work, self.cores = work, cores
        self.spark = None
        self.setup_s = 0.0

    def start(self, event_log: str | None = None, t0: float | None = None):
        from character_identification_spark.session import get_spark
        from character_identification_spark.operators.scoring import score_pairs
        from perfbench.tracing import EVENTLOG_CONF

        t0 = time.monotonic() if t0 is None else t0
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(self.work, "tmp"),
        }
        if event_log:
            os.makedirs(event_log)
            conf.update(EVENTLOG_CONF)
            conf["spark.eventLog.dir"] = "file://" + event_log
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        score_pairs(
            self.spark.createDataFrame([("alpha beta", "alpha bets")], ["norm_1", "norm_2"]),
            dedup_strings=False,
        ).write.format("noop").mode("overwrite").save()
        self.setup_s = time.monotonic() - t0
        return self.spark

    def peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing")

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def timed_ops(wl, spark, seconds: float) -> list:
    ops, t0 = [], time.monotonic()
    while not ops or time.monotonic() - t0 < seconds:
        ops.append(wl.op(spark))
    return ops


def run(args, sess: Session, work: str) -> dict:
    from perfbench import workloads

    wl = workloads.make(args.workload, args.size)
    phases = {}
    if args.trace:
        log_dir = os.path.join(work, "events")
        spark = sess.start(event_log=log_dir)
    else:
        spark = sess.start(t0=T_START)
    t = time.monotonic()
    wl.prepare(spark, work, args.seed)
    phases["prepare_s"] = time.monotonic() - t
    if not args.trace:
        t = time.monotonic()
        ops = timed_ops(wl, spark, args.seconds)
        t1 = time.monotonic()
        verdict = wl.check(spark, ops)
        phases.update(ops_s=t1 - t, check_s=time.monotonic() - t1)
        metrics = {
            "setup_s": sess.setup_s,
            "throughput": sum(o.items for o in ops) / sum(o.wall for o in ops),
            "quality": verdict.quality,
        }
        units = E2E_UNITS
        extra = {"ops": len(ops), "op_walls_s": [o.wall for o in ops]}
    else:
        from perfbench.tracing import EventLog, Spans

        spans = Spans(spark)
        traced = wl.traced_op(spark, spans)
        verdict = wl.check(spark, [traced])
        peak_rss = sess.peak_rss_mb()
        spark.stop()  # flushes and closes the event log
        log = EventLog(log_dir)
        # every per-layer name is reported; a layer this workload does not
        # reach reads 0
        metrics = {name: 0.0 for name in workloads.LAYER_UNITS}
        metrics.update(wl.layers(log, spans, traced))
        failed_tasks = log.fold(log.jobs_in(traced.start, traced.end))["failed_tasks"]
        if failed_tasks:
            verdict.failed = min(verdict.attempted, verdict.failed + 1)
            verdict.notes.append(f"{failed_tasks} Spark tasks failed in the traced run")
        metrics.update({
            "session.cold_s": sess.setup_s,
            "jvm.peak_rss_mb": peak_rss,
            "trace.wall_s": traced.wall,
        })
        units = workloads.LAYER_UNITS
        extra = {"traced_op_s": traced.wall}
    extra["phases_s"] = phases
    return {"metrics": metrics, "units": units, "verdict": verdict, "extra": extra}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE):
        print(f"perfbench: program package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        nproc = len(os.sched_getaffinity(0))
    mem = meminfo_mb()
    host = {"nproc": nproc, "mem_total_mb": mem, "heap_mb": heap_mb(mem),
            "load_before": loadavg()}
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": f"{host['heap_mb']}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })

    sess = Session(work, nproc)
    try:
        out = run(args, sess, work)
    except Exception:
        # the program failed: report it as a failed run, never as a result
        traceback.print_exc()
        out = None
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    host["load_after"] = loadavg()
    if out is None:
        print(json.dumps({"host": host}))
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    v = out["verdict"]
    if args.trace:
        out["metrics"].update({f"host.{k}": float(x) for k, x in host.items()})
    print(json.dumps({"host": host, **out["extra"],
                      "notes": v.notes}))
    print(json.dumps({
        "correct": v.failed == 0,
        "attempted": v.attempted,
        "failed": v.failed,
        "metrics": {
            k: {"value": float(out["metrics"][k]), "unit": out["units"][k]}
            for k in out["units"]
        },
    }))
    return 0 if v.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
