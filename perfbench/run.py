"""Repository benchmark: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 6 --trace 0

Runs the named closed-loop workload on ``local[k]`` (k = min(4, usable
cores) - 1), checks every operation's output, and prints one JSON object as
the last line of stdout: the end-to-end metrics with ``--trace 0``, the
per-layer metrics from the span and event-log rollup with ``--trace 1``.
All scratch files live under ``perfbench/.work/`` and are removed on exit.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cores() -> int:
    """Task slots: one core of at most four stays free for the driver, JIT
    and GC threads, which otherwise contend with the tasks and make run
    times drift from run to run."""
    return max(1, min(4, len(os.sched_getaffinity(0))) - 1)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters (user nice system idle iowait irq
    softirq steal), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_share(before: list[int], after: list[int]) -> str:
    """Where the machine's CPU time went between two ``cpu_ticks()``; high
    steal means the host gave this machine's CPUs to someone else, and a
    run's times are then slow in every phase."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    parts = {"busy": d[0] + d[1] + d[2] + d[5] + d[6], "idle": d[3], "iowait": d[4], "steal": d[7]}
    return ", ".join(f"{k} {100.0 * v / total:.1f}%" for k, v in parts.items())


def tail_percentile(xs: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples above it, as
    (percentile, value); None when there are fewer than 11 samples."""
    if len(xs) < 11:
        return None
    s = sorted(xs)
    i = len(s) - 11
    return 100.0 * (i + 1) / len(s), s[i]


class Session:
    """The Spark session of one run, with the work directory it writes to."""

    def __init__(self, work: str, trace: bool):
        from web_scraper_spark.session import get_spark

        extra = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed 2 GB heap, touched at start: a heap that grows on demand,
            # or whose pages are touched as GC happens to reach them, made
            # peak_rss_mb vary by a fifth from run to run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -Xms2g -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
        }
        self.event_dir = None
        if trace:
            self.event_dir = os.path.join(work, "events")
            os.makedirs(self.event_dir)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.monotonic()
        self.spark = get_spark("perfbench", master=f"local[{cores()}]", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.monotonic() - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def jvm_times(self) -> str:
        """GC and JIT time so far: a run slower than its neighbours usually
        shows more JIT time (compiler threads contend with tasks)."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000
        jit = mf.getCompilationMXBean().getTotalCompilationTime() / 1000
        return f"jvm gc {gc:.2f} s, jit {jit:.2f} s"

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid)

    def stop(self) -> None:
        self.spark.stop()


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait until it has exited
    (once per process: PySpark cannot start a second gateway cleanly)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    # metric names and units: BENCHMARK.json is the one list of them
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    # the program must come from this checkout; fail before any set-up
    import web_scraper_spark  # noqa: F401

    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYTHONHASHSEED"] = "0"
    session = None
    ticks = cpu_ticks()
    try:
        session = Session(work, bool(args.trace))
        ctx = workloads.Context(
            spark=session.spark, seed=args.seed, seconds=args.seconds,
            work=work, trace=bool(args.trace), t_process=T_PROCESS,
            session_start_s=session.start_s,
        )
        res = workloads.WORKLOADS[args.workload](ctx)
        rss = session.peak_rss_mb()
        print("# " + session.jvm_times() + "; cpu " + cpu_share(ticks, cpu_ticks()))
        spans = ctx.tracer.spans if ctx.tracer else []
        event_dir = session.event_dir
        session.stop()
        session = None
        if args.trace:
            from spans import layer_metrics, read_event_log

            layers = layer_metrics(spans, read_event_log(event_dir), res.traced_reps)
            layers.update(res.layer_counts, **{"session.start_s": res.session_start_s})
            # a run whose traced operations all failed has no rollup
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0) if res.failed
                                                  else layers[m["name"]]),
                                   "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            def median(xs: list[float]) -> float:
                # a run with failed operations may lack samples; it is
                # reported as not correct either way
                return statistics.median(xs) if xs or not res.failed else 0.0

            values = {
                "setup_s": res.setup_s,
                "throughput_per_s": res.items_per_s,
                "op_p50_s": median(res.op_s),
                "resume_s": median(res.resume_s),
                "peak_rss_mb": rss,
            }
            metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
            n = len(res.op_s)
            tail = tail_percentile(res.op_s)
            print(f"# {args.workload} seed={args.seed} local[{cores()}]: {n} operations, "
                  f"{len(res.resume_s)} resumes")
            print("# op samples: " + " ".join(f"{x:.3f}" for x in res.op_s))
            print("# resume samples: " + " ".join(f"{x:.3f}" for x in res.resume_s))
            print("# setup parts: " + ", ".join(f"{k} {v:.2f} s" for k, v in res.setup_parts.items()))
            print("# op tail: " + (f"p{tail[0]:.1f} = {tail[1]:.4f} s of n={n}" if tail
                                   else f"n={n} < 11, no percentile has ten operations beyond it"))
        for k, m in metrics.items():
            print(f"# {k} = {m['value']:.6g} {m['unit']}")
        print(f"# failed_ops_ratio = {res.failed}/{res.attempted}")
    finally:
        if session is not None:
            session.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left by other runs still going
            os.rmdir(os.path.dirname(work))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        rc = main()
    finally:
        stop_jvm()
    sys.exit(rc)
