"""Benchmark for the hospital pipeline: weekly ingest and report dashboard.

Run from the root of a checkout:

    python3 perfbench/run.py --workload hhs_weekly_ingest --seed 1 --seconds 10 --trace 0

One workload per process.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer ones, and the spans and
per-operation status-store figures are written to
``perfbench/out/trace-<workload>-<seed>.json``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# Every time below is seconds since process start.
_BASE = time.perf_counter() - _process_age()


def clock() -> float:
    return time.perf_counter() - _BASE


HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MAX_CORES = 4
DRIVER_MEMORY = "2g"
JVM_GC = "-XX:+UseSerialGC"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: Path, cores: int) -> None:
    """Pin memory and cores, and keep every temp file inside ``work``."""
    for sub in ("tmp", "spark-local", "java-tmp", "warehouse"):
        (work / sub).mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")  # wins over spark.local.dir
    tempfile.tempdir = None
    # The engine's session factory asks for a 24g heap unless told
    # otherwise; that is more than many machines have.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_MASTER", None)
    # Serial GC sizes the heap from the live data left after each
    # collection; G1 sizes it from pause times, which made peak RSS move
    # by a quarter between runs of the same workload (README.md).  The
    # heap starts at the JVM's default size and grows with the program.
    java_opts = (
        f"-Djava.io.tmpdir={work / 'java-tmp'} -Dderby.system.home={work / 'java-tmp'}"
        f" -XX:-UsePerfData {JVM_GC}"
    )
    confs = {
        "spark.sql.warehouse.dir": work / "warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    args = ["--driver-java-options", java_opts]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def vm_hwm_mib(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    """Pids whose parent chain reaches ``pid`` (read from /proc)."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [pid]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until all of them have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc else []
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # keep going: the JVM must still go
            pass
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(workers, timeout=10)


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: a mean of all order
    statistics weighted by Beta((n+1)/2, (n+1)/2) over their ranks.

    A dashboard pass is four short and four long reports, so the plain
    sample median is the mean of the slowest short and the fastest long
    one, and jumps with those two; this estimate weighs the ranks around
    the middle and moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0
    a, per_rank = (n + 1) / 2, 200
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)
    steps = per_rank * n
    weights, acc = [], 0.0
    for k in range(steps):  # midpoint rule over the Beta density
        u = (k + 0.5) / steps
        acc += math.exp((a - 1) * (math.log(u) + math.log1p(-u)) - log_beta)
        if (k + 1) % per_rank == 0:
            weights.append(acc)
            acc = 0.0
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def op_p50(ops) -> float:
    """Median operation latency from ``(slot, seconds)`` pairs, where
    ``slot`` is the operation's position in its round.

    Each slot's latency is first taken as its median over the rounds, so
    one operation slowed by a pause elsewhere on the machine counts once,
    not as a new rank among all latencies; the Harrell-Davis median of
    the slots follows.  With one round this is the Harrell-Davis median
    of that round's latencies."""
    by_slot: dict[int, list[float]] = {}
    for slot, seconds in ops:
        by_slot.setdefault(slot, []).append(seconds)
    return hd_median(statistics.median(v) for v in by_slot.values())


def end_to_end(wl, wall_s: float, setup_s: float, peak_mib: float) -> dict:
    return {
        "setup_s": setup_s,
        "ops_per_s": len(wl.ops) / wall_s,
        "op_p50_s": op_p50(wl.ops),
        "peak_rss_mb": peak_mib,
    }


def per_layer(wl, tracer, cores: int, wall_s: float, start_s: float, job_rise: int) -> dict:
    """Per-layer figures of the timed phase.  Families a workload does not
    exercise read 0 (README.md says which workload fills which)."""
    from checks import REPORT_SQL
    from tracing import median

    timed = [op for op in tracer.ops if op.timed]
    loads = [op for op in timed if op.name.startswith("load_")]
    rounds = max(wl.rounds, 1)
    per_round = max(len(timed) // rounds, 1)
    m = {
        "session.start_s": start_s,
        "session.warmup_s": wl.warmup_s,
        "inputs.gen_s": wl.gen_s,
        "pipeline.load.s": median(op.seconds for op in loads),
        "pipeline.load.jobs": median(op.jobs for op in loads),
        "pipeline.load.stages": median(op.stages for op in loads),
        "pipeline.load.tasks": median(op.tasks for op in loads),
        "pipeline.rows_in": 0,
        "pipeline.rows_accepted": 0,
        "pipeline.rows_invalid": 0,
        "pipeline.rows_duplicate": 0,
        "pipeline.accept_ratio": 0.0,
    }
    for layer in ("sources.read_csv", "sinks.append", "sinks.read"):
        secs, jobs = tracer.span_stats(layer)
        m[f"{layer}.s"] = median(secs)
        m[f"{layer}.jobs"] = median(jobs)
    for report in REPORT_SQL:
        calls = [op for op in timed if op.name == report]
        m[f"reports.{report}.s"] = median(op.seconds for op in calls)
        m[f"reports.{report}.jobs"] = median(op.jobs for op in calls)
    total = lambda attr: sum(getattr(op, attr) for op in timed)  # noqa: E731
    m.update(
        {
            "spark.jobs": total("jobs") / rounds,
            "spark.unattributed_jobs": job_rise - total("jobs"),
            "spark.stages": total("stages") / rounds,
            "spark.tasks": total("tasks") / rounds,
            "spark.executor_run_s": total("executor_run_s") / rounds,
            "spark.executor_cpu_s": total("executor_cpu_s") / rounds,
            "spark.gc_s": total("gc_s") / rounds,
            "spark.shuffle_write_bytes": total("shuffle_write_bytes") / rounds,
            "spark.spill_bytes": total("spill_bytes") / rounds,
            "spark.core_busy_share": total("executor_run_s") / (cores * wall_s),
            "spark.persisted_left": total("persisted_left"),
            "trace.ops": len(timed),
            "trace.ops_per_s": len(timed) / wall_s,
            "trace.op_p50_s": op_p50((i % per_round, op.seconds) for i, op in enumerate(timed)),
        }
    )
    m.update(wl.layer())
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "team_aragon_spark").is_dir():
        print("perfbench: no team_aragon_spark/ next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    (HERE / ".work").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=HERE / ".work"))

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    spark = None
    try:
        configure_env(work, cores)
        from team_aragon_spark.session import get_spark
        from tracing import NullTracer, Tracer

        t0 = clock()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(cores).count()  # first job: scheduler and executor threads up
        start_s = clock() - t0
        tracer = Tracer(spark, clock) if args.trace else NullTracer()
        tracer.install()

        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        wl.setup()
        setup_s = clock()
        job0 = tracer.next_job_id() if args.trace else 0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak: list[float] = []

        def sample_peak():
            # After one round: a fixed amount of work, so a faster program
            # that fits more rounds in the run does not read as larger.
            peak.append(vm_hwm_mib("self") + vm_hwm_mib(jvm_pid))

        wall_s = wl.measure(args.seconds, sample_peak)
        job_rise = tracer.next_job_id() - job0 if args.trace else 0
        peak_mib = peak[0]
        try:
            wl.check()
        except Exception as exc:  # e.g. a table a failed load never wrote
            wl.problems.append(f"check raised {type(exc).__name__}: {exc}")
        if args.trace:
            metrics = per_layer(wl, tracer, cores, wall_s, start_s, job_rise)
            if metrics["spark.unattributed_jobs"]:
                wl.problems.append(f"{metrics['spark.unattributed_jobs']} jobs ran outside any operation's job group")
        else:
            metrics = end_to_end(wl, wall_s, setup_s, peak_mib)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let teardown finish
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        wl.problems.append(f"metrics not computed: {missing}")
    run_info = {"workload": args.workload, "seed": args.seed, "cores": cores, "driver_memory": DRIVER_MEMORY, "gc": JVM_GC,
                "rounds": wl.rounds, "ops": wl.attempted, "session_start_s": round(start_s, 3), "inputs_gen_s": round(wl.gen_s, 3),
                "warmup_s": round(wl.warmup_s, 3), "timed_s": round(wall_s, 3),
                "round_s": [round(t, 3) for t in wl.round_s]}
    if args.trace:
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        trace = {**run_info, "metrics": metrics, "problems": wl.problems, **tracer.dump()}
        (out / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps(trace, indent=1))
    for problem in wl.problems:
        print(f"perfbench: CHECK FAILED: {problem}", file=sys.stderr)
    print("# " + json.dumps(run_info))
    result = {
        "correct": not wl.problems,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0 if not wl.problems else 1


if __name__ == "__main__":
    sys.exit(main())
