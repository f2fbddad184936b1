"""Seeded end-to-end benchmark of the journal path and the corpus operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload journal_client --seed 1 --seconds 5 --trace 0

One run generates the workload's inputs from ``--seed`` and sets them up
``SETUP_REPS`` times, each in a fresh directory: the generation is not
timed, the engine's set-up work on the inputs is (``setup_s`` is the
median).  It then warms the engine up and drives its public API in whole
request cycles for at least ``--seconds`` seconds on ``local[nproc]`` in
this one process.  Work the benchmark itself does between cycles (writing
the next producer batch to the journal's log) is outside the measured
time.  Every
output is checked against an oracle: ``folds.JournalModel`` for the
journal (``journal.py``), the query's DuckDB ``oracle_sql`` for the corpus
(``corpus.py``).

End-to-end metrics: ``latency_geomean_ms`` (geometric mean over request
types of each type's median latency), ``throughput_per_s`` (requests per
second for the journal, documents per second for the corpus),
``cpu_ms_per_request`` (CPU time of this process tree per request) and
``setup_s``.  Failed or mismatched outputs are ``failed`` of ``attempted``.

``--trace 0`` prints every end-to-end metric; ``--trace 1`` is the separate
traced run: spans around each layer's public functions (``spans.py``), the
span id as the Spark job description, and the uncompressed local event log
joined back to the spans, printing every per-layer metric.

The last stdout line is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The exit code is 0 only when every output matched its oracle; without the
engine's sources beside this directory the run exits 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-ups per run; ``setup_s`` is their median
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "latency_geomean_ms": "ms",
    "throughput_per_s": "1/s",
    "cpu_ms_per_request": "ms",
}


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": list(os.getloadavg()),
    }


def configure_env(tmp: str, trace: bool, facts: dict) -> str:
    """Point every resource and scratch path of the Spark session at the
    run's temporary root, sized from the host.  Returns the event-log dir."""
    cpus = facts["nproc"]
    # a quarter of the host's RAM, whole GiB, within [1, 16]: the session's
    # 16g default exceeds small hosts
    mem_gb = max(1, min(16, facts["mem_total_mb"] // 4096))
    local, jtmp, evlog = (os.path.join(tmp, d) for d in ("spark-local", "jtmp", "eventlog"))
    for d in (local, jtmp, evlog):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": jtmp,
            # every JVM (launcher and driver): no perf-data file in /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}",
            # Python workers import the engine too
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
        }
    )
    return evlog


def geomean_of_medians(op_latency: dict[str, list]) -> float:
    """Geometric mean over request types of each type's median latency.

    Each type weighs the same whatever its share of the cycle, so a change
    to any one call moves it; the median of all requests pooled would sit
    on whichever type lands mid-distribution and ignore the rest."""
    meds = [statistics.median(v) for v in op_latency.values()]
    return math.exp(sum(math.log(x) for x in meds) / len(meds))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every descendant: the
    JVM and its Python workers.  Unlike wall time it excludes time the host
    gave to other tenants."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15]) / tick
    me = os.getpid()

    def mine(pid):
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 0)
        return False

    return sum(c for pid, c in cpu.items() if mine(pid))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, spark, tracer, wl) -> dict:
    """Set up, warm up, then run whole request cycles until the budget is
    spent, so every run sees the same op mix.  The traced run alternates
    untraced and traced cycles; their latencies give the tracing overhead."""
    setup_times = []
    for i in range(SETUP_REPS):
        wl.prepare(os.path.join(args.tmp, f"setup-{i}"))
        t = time.perf_counter()
        wl.setup()
        setup_times.append(time.perf_counter() - t)
        if i:
            shutil.rmtree(os.path.join(args.tmp, f"setup-{i - 1}"), ignore_errors=True)
    wl.warmup()

    lat = {False: [], True: []}
    traced_wall = 0.0
    windows = []  # traced cycles, epoch seconds
    n_cycles = 0
    wall = cpu = 0.0
    while True:
        wl.before_cycle()
        tracer.enabled = bool(args.trace) and n_cycles % 2 == 1
        cpu0, e0, c0 = tree_cpu_s(), time.time(), time.perf_counter()
        lat[tracer.enabled].extend(wl.cycle(tracer))
        took = time.perf_counter() - c0
        cpu += tree_cpu_s() - cpu0
        wall += took
        if tracer.enabled:
            traced_wall += took
            windows.append((e0, time.time()))
        n_cycles += 1
        if wall >= args.seconds and (not args.trace or n_cycles >= 2):
            break
    tracer.enabled = False
    wl.final_check()
    return {
        "setup_times": setup_times,
        "latencies": lat[False] + lat[True],
        "untraced": lat[False],
        "traced": lat[True],
        "traced_wall": traced_wall,
        "windows": windows,
        "cycles": n_cycles,
        "wall": wall,
        "cpu": cpu,
        "peak_rss_mb": jvm_peak_rss_mb(spark),
        "app_id": spark.sparkContext.applicationId,
    }


def run(args) -> tuple[dict, int, int]:
    facts = host_facts()
    print(json.dumps({"host_before": facts}), flush=True)
    evlog = configure_env(args.tmp, args.trace, facts)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import spans as tr

    t0 = time.perf_counter()
    from kafka_journal_spark.session import get_spark

    spark = get_spark("perfbench", cpus=facts["nproc"])
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = tr.Tracer(spark.sparkContext)
        if args.trace:
            tr.instrument(tracer)
        if args.workload == "journal_client":
            from journal import JournalClientWorkload as Workload
        else:
            from corpus import CorpusWorkload as Workload
        wl = Workload(spark, args.seed, args.corrupt, args.tiny)
        m = measure(args, spark, tracer, wl)
    finally:
        stop_spark(spark)

    if args.trace:
        # the spans, one JSON line each with their Spark counters, outlive the run
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        metrics = tr.per_layer_metrics(
            tracer,
            os.path.join(evlog, m["app_id"]),
            wall=m["traced_wall"],
            cores=facts["nproc"],
            session_s=session_s,
            peak_rss_mb=m["peak_rss_mb"],
            counters=wl.counters,
            overhead=statistics.median(m["traced"]) / statistics.median(m["untraced"]) - 1.0,
            windows=m["windows"],
            spans_out=os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"),
        )
    else:
        values = {
            "setup_s": statistics.median(m["setup_times"]),
            "latency_geomean_ms": 1000 * geomean_of_medians(wl.op_latency),
            "throughput_per_s": wl.units_done / m["wall"],
            "cpu_ms_per_request": 1000 * m["cpu"] / len(m["latencies"]),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "host_after": host_facts(),
                "samples": len(m["latencies"]),
                "cycles": m["cycles"],
                "wall_s": m["wall"],
                "session_s": session_s,
                "setup_s": m["setup_times"],
                "op_median_s": {
                    op: statistics.median(v) for op, v in wl.op_latency.items()
                },
            }
        ),
        flush=True,
    )
    return metrics, wl.attempted, wl.failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("journal_client", "corpus_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt",
        action="store_true",
        help="tamper with one engine output before it is checked (proves the "
        "oracle catches a wrong result; the run must then fail)",
    )
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "kafka_journal_spark")):
        print("perfbench: engine sources not found beside perfbench/", file=sys.stderr)
        return 2
    # a temporary root for every file the run writes, removed afterwards
    args.tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(args.tmp)
    try:
        metrics, attempted, failed = run(args)
    finally:
        shutil.rmtree(args.tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(args.tmp))
        except OSError:
            pass  # another run shares the parent
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
