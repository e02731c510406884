"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` into
``.perfbench_work/inputs`` (once per seed and size); the package is driven
through its public functions on a ``local[nproc]`` session made by
``sen2rts_spark.session.get_spark`` with its own defaults. ``--trace 0``
prints the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs
the traced pass and prints the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SIZES = {
    "ingest": {"n_urls": 1500, "n_slots": 150},
    "phenology": {"n_series": 200},
    "retention": {"n_ids": 80},
}
TINY = {
    "ingest": {"n_urls": 60, "n_slots": 40},
    "phenology": {"n_series": 12},
    "retention": {"n_ids": 8, "weeks": 6},
}
#: cycles extract_pheno fits per op. The fit groups hash to fixed
#: partitions (the same under every seed); taken in partition order by four
#: cores, 14 cycles leave at most four fits on one core, where 16 leave five.
FIT_CYCLES = {"full": 14, "tiny": 2}
#: inputs kept per workload in the cache (oldest dropped first)
KEEP_INPUTS = 12


def process_age() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports are included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prune_inputs(cache: str, workload: str) -> None:
    entries = sorted((os.path.getmtime(os.path.join(cache, d)), d)
                     for d in os.listdir(cache) if d.startswith(workload + "_"))
    for _, d in entries[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end
    (it exits when its stdin closes)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def app_scratch_dirs(sc) -> list[str]:
    """This application's directories under the session's
    ``spark.local.dir``: its block manager dirs and the ``spark-*`` dir that
    holds its user files. Spark removes them when it stops and its JVM exits;
    the benchmark removes them again at exit in case it did not."""
    from pyspark import SparkFiles
    env = sc._jvm.org.apache.spark.SparkEnv.get()
    dirs = [f.getAbsolutePath()
            for f in env.blockManager().diskBlockManager().localDirs()]
    return dirs + [os.path.dirname(SparkFiles.getRootDirectory())]


def layer_metrics(tracer) -> dict:
    """Generic per-layer figures from the spans: wall, cpu share, tasks,
    shuffle bytes and rows out, summed over a layer's spans."""
    m: dict = {}
    layers: dict[str, list] = {}
    for s in tracer.spans:
        if not s["name"].endswith(".pass"):
            layers.setdefault(s["name"].split(":")[0], []).append(s)
    for layer, spans in layers.items():
        wall = sum(map(tracer.duration, spans))
        m[f"{layer}.wall_s"] = wall
        m[f"{layer}.cpu_busy"] = sum(
            s["cpu_busy"] * tracer.duration(s) for s in spans) / wall
        m[f"{layer}.tasks"] = sum(s["tasks"] for s in spans)
        m[f"{layer}.tasks_failed"] = sum(s["tasks_failed"] for s in spans)
        m[f"{layer}.shuffle_write_bytes"] = sum(
            s.get("shuffle_write_bytes", 0) for s in spans)
        rows = [s["counts"]["rows_out"] for s in spans
                if "rows_out" in s["counts"]]
        if rows:
            m[f"{layer}.rows_out"] = sum(rows)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test inputs")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import sen2rts_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    # the package must import in the Python workers too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        return _run(args, bench, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, bench, work: str, run_dir: str) -> int:
    import gen
    from tracing import CpuSampler, Tracer, host_record
    from workloads import WORKLOADS

    cpu = CpuSampler()
    c_start = cpu.snap()

    # inputs and expected answers: made before the session, not timed
    t_excl = time.perf_counter()
    size = dict((TINY if args.size == "tiny" else SIZES)[args.workload])
    cache = os.path.join(work, "inputs")
    os.makedirs(cache, exist_ok=True)
    inputs, meta = gen.ensure_inputs(cache, args.workload, args.seed, size)
    prune_inputs(cache, args.workload)
    size["fit_cycles"] = FIT_CYCLES[args.size]
    wl = WORKLOADS[args.workload](inputs, meta, run_dir, size)
    wl.prepare()
    t_excl = time.perf_counter() - t_excl

    from sen2rts_spark.session import get_spark, prewarm_python_workers
    extra = None
    if args.trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.dir": "file://" + log_dir}
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}",
                      cores=len(os.sched_getaffinity(0)), extra_conf=extra)
    start_s = time.perf_counter() - t0
    scratch = app_scratch_dirs(spark.sparkContext)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(f"{args.workload}-{args.seed}", spark.sparkContext,
                    enabled=bool(args.trace))
    wl.spark, wl.tracer = spark, tracer
    try:
        with tracer.span("session:prewarm"):
            prewarm_s = prewarm_python_workers(spark)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_up_s = time.perf_counter() - t0
        # the warm-up ops' output checks are the benchmark's work
        warm_up_checks_s = wl.check_s
        setup_s = process_age() - t_excl - warm_up_checks_s
        m: dict = {}
        if args.trace:
            m["trace.untraced_total_s"] = wl.untraced_pass()
            wl.traced_pass(m)
            passes = [s for s in tracer.spans if s["parent"] is None
                      and s["name"].endswith(".pass")]
            m["trace.traced_total_s"] = sum(map(tracer.duration, passes))
        else:
            wl.measure(args.seconds)
            wl.finish()
    finally:
        try:
            stop_session(spark)
        finally:
            for d in scratch:
                shutil.rmtree(d, ignore_errors=True)
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "inputs": meta,
              "host": host_record(cpu, c_start, cpu.snap()),
              "setup_parts_s": {"excluded": t_excl, "start": start_s,
                                "prewarm": prewarm_s, "warm_up": warm_up_s,
                                "warm_up_checks": warm_up_checks_s},
              "attempted": wl.attempted, "failed": wl.failed,
              "errors": wl.errors[:5]}

    if args.trace:
        tracer.attach_event_log(os.path.join(run_dir, "eventlog"))
        m.update({k: v for k, v in layer_metrics(tracer).items()
                  if k not in m})
        wl.layer_metrics(m)
        m["session.start_s"] = start_s
        m["session.prewarm_s"] = prewarm_s
        m["trace.overhead_share"] = \
            m["trace.traced_total_s"] / m["trace.untraced_total_s"] - 1.0
        print(f"per-layer table, {args.workload} seed {args.seed} "
              f"(traced pass {m['trace.traced_total_s']:.3f} s vs untraced "
              f"{m['trace.untraced_total_s']:.3f} s, overhead "
              f"{100 * m['trace.overhead_share']:+.1f}%)")
        print(tracer.table())
        wanted = bench["per_layer"]
    else:
        m = wl.metrics() if all(wl.times.values()) else {}
        m["setup_s"] = setup_s
        record["op_times_s"] = wl.times
        wanted = bench["end_to_end"]
    record["setup_s"] = setup_s
    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        tracer.dump(os.path.join(rec_dir, stem + "-spans.json"))
    with open(os.path.join(rec_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("host", json.dumps(record["host"]))
    for e in wl.errors[:5]:
        print("FAILED:", e, file=sys.stderr)

    metrics = {w["name"]: {"value": float(m.get(w["name"], 0.0)),
                           "unit": w["unit"]} for w in wanted}
    correct = wl.failed == 0 and wl.attempted > 0
    print(json.dumps({"correct": correct, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
