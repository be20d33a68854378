#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload mosaic_probe --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. A run generates the workload's inputs
from ``--seed``, sets up a Spark session once from cold (JVM launch,
session start, Python-worker warm-up, fixture staging: ``setup_s``),
runs one warm-up op, then runs ops back
to back in a closed loop with one client for ``--seconds`` (at least
two), checking every op's outputs. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from
a traced window (see README.md). Metric names and units come from
BENCHMARK.json. Scratch files (Spark local dirs, event logs, spans,
run records) go under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MIN_OPS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def confine_to_checkout():
    """Keep every file Spark, the JVM and Python write under WORK, and
    let the Python workers import the engine from the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def control_burn() -> float:
    """Fixed-size in-process decode + fit + segment loop (no Spark):
    the same work on every run, so its time stamps host speed for the
    window the run was taken in."""
    from pyshepseg_spark.kernels.kmeans import fit_spectral_clusters
    from pyshepseg_spark.kernels.shepherd import do_shepherd_segmentation
    from pyshepseg_spark.sources.codec import decode_image
    from pyshepseg_spark.sources.imagegen import generate_image

    row, _ = generate_image(0, size=192, seed=42, k=10)
    t0 = time.perf_counter()
    for _ in range(6):
        img = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
        centres = fit_spectral_clusters(img, 10, 25.0, 65535, True)
        do_shepherd_segmentation(img, num_clusters=10, centres=centres,
                                 img_null_val=65535,
                                 four_connected=False,
                                 min_segment_size=50)
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(t0, t1) -> float:
    """Share of CPU time between two /proc/stat samples that the
    hypervisor gave to other guests: the host-noise stamp of a window."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def reset_peak_rss():
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not in /proc/self/status")


class Session:
    """One Spark session at a time; ``close`` stops it and waits for
    the JVM (and with it the Python workers) to exit."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spark = None
        self.app_ids = []

    def start(self):
        from pyshepseg_spark.session import get_spark, warm_python_workers
        from spans import EVENTLOG_CONF

        extra = None
        if self.traced:
            evdir = os.path.join(WORK, "eventlog")
            os.makedirs(evdir, exist_ok=True)
            extra = dict(EVENTLOG_CONF,
                         **{"spark.eventLog.dir": "file://" + evdir})
        # get_spark defaults: local[SPARK_GRAFT_CPUS], as many shuffle
        # partitions
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        self.spark = get_spark(app_name="perfbench", extra_conf=extra)
        self.app_ids.append(self.spark.sparkContext.applicationId)
        warm_python_workers(self.spark)
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.stop()
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def setup(sess: Session, wl) -> float:
    """The cold set-up every CLI invocation pays: JVM launch, session
    start, Python-worker warm-up and fixture staging."""
    t0 = time.perf_counter()
    spark = sess.start()
    wl.stage(spark)
    return time.perf_counter() - t0


def run_ops(wl, tracer, until: float, min_ops: int, first_id: int):
    """Closed loop with one client: run ops back to back until the
    clock passes ``until`` and at least ``min_ops`` ran (the op in
    flight finishes). An op that raises is timed up to the raise and
    counts as failed. Checks, and in a traced loop the layer counts,
    run after each op's timing. Returns (op wall times, failed count,
    [(op id, layer counts)])."""
    times, counts, failed = [], [], 0
    i = first_id
    while len(times) < min_ops or time.perf_counter() < until:
        t0 = time.perf_counter()
        try:
            with tracer.op_span(i):
                out = wl.op(tracer)
                times.append(time.perf_counter() - t0)
            fails = wl.check(out)
            if tracer.enabled:
                counts.append((i, wl.layer_counts(out)))
        except Exception:
            traceback.print_exc()
            if len(times) == i - first_id:
                times.append(time.perf_counter() - t0)
            fails = ["op raised"]
        if fails:
            failed += 1
            print(f"op {i} failed its check: {fails[:3]}",
                  file=sys.stderr)
        i += 1
    return times, failed, counts


def floor_probes(spark) -> dict[str, float]:
    """Fixed Spark costs in the same window: an empty job, a 1k-row
    shuffle and a 1k-row identity mapInArrow (median of 3 each)."""
    from pyspark.sql import functions as F

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def ident(it):
        yield from it

    probes = {
        "session.noop_job_s": lambda: noop(spark.range(0, 1, 1, 1)),
        "session.shuffle_1k_s": lambda: noop(
            spark.range(0, 1000, 1, 4).groupBy(
                (F.col("id") % 10).alias("g")).count()),
        "session.arrow_identity_s": lambda: noop(
            spark.range(0, 1000, 1, 4).mapInArrow(ident, "id long")),
    }
    out = {}
    for name, fn in probes.items():
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        out[name] = statistics.median(ts)
    return out


def median_of(rows, key):
    vals = [r[key] for r in rows if key in r]
    return float(statistics.median(vals)) if vals else 0.0


def layer_metrics(names, sess, tracer, traced_times, untraced_times,
                  counts, extra) -> dict[str, float]:
    import spans as sp

    events = sp.read_events(os.path.join(WORK, "eventlog"),
                            sess.app_ids[-1])
    spark_by_op = sp.spark_totals_by_op(events)
    self_by_op = sp.self_time_by_op(tracer.spans)
    walls = {s.op: s.end - s.start for s in tracer.spans
             if s.name == "op"}
    rows = []
    for op_id, c in counts:
        r = dict(c)
        for name, secs in self_by_op.get(op_id, {}).items():
            if name != "op":
                r[name + "_s"] = secs
        sk = spark_by_op.get(op_id, {})
        r.update(sk)
        if op_id in walls and sk:
            r["spark.driver_s"] = walls[op_id] - sk["spark.job_active_s"]
        rows.append(r)
    vals = {name: median_of(rows, name) for name in names}
    vals.update(extra)
    vals["trace.overhead_frac"] = (statistics.median(traced_times)
                                   / statistics.median(untraced_times)
                                   - 1.0)
    return vals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    confine_to_checkout()
    sys.path.insert(0, HERE)
    from spans import Tracer
    from workloads import WORKLOADS


    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed)
    gen_s = time.perf_counter() - t0
    burns = [control_burn()]

    sess = Session(traced=bool(args.trace))
    try:
        setup_s = setup(sess, wl)
        reset_peak_rss()
        cpu0 = cpu_times()
        if args.trace:
            floor = floor_probes(sess.spark)
        # one warm-up op (JIT, codegen, first use of the session):
        # checked and recorded, not in p50
        plain = Tracer(False)
        warm, failed, _ = run_ops(wl, plain, 0, 1, 0)
        until = time.perf_counter() + (
            args.seconds / 2 if args.trace else args.seconds)
        times, f, _ = run_ops(wl, plain, until, MIN_OPS, 1)
        failed += f
        if args.trace:
            untraced = times
            tracer = Tracer(True, sess.spark)
            times, f, counts = run_ops(
                wl, tracer, time.perf_counter() + args.seconds / 2,
                MIN_OPS, 1 + len(untraced))
            failed += f
            kernels = wl.kernel_probes()
        rss = peak_rss_mb()
        steal = steal_frac(cpu0, cpu_times())
        burns.append(control_burn())
        sess.stop()
        if args.trace:
            extra = dict(floor, **kernels)
            extra["host.nproc"] = float(nproc())
            extra["host.control_burn_s"] = statistics.median(burns)
            extra["host.steal_frac"] = steal
            metrics = layer_metrics(units, sess, tracer, times, untraced,
                                    counts, extra)
            tracer.dump(os.path.join(
                WORK, f"spans-{wl.name}-{args.seed}.jsonl"))
    finally:
        sess.close()

    attempted = len(warm) + len(times) + (len(untraced) if args.trace
                                          else 0)
    if not args.trace:
        p50 = statistics.median(times)
        metrics = {"setup_s": setup_s, "op_s_p50": p50,
                   "items_per_s": wl.items / p50, "driver_rss_mb": rss}
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "nproc": nproc(), "control_burn_s": burns,
              "steal_frac": steal, "gen_s": gen_s,
              "setup_s": setup_s, "warmup_op_s": warm, "op_s": times,
              "ops": len(times), "items_per_op": wl.items,
              "item": wl.item, "attempted": attempted, "failed": failed}
    with open(os.path.join(WORK, f"run-{wl.name}-{args.seed}-"
                                 f"{args.trace}.json"), "w") as f:
        json.dump(dict(record, metrics=metrics), f)
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
