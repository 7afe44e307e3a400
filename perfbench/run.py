#!/usr/bin/env python3
"""Lakehouse benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload maintain|upsert \
        --seed N --seconds S --trace 0|1 [--tiny]

Run from the root of a checkout: the engine package is imported from
there. Inputs are generated from ``--seed`` and staged before timing. One
driver process, one client, closed loop, on ``local[<cpus>]``. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the same loop runs with spans, wrappers and Spark's event
log on and the last line carries the per-layer metrics instead. The line
before it echoes every setting, the seed, the inputs, the host probes and
any failure. Everything the run writes lives under ``.perfbench_runs/`` in
the checkout; the run's own directory is removed at the end (span JSONL
of traced runs is kept under ``.perfbench_runs/traces/``).

Exit status: 0 when every correctness check passed, 1 when one failed (the
result is still printed), 2 when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")

END_TO_END = {
    "setup_s": "s",
    "op_p50_rel": "ratio",
    "work_rel": "ratio",
    "space_amp": "ratio",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}
# span name → op its Spark jobs are reported under
SPARK_OPS = {
    "compact": "compact",
    "cluster": "cluster",
    "merge_into": "merge",
    "range_scan": "range_scan",
    "full_scan": "full_scan",
    "gold_query": "gold_query",
}
NOTED = {  # per-iteration facts the workloads note, reported as medians
    "run.overhead_s": "s", "run.compact_cluster_share": "ratio",
    "compact.s": "s", "compact.plan_s": "s", "compact.rewrite_s": "s",
    "compact.stats_s": "s", "compact.files_in": "count",
    "compact.files_out": "count", "compact.mb_written": "MB",
    "cluster.s": "s", "cluster.quantile_s": "s", "cluster.rewrite_s": "s",
    "cluster.stats_s": "s", "cluster.overlap": "ratio",
    "expire.s": "s", "expire.files_deleted": "count",
    "rewrite_manifests.s": "s",
    "merge.probe_s": "s", "merge.rewrite_s": "s", "merge.stats_s": "s",
    "merge.files_rewritten": "count", "merge.write_amp": "ratio",
    "delete_mor.p50_s": "s", "apply_deletes.s": "s", "overwrite.p50_s": "s",
    "mv_refresh.p50_s": "s", "pending_delete_files": "count",
    "range_scan.p50_s": "s", "fast_count.p50_s": "s",
    "time_travel.p50_s": "s", "gold_query.p50_s": "s",
}
FROM_SPANS = {
    "op_tail_s": "s", "op.samples": "count", "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "lookup.samples": "count", "trace.op_p50_rel": "ratio",
    "op_p50_s": "s", "work_mb_s": "MB/s", "ref_p50_s": "s",
    "trace.span_cost_us": "us",
    "commit.p50_s": "s", "commit.count": "count", "write_files.s": "s",
    "write_files.mb": "MB", "scan_plan.p50_s": "s",
    "scan.files_kept": "count", "scan.files_total": "count",
    "manifest_entries": "count", "metadata_mb": "MB", "snapshots": "count",
    "cluster.quantile_jobs": "count",
    "silver_refine.s": "s", "gold_build_star.s": "s",
}
SPARK_UNITS = {
    "jobs": "count", "tasks": "count", "executor_cpu_s": "s",
    "executor_run_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "task_skew": "ratio", "failed_tasks": "count",
    "busy": "ratio",
}


def per_layer_units() -> dict:
    from spans import SELF_LAYERS

    out = dict(FROM_SPANS)
    out.update(NOTED)
    out.update({f"self_s.{layer}": "s" for layer in SELF_LAYERS})
    for op in dict.fromkeys(SPARK_OPS.values()):
        out.update({f"spark.{op}.{k}": u for k, u in SPARK_UNITS.items()})
    return out


# ---------------------------------------------------------------- host


def box_settings() -> dict:
    """Settings fitted to the box: all its cpus, a twelfth of RAM as heap."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024
    heap_mb = max(1024, min(4096, mem_mb // 12))
    return {"cpus": cpus, "mem_total_mb": mem_mb, "driver_heap_mb": heap_mb,
            "master": f"local[{cpus}]", "shuffle_partitions": 2 * cpus}


PROBE = (
    "import hashlib, time\n"
    "b = bytes(1 << 20)\n"
    "t = time.perf_counter()\n"
    "h = hashlib.sha256()\n"
    "for _ in range(256):\n"
    "    h.update(b)\n"
    "print(time.perf_counter() - t)\n"
)


def cpu_probe(timeout_s: float = 20.0):
    """Seconds to sha256 256 MB in a fresh interpreter; None when the
    probe fails or times out (reported as missing, never as a value)."""
    try:
        out = subprocess.run([sys.executable, "-c", PROBE], capture_output=True,
                             text=True, timeout=timeout_s, check=True)
        return round(float(out.stdout.strip()), 4)
    except (subprocess.SubprocessError, OSError, ValueError):
        return None


def cpu_jiffies() -> list:
    """The aggregate cpu line of /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_shares(before: list, after: list) -> dict:
    """Busy, iowait and steal shares of the host's cpu time in between."""
    d = [b - a for a, b in zip(before, after)]
    total = max(1, sum(d[:8]))
    return {"busy": round((d[0] + d[1] + d[2] + d[5] + d[6]) / total, 3),
            "iowait": round(d[4] / total, 3), "steal": round(d[7] / total, 3)}


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)


def spark_conf(settings: dict, run_dir: str, event_dir=None) -> dict:
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_spark(settings: dict, run_dir: str, event_dir=None):
    """The engine's session factory with the box-fit settings; scratch,
    warehouse, JVM and Python temp files and the package zip all land
    under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM (the launcher too): temp files in the run, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{settings['driver_heap_mb']}m"
    from aws_medallion_datalake_spark.session import get_session

    spark = get_session(settings["master"],
                        shuffle_partitions=settings["shuffle_partitions"],
                        extra_conf=spark_conf(settings, run_dir, event_dir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the JVM it launched and wait for it: the
    gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------- metrics


def tail(xs: list) -> float:
    """Highest percentile with at least ten samples beyond it (the median
    below 20 samples)."""
    import numpy as np

    if not xs:
        return 0.0
    q = max(0.5, 1.0 - 10.0 / len(xs))
    return float(np.quantile(np.asarray(xs), q))


def p50(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def raw(res) -> dict:
    """The headline op's median seconds and MB/s, and the reference
    read's, as measured; the relative metrics are their ratios."""
    ref_s = p50(res.ref_s)
    return {"op_p50_s": p50(res.op_s), "work_mb_s": p50(res.work_mb_s),
            "ref_p50_s": ref_s,
            "ref_mb_s": res.inputs["bytes"] / 1e6 / ref_s if ref_s else 0.0}


def relative(r: dict) -> dict:
    """Op time in reference reads, op throughput in reference throughput."""
    if not r["ref_p50_s"]:
        return {"op_p50_rel": 0.0, "work_rel": 0.0}
    return {"op_p50_rel": r["op_p50_s"] / r["ref_p50_s"],
            "work_rel": r["work_mb_s"] / r["ref_mb_s"]}


def end_to_end(res, rss_mb: float) -> dict:
    rel = relative(raw(res))
    return {
        "setup_s": p50(res.setup_s),
        "op_p50_rel": rel["op_p50_rel"],
        "work_rel": rel["work_rel"],
        "space_amp": p50(res.space_amp),
        "success_rate": 1.0 - res.failed / max(1, res.attempted),
        "peak_rss_mb": rss_mb,
    }


def per_layer(res, spans: list, events: list, cores: int) -> dict:
    import workloads
    from spans import layer_self_seconds, span_overhead_s, spark_op_metrics

    loop = [s for s in spans if s["op"] is not None]
    iters = max(1, res.iterations)

    def durs(name, among=loop):
        return [s["end"] - s["start"] for s in among if s["name"] == name]

    def attr(name, key):
        return [s[key] for s in loop if s["name"] == name and key in s]

    out = {k: p50(res.layer.get(k, [])) for k in NOTED}
    r = raw(res)
    out.update({k: r[k] for k in ("op_p50_s", "work_mb_s", "ref_p50_s")})
    t = res.tables[0]
    meta = t.metadata()
    n_cluster = len(durs("cluster"))
    out.update({
        "op_tail_s": tail(res.op_s),
        "op.samples": len(res.op_s),
        "lookup_p50_s": p50(res.lookup_s),
        "lookup_tail_s": tail(res.lookup_s),
        "lookup.samples": len(res.lookup_s),
        "trace.op_p50_rel": relative(r)["op_p50_rel"],
        "trace.span_cost_us": span_overhead_s() * 1e6,
        "commit.p50_s": p50(durs("Table.commit")),
        "commit.count": len(durs("Table.commit")) / iters,
        "write_files.s": sum(durs("Table.write_files")) / iters,
        "write_files.mb": sum(attr("Table.write_files", "bytes")) / 1e6 / iters,
        "scan_plan.p50_s": p50(durs("Table.scan")),
        "scan.files_kept": sum(attr("Table.scan", "files_kept")) / iters,
        "scan.files_total": sum(attr("Table.scan", "files_total")) / iters,
        "manifest_entries": t.manifest_rows() if meta.current_snapshot_id else 0,
        "metadata_mb": workloads.dir_bytes(t.root, "metadata") / 1e6,
        "snapshots": len(meta.snapshots),
        "cluster.quantile_jobs":
            len(durs("approxQuantile")) / n_cluster if n_cluster else 0,
        "silver_refine.s": p50(durs("silver_refine", spans)),
        "gold_build_star.s": p50(durs("gold_build_star", spans)),
    })
    for layer, v in layer_self_seconds(loop).items():
        out[f"self_s.{layer}"] = v / iters
    for op, m in spark_op_metrics(events, loop, SPARK_OPS, cores).items():
        out.update({f"spark.{op}.{k}": v for k, v in m.items()})
    return out


def measure(spark, workload: str, seed: int, seconds: float, trace: bool,
            sizes, run_dir: str, cores: int, event_dir=None, corrupt=None,
            span_path=None) -> dict:
    """Run one workload on a live session; returns the report dict whose
    ``result`` is the line printed last."""
    from spans import NullTracer, Tracer, read_event_log
    import workloads

    tracer = Tracer() if trace else NullTracer()
    tracer.install(callers=[workloads])
    t0, jiffies = time.perf_counter(), cpu_jiffies()
    try:
        res = workloads.WORKLOADS[workload](spark, run_dir, seed, seconds, sizes,
                                  tracer, corrupt)
    finally:
        tracer.uninstall()
    wall = time.perf_counter() - t0
    host = host_shares(jiffies, cpu_jiffies())
    if trace:
        events = read_event_log(event_dir) if event_dir else []
        metrics = per_layer(res, tracer.spans, events, cores)
        units = per_layer_units()
        if span_path is not None:
            tracer.write_jsonl(span_path)
    else:
        metrics = end_to_end(res, peak_rss_mb(spark))
        units = END_TO_END
    correct = res.failed == 0
    return {
        "context": {
            "inputs": res.inputs,
            "wall_s": round(wall, 3),
            "phase_end_s": res.phases,
            "host_cpu_share": host,
            "setup_samples_s": [round(x, 4) for x in res.setup_s],
            "op_samples_s": [round(x, 4) for x in res.op_s],
            "ref_samples_s": [round(x, 4) for x in res.ref_s],
            "raw": raw(res),
            "lookup_samples": len(res.lookup_s),
            "op_share": res.op_share(),
            "errors": res.errors[:20],
            "spans": len(tracer.spans) if trace else 0,
        },
        "result": {
            "correct": correct,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()},
        },
    }


# ---------------------------------------------------------------- CLI


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["maintain", "upsert"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs: every workload in seconds (tests)")
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the engine must be this checkout's, not a copy elsewhere on the path
    pkg = os.path.join(ROOT, "aws_medallion_datalake_spark", "__init__.py")
    if not os.path.isfile(pkg):
        print(f"perfbench: no engine package in {ROOT}", file=sys.stderr)
        return 2
    from workloads import FULL, TINY

    sizes = TINY if args.tiny else FULL
    settings = box_settings()
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    span_path = None
    if args.trace:
        os.makedirs(os.path.join(RUNS, "traces"), exist_ok=True)
        span_path = os.path.join(
            RUNS, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(run_dir, exist_ok=True)
    probe_pre = cpu_probe()
    try:
        t0 = time.perf_counter()
        spark = start_spark(settings, run_dir, event_dir)
        try:
            session_s = time.perf_counter() - t0
            report = measure(spark, args.workload, args.seed, args.seconds,
                             bool(args.trace), sizes, run_dir,
                             settings["cpus"], event_dir=event_dir,
                             span_path=span_path)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    probe_post = cpu_probe()
    context = dict(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, tiny=args.tiny,
        sizes=vars(sizes), settings=settings,
        spark_conf=spark_conf(settings, os.path.relpath(run_dir, ROOT),
                              event_dir and "<run>/events"),
        session_start_s=round(session_s, 3),
        cpu_probe_s={"pre": probe_pre, "post": probe_post},
        span_file=span_path and os.path.relpath(span_path, ROOT),
        **report["context"],
    )
    print(json.dumps({"perfbench": context}, default=str))
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
