"""Spans, timing wrappers and Spark event-log folding for the traced run.

The engine is instrumented from outside: ``Tracer.install`` replaces the
public operator entry points and ``Table`` methods with wrappers that
record a span around each call, and restores the originals on
``uninstall``. Spans live in memory and are written as JSONL at the end.

A span carries name, layer, start, end, parent and op id. Its parent is
the innermost span open on the same thread; a span opened on a worker
thread (cluster tiles, compact batches and merge rewrites run in their
own threads) is parented to the innermost span open on the thread that
opened the current op. Ops are the benchmark's own timed calls and run
one at a time, which is also what lets Spark jobs be attributed to an op
by their submission time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

PKG = "aws_medallion_datalake_spark"

# (module, function, layer): operator entry points wrapped wherever the
# package binds them (run.py imports compact/cluster/... by name)
FUNCTIONS = [
    ("operators.run", "run_maintenance", "operators.run"),
    ("operators.compact", "compact", "operators.compact"),
    ("operators.cluster", "cluster", "operators.cluster"),
    ("operators.merge", "merge_into", "operators.merge"),
    ("operators.delete", "delete_where", "operators.delete"),
    ("operators.delete", "apply_deletes", "operators.delete"),
    ("operators.overwrite", "overwrite_partitions", "operators.overwrite"),
    ("operators.expire", "expire_snapshots", "operators.expire"),
    ("operators.matview", "refresh_matview", "operators.matview"),
    ("operators.metascan", "fast_count", "operators.metascan"),
    ("pipeline.medallion", "silver_refine", "pipeline.medallion"),
    ("pipeline.medallion", "gold_build_star", "pipeline.medallion"),
]
TABLE_METHODS = [
    "scan",
    "commit",
    "write_files",
    "rewrite_manifests",
    "collect_stats_for_prefix",
    "manifest_pdf",
    "changes",
]
# counts taken at a wrapped boundary from its result and arguments
COUNTS = {
    "Table.write_files": lambda out, *a, **k: {
        "bytes": int(out["file_size_bytes"].sum()) if len(out) else 0},
    "Table.scan": lambda out, table, *a, **k: {
        "files_kept": len(out.inputFiles()),
        "files_total": table.manifest_rows(k.get("snapshot_id"))
        if table.metadata().current_snapshot_id is not None else 0},
}
SELF_LAYERS = [
    "bench",
    "operators.run",
    "operators.compact",
    "operators.cluster",
    "operators.expire",
    "operators.merge",
    "operators.delete",
    "operators.overwrite",
    "operators.matview",
    "operators.metascan",
    "sources.tableformat",
    "pipeline.medallion",
]


class NullTracer:
    """Tracing off: ops are timed by the caller, nothing is recorded."""

    @contextmanager
    def op(self, name: str):
        yield

    def install(self, callers=()) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer:
    def __init__(self) -> None:
        self.spans: list = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._op = None  # (op id, span stack of the op's thread)
        self._patched: list = []

    # ---------- spans ----------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        st = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            if st:
                parent = st[-1]
            elif self._op is not None and self._op[1]:
                parent = self._op[1][-1]
            else:
                parent = None
            op_id = self._op[0] if self._op is not None else None
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent,
            "op": op_id,
            "start": time.time(),
        }
        st.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            st.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, name: str):
        """A benchmark op: the root span every engine call nests under."""
        st = self._stack()
        with self._lock:
            op_id = self._next_id
            self._op = (op_id, st)
        try:
            with self.span(name, "bench"):
                yield
        finally:
            with self._lock:
                self._op = None

    # ---------- wrappers ----------

    def _wrap(self, fn, name: str, layer: str):
        tracer = self
        count = COUNTS.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                out = fn(*args, **kwargs)
            if count is not None:  # outside the span: not timed as the call
                rec.update(count(out, *args, **kwargs))
            return out

        wrapper.__perfbench_orig__ = fn
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, callers=()) -> None:
        """Wrap every listed entry point in every package module, and in
        each of ``callers``, that binds it; the ``Table`` methods; and
        ``approxQuantile`` (one call is one quantile job, which the cluster
        stage plans per tile)."""
        import importlib

        from pyspark.sql import DataFrame as _DF

        for modname, fname, layer in FUNCTIONS:
            importlib.import_module(f"{PKG}.{modname}")
        mods = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PKG or n.startswith(PKG + "."))
        ] + list(callers)
        for modname, fname, layer in FUNCTIONS:
            orig = getattr(sys.modules[f"{PKG}.{modname}"], fname)
            wrapped = self._wrap(orig, fname, layer)
            for m in mods:
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        self._patch(m, attr, wrapped)
        from aws_medallion_datalake_spark.sources.tableformat import Table

        for meth in TABLE_METHODS:
            self._patch(
                Table, meth,
                self._wrap(getattr(Table, meth), f"Table.{meth}",
                           "sources.tableformat"),
            )
        # classic Spark 4 resolves DataFrame to a subclass: patch the
        # class that defines the method
        for klass in type.mro(_classic_df_class(_DF)):
            if "approxQuantile" in vars(klass):
                self._patch(
                    klass, "approxQuantile",
                    self._wrap(vars(klass)["approxQuantile"],
                               "approxQuantile", "spark"),
                )
                break

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(s) + "\n")


def _classic_df_class(base):
    try:
        from pyspark.sql.classic.dataframe import DataFrame as classic
        return classic
    except ImportError:
        return base


# ---------- span analysis ----------


def _union_len(intervals: list) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list) -> dict:
    """span id → duration minus the part of it its children cover."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        cover = [
            (max(lo, c["start"]), min(hi, c["end"]))
            for c in kids.get(s["id"], [])
            if c["end"] > lo and c["start"] < hi
        ]
        out[s["id"]] = (hi - lo) - _union_len(cover)
    return out


def span_violations(spans: list, slack: float = 1e-3) -> list:
    """Children that start before or end after their parent, and negative
    self times; empty when the span tree is well formed."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None and (
            s["start"] < p["start"] - slack or s["end"] > p["end"] + slack
        ):
            bad.append(("child outside parent", s["name"], p["name"]))
    for sid, v in self_times(spans).items():
        if v < -slack:
            bad.append(("negative self time", by_id[sid]["name"], v))
    return bad


def layer_self_seconds(spans: list) -> dict:
    st = self_times(spans)
    out = {layer: 0.0 for layer in SELF_LAYERS}
    for s in spans:
        if s["layer"] in out:
            out[s["layer"]] += st[s["id"]]
    return out


def span_overhead_s(n: int = 20000) -> float:
    """Cost of one wrapped no-op call, from a calibration loop."""
    t = Tracer()
    f = t._wrap(lambda: None, "noop", "bench")
    t0 = time.perf_counter()
    for _ in range(n):
        f()
    return (time.perf_counter() - t0) / n


# ---------- Spark event log ----------


def read_event_log(event_dir: str) -> list:
    """All events of the local, uncompressed, rolling event log
    (``eventlog_v2_<app>/events_<n>_<app>``)."""
    def roll(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    events = []
    for p in sorted(glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*")),
                    key=lambda p: (os.path.dirname(p), roll(p))):
        with open(p) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:  # blank, or still being written
                    continue
    return events


def spark_op_metrics(events: list, spans: list, ops: dict, cores: int) -> dict:
    """Fold task metrics per named op.

    ``ops`` maps a span name to the op name it reports under. A job
    belongs to the innermost such span whose window holds its
    submission time; a stage to the first job that lists it.
    """
    cand = [s for s in spans if s["name"] in ops]
    job_op: dict = {}
    stage_job: dict = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        t = e["Submission Time"] / 1000.0
        hit = [s for s in cand if s["start"] <= t <= s["end"]]
        if hit:
            inner = max(hit, key=lambda s: s["start"])
            job_op[e["Job ID"]] = ops[inner["name"]]
        for sid in e.get("Stage IDs", []):
            stage_job.setdefault(sid, e["Job ID"])
    acc = {
        name: {"jobs": 0, "tasks": 0, "cpu_ns": 0, "run_ms": 0, "sr": 0,
               "sw": 0, "spill": 0, "failed": 0, "durs": []}
        for name in set(ops.values())
    }
    for op in job_op.values():
        acc[op]["jobs"] += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        op = job_op.get(stage_job.get(e.get("Stage ID")))
        if op is None:
            continue
        a = acc[op]
        info = e.get("Task Info", {})
        a["tasks"] += 1
        if info.get("Failed") or info.get("Killed"):
            a["failed"] += 1
        if info.get("Finish Time") and info.get("Launch Time"):
            a["durs"].append(info["Finish Time"] - info["Launch Time"])
        m = e.get("Task Metrics") or {}
        a["cpu_ns"] += m.get("Executor CPU Time", 0)
        a["run_ms"] += m.get("Executor Run Time", 0)
        sr = m.get("Shuffle Read Metrics", {})
        a["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        a["sw"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        a["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    wall = {}
    for s in cand:
        wall[ops[s["name"]]] = wall.get(ops[s["name"]], 0.0) + s["end"] - s["start"]
    count = {}
    for s in cand:
        count[ops[s["name"]]] = count.get(ops[s["name"]], 0) + 1
    out = {}
    for name, a in acc.items():
        n = max(1, count.get(name, 0))  # per occurrence of the op
        durs = a["durs"]
        med = statistics.median(durs) if durs else 0
        out[name] = {
            "jobs": a["jobs"] / n,
            "tasks": a["tasks"] / n,
            "executor_cpu_s": a["cpu_ns"] / 1e9 / n,
            "executor_run_s": a["run_ms"] / 1e3 / n,
            "shuffle_read_mb": a["sr"] / 1e6 / n,
            "shuffle_write_mb": a["sw"] / 1e6 / n,
            "spill_mb": a["spill"] / 1e6 / n,
            "task_skew": (max(durs) / med) if durs and med > 0 else 0.0,
            "failed_tasks": a["failed"] / n,
            "busy": (a["run_ms"] / 1e3) / (wall[name] * cores)
            if wall.get(name) else 0.0,
        }
    return out
