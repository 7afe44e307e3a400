"""The two workloads, their seeded inputs and their correctness checks.

Every input row comes from the engine's own generator (``make_row`` over
seeded id ranges and seed offsets, the function ``generate_images`` maps
over ``spark.range``) and is staged as Parquet before any timing starts,
so pixel rendering is never timed as engine work. Rendering runs in the
driver: about a millisecond per row, far less than starting Python
workers for a Spark job. Expected answers come from the staged rows
(pandas) or Spark's plain Parquet reader, never from the engine's scan.

Each workload stages its inputs, sets up its starting tables
``sizes.setups`` times (``setup_s`` is their median), loops for
``seconds`` (and at least ``MIN_TIMED`` timed iterations), and finally
checks the program's outputs. The loop's first iteration is an untimed
warm-up: it pays the fresh JVM's first-of-a-kind costs and runs about
twice as long as the next.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators import (
    apply_deletes,
    create_matview,
    delete_where,
    expire_snapshots,
    fast_count,
    merge_into,
    overwrite_partitions,
    refresh_matview,
    run_maintenance,
)
from aws_medallion_datalake_spark.operators.policy import table_health
from aws_medallion_datalake_spark.pipeline.medallion import (
    BLOOM_PROPS,
    STATS,
    gold_build_star,
    register_gold_views,
    silver_refine,
)
from aws_medallion_datalake_spark.sources.generator import (
    N_HOT,
    SCHEMA,
    UPDATE_SALT,
    make_row,
)
from aws_medallion_datalake_spark.sources.tableformat import Table

COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "ingest_date"]
STAGED = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("ingest_date", pa.string()), ("part", pa.string()),
])
MAINT_STAGES = ("compact", "cluster", "rewrite_manifests", "expire")
MV_QUERY = (
    "SELECT ingest_date, fmt, count(*) AS n, sum(w) AS sw "
    "FROM images GROUP BY ingest_date, fmt"
)
GOLD_QUERIES = {
    "lossy_by_date": (
        "SELECT f.date_key AS k, m.is_lossy AS g, count(*) AS n, "
        "sum(f.n_bytes) AS b FROM gold_fact_images f JOIN gold_dim_fmt m "
        "ON f.fmt_key = m.fmt_key GROUP BY f.date_key, m.is_lossy"
    ),
    "wide_by_month": (
        "SELECT d.nome_mes AS k, f.fmt_key AS g, count(*) AS n, "
        "sum(f.n_bytes) AS b FROM gold_fact_images f JOIN gold_dim_date d "
        "ON f.date_key = d.date_key WHERE f.w >= 64 "
        "GROUP BY d.nome_mes, f.fmt_key"
    ),
    "daily_by_weekend": (
        "SELECT d.eh_fim_semana AS k, a.fmt AS g, sum(a.n_images) AS n, "
        "sum(a.total_bytes) AS b FROM gold_fact_image_daily a "
        "JOIN gold_dim_date d ON a.ingest_date = d.date_key "
        "GROUP BY d.eh_fim_semana, a.fmt"
    ),
}
# the analysts' reads after each upsert batch, shuffled by the seed. No
# source gives analysts' read mix: these weights are assumptions, and each
# read kind's measured share of the op time is reported (``op_share`` in
# the context line) so a change can be traced to a kind.
READ_BLOCK = (
    ["full_scan"] * 5 + ["range_scan", "lookup", "gold_query", "fast_count",
                         "time_travel"]
)
# per-layer read medians, restarted after the warm-up
READ_LAYER = ("range_scan.p50_s", "fast_count.p50_s", "time_travel.p50_s",
              "gold_query.p50_s")
# one range_scan op reads three phash ranges of these selectivities
RANGE_SELECTIVITY = (0.01, 0.05, 0.2)
SILVER_TARGET = 1 << 20  # upsert: target file size of silver's nightly window
# the loop runs for the given seconds and at least this many timed
# iterations, so each median has four samples even on a slow host (with
# three, the spread of ten runs' op medians was 2.6-4x as wide)
MIN_TIMED = 4
# reference reads before each maintain or upsert iteration: plain Spark
# over the staged input, no engine code
REF_READS = 5


@dataclass(frozen=True)
class Sizes:
    rows: int = 400              # base table rows
    dates: int = 4               # ingest_date partitions
    appends: int = 4             # bronze appends (maintain)
    files_per_append: int = 32   # small files per bronze append
    target_mb: int = 2           # maintenance target file size
    upd_rows: int = 18           # MERGE updates per batch (FIXTURES.md §2:
    ins_rows: int = 18           # half updates, half fresh-id inserts)
    batches: int = 8             # staged upsert batches (loop bound)
    cycle: int = 3               # overwrite + expire every `cycle` batches
    ow_rows: int = 20            # rows replacing one date per overwrite
    setups: int = 2              # set-ups per run (setup_s is their median)


FULL = Sizes()
TINY = Sizes(rows=96, appends=2, files_per_append=4, target_mb=1,
             upd_rows=6, ins_rows=6, batches=4, cycle=2, ow_rows=6, setups=2)


@dataclass
class Result:
    """What one workload run measured; turned into metrics by run.py."""

    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    setup_s: list = field(default_factory=list)
    op_s: list = field(default_factory=list)        # headline op latency
    lookup_s: list = field(default_factory=list)    # point reads
    work_mb_s: list = field(default_factory=list)   # MB moved per op second
    space_amp: list = field(default_factory=list)   # root bytes ÷ live bytes
    iterations: int = 0                             # loop units, warm-up too
    layer: dict = field(default_factory=dict)       # per-iteration facts
    inputs: dict = field(default_factory=dict)
    tables: list = field(default_factory=list)      # final tables
    phases: dict = field(default_factory=dict)      # run phase end times
    kind_s: dict = field(default_factory=dict)      # op seconds per op kind
    ref_s: list = field(default_factory=list)       # reference reads

    def reference(self, spark, path: str, reads: int = 1) -> None:
        """Time plain-Spark reads of the staged input at ``path``: the
        yardstick, measured in the same run, that the relative metrics
        divide by, so that the shared host's speed drift cancels."""
        for _ in range(reads):
            t0 = time.perf_counter()
            spark.read.parquet(path).agg(
                F.count(F.lit(1)), F.sum(F.length("bytes"))).first()
            self.ref_s.append(time.perf_counter() - t0)

    def timed(self, tracer, name: str, fn):
        """Run ``fn`` as op ``name``; returns (its result, seconds)."""
        t0 = time.perf_counter()
        with tracer.op(name):
            out = fn()
        dt = time.perf_counter() - t0
        self.kind_s[name] = self.kind_s.get(name, 0.0) + dt
        return out, dt

    def op_share(self) -> dict:
        """Each op kind's share of the timed op seconds."""
        total = sum(self.kind_s.values()) or 1.0
        return {k: round(v / total, 4) for k, v in sorted(self.kind_s.items())}

    def phase(self, name: str, since: float) -> None:
        """Seconds from ``since`` to the end of phase ``name``."""
        self.phases[name] = round(time.perf_counter() - since, 3)

    def note(self, key: str, value) -> None:
        self.layer.setdefault(key, []).append(value)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def fail(self, what: str, exc: Exception) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{what}: {exc!r}"[:300])


def base_start(seed: int) -> int:
    """First generator row id for a seed: distinct seeds, distinct rows."""
    return 1_000_000 * (1 + seed % 9_973)


def digest(df) -> tuple:
    """(rows, order-independent sum of xxhash64 over every column)."""
    r = df.select(*COLS).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*COLS).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), Decimal(r["h"] or 0)


def dir_bytes(root: str, sub: str = "") -> int:
    total = 0
    for dp, _dn, fns in os.walk(os.path.join(root, sub)):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
    return total


def live_bytes(t: Table) -> int:
    return int(t.manifest_pdf()["file_size_bytes"].sum())


def _new_table(root: str) -> Table:
    return Table.create(root, SCHEMA, partition_cols=["ingest_date"],
                        stats_cols=STATS, properties=dict(BLOOM_PROPS))


def render(plan: list, n_dates: int) -> pd.DataFrame:
    """Rows for ``(id, seed_offset, caption suffix, date override, part)``
    tuples; ``part`` labels the staging partition a row belongs to."""
    rows = []
    for i, offset, suffix, date, part in plan:
        row = make_row(int(i), n_dates, int(offset))
        row["caption"] += suffix
        if date:
            row["ingest_date"] = date
        row["part"] = part
        rows.append(row)
    return pd.DataFrame(rows)[COLS + ["part"]]


def stage(pdf: pd.DataFrame, path: str) -> dict:
    """Write rows as Parquet, one directory per ``part``; return sizes."""
    pq.write_to_dataset(pa.Table.from_pandas(pdf, schema=STAGED,
                                             preserve_index=False),
                        path, partition_cols=["part"])
    files = [os.path.join(dp, f) for dp, _d, fns in os.walk(path)
             for f in fns if f.endswith(".parquet")]
    return {"rows": len(pdf), "bytes": sum(map(os.path.getsize, files)),
            "files": len(files)}


def _base_plan(seed: int, sizes: Sizes, parts: int) -> list:
    start = base_start(seed)
    label = np.random.RandomState(seed + 7).randint(0, parts, sizes.rows)
    return [(start + k, 0, "", "", f"a{label[k]}") for k in range(sizes.rows)]


def _read_part(spark, path: str, part: str):
    return spark.read.parquet(path).filter(F.col("part") == part).drop("part")


# ---------------------------------------------------------------- maintain


def maintain(spark, run_dir, seed, seconds, sizes, tracer, corrupt=None):
    """Nightly window: compact, cluster, rewrite manifests and expire a
    fragmented bronze table, each time on a fresh copy of it."""
    res = Result()
    t_run = time.perf_counter()
    pdf = render(_base_plan(seed, sizes, sizes.appends), sizes.dates)
    path = os.path.join(run_dir, "staged", "base")
    res.inputs = stage(pdf, path)
    appends = [
        _read_part(spark, path, f"a{a}").repartition(sizes.files_per_append)
        for a in range(sizes.appends)
    ]
    target = sizes.target_mb << 20
    res.phase("stage", t_run)

    def build(root: str, parts) -> Table:
        t = _new_table(root)
        for a, part in enumerate(parts):
            t.commit("append", t.write_files(part),
                     {"stage": "bronze", "append": a})
        return t

    def maintenance(t: Table, n: int):
        return run_maintenance(
            t, spark, checkpoint_path=os.path.join(run_dir, f"ck{n}"),
            stages=MAINT_STAGES, target_file_size_bytes=target)

    golden = None
    for k in range(sizes.setups):
        t0 = time.perf_counter()
        t = build(os.path.join(run_dir, f"bronze{k}"), appends)
        res.setup_s.append(time.perf_counter() - t0)
        if golden is not None:
            shutil.rmtree(golden.root)
        golden = t
    table_mb = live_bytes(golden) / 1e6
    res.inputs.update(table_files=int(len(golden.manifest_pdf())),
                      table_mb=round(table_mb, 3),
                      snapshots=len(golden.metadata().snapshots))
    res.phase("setup", t_run)

    i, t_end, work = 0, None, None
    while t_end is None or time.perf_counter() < t_end or i <= MIN_TIMED:
        timed = t_end is not None
        root = os.path.join(run_dir, f"work{i}")
        shutil.copytree(golden.root, root)
        if work is not None:
            shutil.rmtree(work.root)
        work = Table.load(root)
        res.reference(spark, path, REF_READS)
        try:
            out, dt = res.timed(tracer, "maintain", lambda: maintenance(work, i))
        except Exception as exc:  # counted, reported, the run goes on
            res.fail("run_maintenance", exc)
        else:
            if timed:
                res.op_s.append(dt)
                res.work_mb_s.append(table_mb / dt)
                _note_maintenance(res, out, dt)
            res.check(fast_count(work) == len(pdf),
                      f"maintenance {i}: fast_count != staged rows")
        i += 1
        if not timed:
            res.phase("warmup", t_run)
            res.kind_s.clear()
            res.ref_s.clear()
            t_end = time.perf_counter() + seconds
    res.iterations = i
    res.phase("loop", t_run)

    got = digest(work.scan(spark))
    expect = digest(spark.read.parquet(path))
    if corrupt == "digest":
        expect = (expect[0], expect[1] + 1)
    res.check(got == expect, f"maintain digest {got} != staged {expect}")
    res.check(fast_count(work) == got[0], "fast_count != scanned count")
    res.space_amp.append(dir_bytes(work.root) / max(1, live_bytes(work)))
    h = table_health(work, spark, target_file_size_bytes=target)
    res.note("cluster.overlap", h["cluster_metric"] or 0.0)
    res.tables.append(work)
    res.phase("check", t_run)
    return res


def _note_maintenance(res: Result, out: dict, wall: float) -> None:
    stages = {k: v for k, v in out.items()
              if isinstance(v, dict) and "wall_sec" in v}
    res.note("run.overhead_s", wall - sum(v["wall_sec"] for v in stages.values()))
    c, k = out.get("compact", {}), out.get("cluster", {})
    for name, st in (("compact", c), ("cluster", k)):
        res.note(f"{name}.s", st.get("wall_sec", 0.0))
        for ph, v in (st.get("phase_sec") or {}).items():
            res.note(f"{name}.{ph}_s", v)
    res.note("run.compact_cluster_share",
             (c.get("wall_sec", 0.0) + k.get("wall_sec", 0.0)) / wall)
    res.note("compact.files_in", c.get("rewritten_files", 0))
    res.note("compact.files_out", c.get("added_or_total_files", 0))
    res.note("compact.mb_written", c.get("total_bytes", 0) / 1e6)
    res.note("expire.s", out.get("expire", {}).get("wall_sec", 0.0))
    res.note("expire.files_deleted",
             out.get("expire", {}).get("deleted_files", 0))
    res.note("rewrite_manifests.s",
             out.get("rewrite_manifests", {}).get("wall_sec", 0.0))


# ------------------------------------------------------------------ upsert


def _upsert_plan(seed: int, sizes: Sizes, base: pd.DataFrame):
    """Seeded batch plan after FIXTURES.md §2 ``images_updates``: as many
    update ids as fresh insert ids, the updates skewed to the hot-phash
    rows (half of them drawn from those, as ``generate_updates``
    over-represents them too). Also the narrow deletes (a phash range
    within one date: about 2% of that date's rows, so one clustered file)
    and the date each overwrite replaces. The dates rotate, so every seed
    touches the same dates in the same order. The deletes, the overwrite
    cycle and the batch size are assumptions: no source gives them."""
    rng = np.random.RandomState(seed + 1)
    start = base_start(seed)
    ids = np.arange(start, start + sizes.rows)
    hot = ids[(ids % 10) == 0]
    plan, batches = [], []
    cold = base[~base["phash"].isin(_hot_values(base["phash"].to_numpy()))]
    for b in range(sizes.batches):
        n_hot = sizes.upd_rows // 2
        upd = np.unique(np.concatenate([
            rng.choice(hot, size=n_hot, replace=False),
            rng.choice(ids, size=sizes.upd_rows - n_hot, replace=False),
        ]))
        plan += [(i, UPDATE_SALT + b + 1, f" (rev{b + 1})", "", f"b{b}")
                 for i in upd]
        first = start + sizes.rows + b * sizes.ins_rows
        plan += [(i, 0, "", "", f"b{b}")
                 for i in range(first, first + sizes.ins_rows)]
        day = f"2024-01-{b % sizes.dates + 1:02d}"
        srt = np.sort(cold.loc[cold["ingest_date"] == day, "phash"].to_numpy())
        width = max(1, len(srt) // 50)
        j = int(rng.randint(0, len(srt) - width))
        ow = None
        if b % sizes.cycle == sizes.cycle - 1:
            ow = f"2024-01-{(b // sizes.cycle + 2) % sizes.dates + 1:02d}"
            first = start + 50_000_000 + b * sizes.ow_rows
            plan += [(i, 0, "", ow, f"ow{b}")
                     for i in range(first, first + sizes.ow_rows)]
        batches.append({
            "upd": [int(i) for i in upd],
            "delete": [("ingest_date", "=", day),
                       ("phash", "between", (int(srt[j]), int(srt[j + width])))],
            "overwrite": ow,
        })
    return plan, batches


def _hot_values(phash: np.ndarray) -> np.ndarray:
    vals, counts = np.unique(phash, return_counts=True)
    return vals[np.argsort(-counts)[:N_HOT]]


def upsert(spark, run_dir, seed, seconds, sizes, tracer, corrupt=None):
    """D-1 refresh beside analysts' reads, over one medallion build. Each
    daily batch MERGEs updates and fresh inserts into bronze, checks a
    read-after-write lookup, deletes a narrow range merge-on-read and
    refreshes a gold aggregate MV (every ``cycle`` batches also a date
    overwrite and an expiry); a block of reads of silver and gold follows
    it."""
    res = Result()
    t_run = time.perf_counter()
    base = render(_base_plan(seed, sizes, 2), sizes.dates)
    plan, batches = _upsert_plan(seed, sizes, base)
    base_path = os.path.join(run_dir, "staged", "base")
    src_path = os.path.join(run_dir, "staged", "batches")
    res.inputs = stage(base, base_path)
    src_stats = stage(render(plan, sizes.dates), src_path)
    res.inputs.update({f"batch_{k}": v for k, v in src_stats.items()},
                      batches=sizes.batches)
    staged = spark.read.parquet(base_path).drop("part")
    parts = [_read_part(spark, base_path, f"a{a}") for a in range(2)]
    rng = np.random.RandomState(seed)
    expect = _read_expect(base, rng)
    if corrupt == "answer":
        k0 = expect["keys"][0]
        expect["lookup"][k0] = (expect["lookup"][k0][0] + " (corrupted)",
                                expect["lookup"][k0][1])
    target = sizes.target_mb << 20
    res.phase("stage", t_run)

    built = None
    for k in range(sizes.setups):
        t0 = time.perf_counter()
        new = _medallion(spark, run_dir, k, parts, target)
        res.setup_s.append(time.perf_counter() - t0)
        for old in built or ():
            shutil.rmtree(old)
        built = [new["bronze"].root, new["silver"].root, new["gold"],
                 new["mv"].root]
    t, silver, mv = new["bronze"], new["silver"], new["mv"]
    res.inputs.update(table_files=int(len(t.manifest_pdf())),
                      table_mb=round(live_bytes(t) / 1e6, 3),
                      silver_files=int(len(silver.manifest_pdf())),
                      silver_mb=round(live_bytes(silver) / 1e6, 3))
    h = table_health(silver, spark, target_file_size_bytes=SILVER_TARGET)
    res.note("cluster.overlap", h["cluster_metric"] or 0.0)
    attempt = _reader(spark, res, tracer, expect, silver)
    res.phase("setup", t_run)

    done = []  # batches applied, for the replay
    b, t_end = 0, None
    while b < len(batches) and (t_end is None or b <= MIN_TIMED
                                or time.perf_counter() < t_end):
        res.reference(spark, base_path, REF_READS)
        if not _upsert_batch(spark, t, mv, b, batches[b], src_path, target,
                             tracer, res, b > 0, corrupt):
            break
        done.append(b)
        for kind in rng.permutation(READ_BLOCK):
            attempt(str(kind))
        b += 1
        if t_end is None:
            # batch 0 and its reads were the warm-up
            for sink in (res.work_mb_s, res.lookup_s, res.ref_s):
                sink.clear()
            for key in READ_LAYER:
                res.layer.pop(key, None)
            res.phase("warmup", t_run)
            res.kind_s.clear()
            t_end = time.perf_counter() + seconds
    res.iterations = len(done)
    res.phase("loop", t_run)

    # materialize the last delete (untimed), then check against the replay
    if t.pending_delete_paths():
        apply_deletes(t, spark, target_file_size_bytes=target)
    expect_df = _replay(spark, staged, src_path, batches, done)
    expect = digest(expect_df)
    got = digest(t.scan(spark))
    if corrupt == "digest":
        expect = (expect[0], expect[1] + 1)
    res.check(got == expect, f"upsert digest {got} != replay {expect}")
    res.check(fast_count(t) == got[0], "fast_count != scanned count")
    want_mv = sorted(tuple(r) for r in expect_df.groupBy("ingest_date", "fmt").agg(
        F.count(F.lit(1)).alias("n"), F.sum("w").alias("sw")).collect())
    got_mv = sorted(tuple(r) for r in mv.scan(spark).select(
        "ingest_date", "fmt", "n", "sw").collect())
    res.check(got_mv == want_mv, "matview != replay aggregate")
    res.inputs["batches_run"] = len(done)
    res.tables.append(t)
    expect_df.unpersist()
    res.phase("check", t_run)
    return res


def _medallion(spark, run_dir, k, parts, target) -> dict:
    """One set-up: bronze from the staged appends; silver refined from it,
    then its nightly window (footer blooms on image_id as bronze has them,
    compacted and clustered at ``SILVER_TARGET``, no expiry, so its first
    snapshot stays readable for time travel); the gold star schema and its
    views; bronze's own nightly window; the gold aggregate MV over bronze."""
    bronze = _new_table(os.path.join(run_dir, f"bronze{k}"))
    for part in parts:
        bronze.commit("append", bronze.write_files(part), {"stage": "bronze"})
    silver = silver_refine(bronze, spark, os.path.join(run_dir, f"silver{k}"))
    silver.set_properties(dict(BLOOM_PROPS))
    run_maintenance(silver, spark, checkpoint_path=os.path.join(run_dir, f"sck{k}"),
                    stages=("compact", "cluster"),
                    target_file_size_bytes=SILVER_TARGET)
    gold = os.path.join(run_dir, f"gold{k}")
    register_gold_views(spark, gold_build_star(silver, spark, gold))
    run_maintenance(bronze, spark, checkpoint_path=os.path.join(run_dir, f"bck{k}"),
                    stages=("compact", "cluster", "expire"),
                    target_file_size_bytes=target)
    mv = create_matview(spark, "mv_daily", MV_QUERY,
                        os.path.join(run_dir, f"mv{k}"), {"images": bronze})
    return {"bronze": bronze, "silver": silver, "gold": gold, "mv": mv}


def _upsert_batch(spark, t, mv, b, spec, src_path, target, tracer, res,
                  timed, corrupt) -> bool:
    """One daily batch, its samples kept when ``timed``; False when an
    operation failed (the run stops: the replay would diverge)."""
    def step(name, fn, note=None):
        out, dt = res.timed(tracer, name, fn)
        if timed and note:
            res.note(note, dt)
        return out, dt

    src = _read_part(spark, src_path, f"b{b}")
    try:
        if t.pending_delete_paths():
            step("apply_deletes", lambda: apply_deletes(
                t, spark, target_file_size_bytes=target), "apply_deletes.s")
        if spec["overwrite"]:
            ow = _read_part(spark, src_path, f"ow{b}")
            step("overwrite", lambda: overwrite_partitions(
                t, spark, ow, target_file_size_bytes=target), "overwrite.p50_s")
            step("expire", lambda: expire_snapshots(t, spark=spark, keep_last=2),
                 "expire.s")
        before = dir_bytes(t.root, "data")
        snap, dt = step("merge", lambda: merge_into(
            t, spark, src, target_file_size_bytes=target))
    except Exception as exc:  # counted and reported
        res.fail(f"batch {b}", exc)
        return False
    res.attempted += 1
    if timed:
        src_mb = dir_bytes(src_path, f"part=b{b}") / 1e6
        res.op_s.append(dt)
        res.note("merge.src_mb", src_mb)
        res.note("merge.write_amp",
                 (dir_bytes(t.root, "data") - before) / 1e6 / src_mb)
        res.note("merge.files_rewritten", snap.summary.get("files_rewritten", 0))
        for ph, v in (snap.summary.get("phase_sec") or {}).items():
            res.note(f"merge.{ph}_s", v)

    key = f"img-{spec['upd'][b % len(spec['upd'])]:012d}"
    rows, dt = step("read_after_write", lambda: t.scan(
        spark, predicates=[("image_id", "=", key)]).select("caption").collect())
    if timed:
        res.lookup_s.append(dt)
    want = f" (rev{b + 1})" if corrupt != "lookup" else " (corrupted)"
    res.check(len(rows) == 1 and rows[0]["caption"].endswith(want),
              f"read-after-write {key}: {[r['caption'] for r in rows]}")

    try:
        step("delete_mor", lambda: delete_where(
            t, spark, spec["delete"], mode="merge-on-read"), "delete_mor.p50_s")
        step("mv_refresh", lambda: refresh_matview(spark, mv, {"images": t}),
             "mv_refresh.p50_s")
    except Exception as exc:
        res.fail(f"batch {b} delete/refresh", exc)
        return False
    res.attempted += 1
    if timed:
        res.note("pending_delete_files", len(t.pending_delete_paths()))
        res.space_amp.append(dir_bytes(t.root) / max(1, live_bytes(t)))
    return True


def _replay(spark, staged, src_path, batches, done):
    """The upsert loop's logical effect on plain DataFrames: MERGE is
    anti-join + union on image_id, the merge-on-read delete a filter, the
    date overwrite a filter + union."""
    state = staged
    for b in done:
        spec = batches[b]
        if spec["overwrite"]:
            state = state.filter(F.col("ingest_date") != spec["overwrite"]) \
                .unionByName(_read_part(spark, src_path, f"ow{b}"))
        src = _read_part(spark, src_path, f"b{b}")
        state = state.join(src.select("image_id"), "image_id", "left_anti") \
            .unionByName(src)
        (dcol, _, day), (pcol, _, (lo, hi)) = spec["delete"]
        state = state.filter(~((F.col(dcol) == day) & F.col(pcol).between(lo, hi)))
    return state.persist()  # read twice: digest and the MV aggregate


# ------------------------------------------------------------------- reads


def _reader(spark, res: Result, tracer, expect: dict, silver: Table):
    """Analysts' reads of silver and gold, which no batch writes; returns
    ``attempt(kind)``, which runs the next read of a kind and checks its
    answer. Keys, ranges and gold queries cycle in a fixed order."""
    first_sid = silver.metadata().snapshots[0].snapshot_id
    reads_of = dict.fromkeys(READ_BLOCK, 0)

    def agg(df):
        return df.agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.length("bytes")).alias("b")).first()

    def read(kind: str, n: int):
        """Run the ``n``-th read of a kind; returns (answer matches, what
        was read)."""
        if kind == "lookup":
            key = expect["keys"][n % len(expect["keys"])]
            rows, dt = res.timed(tracer, kind, lambda: silver.scan(
                spark, predicates=[("image_id", "=", key)]
            ).select("caption", "bytes").collect())
            got = (rows[0]["caption"], len(rows[0]["bytes"])) if len(rows) == 1 else None
            ok, what, sink = got == expect["lookup"][key], f"lookup {key}", res.lookup_s
        elif kind == "range_scan":
            triple = expect["ranges"][n % len(expect["ranges"])]
            rs, dt = res.timed(tracer, kind, lambda: [agg(silver.scan(
                spark, predicates=[("phash", "between", r)])) for r in triple])
            ok = [(r["n"], r["b"] or 0) for r in rs] == [expect["range"][r] for r in triple]
            what = f"ranges {triple}"
            sink = res.layer.setdefault("range_scan.p50_s", [])
        elif kind == "full_scan":
            r, dt = res.timed(tracer, kind, lambda: agg(silver.scan(spark)))
            ok, what, sink = (r["n"], r["b"]) == expect["full"], "full scan", None
            res.work_mb_s.append((r["b"] or 0) / 1e6 / dt)
        elif kind == "fast_count":
            got, dt = res.timed(tracer, kind, lambda: fast_count(silver))
            ok, what = got == expect["full"][0], "fast_count"
            sink = res.layer.setdefault("fast_count.p50_s", [])
        elif kind == "time_travel":
            r, dt = res.timed(tracer, kind, lambda: agg(
                silver.scan(spark, snapshot_id=first_sid)))
            ok, what = (r["n"], r["b"]) == expect["full"], "time travel"
            sink = res.layer.setdefault("time_travel.p50_s", [])
        else:
            name = list(GOLD_QUERIES)[n % len(GOLD_QUERIES)]
            rows, dt = res.timed(tracer, kind,
                              lambda: spark.sql(GOLD_QUERIES[name]).collect())
            got = sorted((str(r["k"]), str(r["g"]), int(r["n"]), int(r["b"]))
                         for r in rows)
            ok, what = got == expect["gold"][name], f"gold {name}"
            sink = res.layer.setdefault("gold_query.p50_s", [])
        if sink is not None:
            sink.append(dt)
        return ok, what

    def attempt(kind: str) -> None:
        reads_of[kind] += 1
        try:
            ok, what = read(kind, reads_of[kind] - 1)
        except Exception as exc:  # counted and reported, the loop goes on
            res.fail(kind, exc)
            return
        res.check(ok, what)

    return attempt


def _read_expect(pdf: pd.DataFrame, rng) -> dict:
    nb = pdf["bytes"].map(len)
    ph = pdf["phash"].to_numpy()
    srt = np.sort(ph)
    keys = list(rng.choice(pdf["image_id"].to_numpy(), size=32, replace=False))
    by_key = pdf.assign(nb=nb).set_index("image_id")
    ranges = []
    for _ in range(4):
        triple = []
        for sel in RANGE_SELECTIVITY:
            span = max(1, int(len(srt) * sel))
            j = int(rng.randint(0, len(srt) - span))
            triple.append((int(srt[j]), int(srt[j + span - 1])))
        ranges.append(triple)
    dates = pd.to_datetime(pdf["ingest_date"])
    wide = pdf["w"] >= 64
    frames = {
        "lossy_by_date": pdf.assign(nb=nb, k=pdf["ingest_date"],
                                    g=(pdf["fmt"] != "png").astype(str)),
        "wide_by_month": pdf[wide].assign(nb=nb[wide], k=dates[wide].dt.month_name(),
                                          g=pdf["fmt"][wide]),
        "daily_by_weekend": pdf.assign(nb=nb, k=dates.dt.dayofweek.isin([5, 6]).astype(str),
                                       g=pdf["fmt"]),
    }
    return {
        "keys": keys,
        "lookup": {k: (by_key.loc[k, "caption"], int(by_key.loc[k, "nb"])) for k in keys},
        "ranges": ranges,
        "range": {
            (lo, hi): (int(((ph >= lo) & (ph <= hi)).sum()),
                       int(nb[(ph >= lo) & (ph <= hi)].sum()))
            for triple in ranges for lo, hi in triple
        },
        "full": (len(pdf), int(nb.sum())),
        "gold": {
            name: sorted((str(k), str(g), int(r["count"]), int(r["sum"]))
                         for (k, g), r in f.groupby(["k", "g"])["nb"]
                         .agg(["count", "sum"]).iterrows())
            for name, f in frames.items()
        },
    }


WORKLOADS = {"maintain": maintain, "upsert": upsert}
