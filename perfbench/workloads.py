"""The benchmark's workloads, the JVM warm-up they share, and the
closed-loop operation runner.

One client thread sends its next operation only after the previous one
completed.  Every operation goes through the public
``DeltaSparkIOManager.handle_output`` / ``load_input``; fixtures also use
``DeltaSparkTable``.  Every load is checked against :mod:`perfbench.oracle`.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dagster_delta_spark.config import MergeConfig, MergeType, WriteMode
from dagster_delta_spark.io_manager import AssetContext, DeltaSparkIOManager
from dagster_delta_spark.plans.slices import TablePartitionDimension, TimeWindow

from dagster_delta_spark import tablelog

from . import gen, lake
from .gen import KEY, Month
from .oracle import Oracle, matches, parquet
from .trace import Tracer

ASSET = ["tpch", "lineitem"]
PARTITION = "ship_date"
LOAD_COLUMNS = ["l_extendedprice", "l_discount", PARTITION]
MERGE_PREDICATE = " AND ".join(f"s.{k} = t.{k}" for k in KEY)

WARMUP_MONTH = Month(1990, 1)
BACKFILL_FIRST, BACKFILL_MONTHS = Month(1994, 1), 24
# every 4th write re-materializes a written month: a fixed share, so the
# storage footprint after FOOTPRINT_AFTER_WRITES writes is comparable
# across seeds
REMATERIALIZE_EVERY = 4
FIXTURE_FIRST, FIXTURE_MONTHS = Month(1994, 1), 4
# the read fixture's log is longer than tablelog's 64-entry snapshot
# cache, so versioned loads spread wider than the cache
READ_FIXTURE_VERSIONS, READ_FIXTURE_DAY_REWRITES = 69, 3
# warm-up rounds per operation kind: the first op of a kind is several
# times slower than a warm one, and the next few still speed up
WARMUP_ROUNDS = 3
MERGE_WARMUPS = 2
# the merge warm-ups land just before checkpoint version 10, so the
# first timed merge writes a checkpoint
MERGE_FIXTURE_VERSIONS = tablelog.CHECKPOINT_INTERVAL - MERGE_WARMUPS
# the read kinds in a fixed cycle, so every seed has the same mix
READ_CYCLE = ("load", "load_pandas", "load", "load_versioned")
# storage footprint is taken after this many timed writes, so a faster
# engine (more writes per run) is not charged for the extra history
FOOTPRINT_AFTER_WRITES = 4

# which op kinds are a workload's primary operation
PRIMARY = {
    "backfill": ("materialize",),
    "partition_reads": tuple(dict.fromkeys(READ_CYCLE)),
    "merge_upsert": ("merge",),
}


def context(start: Optional[date] = None, end: Optional[date] = None,
            columns: Optional[list[str]] = None) -> AssetContext:
    dims = None
    if start is not None:
        window = TimeWindow(datetime(start.year, start.month, start.day),
                            datetime(end.year, end.month, end.day))
        dims = [TablePartitionDimension(PARTITION, window)]
    return AssetContext(asset_key=ASSET, partition_dimensions=dims,
                        columns=columns)


def _revenue(df):
    return df.agg(F.count(F.lit(1)),
                  F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))


@dataclass
class Op:
    kind: str
    phase: str  # warmup | setup | timed | verify
    seconds: float
    rows: int
    ok: bool
    traced: bool


@dataclass
class Bench:
    spark: object
    tmp: str
    seed: int
    tracer: Optional[Tracer] = None
    ops: list[Op] = field(default_factory=list)
    versions: dict[str, list[int]] = field(default_factory=lambda: {"timed": [], "setup": []})
    merge_ratio: dict[str, list[float]] = field(default_factory=lambda: {"timed": [], "setup": []})
    jobs: dict[str, list[tuple[int, int]]] = field(default_factory=dict)
    footprint: Optional[dict[str, float]] = None
    setup_end: Optional[float] = None

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)
        self.oracle = Oracle(os.path.join(self.tmp, "duckdb"))
        self._next_op = 0
        self._timed_per_kind: dict[str, int] = {}

    def path(self, *parts: str) -> str:
        p = os.path.join(self.tmp, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def io(self, name: str, **kwargs) -> DeltaSparkIOManager:
        return DeltaSparkIOManager(self.spark, self.path(name), **kwargs)

    def table_dir(self, io: DeltaSparkIOManager) -> str:
        return io.table_for(context()).table_uri

    # -- one closed-loop operation -------------------------------------------

    def run(self, kind: str, phase: str, fn: Callable[[], tuple[object, int]],
            check: Callable[[object], bool]) -> object:
        op = self._next_op
        self._next_op += 1
        sc = self.spark.sparkContext
        # a traced run traces every set-up op and every other timed op of
        # each kind; the untraced half gives the overhead baseline
        traced = self.tracer is not None
        if phase == "timed":
            n = self._timed_per_kind.get(kind, 0)
            self._timed_per_kind[kind] = n + 1
            traced = traced and n % 2 == 0
        if self.tracer is not None:
            self.tracer.begin(op, kind, phase, traced)
            sc.setJobGroup(f"perfbench-op-{op}", kind)
        result, rows, ok = None, 0, True
        start = time.perf_counter()
        try:
            result, rows = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        seconds = time.perf_counter() - start
        if self.tracer is not None:
            self.tracer.end()
            sc.setJobGroup("perfbench-idle", "between ops")
            if phase == "timed":
                self.jobs.setdefault(kind, []).append(self._spark_work(op))
        if ok and not check(result):
            print(f"wrong result: {kind} op {op} ({phase})", file=sys.stderr)
            ok = False
        self.ops.append(Op(kind, phase, seconds, rows, ok, traced))
        return result

    def _spark_work(self, op: int) -> tuple[int, int]:
        tracker = self.spark.sparkContext.statusTracker()
        job_ids = tracker.getJobIdsForGroup(f"perfbench-op-{op}")
        tasks = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(job_ids), tasks

    # -- operation kinds -------------------------------------------------------

    def materialize(self, io, start: date, end: date, src: str, rows: int,
                    phase: str, kind: str = "materialize") -> dict:
        df = self.spark.read.parquet(src)
        md = self.run(kind, phase,
                      lambda: (io.handle_output(context(start, end), df), rows),
                      lambda md: md.get("row_count") == rows)
        if md and phase != "warmup":
            self.versions["timed" if phase == "timed" else "setup"].append(
                md["table_version"])
        return md or {}

    def merge(self, io, month: Month, src: str, rows: int, phase: str) -> dict:
        df = self.spark.read.parquet(src)
        md = self.run("merge", phase,
                      lambda: (io.handle_output(context(month.start, month.end), df), rows),
                      lambda md: "table_version" in md)
        if md:
            bucket = "timed" if phase == "timed" else "setup"
            if phase != "warmup":
                self.versions[bucket].append(md["table_version"])
            self.merge_ratio[bucket].append(md.get("num_output_rows", 0) / rows)
        return md or {}

    def load(self, io, start: Optional[date], end: Optional[date],
             expected: tuple[int, float], phase: str, kind: str = "load",
             version: Optional[int] = None) -> None:
        def op():
            row = _revenue(io.load_input(context(start, end, LOAD_COLUMNS),
                                         version=version)).collect()[0]
            got = (int(row[0]), float(row[1] or 0.0))
            return got, got[0]
        self.run(kind, phase, op, lambda got: matches(got, expected))

    def load_pandas(self, io, day: date, expected: tuple[int, float],
                    phase: str) -> None:
        def op():
            pdf = io.load_input(context(day, day + timedelta(days=1)),
                                target_type=pd.DataFrame)
            rev = float((pdf["l_extendedprice"] * (1 - pdf["l_discount"])).sum())
            return (len(pdf), rev), len(pdf)
        self.run("load_pandas", phase, op, lambda got: matches(got, expected))

    def take_footprint(self, io, force: bool = False) -> None:
        writes = len(self.versions["timed"])
        if self.footprint is None and (force or writes >= FOOTPRINT_AFTER_WRITES):
            self.footprint = lake.footprint(self.table_dir(io))

    def primary_p50(self, kinds, traced: bool) -> Optional[float]:
        xs = [o.seconds for o in self.ops
              if o.phase == "timed" and o.kind in kinds and o.traced == traced]
        return statistics.median(xs) if xs else None


# -- shared set-up ---------------------------------------------------------------

def _merger(b: Bench, name: str) -> DeltaSparkIOManager:
    return b.io(name, mode=WriteMode.merge,
                merge_config=MergeConfig(MergeType.upsert, predicate=MERGE_PREDICATE))


def warm_reads(b: Bench, io, rel: str, m: Month,
               bumps: Optional[dict[date, float]] = None) -> None:
    """One checked load of each read kind on month ``m`` of a table whose
    version 0 holds ``rel`` and whose head adds ``bumps`` to prices."""
    b.load(io, m.start, m.end, b.oracle.slice(rel, m.start, m.end, bumps), "warmup")
    b.load(io, m.start, m.end, b.oracle.slice(rel, m.start, m.end), "warmup",
           kind="load_versioned", version=0)
    nxt = m.start + timedelta(days=1)
    b.load_pandas(io, m.start, b.oracle.slice(rel, m.start, nxt, bumps), "warmup")


def commit_properties(b: Bench, table, step: int, phase: str) -> None:
    """A metadata-only commit (one more log version, no data)."""
    b.run("commit_properties", phase,
          lambda: (table.set_properties({"perfbench.step": str(step)}), 0),
          lambda md: isinstance(md, dict))


def warm_merge(b: Bench, name: str, state: str, base, m: Month,
               batch_no: int) -> None:
    """One upsert into month ``m`` of table ``name`` and a checked load;
    the oracle applies the same batch to its table ``state``.  Warm-up
    batches are numbered below zero, so their new keys never collide
    with a timed batch's."""
    batch = gen.cdc_batch(b.rng, gen.in_range(base, m.start, m.end), m, batch_no)
    path = gen.write(batch, b.path("src", f"{name}-cdc{batch_no}.parquet"))
    b.merge(_merger(b, name), m, path, batch.num_rows, "warmup")
    b.oracle.upsert(state, path)
    b.load(b.io(name), m.start, m.end, b.oracle.slice(state, m.start, m.end), "warmup")


def warm_up(b: Bench, every_kind: bool) -> None:
    """Materialize and load a throwaway one-month table WARMUP_ROUNDS
    times, so JIT compilation and lazy initialisation are paid before
    timing.  ``every_kind`` adds the other read kinds and a merge; a
    traced run asks for it so every layer reports a figure, also those
    its workload does not time."""
    m = WARMUP_MONTH
    rows = gen.lineitem(b.rng, m.start, m.end)
    src = gen.write(rows, b.path("src", "warmup.parquet"))
    io = b.io("warmup")
    for _ in range(WARMUP_ROUNDS):
        b.materialize(io, m.start, m.end, src, rows.num_rows, "warmup")
        b.load(io, m.start, m.end, b.oracle.slice(parquet([src])), "warmup")
    if not every_kind:
        return
    warm_reads(b, io, parquet([src]), m)
    # land the merge on a checkpoint version, so checkpoint layers report
    table = io.table_for(context())
    while table.version() < tablelog.CHECKPOINT_INTERVAL - 1:
        commit_properties(b, table, table.version() + 1, "warmup")
    b.oracle.create_state("warmup_state", parquet([src]))
    warm_merge(b, "warmup", "warmup_state", rows, m, -1)


@dataclass
class Fixture:
    months: list[Month]
    base: object  # pyarrow.Table of version 0
    rel: str  # oracle relation of version 0
    io: DeltaSparkIOManager
    rewritten: list[tuple[int, date]]  # (version, day): prices +1 from then on
    head: int

    def bumps(self, version: int) -> dict[date, float]:
        return {d: 1.0 for v, d in self.rewritten if v <= version}


def fixture(b: Bench, versions: int, day_rewrites: int) -> Fixture:
    """FIXTURE_MONTHS of daily partitions written by one ``handle_output``
    over the whole range (Dagster's single-run backfill), then
    ``day_rewrites`` day re-materializations with revised prices among
    metadata commits until the log holds ``versions`` versions."""
    ms = gen.months(FIXTURE_FIRST, FIXTURE_MONTHS)
    base = gen.lineitem(b.rng, ms[0].start, ms[-1].end)
    src = gen.write(base, b.path("src", "base.parquet"))
    io = b.io("lake")
    b.materialize(io, ms[0].start, ms[-1].end, src, base.num_rows, "setup",
                  kind="materialize_all")
    first, n_days = ms[0].start, (ms[-1].end - ms[0].start).days
    days = [first + timedelta(days=int(i)) for i in
            b.rng.choice(n_days, day_rewrites, replace=False)]
    rewrite_at = set(np.linspace(1, versions - 1, day_rewrites, dtype=int).tolist())
    table = io.table_for(context())
    rewritten: list[tuple[int, date]] = []
    for step in range(1, versions):
        if step not in rewrite_at:
            commit_properties(b, table, step, "setup")
            continue
        day = days[len(rewritten)]
        nxt = day + timedelta(days=1)
        rows = gen.revise(gen.in_range(base, day, nxt), 1)
        path = gen.write(rows, b.path("src", f"day-{day}.parquet"))
        md = b.materialize(io, day, nxt, path, rows.num_rows, "setup",
                           kind="materialize_day")
        rewritten.append((md["table_version"], day))
    return Fixture(ms, base, parquet([src]), io, rewritten, table.version())


def _until(seconds: float):
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        yield


# -- workloads ------------------------------------------------------------------

def backfill(b: Bench, seconds: float) -> None:
    """Month windows materialized in seeded order (overwrite scoped by a
    ``TimeWindow``); some re-materialize a written month with revised
    prices.  Each write is read back once at its own version."""
    warm_up(b, every_kind=b.tracer is not None)
    ms = gen.months(BACKFILL_FIRST, BACKFILL_MONTHS)
    base = gen.lineitem(b.rng, ms[0].start, ms[-1].end)
    io = b.io("lake")
    order = [int(i) for i in b.rng.permutation(len(ms))]
    written: dict[int, tuple[str, int]] = {}  # month -> (source, revision)
    b.setup_end = time.perf_counter()
    for n, _ in enumerate(_until(seconds), start=1):
        if written and (not order or n % REMATERIALIZE_EVERY == 0):
            i = sorted(written)[int(b.rng.integers(len(written)))]
        else:
            i = order.pop(0)
        m = ms[i]
        rev = written[i][1] + 1 if i in written else 0
        rows = gen.revise(gen.in_range(base, m.start, m.end), rev)
        src = gen.write(rows, b.path("src", f"{m}-r{rev}.parquet"))
        written[i] = (src, rev)
        b.materialize(io, m.start, m.end, src, rows.num_rows, "timed")
        b.load(io, m.start, m.end, b.oracle.slice(parquet([src])), "timed")
        b.take_footprint(io)
    b.take_footprint(io, force=True)
    everything = b.oracle.slice(parquet([s for s, _ in written.values()]))
    b.load(io, None, None, everything, "verify", kind="verify_table")


def partition_reads(b: Bench, seconds: float) -> None:
    """A seeded mix of month DataFrame loads, day pandas loads and
    versioned month loads over a table whose log is longer than the
    snapshot cache.  Nothing is written while timing."""
    if b.tracer is not None:
        warm_up(b, every_kind=True)
    f = fixture(b, READ_FIXTURE_VERSIONS, READ_FIXTURE_DAY_REWRITES)
    for m in f.months[:WARMUP_ROUNDS]:
        warm_reads(b, f.io, f.rel, m, f.bumps(f.head))
    first, last = f.months[0].start, f.months[-1].end
    days = [first + timedelta(days=d) for d in range((last - first).days)]
    b.setup_end = time.perf_counter()
    for n, _ in enumerate(_until(seconds)):
        kind = READ_CYCLE[n % len(READ_CYCLE)]
        if kind == "load_pandas":
            day = days[int(b.rng.integers(len(days)))]
            nxt = day + timedelta(days=1)
            b.load_pandas(f.io, day, b.oracle.slice(f.rel, day, nxt, f.bumps(f.head)),
                          "timed")
            continue
        m = f.months[int(b.rng.integers(len(f.months)))]
        version = int(b.rng.integers(f.head + 1)) if kind == "load_versioned" else None
        want = b.oracle.slice(f.rel, m.start, m.end,
                              f.bumps(f.head if version is None else version))
        b.load(f.io, m.start, m.end, want, "timed", kind=kind, version=version)
    b.take_footprint(f.io, force=True)


def merge_upsert(b: Bench, seconds: float) -> None:
    """Month-scoped CDC upserts (about 10 % of the month's rows updated,
    2 % new) into a four-month table, months skewed toward recent ones;
    each merge is followed by a checked load of that month."""
    f = fixture(b, MERGE_FIXTURE_VERSIONS, 0)
    ms, io = f.months, f.io
    b.oracle.create_state("state", f.rel)
    for r in range(MERGE_WARMUPS):
        warm_merge(b, "lake", "state", f.base, ms[-1 - r], -1 - r)
    merger = _merger(b, "lake")
    b.setup_end = time.perf_counter()
    for batch_no, _ in enumerate(_until(seconds), start=1):
        m = ms[gen.skewed_month(b.rng, len(ms))]
        batch = gen.cdc_batch(b.rng, gen.in_range(f.base, m.start, m.end), m, batch_no)
        path = gen.write(batch, b.path("src", f"cdc-{batch_no}.parquet"))
        b.merge(merger, m, path, batch.num_rows, "timed")
        b.oracle.upsert("state", path)
        b.load(io, m.start, m.end, b.oracle.slice("state", m.start, m.end), "timed")
        b.take_footprint(io)
    b.take_footprint(io, force=True)


WORKLOADS = {
    "backfill": backfill,
    "partition_reads": partition_reads,
    "merge_upsert": merge_upsert,
}
