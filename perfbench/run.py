"""Asset-lifecycle benchmark for dagster_delta_spark.

Drives the public ``DeltaSparkIOManager.handle_output`` / ``load_input``
the way a Dagster pipeline does (backfills, partition reads, scoped
upserts) on ``local[$SPARK_GRAFT_CPUS or nproc]`` with one closed-loop
client, checks every answer against a DuckDB oracle, and prints one JSON
line last::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (spans recorded around the engine's public functions).  Everything a
run writes lives under ``.perfbench_tmp/`` in the checkout and is deleted
at exit; a traced run also leaves its spans in ``.perfbench_out/``.
See ``perfbench/README.md`` for what each workload and metric is for.
"""

from __future__ import annotations

import time

START = time.perf_counter()  # set-up time counts from interpreter start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

sys.dont_write_bytecode = True
ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("backfill", "partition_reads", "merge_upsert")
TAIL_BEYOND = 10  # the tail is the highest percentile with this many samples above it

LAYERS = [  # (metric, span, field) — see trace.layer_metrics
    ("io_manager.handle_output.self_s", "io_manager.handle_output", "self"),
    ("io_manager.load_input.self_s", "io_manager.load_input", "self"),
    ("plans.partition_dimensions_to_dnf.s", "plans.partition_dimensions_to_dnf", "total"),
    ("handler.from_spark.s", "handler.from_spark", "total"),
    ("table.write.self_s", "table.write", "self"),
    ("table.partition_stats.s", "table.partition_stats", "total"),
    ("table.merge.self_s", "table.merge", "self"),
    ("table.read.s", "table.read", "total"),
    ("table.pruned_files.s", "table.pruned_files", "total"),
    ("tablelog.load_snapshot.s", "tablelog.load_snapshot", "total"),
    ("tablelog.read_version_actions.calls", "tablelog.read_version_actions", "calls"),
    ("tablelog.latest_version.s", "tablelog.latest_version", "total"),
    ("tablelog.latest_version.calls", "tablelog.latest_version", "calls"),
    ("tablelog.commit.s", "tablelog.commit", "total"),
    ("tablelog.write_checkpoint.s", "tablelog.write_checkpoint", "total"),
    ("tablelog.write_checkpoint.calls", "tablelog.write_checkpoint", "calls"),
    ("spark.write_parquet.s", "spark.write_parquet", "total"),
    ("spark.action.s", "spark.action", "total"),
]


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user .. steal)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with TAIL_BEYOND
    samples above it, or None when that percentile would be below the
    median (fewer than 2 * TAIL_BEYOND samples)."""
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return None
    return sorted(xs)[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def start_spark(tmp: Path, cpus: int):
    from pyspark.sql import SparkSession

    java = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Duser.timezone=UTC"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]").appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", java)
        .config("spark.local.dir", str(tmp / "spark-local"))
        .config("spark.sql.warehouse.dir", str(tmp / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(b, workload: str, setup_s: float, rss_mb: float) -> tuple[dict, list[str]]:
    from perfbench.workloads import PRIMARY

    timed = [o for o in b.ops if o.phase == "timed"]
    # a traced run times its traced half separately (trace.overhead_s)
    untraced = [o for o in timed if not o.traced]
    primary = [o for o in untraced if o.kind in PRIMARY[workload]]
    loads = [o for o in untraced if o.kind == "load"]
    attempted = len(b.ops)
    failed = sum(not o.ok for o in b.ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(o.seconds for o in primary), "s"),
        "load_p50_s": (statistics.median(o.seconds for o in loads), "s"),
        "ops_ok_ratio": ((attempted - failed) / attempted, "ratio"),
        "stored_bytes_per_live_byte": (b.footprint["stored_bytes_per_live_byte"], "ratio"),
        "live_files_per_partition": (b.footprint["live_files_per_partition"], "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    report = []
    for kind in sorted({o.kind for o in untraced}):
        xs = [o.seconds for o in untraced if o.kind == kind]
        t = tail(xs)
        t_txt = (f"{kind}_tail_s = {t[0]:.4f} s (p{t[1]:.1f} of n={len(xs)})" if t
                 else f"{kind}_tail_s = n/a (n={len(xs)}, needs {2 * TAIL_BEYOND})")
        rows = sum(o.rows for o in untraced if o.kind == kind)
        report += [f"{kind}_p50_s = {statistics.median(xs):.4f} s (n={len(xs)})", t_txt,
                   f"{kind}_rows_per_s = {rows / sum(xs):.1f} rows/s"]
    report.append(f"op_max_s = {max(o.seconds for o in primary):.4f} s")
    report.append(f"rows_per_s = {sum(o.rows for o in primary) / sum(o.seconds for o in primary):.1f}"
                  " rows/s")
    report.append(f"ops_failed_ratio = {failed / attempted:.4f} ratio "
                  f"({failed} of {attempted})")
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, report


def per_layer(b, workload: str, tracer) -> dict:
    from perfbench import lake
    from perfbench.trace import layer_metrics, noted
    from perfbench.workloads import PRIMARY

    out = layer_metrics(tracer, LAYERS)
    units = {m: ("count" if m.endswith(".calls") else "s") for m, _, _ in LAYERS}
    ratio = b.merge_ratio["timed"] or b.merge_ratio["setup"]
    out["table.merge.rows_rewritten_per_source_row"] = statistics.median(ratio)
    out["table.pruned_files.precision"] = noted(tracer, "table.pruned_files.precision")
    out["tablelog.commit.conflicts"] = noted(tracer, "tablelog.commit.conflicts", mean=False)
    units.update({"table.merge.rows_rewritten_per_source_row": "ratio",
                  "table.pruned_files.precision": "ratio",
                  "tablelog.commit.conflicts": "count"})
    for suffix, kinds in (("op", PRIMARY[workload]), ("load", ("load",))):
        work = [w for k in kinds for w in b.jobs.get(k, [])]
        out[f"spark.jobs_per_{suffix}"] = sum(j for j, _ in work) / len(work)
        out[f"spark.tasks_per_{suffix}"] = sum(t for _, t in work) / len(work)
        units[f"spark.jobs_per_{suffix}"] = units[f"spark.tasks_per_{suffix}"] = "count"
    replay = lake.replay(b.table_dir(b.io("lake")))
    storage = lake.per_commit(replay, b.versions["timed"] or b.versions["setup"])
    out.update(storage)
    units.update({k: "count" for k in storage})
    traced = b.primary_p50(PRIMARY[workload], traced=True)
    plain = b.primary_p50(PRIMARY[workload], traced=False)
    out["trace.overhead_s"] = traced - plain
    units["trace.overhead_s"] = "s"
    return {k: {"value": v, "unit": units[k]} for k, v in out.items()}


def main(argv: list[str]) -> int:
    start_ticks = cpu_ticks()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not (ROOT / "dagster_delta_spark" / "__init__.py").is_file():
        print(f"dagster_delta_spark not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2

    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    tmp.mkdir(parents=True)
    os.environ.update({"TZ": "UTC", "TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(tmp / "spark-local"),
                       "PYSPARK_PYTHON": sys.executable, "PYTHONDONTWRITEBYTECODE": "1"})
    time.tzset()
    tempfile.tempdir = str(tmp)
    sys.path.insert(0, str(ROOT))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

    spark = None
    try:
        spark = start_spark(tmp, cpus)
        print(f"session_start_s = {time.perf_counter() - START:.3f}", file=sys.stderr)
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS as RUNNERS, Bench

        tracer = Tracer() if args.trace else None
        if tracer is not None:
            tracer.install()
        b = Bench(spark, str(tmp), args.seed, tracer)
        try:
            RUNNERS[args.workload](b, args.seconds)
        finally:
            if tracer is not None:
                tracer.uninstall()
            b.oracle.close()
        setup_s = b.setup_end - START
        e2e, report = end_to_end(b, args.workload, setup_s, peak_rss_mb(spark))
        if tracer is not None:
            metrics = per_layer(b, args.workload, tracer)
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            tracer.dump(str(out_dir / f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = e2e
    finally:
        stopping = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        print(f"teardown_s = {time.perf_counter() - stopping:.3f}", file=sys.stderr)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass  # another run still uses it

    for o in b.ops:  # the op trail, for diagnosis
        print(f"op {o.phase:6s} {o.kind:16s} {o.seconds:8.4f}s rows={o.rows}"
              f"{'' if o.ok else ' FAILED'}", file=sys.stderr)
    print(f"setup_end_s = {setup_s:.3f}", file=sys.stderr)
    print(f"wall_s = {time.perf_counter() - START:.3f}", file=sys.stderr)
    ticks = [now - then for then, now in zip(start_ticks, cpu_ticks())]
    # steal: time this VM's CPUs waited for the host, a sign of noisy neighbours
    print(f"host_steal_share = {ticks[7] / sum(ticks):.3f}", file=sys.stderr)
    for line in report:
        print(line)
    for name, m in e2e.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    failed = sum(not o.ok for o in b.ops)
    print(json.dumps({"correct": failed == 0, "attempted": len(b.ops),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
