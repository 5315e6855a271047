"""Round-6 table-layer hardening: decimal stats, partition guards,
concurrency conflict detection, zorder input validation (findings from
the core-file review)."""

import pytest

from dagster_delta_spark import (
    DeltaSparkTable,
    MergeConfig,
    MergeType,
    SchemaMode,
    WriteMode,
)
from dagster_delta_spark.tablelog import (
    ConcurrentAppendError,
    VersionConflictError,
)


def test_decimal_column_write_and_stats(spark, tmp_path):
    """A DECIMAL column must commit (footer stats are decimal.Decimal,
    previously unserializable by the log's json.dumps), round-trip
    values exactly, and still participate in stats pruning."""
    df = spark.sql(
        "SELECT id AS k, CAST(id * 1.5 AS DECIMAL(30,10)) AS amount "
        "FROM range(100)"
    )
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(df.repartition(4), WriteMode.overwrite)
    got = sorted((r["k"], float(r["amount"])) for r in t.read().collect())
    assert got == [(i, i * 1.5) for i in range(100)]
    # stats landed and are string-rendered (JSON-safe)
    stats = [a.stats for a in t.snapshot().files]
    assert all("amount" in s["minValues"] for s in stats)
    assert all(isinstance(s["minValues"]["amount"], str) for s in stats)
    # merge keyed on the decimal column exercises stats coercion
    src = spark.sql(
        "SELECT CAST(id * 1.5 AS DECIMAL(30,10)) AS amount, "
        "id + 1000 AS k FROM range(5)"
    )
    t.merge(src, MergeConfig(MergeType.deduplicate_insert,
                             predicate="s.amount = t.amount"))
    assert t.read().count() == 100  # all matched -> no inserts


def test_merge_rejects_non_partition_dnf(spark, tmp_path):
    """merge(partition_dnf=...) with a non-partition column must raise
    like write() does — stats matching is a pruning heuristic, and M4
    would otherwise delete out-of-scope rows."""
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "k long, p long, v double"
    )
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(df, WriteMode.overwrite, partition_columns=["p"])
    with pytest.raises(ValueError, match="non-partition"):
        t.merge(
            df.limit(5),
            MergeConfig(MergeType.replace_delete_unmatched,
                        predicate="s.k = t.k"),
            partition_dnf=[("v", ">=", 5.0)],
        )


def test_append_cannot_change_partitioning(spark, tmp_path):
    """Appending with different partition_columns must raise instead of
    silently replacing Metadata.partition_columns (which would make
    pruned reads drop every pre-existing file); a full unscoped
    overwrite MAY repartition."""
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "k long, p long"
    )
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(df, WriteMode.overwrite, partition_columns=["p"])
    with pytest.raises(ValueError, match="partition_columns"):
        t.write(df, WriteMode.append, partition_columns=["k"])
    # matching columns append fine
    t.write(df, WriteMode.append, partition_columns=["p"])
    assert t.read().count() == 60
    # full overwrite may legally repartition (all old files removed)
    t.write(df, WriteMode.overwrite, partition_columns=["k"])
    assert list(t.snapshot().partition_columns) == ["k"]
    assert t.read().count() == 30


def test_write_retry_preserves_concurrent_schema_evolution(
    spark, tmp_path, monkeypatch
):
    """A writer that loses the commit race to a concurrent schema
    evolution must re-merge the fresh table schema on retry — not
    commit its stale schema and silently drop the new column."""
    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "x")], "k long, a string")
    DeltaSparkTable(spark, uri).write(base, WriteMode.error)

    evolver = DeltaSparkTable(spark, uri)
    evolved = spark.createDataFrame([(2, "y", 9.0)],
                                    "k long, a string, b double")
    real = tablelog.commit
    calls = {"n": 0}

    def racing(uri_, version, actions, snapshot):
        calls["n"] += 1
        if calls["n"] == 1:
            evolver.write(evolved, WriteMode.append,
                          schema_mode=SchemaMode.append)
            raise VersionConflictError("injected race")
        return real(uri_, version, actions, snapshot)

    monkeypatch.setattr(tablelog, "commit", racing)
    DeltaSparkTable(spark, uri).write(base, WriteMode.append)
    monkeypatch.setattr(tablelog, "commit", real)

    t = DeltaSparkTable(spark, uri)
    names = [f.name for f in t.schema().fields]
    assert names == ["k", "a", "b"], names
    rows = {(r["k"], r["a"]): r["b"] for r in t.read().collect()}
    assert rows[(2, "y")] == 9.0  # evolver's data readable with its column


def test_merge_conflicts_with_overlapping_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """A concurrent append whose key range overlaps the merge source
    must raise ConcurrentAppendError (lost update / duplicate-key
    insert otherwise); a DISJOINT concurrent append must not block."""
    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(10)],
                               "k long, v double")
    DeltaSparkTable(spark, uri).write(df, WriteMode.error)
    src = spark.createDataFrame([(3, 99.0), (11, 11.0)], "k long, v double")

    real = tablelog.commit

    def inject(overlap_keys):
        calls = {"n": 0}

        def racing(uri_, version, actions, snapshot):
            calls["n"] += 1
            if calls["n"] == 1:
                DeltaSparkTable(spark, uri).write(
                    spark.createDataFrame(
                        [(k, float(k)) for k in overlap_keys],
                        "k long, v double"),
                    WriteMode.append)
                raise VersionConflictError("injected race")
            return real(uri_, version, actions, snapshot)

        return racing

    # overlapping keys (3 is in the source range 3..11) -> conflict
    monkeypatch.setattr(tablelog, "commit", inject([3]))
    with pytest.raises(ConcurrentAppendError):
        DeltaSparkTable(spark, uri).merge(
            src, MergeConfig(MergeType.upsert, predicate="s.k = t.k"))
    monkeypatch.setattr(tablelog, "commit", real)
    n_after = DeltaSparkTable(spark, uri).read().count()  # 10 + racer's 1

    # disjoint keys (100..101, outside 3..11) -> merge proceeds
    monkeypatch.setattr(tablelog, "commit", inject([100, 101]))
    out = DeltaSparkTable(spark, uri).merge(
        src, MergeConfig(MergeType.upsert, predicate="s.k = t.k"))
    monkeypatch.setattr(tablelog, "commit", real)
    assert out["version"] >= 2
    t = DeltaSparkTable(spark, uri)
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows[3] == 99.0 and rows[11] == 11.0
    assert rows[100] == 100.0  # racer's disjoint rows survived
    assert t.read().count() == n_after + 2 + 1  # +racer 2, +insert k=11


def test_create_or_replace_retries_on_conflict(spark, tmp_path, monkeypatch):
    """create_or_replace rebase-and-retries like every other commit
    path instead of surfacing VersionConflictError."""
    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "k long")
    DeltaSparkTable(spark, uri).write(df, WriteMode.error)

    real = tablelog.commit
    calls = {"n": 0}

    def racing(uri_, version, actions, snapshot):
        calls["n"] += 1
        if calls["n"] == 1:
            DeltaSparkTable(spark, uri).write(df, WriteMode.append)
            raise VersionConflictError("injected race")
        return real(uri_, version, actions, snapshot)

    monkeypatch.setattr(tablelog, "commit", racing)
    out = DeltaSparkTable(spark, uri).write(
        spark.createDataFrame([(1, "s")], "k long, s string"),
        WriteMode.create_or_replace)
    monkeypatch.setattr(tablelog, "commit", real)
    t = DeltaSparkTable(spark, uri)
    assert out["version"] == 2  # racer took v1
    assert t.read().count() == 0
    assert [f.name for f in t.schema().fields] == ["k", "s"]


def test_zorder_validates_columns_and_clamps_bits(spark, tmp_path):
    """zorder rejects unknown/non-numeric columns up front, and with 4+
    columns the interleave positions stay inside a signed 64-bit long
    (default bits=16 x 4 columns would previously hit the sign bit)."""
    df = spark.createDataFrame(
        [(i, i * 2, i % 7, float(i), f"n{i}") for i in range(2000)],
        "a long, b long, c long, d double, name string",
    )
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(df.repartition(8), WriteMode.overwrite)
    with pytest.raises(ValueError, match="unknown column"):
        t.zorder(["a", "nope"])
    with pytest.raises(ValueError, match="non-numeric"):
        t.zorder(["a", "name"])
    out = t.zorder(["a", "b", "c", "d"], num_files=8)  # bits clamp to 15
    assert out["rewritten_files"] >= 0
    got = sorted(r["a"] for r in t.read().collect())
    assert got == sorted(range(2000))  # contents intact
    # leading curve bucket ordering survives: file min/max on 'a' should
    # be narrow relative to the full range for at least one file
    spans = [
        float(f.stats["maxValues"]["a"]) - float(f.stats["minValues"]["a"])
        for f in t.snapshot().files
        if "a" in f.stats.get("minValues", {})
    ]
    assert spans and min(spans) < 1999


def test_table_id_stable_across_commits(spark, tmp_path):
    """Every metaData action in the log carries the SAME table id and
    created_time (previously to_action() generated a fresh uuid per
    commit, so nothing could use the id as table identity)."""
    import json

    from dagster_delta_spark.tablelog import read_version_actions

    uri = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "k long")
    t = DeltaSparkTable(spark, uri)
    t.write(df, WriteMode.error)
    t.write(df, WriteMode.append)
    t.write(df, WriteMode.append)
    ids, created = set(), set()
    for v in range(3):
        for a in read_version_actions(uri, v):
            if "metaData" in a:
                ids.add(a["metaData"]["id"])
                created.add(a["metaData"]["createdTime"])
    assert len(ids) == 1 and "" not in ids, ids
    assert len(created) == 1, created
    assert t.describe_detail()["id"] in ids


def test_commit_tmp_files_invisible(spark, tmp_path):
    """In-flight commit tmp files (crash debris) neither count toward
    latest_version nor break reads."""
    import os

    from dagster_delta_spark.tablelog import latest_version

    uri = str(tmp_path / "t")
    t = DeltaSparkTable(spark, uri)
    t.write(spark.createDataFrame([(1,)], "k long"), WriteMode.error)
    debris = os.path.join(uri, "_spark_delta_log",
                          ".00000000000000000005.tmp-deadbeef")
    with open(debris, "w") as f:
        f.write('{"partial":')  # torn payload
    assert latest_version(uri) == 0
    assert t.read().count() == 1


def test_corrupt_checkpoint_falls_back_to_log_replay(spark, tmp_path):
    """A torn/zeroed checkpoint parquet must degrade to JSON-log replay,
    not make the table unreadable."""
    import glob
    import os

    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    t = DeltaSparkTable(spark, uri)
    df = spark.createDataFrame([(1,)], "k long")
    t.write(df, WriteMode.error)
    for _ in range(10):
        t.write(df, WriteMode.append)  # crosses CHECKPOINT_INTERVAL
    cps = glob.glob(os.path.join(uri, "_spark_delta_log",
                                 "*.checkpoint.parquet"))
    assert cps, "fixture must have checkpointed"
    for cp in cps:
        open(cp, "w").close()  # truncate to zero bytes
    tablelog._SNAPSHOT_CACHE.clear()
    assert t.read().count() == 11  # full replay still works


def test_checkpoint_failure_does_not_fail_commit(spark, tmp_path, monkeypatch):
    """A checkpoint exception after the version file is published must
    not surface as a failed write (the caller would retry a committed
    version and duplicate rows)."""
    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    t = DeltaSparkTable(spark, uri)
    df = spark.createDataFrame([(1,)], "k long")
    t.write(df, WriteMode.error)
    for _ in range(8):
        t.write(df, WriteMode.append)

    def boom(*a, **k):
        raise RuntimeError("disk full")

    monkeypatch.setattr(tablelog, "write_checkpoint", boom)
    out = t.write(df, WriteMode.append)  # version 9... next is interval 10
    out = t.write(df, WriteMode.append)  # version 10 -> checkpoint fires
    monkeypatch.undo()
    assert out["version"] == 10
    assert t.read().count() == 11


def test_time_travel_uses_older_checkpoint(spark, tmp_path, monkeypatch):
    """Time travel below the newest checkpoint starts from the best
    on-disk checkpoint <= target instead of replaying from version 0."""
    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    t = DeltaSparkTable(spark, uri)
    df = spark.createDataFrame([(1,)], "k long")
    for i in range(25):
        t.write(df, WriteMode.append if i else WriteMode.error)
    tablelog._SNAPSHOT_CACHE.clear()

    read_versions = []
    real = tablelog.read_version_actions

    def spying(uri_, version):
        read_versions.append(version)
        return real(uri_, version)

    monkeypatch.setattr(tablelog, "read_version_actions", spying)
    # use load_snapshot directly (t.read() wraps it)
    snap = tablelog.load_snapshot(uri, 15)
    monkeypatch.undo()
    assert len(snap.files) == 16
    assert read_versions and min(read_versions) == 11, read_versions


def test_merge_tolerates_concurrent_compaction(spark, tmp_path, monkeypatch):
    """A concurrent optimize() (dataChange=false analogue) re-adds
    existing rows under new paths whose stats overlap everything — the
    merge must NOT raise ConcurrentAppendError for that no-op
    interleaving (Delta exempts compaction commits the same way)."""
    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(50)],
                               "k long, v double")
    DeltaSparkTable(spark, uri).write(df.repartition(4), WriteMode.error)
    # dedup_insert removes no files, so the only conflict signal is the
    # compaction's re-added files — whose stats cover the source range
    src = spark.createDataFrame([(3, 99.0), (100, 100.0)],
                                "k long, v double")

    real = tablelog.commit
    calls = {"n": 0}

    def racing(uri_, version, actions, snapshot):
        calls["n"] += 1
        if calls["n"] == 1:
            DeltaSparkTable(spark, uri).optimize(
                target_file_size=1 << 30)  # compacts 4 files into 1
            raise VersionConflictError("injected race")
        return real(uri_, version, actions, snapshot)

    monkeypatch.setattr(tablelog, "commit", racing)
    out = DeltaSparkTable(spark, uri).merge(
        src, MergeConfig(MergeType.deduplicate_insert,
                         predicate="s.k = t.k"))
    monkeypatch.setattr(tablelog, "commit", real)
    assert out["version"] >= 2
    rows = {r["k"]: r["v"] for r in DeltaSparkTable(spark, uri)
            .read().collect()}
    assert rows[3] == 3.0 and rows[100] == 100.0 and len(rows) == 51


def test_storage_confs_scoped_per_bucket(spark, tmp_path):
    """An s3a root_uri scopes credentials to its bucket in the live
    Hadoop configuration, so two managers with different credentials
    on one SparkSession cannot clobber each other."""
    from dagster_delta_spark.config import S3Config
    from dagster_delta_spark.io_manager import DeltaSparkIOManager

    DeltaSparkIOManager(
        spark, "s3a://bucket-a/root",
        storage_config=S3Config(access_key_id="KEY_A"))
    DeltaSparkIOManager(
        spark, "s3a://bucket-b/root",
        storage_config=S3Config(access_key_id="KEY_B"))
    h = spark.sparkContext._jsc.hadoopConfiguration()
    assert h.get("fs.s3a.bucket.bucket-a.access.key") == "KEY_A"
    assert h.get("fs.s3a.bucket.bucket-b.access.key") == "KEY_B"


def test_rename_retry_preserves_concurrent_schema_evolution(
    spark, tmp_path, monkeypatch
):
    """A metadata commit (RENAME COLUMN) that loses the race to a
    schema-evolving append must rebuild against the fresh snapshot on
    retry — committing its stale metadata would vanish the new column
    while its files stay live."""
    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    DeltaSparkTable(spark, uri).write(
        spark.createDataFrame([(1, "x")], "k long, a string"),
        WriteMode.error)
    evolver = DeltaSparkTable(spark, uri)
    real = tablelog.commit
    state = {"armed": True}

    def racing(uri_, version, actions, snapshot):
        op = actions[0].get("commitInfo", {}).get("operation", "")
        if op == "RENAME COLUMN" and state["armed"]:
            state["armed"] = False
            evolver.write(
                spark.createDataFrame([(2, "y", 9.0)],
                                      "k long, a string, b double"),
                WriteMode.append, schema_mode=SchemaMode.append)
            raise VersionConflictError("injected race")
        return real(uri_, version, actions, snapshot)

    monkeypatch.setattr(tablelog, "commit", racing)
    DeltaSparkTable(spark, uri).rename_column("a", "aa")
    monkeypatch.setattr(tablelog, "commit", real)
    t = DeltaSparkTable(spark, uri)
    assert [f.name for f in t.schema().fields] == ["k", "aa", "b"]
    rows = {(r["k"], r["aa"]): r["b"] for r in t.read().collect()}
    assert rows[(2, "y")] == 9.0  # evolved column survived the retry


def test_write_retry_refuses_concurrent_drop_of_staged_column(
    spark, tmp_path, monkeypatch
):
    """A DROP COLUMN racing a write reserves the staged column's
    physical name; committing anyway would resurrect the dropped data
    under the re-added logical — the retry must refuse loudly."""
    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    DeltaSparkTable(spark, uri).write(
        spark.createDataFrame([(1, 10)], "k long, v long"),
        WriteMode.error)
    real = tablelog.commit
    state = {"armed": True}

    def racing(uri_, version, actions, snapshot):
        op = actions[0].get("commitInfo", {}).get("operation", "")
        if op.startswith("WRITE append") and state["armed"]:
            state["armed"] = False
            DeltaSparkTable(spark, uri).drop_column("v")
            raise VersionConflictError("injected race")
        return real(uri_, version, actions, snapshot)

    monkeypatch.setattr(tablelog, "commit", racing)
    with pytest.raises(ConcurrentAppendError, match="reserved"):
        DeltaSparkTable(spark, uri).write(
            spark.createDataFrame([(2, 20)], "k long, v long"),
            WriteMode.append)
    monkeypatch.setattr(tablelog, "commit", real)
    # the drop won; v is gone and nothing resurrected it
    t = DeltaSparkTable(spark, uri)
    assert [f.name for f in t.schema().fields] == ["k"]


def test_lost_race_commit_time_matches_cached_snapshot(
    spark, tmp_path, monkeypatch
):
    """A merge that loses one race stamps a single time on its
    commitInfo and on the snapshot it caches: lastModified must not
    depend on whether the snapshot is cached, and must not predate the
    rival commit it rebased over."""
    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    DeltaSparkTable(spark, uri).write(
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "k long, v double"),
        WriteMode.error)
    real = tablelog.commit
    calls = {"n": 0}

    def racing(uri_, version, actions, snapshot):
        calls["n"] += 1
        if calls["n"] == 1:
            DeltaSparkTable(spark, uri).write(
                spark.createDataFrame([(100, 1.0)], "k long, v double"),
                WriteMode.append)
            raise VersionConflictError("injected race")
        return real(uri_, version, actions, snapshot)

    monkeypatch.setattr(tablelog, "commit", racing)
    out = DeltaSparkTable(spark, uri).merge(
        spark.createDataFrame([(3, 99.0)], "k long, v double"),
        MergeConfig(MergeType.upsert, predicate="s.k = t.k"))
    monkeypatch.setattr(tablelog, "commit", real)
    assert out["version"] == 2  # the rival append took v1
    t = DeltaSparkTable(spark, uri)
    merge_info, rival_info = t.history(2)
    assert t.describe_detail()["lastModified"] == merge_info["timestamp"]
    tablelog._SNAPSHOT_CACHE.clear()
    assert t.describe_detail()["lastModified"] == merge_info["timestamp"]
    assert merge_info["timestamp"] >= rival_info["timestamp"]


def test_idempotent_append_skips_batch_a_rival_committed(
    spark, tmp_path, monkeypatch
):
    """A rival worker committing the same (app_id, batch_version)
    between staging and commit turns this worker's commit into a
    skip: the batch lands exactly once."""
    from dagster_delta_spark import tablelog

    uri = str(tmp_path / "t")
    t = DeltaSparkTable(spark, uri)
    t.idempotent_append(spark.createDataFrame([(0,)], "k long"), "app", 0)
    batch = spark.createDataFrame([(1,), (2,)], "k long")
    real = tablelog.commit
    calls = {"n": 0}

    def racing(uri_, version, actions, snapshot):
        calls["n"] += 1
        if calls["n"] == 1:
            DeltaSparkTable(spark, uri).idempotent_append(batch, "app", 1)
        return real(uri_, version, actions, snapshot)

    monkeypatch.setattr(tablelog, "commit", racing)
    out = t.idempotent_append(batch, "app", 1)
    monkeypatch.setattr(tablelog, "commit", real)
    assert out["skipped"] is True and out["num_output_rows"] == 0
    assert out["version"] == 1  # the rival's commit
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2]


def test_table_has_one_commit_retry_loop():
    """Every DeltaSparkTable commit path goes through one optimistic
    commit loop (``DeltaSparkTable._commit``); a second retry site
    would be a hand-written loop free to drift from it.  The tuple
    catch that swallows a lost auto-compaction race does not count."""
    import re

    from dagster_delta_spark import table

    with open(table.__file__, encoding="utf-8") as f:
        src = f.read()
    assert len(re.findall(r"except\s+VersionConflictError\b", src)) == 1
