"""Snapshot-versioned parquet tables (Iceberg semantics on the fallback):
append/overwrite commits, time travel, rollback, compaction, expiration,
manifest stats + file skipping, copy-on-write MERGE/DELETE, incremental
reads, schema evolution."""

from __future__ import annotations

import datetime
import os
import time

import pytest
from pyspark.sql import functions as F

from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
    SnapshotError,
    SnapshotTable,
)


@pytest.fixture
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "events_snap"))


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_append_commits_are_time_travelable(spark, table):
    v1 = table.append(spark.range(0, 3))
    v2 = table.append(spark.range(3, 5))
    v3 = table.append(spark.range(5, 6))
    assert (v1, v2, v3) == (1, 2, 3)
    assert _ids(table.read()) == [0, 1, 2, 3, 4, 5]
    assert _ids(table.read(version=v1)) == [0, 1, 2]
    assert _ids(table.read(version=v2)) == [0, 1, 2, 3, 4]


def test_overwrite_preserves_old_versions(spark, table):
    v1 = table.append(spark.range(0, 4))
    v2 = table.overwrite(spark.range(100, 102))
    assert _ids(table.read()) == [100, 101]
    assert _ids(table.read(version=v1)) == [0, 1, 2, 3]
    hist = {r["version"]: r["op"] for r in table.history().collect()}
    assert hist == {v1: "append", v2: "overwrite"}


def test_rollback_commits_new_snapshot(spark, table):
    v1 = table.append(spark.range(0, 3))
    table.overwrite(spark.range(50, 51))  # the "bad" write
    v3 = table.rollback(v1)
    assert v3 == 3
    assert _ids(table.read()) == [0, 1, 2]
    # history is append-only: the bad version stays inspectable
    assert _ids(table.read(version=2)) == [50]


def test_compaction_rewrites_layout_not_data(spark, table):
    # streaming-shaped ingest: many tiny files per commit
    table.append(spark.range(0, 500).repartition(32))
    table.append(spark.range(500, 1000).repartition(32))
    pre = table.read()
    n_files_pre = len([f for f in pre.inputFiles()])
    v = table.compact(target_file_bytes=64 * 1024 * 1024)
    post = table.read()
    n_files_post = len([f for f in post.inputFiles()])
    assert _ids(post) == list(range(1000))  # byte-equivalent data
    assert n_files_post < n_files_pre  # layout actually compacted
    assert n_files_post <= 4
    assert table.current_version() == v
    # pre-compaction version still readable (compaction is roll-back-able)
    assert _ids(table.read(version=2)) == list(range(1000))


def test_expire_snapshots_reclaims_unreferenced_files(spark, table):
    table.append(spark.range(0, 3))
    table.overwrite(spark.range(10, 13))
    table.overwrite(spark.range(20, 23))
    expired = table.expire_snapshots(keep_last=2)
    assert expired == [1]
    # v1's dir is referenced by no live snapshot -> deleted from disk
    assert not os.path.isdir(os.path.join(table.root, "data", "s1"))
    with pytest.raises(SnapshotError, match="expired"):
        table.read(version=1)
    assert _ids(table.read()) == [20, 21, 22]
    assert _ids(table.read(version=2)) == [10, 11, 12]


def test_expire_keeps_dirs_shared_with_live_appends(spark, table):
    """Append lineage: v1's data dir is also part of v2/v3's view — expiring
    v1 must NOT delete the shared dir."""
    table.append(spark.range(0, 3))
    table.append(spark.range(3, 6))
    table.append(spark.range(6, 9))
    v1_dir = table._snapshot(1)["dirs"][0]
    expired = table.expire_snapshots(keep_last=2)
    assert expired == [1]
    assert os.path.isdir(v1_dir)
    assert _ids(table.read()) == list(range(9))


def test_read_as_of_timestamp(spark, table):
    table.append(spark.range(0, 2))
    log = table._log()
    t_after_v1 = log[-1]["ts"]
    table.append(spark.range(2, 4))
    assert _ids(table.read_as_of(t_after_v1)) == [0, 1]
    with pytest.raises(SnapshotError):
        table.read_as_of(t_after_v1 - 1000)


def test_missing_table_and_version_errors(spark, table):
    with pytest.raises(SnapshotError, match="no snapshots"):
        table.read()
    table.append(spark.range(0, 1))
    with pytest.raises(SnapshotError, match="no snapshot 99"):
        table.read(version=99)


def test_append_batch_is_replay_idempotent(spark, table):
    v1 = table.append_batch(spark.range(0, 3), batch_id=0)
    assert v1 == 1
    # foreachBatch replay after restart: same batch_id must be a no-op
    assert table.append_batch(spark.range(0, 3), batch_id=0) is None
    assert _ids(table.read()) == [0, 1, 2]
    v2 = table.append_batch(spark.range(3, 5), batch_id=1)
    assert v2 == 2 and _ids(table.read()) == [0, 1, 2, 3, 4]


def test_append_batch_recovers_orphan_data_dir(spark, table):
    """Crash window: data dir written but commit never happened. The replay
    must rewrite the orphan instead of failing on mode=errorifexists."""
    table.append_batch(spark.range(0, 2), batch_id=0)
    # simulate the crashed half-commit for the NEXT version
    orphan = os.path.join(table.root, "data", "s2")
    spark.range(90, 95).write.parquet(orphan)
    v = table.append_batch(spark.range(2, 4), batch_id=1)
    assert v == 2
    assert _ids(table.read()) == [0, 1, 2, 3]


def test_streaming_snapshot_ingest_one_snapshot_per_batch(spark, tmp_path):
    """The reference's poll→read→enrich→snapshot-commit loop as one
    streaming query: every micro-batch is a time-travelable version, and a
    restart with new files appends new snapshots without duplicating old
    rows."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_snapshot_ingest,
    )
    from tests.test_streaming import _gps_record, _write_ndjson

    src = tmp_path / "in"
    src.mkdir()
    _write_ndjson(src / "f1.json", [_gps_record(ts="2024-01-01 10:00:00")] * 4)
    _write_ndjson(
        src / "f2.json",
        [_gps_record(vehicle_id="veh00002", ts="2024-01-01 10:01:00")] * 3,
    )
    root = str(tmp_path / "snap_table")
    ckpt = str(tmp_path / "ckpt")
    q = start_snapshot_ingest(
        spark, str(src), root, checkpoint_dir=ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)
    snap = SnapshotTable(spark, root)
    hist = snap.history().collect()
    assert len(hist) == 2  # one snapshot per micro-batch (1 file each)
    assert snap.read().count() == 7
    assert snap.read(version=1).count() in (3, 4)  # first batch only
    # restart with one new file: exactly-once, one more snapshot
    _write_ndjson(
        src / "f3.json",
        [_gps_record(vehicle_id="veh00003", ts="2024-01-01 10:02:00")],
    )
    q2 = start_snapshot_ingest(
        spark, str(src), root, checkpoint_dir=ckpt, max_files_per_trigger=1
    )
    q2.awaitTermination(120)
    assert snap.current_version() == 3
    assert snap.read().count() == 8
    df = snap.read()
    assert df.filter(df.vehicle_id == "veh00001").count() == 4  # no dupes


def test_streaming_snapshot_ingest_with_inline_compaction(spark, tmp_path):
    """compact_every=2 folds rewrite_data_files into the stream: after 2
    append commits the 3rd commit is a compaction with identical data."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_snapshot_ingest,
    )
    from tests.test_streaming import _gps_record, _write_ndjson

    src = tmp_path / "in"
    src.mkdir()
    for i in range(4):
        _write_ndjson(
            src / f"f{i}.json", [_gps_record(ts=f"2024-01-01 10:00:0{i}")] * 2
        )
    root = str(tmp_path / "snap_table")
    q = start_snapshot_ingest(
        spark,
        str(src),
        root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        compact_every=2,
    )
    q.awaitTermination(120)
    snap = SnapshotTable(spark, root)
    ops = [r["op"] for r in snap.history().collect()]
    assert "compact" in ops, ops
    assert snap.read().count() == 8


# -- manifests, file skipping, CoW, incremental, evolution -----------------


def _one_file_range(spark, lo, hi, val=None):
    """One data file covering ids [lo,hi) — deterministic file→key-range map."""
    df = spark.range(lo, hi).coalesce(1)
    return df.withColumn("val", F.lit(val)) if val is not None else df


def test_manifest_records_per_file_stats(spark, table):
    table.append(_one_file_range(spark, 0, 100))
    stats = table._load_stats()
    assert len(stats) == 1
    (entry,) = stats.values()
    assert entry["rows"] == 100
    assert entry["bytes"] > 0
    assert entry["stats"]["id"] == [0, 99]


def test_read_where_prunes_non_matching_files(spark, table):
    table.append(_one_file_range(spark, 0, 100))
    table.append(_one_file_range(spark, 100, 200))
    table.append(_one_file_range(spark, 200, 300))
    assert len(table.read().inputFiles()) == 3
    hit = table.read_where("id", 120, 130)
    # manifest pruning: only the file that can contain [120,130] is scanned
    assert len(hit.inputFiles()) == 1
    assert _ids(hit) == list(range(120, 131))
    # one-sided bounds
    assert len(table.read_where("id", lo=250).inputFiles()) == 1
    assert _ids(table.read_where("id", lo=250)) == list(range(250, 300))
    # fully pruned → empty frame, schema intact
    nothing = table.read_where("id", 1000, 2000)
    assert nothing.count() == 0 and nothing.columns == ["id"]


def test_read_where_temporal_bounds(spark, table):
    base = datetime.datetime(2024, 1, 1)
    for day in (0, 10, 20):
        df = spark.range(day, day + 5).select(
            F.col("id"),
            (F.lit(base) + F.make_interval(days=F.col("id"))).alias("ts"),
        ).coalesce(1)
        table.append(df)
    hit = table.read_where(
        "ts", datetime.datetime(2024, 1, 11), datetime.datetime(2024, 1, 14)
    )
    assert len(hit.inputFiles()) == 1
    assert _ids(hit) == [10, 11, 12, 13]


def test_merge_cow_rewrites_only_overlapping_files(spark, table):
    table.append(_one_file_range(spark, 0, 100, val="old"))
    table.append(_one_file_range(spark, 100, 200, val="old"))
    untouched_file = {
        f for f in table.read().inputFiles() if "/data/s2/" in f
    }
    source = spark.createDataFrame(
        [(5, "new"), (7, "new"), (300, "new")], "id long, val string"
    )
    v = table.merge(source, "id")
    cur = table.read()
    assert cur.count() == 201  # 200 originals - 2 updated + 2 updated + 1 insert
    got = {r["id"]: r["val"] for r in cur.filter(F.col("id").isin(5, 7, 300, 8, 150)).collect()}
    assert got == {5: "new", 7: "new", 300: "new", 8: "old", 150: "old"}
    # file 2 (ids 100-199, disjoint from source range... NOT: 300 > 199) —
    # source range is [5,300] which overlaps file 2, so BOTH files rewrite.
    # Narrow-source merge instead proves the carry-forward:
    v2 = table.merge(
        spark.createDataFrame([(3, "newer")], "id long, val string"), "id"
    )
    assert v2 == v + 1
    cur_files = set(table.read().inputFiles())
    # the s3 dir from the first merge covers [100,199] et al; everything not
    # containing id=3 must be carried forward by reference, not rewritten
    assert len(cur_files & set(table.read(version=v).inputFiles())) > 0
    assert table.read().filter("id = 3").first()["val"] == "newer"
    assert table.read().count() == 201
    # time travel still sees pre-merge state
    assert table.read(version=2).filter("id = 5").first()["val"] == "old"


def test_merge_carries_disjoint_files_untouched(spark, table):
    table.append(_one_file_range(spark, 0, 100, val="a"))
    table.append(_one_file_range(spark, 100, 200, val="a"))
    s1_files = {f for f in table.read().inputFiles() if "/data/s1/" in f}
    source = spark.createDataFrame([(150, "b")], "id long, val string")
    table.merge(source, "id")
    cur_files = set(table.read().inputFiles())
    # file 1 (ids 0-99) is provably disjoint from source range [150,150]:
    # carried forward by reference — same physical file, zero bytes moved
    assert s1_files <= cur_files
    assert table.read().count() == 200
    assert table.read().filter("id = 150").first()["val"] == "b"


def test_delete_where_cow(spark, table):
    table.append(_one_file_range(spark, 0, 100))
    table.append(_one_file_range(spark, 100, 200))
    s1_files = {f for f in table.read().inputFiles() if "/data/s1/" in f}
    table.delete_where("id", 150, 159)
    cur = table.read()
    assert cur.count() == 190
    assert cur.filter("id between 150 and 159").count() == 0
    # non-overlapping file carried by reference
    assert s1_files <= set(cur.inputFiles())
    # history intact
    assert table.read(version=2).count() == 200


def test_read_incremental_appends_only(spark, table):
    v1 = table.append(_one_file_range(spark, 0, 3))
    v2 = table.append(_one_file_range(spark, 3, 6))
    v3 = table.append(_one_file_range(spark, 6, 9))
    assert _ids(table.read_incremental(v1)) == [3, 4, 5, 6, 7, 8]
    assert _ids(table.read_incremental(v1, v2)) == [3, 4, 5]
    assert table.read_incremental(v3).count() == 0
    table.compact()
    with pytest.raises(SnapshotError, match="non-append"):
        table.read_incremental(v1)


def test_schema_evolution_add_column(spark, table):
    table.append(spark.range(0, 3))
    table.append(spark.range(3, 5).withColumn("score", F.lit(0.5)))
    evolved = table.read(merge_schema=True)
    assert set(evolved.columns) == {"id", "score"}
    rows = {r["id"]: r["score"] for r in evolved.collect()}
    assert rows[0] is None and rows[4] == 0.5


def test_files_metadata_table(spark, table):
    table.append(_one_file_range(spark, 0, 100))
    table.append(_one_file_range(spark, 100, 150))
    meta = {r["file_path"]: r for r in table.files().collect()}
    assert len(meta) == 2
    assert sorted(r["row_count"] for r in meta.values()) == [50, 100]
    assert all(r["file_bytes"] > 0 for r in meta.values())


def test_expire_preserves_cow_carried_files(spark, table):
    table.append(_one_file_range(spark, 0, 100, val="a"))     # v1 → s1
    table.append(_one_file_range(spark, 100, 200, val="a"))   # v2 → s2
    table.merge(
        spark.createDataFrame([(5, "b")], "id long, val string"), "id"
    )  # v3: rewrites s1's file, carries s2's file by reference
    expired = table.expire_snapshots(keep_last=1)
    assert expired == [1, 2]
    # s2's file is carried INSIDE the live merge snapshot → must survive
    # even though snapshot 2 itself is expired
    cur = table.read()
    assert cur.count() == 200
    assert cur.filter("id = 5").first()["val"] == "b"
    assert cur.filter("id = 150").first()["val"] == "a"


def test_cluster_by_zorder_enables_multicolumn_skipping(spark, table):
    """A 2-D grid written in shuffled order: before clustering every file
    spans the whole range of both x and y (no pruning possible); after
    cluster_by(["x","y"]) each file covers a compact rectangle, so a point
    predicate on EITHER column prunes most files."""
    n = 40_000
    df = (
        spark.range(n)
        .select(
            (F.xxhash64("id") % 200).alias("x"),
            ((F.xxhash64("id", F.lit(1))) % 200).alias("y"),
            F.col("id"),
        )
        .repartition(4)  # shuffled layout: wide min/max everywhere
    )
    table.append(df)
    pre_files = len(table.read().inputFiles())
    pre_x = len(table.read_where("x", 7, 7).inputFiles())
    assert pre_x == pre_files  # unclustered: nothing prunable
    v = table.cluster_by(["x", "y"], target_file_bytes=64 * 1024)
    post_files = len(table.read().inputFiles())
    assert post_files >= 4  # small target → several files
    hit_x = table.read_where("x", 7, 7)
    hit_y = table.read_where("y", -13, -13)
    assert len(hit_x.inputFiles()) < post_files
    assert len(hit_y.inputFiles()) < post_files
    # values are untouched by the layout rewrite
    assert hit_x.count() == table.read(version=1).filter("x = 7").count()
    assert hit_y.count() == table.read(version=1).filter("y = -13").count()
    assert table.read(version=v).count() == n
    # clustering is a rewrite: incremental reads across it must refuse
    with pytest.raises(SnapshotError, match="non-append"):
        table.read_incremental(1)


# -- hidden partitioning ---------------------------------------------------


def _events_like(spark, n, start_day=1):
    base = datetime.datetime(2024, 1, start_day)
    return spark.range(n).select(
        F.col("id"),
        (F.lit(base) + F.make_interval(mins=F.col("id"))).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
    )


def test_hidden_partitioning_days_prunes_and_hides(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "t"), partition_spec=[("days", "ts")]
    )
    t.append(_events_like(spark, 5 * 24 * 60))  # 5 days of minutes
    # derived __p_* columns are HIDDEN from readers
    assert all(not c.startswith("__p_") for c in t.read().columns)
    assert t.read().count() == 5 * 24 * 60
    n_files = len(t.read().inputFiles())
    assert n_files > 1  # range layout split the days across files
    hit = t.read_where(
        "ts",
        datetime.datetime(2024, 1, 3),
        datetime.datetime(2024, 1, 3, 23, 59),
    )
    assert len(hit.inputFiles()) < n_files  # day-partition pruning worked
    assert hit.count() == 24 * 60
    assert all(not c.startswith("__p_") for c in hit.columns)


def test_hidden_partitioning_spec_persists(spark, tmp_path):
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root, partition_spec=[("days", "ts")])
    t.append(_events_like(spark, 100))
    # a fresh handle with NO spec argument picks the persisted spec up
    t2 = SnapshotTable(spark, root)
    assert t2.partition_spec == [("days", "ts")]
    t2.append(_events_like(spark, 50, start_day=20))
    assert t2.read().count() == 150


def test_hidden_partitioning_bucket_point_lookup(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "t"), partition_spec=[("bucket", "id", 8)]
    )
    t.append(spark.range(0, 4000).select(F.col("id"), (F.col("id") * 2).alias("v")))
    n_files = len(t.read().inputFiles())
    assert n_files > 1
    hit = t.read_where("id", 1234, 1234)
    assert len(hit.inputFiles()) < n_files  # bucket pruning
    assert [r["v"] for r in hit.collect()] == [2468]
    # range lookups on a bucket spec cannot use the bucket — still correct
    rng = t.read_where("id", 10, 12)
    assert sorted(r["id"] for r in rng.collect()) == [10, 11, 12]


def test_hidden_partitioning_survives_merge_and_compact(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "t"), partition_spec=[("days", "ts")]
    )
    t.append(_events_like(spark, 2 * 24 * 60))
    t.merge(
        _events_like(spark, 10).withColumn("user_id", F.lit(99)), "id"
    )
    assert t.read().filter("user_id = 99").count() == 10
    assert all(not c.startswith("__p_") for c in t.read().columns)
    t.compact(target_file_bytes=32 * 1024)
    assert t.read().count() == 2 * 24 * 60
    n_files = len(t.read().inputFiles())
    hit = t.read_where(
        "ts", datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 1, 11, 59)
    )
    assert hit.count() == 12 * 60
    assert len(hit.inputFiles()) <= n_files


def test_incremental_feed_polls_only_deltas_and_survives_restart(spark, table, tmp_path):
    ckpt = str(tmp_path / "feed.json")
    table.append(_one_file_range(spark, 0, 3))
    feed = table.incremental_feed(ckpt)  # cursor = current (v1)
    assert feed.poll() is None  # nothing new yet
    table.append(_one_file_range(spark, 3, 6))
    delta, v = feed.poll()
    assert _ids(delta) == [3, 4, 5] and v == 2
    # crash BEFORE commit: a fresh consumer replays the same delta
    feed2 = table.incremental_feed(ckpt)
    delta2, v2 = feed2.poll()
    assert _ids(delta2) == [3, 4, 5] and v2 == 2
    feed2.commit(v2)
    # post-commit: cursor durably advanced, nothing to poll
    feed3 = table.incremental_feed(ckpt)
    assert feed3.poll() is None
    table.append(_one_file_range(spark, 6, 8))
    d3, v3 = feed3.poll()
    assert _ids(d3) == [6, 7] and v3 == 3


def test_incremental_feed_bootstrap_from_beginning(spark, table, tmp_path):
    table.append(_one_file_range(spark, 0, 4))
    table.append(_one_file_range(spark, 4, 6))
    feed = table.incremental_feed(str(tmp_path / "f.json"), start_version=0)
    delta, v = feed.poll()
    assert _ids(delta) == [0, 1, 2, 3, 4, 5] and v == 2  # full table once
    feed.commit(v)
    assert feed.poll() is None


def test_incremental_feed_refuses_rewritten_history(spark, table, tmp_path):
    table.append(_one_file_range(spark, 0, 3))
    feed = table.incremental_feed(str(tmp_path / "f.json"))
    table.append(_one_file_range(spark, 3, 5))
    table.compact()
    with pytest.raises(SnapshotError, match="non-append"):
        feed.poll()


# -- optimistic concurrency ------------------------------------------------


def test_concurrent_appends_lose_nothing(spark, table):
    """Two writers appending in parallel: every batch's rows must be visible
    in the final version (the append-shaped commit unions its files with
    whatever parent is current, under the commit lock)."""
    import threading

    errs = []

    def writer(base):
        try:
            for k in range(3):
                lo = base + k * 10
                table.append(spark.range(lo, lo + 10).coalesce(1))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(0,))
    t2 = threading.Thread(target=writer, args=(1000,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    got = _ids(table.read())
    want = sorted(
        list(range(0, 10)) + list(range(10, 20)) + list(range(20, 30))
        + list(range(1000, 1010)) + list(range(1010, 1020)) + list(range(1020, 1030))
    )
    assert got == want
    assert len(table._log()) == 6  # six commits, none lost


def test_rewrite_commit_conflicts_on_concurrent_append(spark, table):
    """CAS validation: a rewrite built against version N must refuse to
    commit once the table moved to N+1 — otherwise the concurrent append's
    rows would vanish from the rewritten view."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotConflict,
    )

    table.append(_one_file_range(spark, 0, 100))
    with pytest.raises(SnapshotConflict, match="re-read and retry"):
        # simulate: a rewrite validated against a stale parent version
        table._commit({"op": "compact", "dirs": []}, expected_parent=0)
    # the real operation against fresh state succeeds
    assert table.compact() == 2


def test_stale_commit_lock_is_broken(spark, table):
    """A lock file orphaned by a dead writer (old mtime) must not wedge the
    table forever."""
    lock = table._meta_path + ".lock"
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    with open(lock, "w"):
        pass
    old = time.time() - 120
    os.utime(lock, (old, old))
    assert table.append(spark.range(0, 3)) == 1  # broke the stale lock
    assert not os.path.exists(lock)


def test_remove_orphans_reclaims_uncommitted_dirs(spark, table, tmp_path):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        remove_orphans,
    )

    table.append(_one_file_range(spark, 0, 10))
    # debris of a writer that died before its commit
    orphan = os.path.join(table.root, "data", "s9-deadbeef")
    spark.range(5).coalesce(1).write.parquet(orphan)
    # fresh orphan is protected by the grace period (could be in-flight)
    assert remove_orphans(table, grace_seconds=3600) == []
    assert os.path.isdir(orphan)
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    removed = remove_orphans(table, grace_seconds=3600)
    assert removed == [orphan]
    assert not os.path.isdir(orphan)
    # committed data untouched
    assert _ids(table.read()) == list(range(10))


def test_remove_orphans_keeps_dirs_with_carried_files(spark, table):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        remove_orphans,
    )

    table.append(_one_file_range(spark, 0, 100, val="a"))
    table.append(_one_file_range(spark, 100, 200, val="a"))
    table.merge(
        spark.createDataFrame([(5, "b")], "id long, val string"), "id"
    )
    table.expire_snapshots(keep_last=1)
    # age every data dir past the grace period: only true orphans may go
    for name in os.listdir(os.path.join(table.root, "data")):
        d = os.path.join(table.root, "data", name)
        old = time.time() - 7200
        os.utime(d, (old, old))
    remove_orphans(table, grace_seconds=3600)
    # the carried s2 file (inside an expired snapshot's dir) must survive
    assert table.read().count() == 200
    assert table.read().filter("id = 150").first()["val"] == "a"


def test_maintain_additive_rollup_incremental_and_replay_safe(spark, table, tmp_path):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
        maintain_additive_rollup,
    )

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 3).alias("k"), F.col("id").alias("v")
        )

    rollup = SnapshotTable(spark, str(tmp_path / "rollup"))
    table.append(batch(0, 50))
    feed = table.incremental_feed(str(tmp_path / "cur.json"), start_version=0)
    assert maintain_additive_rollup(feed, rollup, ["k"], ["v"]) == 1
    table.append(batch(50, 80))
    assert maintain_additive_rollup(feed, rollup, ["k"], ["v"]) == 2
    # rollup == full recompute over all source rows
    want = {
        r["k"]: r["v"]
        for r in batch(0, 80).groupBy("k").agg(F.sum("v").alias("v")).collect()
    }
    got = {r["k"]: r["v"] for r in rollup.read().collect()}
    assert got == want
    # crash between rollup commit and cursor advance: rewind the cursor and
    # re-run — the duplicate commit must be skipped, sums unchanged
    feed.commit(1)
    # cursor reconciliation fast-forwards to the rollup's highest committed
    # src-v* BEFORE polling, so the replay is a no-op (None) — the delta is
    # not even re-read — and the cursor lands back where the fold left it
    assert maintain_additive_rollup(feed, rollup, ["k"], ["v"]) is None
    assert feed.cursor == 2
    got2 = {r["k"]: r["v"] for r in rollup.read().collect()}
    assert got2 == want
    # nothing new → no-op
    assert maintain_additive_rollup(feed, rollup, ["k"], ["v"]) is None


# -- merge-on-read deletes -------------------------------------------------


def test_mor_predicate_delete_is_metadata_only_and_scoped(spark, table):
    table.append(_one_file_range(spark, 0, 100))
    files_before = set(table.read().inputFiles())
    v = table.delete_where("id", 10, 19, mode="mor")
    # metadata-only: the SAME physical files serve the new version
    assert set(table.read().inputFiles()) == files_before
    assert _ids(table.read()) == [i for i in range(100) if not 10 <= i <= 19]
    # time travel to pre-delete still sees everything
    assert len(_ids(table.read(version=1))) == 100
    # appends AFTER the delete are outside its scope, even in-range ids
    table.append(_one_file_range(spark, 10, 12))
    got = _ids(table.read())
    assert got.count(10) == 1 and got.count(11) == 1 and got.count(50) == 1
    # compaction materializes: delete list cleared, rows still gone
    table.compact()
    snap = table._log()[-1]
    assert not snap.get("deletes")
    assert sorted(_ids(table.read())) == sorted(
        [i for i in range(100) if not 10 <= i <= 19] + [10, 11]
    )
    assert v == 2


def test_mor_equality_delete_keys(spark, table):
    table.append(_one_file_range(spark, 0, 1000, val="a"))
    files_before = set(table.read().inputFiles())
    table.delete_keys(
        spark.createDataFrame([(7,), (8,), (500,)], "id long"), "id"
    )
    cur = table.read()
    assert set(cur.inputFiles()) >= files_before  # data files unchanged
    got = _ids(cur)
    assert 7 not in got and 8 not in got and 500 not in got
    assert len(got) == 997
    # re-inserting a deleted key later is visible (scoped semantics)
    table.append(_one_file_range(spark, 7, 8, val="new"))
    assert _ids(table.read()).count(7) == 1
    # read_where composes with the delete
    hit = table.read_where("id", 0, 20)
    assert _ids(hit) == [i for i in range(21) if i not in (8,)] 


def test_mor_delete_not_resurrected_by_merge(spark, table):
    table.append(_one_file_range(spark, 0, 100, val="a"))
    table.delete_where("id", 90, 99, mode="mor")
    # CoW merge rewrites the file the MOR delete covers: deleted rows must
    # NOT come back, and the pending delete must not eat the upserts
    table.merge(
        spark.createDataFrame([(95, "b"), (5, "b")], "id long, val string"), "id"
    )
    got = {r["id"]: r["val"] for r in table.read().collect()}
    assert 91 not in got and 99 not in got  # still deleted
    assert got[95] == "b" and got[5] == "b"  # upserts landed
    # ids 0..89 survive (90 rows, id 5 updated in place) + 95 re-inserted
    assert len(got) == 91


def test_expire_and_orphans_respect_delete_files(spark, table):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        remove_orphans,
    )

    table.append(_one_file_range(spark, 0, 50))
    table.delete_keys(spark.createDataFrame([(3,)], "id long"), "id")
    del_path = table._snapshot(None)["deletes"][0]["path"]
    # age everything; the delete file is referenced by the live snapshot
    for name in os.listdir(os.path.join(table.root, "data")):
        d = os.path.join(table.root, "data", name)
        old = time.time() - 7200
        os.utime(d, (old, old))
    assert remove_orphans(table, grace_seconds=3600) == []
    assert os.path.isdir(del_path)
    assert 3 not in _ids(table.read())


def test_register_view_time_travel_sql(spark, table):
    table.append(_one_file_range(spark, 0, 5))
    table.overwrite(_one_file_range(spark, 100, 103))
    table.register_view("snap_now")
    table.register_view("snap_v1", version=1)
    assert spark.sql("SELECT COUNT(*) AS n FROM snap_now").first()["n"] == 3
    assert spark.sql("SELECT MAX(id) AS m FROM snap_v1").first()["m"] == 4


def test_hidden_partitioning_composes_with_evolution_and_feed(spark, tmp_path):
    """Spec-layout writers + schema evolution + incremental feed together:
    derived __p_* columns must stay hidden through every read path, and the
    evolved column must backfill as NULL."""
    t = SnapshotTable(
        spark, str(tmp_path / "t"), partition_spec=[("bucket", "id", 4)]
    )
    t.append(spark.range(0, 40))
    feed = t.incremental_feed(str(tmp_path / "cur.json"))
    t.append(spark.range(40, 60).withColumn("score", F.lit(1.5)))
    delta, v = feed.poll()
    assert set(delta.columns) == {"id", "score"}  # no __p_* leakage
    assert delta.count() == 20
    feed.commit(v)
    evolved = t.read(merge_schema=True)
    assert set(evolved.columns) == {"id", "score"}
    rows = {r["id"]: r["score"] for r in evolved.collect()}
    assert len(rows) == 60 and rows[0] is None and rows[45] == 1.5


def test_read_where_all_intersects_multi_column_pruning(spark, table):
    """After z-ordering, a 2-column conjunction must prune at least as hard
    as either single-column predicate alone."""
    n = 40_000
    df = spark.range(n).select(
        (F.xxhash64("id") % 100).alias("x"),
        (F.xxhash64("id", F.lit(1)) % 100).alias("y"),
        F.col("id"),
    ).repartition(4)
    table.append(df)
    table.cluster_by(["x", "y"], target_file_bytes=32 * 1024)
    total = len(table.read().inputFiles())
    assert total >= 6  # enough files for pruning to be observable
    fx = len(table.read_where("x", 5, 10).inputFiles())
    both = table.read_where_all([("x", 5, 10), ("y", -20, -10)])
    # intersection semantics: the conjunction can never scan MORE files
    # than either clause alone, and must beat the full scan
    assert len(both.inputFiles()) <= fx
    assert len(both.inputFiles()) < total
    want = table.read().filter(
        "x between 5 and 10 and y between -20 and -10"
    ).count()
    assert both.count() == want


def test_fast_count_and_min_max_from_manifests(spark, table):
    assert table.append(_one_file_range(spark, 0, 500)) == 1
    table.append(_one_file_range(spark, 500, 750))
    assert table.fast_count() == 750
    assert table.fast_min_max("id") == (0, 749)
    assert table.fast_count(version=1) == 500
    # pending MOR deletes make metadata answers inexact → refuse
    table.delete_where("id", 0, 9, mode="mor")
    assert table.fast_count() is None
    assert table.fast_min_max("id") is None
    # compaction materializes → fast paths return
    table.compact()
    assert table.fast_count() == 740
    assert table.fast_min_max("id") == (10, 749)


def test_incremental_clustering_rewrites_only_new_commits(spark, table):
    df1 = spark.range(0, 20_000).select(
        (F.xxhash64("id") % 50).alias("x"), F.col("id")
    ).repartition(4)
    table.append(df1)
    v_full = table.cluster_by(["x"], target_file_bytes=64 * 1024)
    gen1_files = set(table.read().inputFiles())
    # new ingest, then INCREMENTAL clustering: generation-1 files untouched
    df2 = spark.range(20_000, 30_000).select(
        (F.xxhash64("id") % 50).alias("x"), F.col("id")
    ).repartition(4)
    table.append(df2)
    v_inc = table.cluster_by(["x"], target_file_bytes=64 * 1024, incremental=True)
    assert v_inc == v_full + 2
    cur_files = set(table.read().inputFiles())
    assert gen1_files <= cur_files  # carried by reference, zero bytes moved
    assert table.read().count() == 30_000
    # pruning still effective across generations
    hit = table.read_where("x", 7, 7)
    assert len(hit.inputFiles()) < len(cur_files)
    assert hit.count() == table.read().filter("x = 7").count()
    # nothing new → no-op returning current version
    assert table.cluster_by(["x"], incremental=True) == v_inc


def test_wap_branch_stage_audit_publish(spark, table):
    """Write-audit-publish: stage on a branch, audit it, fast-forward main.
    Main must be byte-identical until the publish, and the publish must be
    metadata-only (no data rewrite — the staged dir itself becomes visible)."""
    v1 = table.append(spark.range(0, 4))
    audit = table.create_branch("audit")
    audit.append(spark.range(100, 103))
    # staging is invisible on main
    assert table.current_version() == v1
    assert _ids(table.read()) == [0, 1, 2, 3]
    # the audit: any read/query over the branch
    assert _ids(audit.read()) == [0, 1, 2, 3, 100, 101, 102]
    staged_files = set(audit.read().inputFiles())
    published = table.fast_forward("audit")
    assert published == audit.current_version()
    assert _ids(table.read()) == [0, 1, 2, 3, 100, 101, 102]
    # publish was a pointer swap: main now reads the staged files themselves
    assert set(table.read().inputFiles()) == staged_files
    # history before the fork is still time-travelable on main
    assert _ids(table.read(version=v1)) == [0, 1, 2, 3]


def test_fast_forward_conflicts_when_main_diverged(spark, table):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotConflict,
    )

    table.append(spark.range(0, 2))
    audit = table.create_branch("audit")
    audit.append(spark.range(10, 12))
    table.append(spark.range(5, 6))  # main moves under the audit
    with pytest.raises(SnapshotConflict):
        table.fast_forward("audit")
    # main unharmed by the failed publish
    assert _ids(table.read()) == [0, 1, 5]


def test_branch_requires_existing_and_valid_names(spark, table):
    table.append(spark.range(0, 2))
    with pytest.raises(SnapshotError):
        table.branch("nope")
    with pytest.raises(SnapshotError):
        table.create_branch("main")  # reserved
    with pytest.raises(SnapshotError):
        table.create_branch("../evil")
    table.create_branch("ok-1")
    with pytest.raises(SnapshotError):
        table.create_branch("ok-1")  # duplicate


def test_tag_pins_history_through_expire(spark, table):
    v1 = table.append(spark.range(0, 3))
    table.create_tag("train-2024", v1)
    table.overwrite(spark.range(50, 52))
    table.overwrite(spark.range(90, 95))
    expired = table.expire_snapshots(keep_last=1)
    # the tagged snapshot survives expiration; the untagged middle one dies
    assert v1 not in expired
    assert 2 in expired
    assert _ids(table.read_tag("train-2024")) == [0, 1, 2]
    with pytest.raises(SnapshotError):
        table.read(version=2)
    # dropping the tag releases the pin on the NEXT expire
    table.drop_tag("train-2024")
    assert v1 in table.expire_snapshots(keep_last=1)


def test_refs_metadata_table(spark, table):
    v1 = table.append(spark.range(0, 2))
    table.create_tag("t1", v1)
    audit = table.create_branch("b1")
    audit.append(spark.range(5, 7))
    got = {(r.ref_name, r.ref_type): r.version for r in table.refs().collect()}
    assert got[("main", "branch")] == v1
    assert got[("t1", "tag")] == v1
    assert got[("b1", "branch")] == audit.current_version()


def test_partitions_metadata_table(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "part_snap"), partition_spec=[("days", "ts")]
    )
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [(i, base + datetime.timedelta(days=i % 3)) for i in range(90)]
    t.append(spark.createDataFrame(rows, "id long, ts timestamp"))
    parts = t.partitions().collect()
    exact = {tuple(r.partition): r for r in parts if r.exact}
    assert set(exact) == {("2024-03-01",), ("2024-03-02",), ("2024-03-03",)}
    assert sum(r.row_count for r in parts) == 90
    assert all(r.file_count >= 1 for r in parts)


def test_dropped_branch_dirs_become_orphans(spark, table, tmp_path):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        remove_orphans,
    )

    table.append(spark.range(0, 2))
    audit = table.create_branch("audit")
    audit.append(spark.range(10, 12))
    # while the branch lives, its staged dir is NOT an orphan
    assert remove_orphans(table, grace_seconds=0.0) == []
    assert _ids(audit.read()) == [0, 1, 10, 11]
    table.drop_branch("audit")
    removed = remove_orphans(table, grace_seconds=0.0)
    assert len(removed) == 1  # the branch-only staged dir
    assert _ids(table.read()) == [0, 1]  # main untouched


def test_multi_table_transaction_atomic_fanout(spark, tmp_path):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
    )

    facts = SnapshotTable(spark, str(tmp_path / "facts"))
    rollup = SnapshotTable(spark, str(tmp_path / "rollup"))
    facts.append(spark.range(0, 5))
    txn = MultiTableTransaction([facts, rollup], str(tmp_path / "txns"))
    txn.stage_append(facts, spark.range(5, 8))
    txn.stage_overwrite(rollup, spark.range(100, 102))
    # staged but uncommitted: invisible everywhere
    assert _ids(facts.read()) == [0, 1, 2, 3, 4]
    assert rollup.current_version() is None
    versions = txn.commit()
    assert _ids(facts.read()) == list(range(8))
    assert _ids(rollup.read()) == [100, 101]
    assert versions[(facts.root, "main")] == 2
    assert versions[(rollup.root, "main")] == 1
    # intent consumed; double-commit refused
    assert os.listdir(str(tmp_path / "txns")) == []
    with pytest.raises(SnapshotError):
        txn.commit()


def test_transaction_recovery_completes_partial_apply(spark, tmp_path):
    """Crash between the intent rename (the commit point) and the last
    per-table apply: recovery must finish the transaction exactly once."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
        recover_transactions,
    )

    a = SnapshotTable(spark, str(tmp_path / "a"))
    b = SnapshotTable(spark, str(tmp_path / "b"))
    a.append(spark.range(0, 3))
    txn = MultiTableTransaction([a, b], str(tmp_path / "txns"))
    txn.stage_append(a, spark.range(3, 5))
    txn.stage_append(b, spark.range(10, 12))
    # simulate the crash: write the intent, apply ONLY table a
    os.makedirs(str(tmp_path / "txns"), exist_ok=True)
    intent = str(tmp_path / "txns" / "txn-deadbeef.json")
    with open(intent, "w") as f:
        _json.dump(txn.staged, f)
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources import snapshots as snapmod

    snapmod._apply_staged({(a.root, "main"): a}, [txn.staged[0]])
    assert _ids(a.read()) == [0, 1, 2, 3, 4]
    assert b.current_version() is None
    recovered = recover_transactions(spark, str(tmp_path / "txns"))
    assert recovered == [intent]
    # b completed; a NOT double-applied
    assert _ids(b.read()) == [10, 11]
    assert a.current_version() == 2
    assert _ids(a.read()) == [0, 1, 2, 3, 4]
    # recovery is idempotent on an empty txn dir
    assert recover_transactions(spark, str(tmp_path / "txns")) == []


def test_abandoned_stage_is_orphaned_not_visible(spark, tmp_path):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
        remove_orphans,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 2))
    txn = MultiTableTransaction([t], str(tmp_path / "txns"))
    txn.stage_append(t, spark.range(2, 4))
    del txn  # crashed before commit(): no intent file was ever written
    assert _ids(t.read()) == [0, 1]
    removed = remove_orphans(t, grace_seconds=0.0)
    assert len(removed) == 1
    assert _ids(t.read()) == [0, 1]


def test_read_where_in_prunes_and_filters(spark, table):
    """IN-set reads must skip files whose [min,max] contains none of the
    requested values, and still return exactly the matching rows."""
    for lo in (0, 1000, 2000, 3000):
        table.append(spark.range(lo, lo + 1000).coalesce(1))
    all_files = set(table.read().inputFiles())
    hit = table.read_where_in("id", [5, 7, 2500])
    assert set(hit.inputFiles()) < all_files
    assert len(set(hit.inputFiles())) == 2  # first + third commit files only
    assert _ids(hit) == [5, 7, 2500]
    # empty value set → empty frame, schema intact
    assert table.read_where_in("id", []).count() == 0
    # values nowhere in the table → all files pruned
    none = table.read_where_in("id", [99_999])
    assert none.count() == 0


def test_snapshot_warehouse_catalog_ddl_and_sql(spark, tmp_path):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotWarehouse,
    )

    wh = SnapshotWarehouse(spark, str(tmp_path / "wh"))
    assert wh.list_tables() == []
    ev = wh.create_table("events")
    ev.append(spark.range(0, 5))
    wh.create_table("stats").append(
        spark.range(0, 3).select(F.col("id").alias("k"))
    )
    assert wh.list_tables() == ["events", "stats"]
    assert wh.table_exists("events") and not wh.table_exists("nope")
    with pytest.raises(SnapshotError):
        wh.table("nope")
    with pytest.raises(SnapshotError):
        wh.create_table("_txns")  # reserved
    # SQL over the whole namespace, with pinned version views
    ev.append(spark.range(5, 8))
    wh.register_views(version_suffix=True)
    assert spark.sql("SELECT COUNT(*) c FROM events").first()["c"] == 8
    assert spark.sql("SELECT COUNT(*) c FROM events_v2").first()["c"] == 8
    # drop removes data and listing
    wh.drop_table("stats")
    assert wh.list_tables() == ["events"]


def test_snapshot_warehouse_transaction_and_open_recovery(spark, tmp_path):
    import json as _json
    import os as _os

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotWarehouse,
    )

    wh = SnapshotWarehouse(spark, str(tmp_path / "wh"))
    txn = wh.transaction(["facts", "rollup"])
    txn.stage_append(wh.table("facts") if wh.table_exists("facts") else wh.create_table("facts"), spark.range(0, 4))
    txn.stage_overwrite(wh.create_table("rollup"), spark.range(100, 101))
    # simulate a crash right after the commit point: intent written, nothing applied
    _os.makedirs(wh.txn_dir, exist_ok=True)
    with open(_os.path.join(wh.txn_dir, "txn-crashed.json"), "w") as f:
        _json.dump(txn.staged, f)
    # neither table advanced yet
    assert wh.create_table("facts").current_version() is None
    # REOPENING the warehouse completes the transaction
    wh2 = SnapshotWarehouse(spark, str(tmp_path / "wh"))
    assert sorted(r["id"] for r in wh2.table("facts").read().collect()) == [0, 1, 2, 3]
    assert sorted(r["id"] for r in wh2.table("rollup").read().collect()) == [100]
    assert _os.listdir(wh2.txn_dir) == []


def test_recovery_aborts_stale_overwrite_instead_of_reverting(spark, tmp_path):
    """A crashed transaction whose OVERWRITE was raced by a plain writer
    must NOT be applied at recovery (that would silently revert the
    writer's newer commit) — it aborts, visibly, and the newer data wins."""
    import json as _json
    import os as _os

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
        recover_transactions,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 3))
    txn = MultiTableTransaction([t], str(tmp_path / "txns"))
    txn.stage_overwrite(t, spark.range(50, 52))
    _os.makedirs(str(tmp_path / "txns"), exist_ok=True)
    with open(_os.path.join(str(tmp_path / "txns"), "txn-crashed.json"), "w") as f:
        _json.dump(txn.staged, f)
    # a non-transactional writer commits AFTER the crash
    t.append(spark.range(3, 5))
    recovered = recover_transactions(spark, str(tmp_path / "txns"))
    assert recovered == []  # nothing applied
    assert _ids(t.read()) == [0, 1, 2, 3, 4]  # newer data intact
    aborted = [n for n in _os.listdir(str(tmp_path / "txns")) if n.endswith(".aborted.json")]
    assert len(aborted) == 1  # surfaced for inspection, not silently dropped
    # a crashed APPEND still recovers — the union commutes with the race
    txn2 = MultiTableTransaction([t], str(tmp_path / "txns"))
    txn2.stage_append(t, spark.range(10, 12))
    with open(_os.path.join(str(tmp_path / "txns"), "txn-crash2.json"), "w") as f:
        _json.dump(txn2.staged, f)
    t.append(spark.range(5, 6))
    assert len(recover_transactions(spark, str(tmp_path / "txns"))) == 1
    assert _ids(t.read()) == [0, 1, 2, 3, 4, 5, 10, 11]


def test_tag_on_branch_resolves_branch_snapshot(spark, table):
    """Snapshot ids are per-lineage numbers: a tag created on a branch must
    resolve through the BRANCH's log, even when main later mints the same
    id for a different commit."""
    table.append(spark.range(0, 2))  # main id 1
    b = table.create_branch("wip")
    b.append(spark.range(100, 103))  # branch id 2
    b.create_tag("staged-data")  # pins branch id 2
    table.append(spark.range(5, 8))  # main's OWN id 2 — different commit
    assert _ids(table.read_tag("staged-data")) == [0, 1, 100, 101, 102]
    assert _ids(b.read_tag("staged-data")) == [0, 1, 100, 101, 102]
    # dropping the branch makes the tag dangle loudly, not wrongly
    table.drop_branch("wip")
    with pytest.raises(SnapshotError):
        table.read_tag("staged-data")


def test_read_where_in_uncanonicalizable_values(spark, table):
    from decimal import Decimal

    table.append(spark.range(0, 10).coalesce(1))
    # a value _json_stat cannot canonicalize (Decimal → None) must not
    # crash the pruning layer (None is unorderable against ints); the file
    # is kept conservatively and Spark's IN evaluates it fine
    assert _ids(table.read_where_in("id", [3, Decimal(5)])) == [3, 5]


def test_changelog_across_rewrites_and_append_fast_path(spark, table):
    v1 = table.append(spark.range(0, 5))
    v2 = table.append(spark.range(5, 8))
    # append-only range: insert rows only, computed from the file diff
    cl = table.changelog(v1, v2).collect()
    assert {r["_change_type"] for r in cl} == {"insert"}
    assert sorted(r["id"] for r in cl) == [5, 6, 7]
    # rewrite in range: CoW delete of 2..6 → deletes + no inserts
    v3 = table.delete_where("id", 2, 6)
    cl2 = table.changelog(v2, v3).collect()
    by_type = {}
    for r in cl2:
        by_type.setdefault(r["_change_type"], []).append(r["id"])
    assert sorted(by_type.get("delete", [])) == [2, 3, 4, 5, 6]
    assert by_type.get("insert") is None
    # full range: net effect of appends + delete vs v1
    cl3 = table.changelog(v1, v3).collect()
    ins = sorted(r["id"] for r in cl3 if r["_change_type"] == "insert")
    dels = sorted(r["id"] for r in cl3 if r["_change_type"] == "delete")
    assert ins == [7] and dels == [2, 3, 4]
    # compaction is layout-only: changelog across it is empty
    v4 = table.compact()
    assert table.changelog(v3, v4).count() == 0


def test_maintain_table_policy_cycle(spark, table, tmp_path):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        maintain_table,
    )

    # empty table: no-op
    assert maintain_table(table) == {
        "compacted": False, "expired": [], "orphans_removed": []
    }
    # streaming-shaped ingest: many small files
    for lo in range(0, 60, 10):
        table.append(spark.range(lo, lo + 10).repartition(8))
    n_before = len(set(table.read().inputFiles()))
    assert n_before > 16
    out = maintain_table(table, max_files=16, keep_last=2, orphan_grace_seconds=0.0)
    assert out["compacted"] is True
    assert len(out["expired"]) > 0
    assert len(set(table.read().inputFiles())) < n_before
    assert sorted(r["id"] for r in table.read().collect()) == list(range(60))
    # under the threshold now: second cycle does nothing
    out2 = maintain_table(table, max_files=16, keep_last=2)
    assert out2["compacted"] is False and out2["expired"] == []


def test_append_batch_unions_with_concurrent_ad_hoc_appends(spark, table):
    """append_batch must union its dir with the CURRENT parent under the
    commit lock — an ad-hoc append racing it can never be erased."""
    import threading

    table.append(spark.range(0, 5))
    errs = []

    def batcher():
        try:
            table.append_batch(spark.range(100, 105), batch_id=7)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def adhoc():
        try:
            table.append(spark.range(200, 203))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=batcher), threading.Thread(target=adhoc)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    assert _ids(table.read()) == list(range(0, 5)) + list(range(100, 105)) + list(
        range(200, 203)
    )


def test_expire_deletes_dead_dirs_manifests(spark, table):
    """Expired dirs take their manifests with them — per-query metadata
    cost must track live history, not every commit ever made."""
    table.append(spark.range(0, 3))
    table.overwrite(spark.range(10, 13))
    table.overwrite(spark.range(20, 23))
    meta = os.path.join(table.root, "metadata")
    n_manifests_before = len([n for n in os.listdir(meta) if n.startswith("manifest-")])
    assert n_manifests_before == 3
    table.expire_snapshots(keep_last=2)
    remaining = [n for n in os.listdir(meta) if n.startswith("manifest-")]
    assert len(remaining) == 2  # v1's manifest reclaimed with its dir
    # stats still serve the live versions
    assert table.fast_count() == 3


def test_rollup_cursor_reconciles_after_crash_before_commit(spark, table, tmp_path):
    """Crash between the rollup commit and the cursor advance, THEN the
    source advances: the retry must not fold the old delta twice."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
        maintain_additive_rollup,
    )

    src = table
    src.append(spark.range(0, 5).selectExpr("id % 2 AS k", "id AS v"))
    target = SnapshotTable(spark, str(tmp_path / "rollup"))
    ckpt = str(tmp_path / "cursor.json")
    feed = src.incremental_feed(ckpt, start_version=0)
    v = maintain_additive_rollup(feed, target, ["k"], ["v"])
    assert v == 1
    # simulate the crash: cursor file rolled back to before the fold
    with open(ckpt, "w") as f:
        _json.dump({"version": 0}, f)
    # source advances before the retry
    src.append(spark.range(10, 12).selectExpr("id % 2 AS k", "id AS v"))
    feed2 = src.incremental_feed(ckpt)
    assert feed2.cursor == 0
    maintain_additive_rollup(feed2, target, ["k"], ["v"])
    got = {r["k"]: r["v"] for r in target.read().collect()}
    # exact sums: 0+2+4+10=16 (k=0), 1+3+11=15 (k=1) — no double count
    assert got == {0: 16, 1: 15}


def test_bucket_pruning_probe_type_canonicalization(spark, tmp_path):
    """A Python int probing a DOUBLE bucket column must hash the stored
    rendering ('5.0'), not '5' — else the matching files are pruned and the
    lookup silently returns nothing."""
    t = SnapshotTable(
        spark, str(tmp_path / "bd"), partition_spec=[("bucket", "price", 8)]
    )
    t.append(
        spark.range(0, 400).selectExpr("id", "CAST(id % 20 AS DOUBLE) AS price")
    )
    hit = t.read_where("price", 5, 5)
    assert hit.count() == 20  # int probe finds the double rows
    assert len(hit.inputFiles()) < len(t.read().inputFiles())


def test_recovery_aborts_whole_intent_before_any_apply(spark, tmp_path):
    """A conflicted overwrite pin must abort the ENTIRE intent before any
    entry applies — recovery must never half-apply a transaction."""
    import json as _json
    import os as _os

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
        recover_transactions,
    )

    a = SnapshotTable(spark, str(tmp_path / "a"))
    b = SnapshotTable(spark, str(tmp_path / "b"))
    b.append(spark.range(0, 2))
    txn = MultiTableTransaction([a, b], str(tmp_path / "txns"))
    txn.stage_append(a, spark.range(10, 12))       # entry 1: append to a
    txn.stage_overwrite(b, spark.range(50, 52))    # entry 2: overwrite b
    _os.makedirs(str(tmp_path / "txns"), exist_ok=True)
    with open(_os.path.join(str(tmp_path / "txns"), "txn-crashed.json"), "w") as f:
        _json.dump(txn.staged, f)
    b.append(spark.range(2, 4))  # racing writer moves b past the pin
    assert recover_transactions(spark, str(tmp_path / "txns")) == []
    # NOTHING applied: a untouched (no half-applied append), b keeps both commits
    assert a.current_version() is None
    assert _ids(b.read()) == [0, 1, 2, 3]


def test_maintain_table_survives_compaction_conflict(spark, table, monkeypatch):
    """Maintenance alongside live ingest: a compaction conflict must not
    crash the cycle — expire and orphan cleanup still run."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotConflict,
        maintain_table,
    )

    for lo in range(0, 30, 10):
        table.append(spark.range(lo, lo + 10).repartition(8))

    def conflicted_compact(**kw):
        raise SnapshotConflict("ingest raced the rewrite")

    monkeypatch.setattr(table, "compact", conflicted_compact)
    out = maintain_table(table, max_files=4, keep_last=1, orphan_grace_seconds=0.0)
    assert out["compacted"] is False
    assert out.get("compact_conflict") is True
    assert len(out["expired"]) > 0  # the rest of the cycle still ran


def test_changelog_validates_to_version(spark, table):
    table.append(spark.range(0, 3))
    table.append(spark.range(3, 5))
    with pytest.raises(SnapshotError, match="no snapshot 99"):
        table.changelog(1, 99)


# -- bloom-filter file skipping ------------------------------------------


@pytest.fixture
def bloom_table(spark, tmp_path):
    return SnapshotTable(
        spark, str(tmp_path / "bloom_snap"), bloom_cols=["user_key"]
    )


def test_bloom_prunes_files_minmax_cannot(spark, bloom_table):
    """Two commits with fully OVERLAPPING key ranges (evens vs odds): min/max
    keeps both files for any probe, the value-exact bloom drops the wrong
    one."""
    t = bloom_table
    t.append(spark.range(0, 1000).selectExpr("id * 2 as user_key"))       # evens
    t.append(spark.range(0, 1000).selectExpr("id * 2 + 1 as user_key"))   # odds
    hit = t.read_where("user_key", 500, 500)  # even → file 1 only
    assert [r["user_key"] for r in hit.collect()] == [500]
    # the scan plan must touch at most half the table's files (bloom FPP
    # can keep an extra file with ~1% probability per file; with 2 files
    # and fixed sha1 hashing the outcome is deterministic)
    assert len(hit.inputFiles()) < len(t.read().inputFiles())


def test_bloom_absent_key_reads_nothing(spark, bloom_table):
    t = bloom_table
    t.append(spark.range(0, 500).selectExpr("id * 3 as user_key"))
    df = t.read_where("user_key", 1000001, 1000001)
    assert df.count() == 0


def test_bloom_in_set_prunes_but_keeps_all_matches(spark, bloom_table):
    t = bloom_table
    t.append(spark.range(0, 300).selectExpr("id * 2 as user_key"))
    t.append(spark.range(0, 300).selectExpr("id * 2 + 1 as user_key"))
    got = sorted(
        r["user_key"] for r in t.read_where_in("user_key", [4, 5, 598]).collect()
    )
    assert got == [4, 5, 598]
    # an even-only probe set prunes the odds file
    even_only = t.read_where_in("user_key", [4, 598])
    assert len(even_only.inputFiles()) < len(t.read().inputFiles())


def test_bloom_string_keys(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "s"), bloom_cols=["doc"])
    t.append(spark.range(0, 200).selectExpr("concat('a-', id) as doc"))
    t.append(spark.range(0, 200).selectExpr("concat('b-', id) as doc"))
    hit = t.read_where("doc", "b-7", "b-7")
    assert [r["doc"] for r in hit.collect()] == ["b-7"]
    assert len(hit.inputFiles()) < len(t.read().inputFiles())


def test_bloom_survives_nulls_and_range_probes(spark, bloom_table):
    """Nullable batches still bloom (nulls dropped); range (non-point)
    probes never consult the bloom."""
    t = bloom_table
    t.append(
        spark.range(0, 100).selectExpr(
            "if(id % 10 = 0, null, id) as user_key"
        )
    )
    assert t.read_where("user_key", 11, 11).count() == 1
    # null rows are not erased by pruning machinery on full reads
    assert t.read().count() == 100
    # range probe: bloom not applicable, min/max path still correct
    # (ids 10 and 20 are the nulled multiples of 10 → 11..19 remain)
    assert t.read_where("user_key", 10, 20).count() == 9


def test_bloom_spec_persisted_and_reloaded(spark, tmp_path):
    root = str(tmp_path / "persist")
    t = SnapshotTable(spark, root, bloom_cols=["user_key"])
    t.append(spark.range(0, 100).selectExpr("id as user_key"))
    # a fresh handle (no bloom_cols argument) must recover the spec and
    # keep building blooms for subsequent commits
    t2 = SnapshotTable(spark, root)
    assert t2.bloom_cols == ["user_key"]
    t2.append(spark.range(100, 200).selectExpr("id as user_key"))
    meta = os.listdir(os.path.join(root, "metadata"))
    assert sum(1 for n in meta if n.startswith("bloom-")) == 2


def test_bloom_expire_removes_sidecars(spark, bloom_table):
    t = bloom_table
    t.append(spark.range(0, 10).selectExpr("id as user_key"))
    t.overwrite(spark.range(10, 20).selectExpr("id as user_key"))
    t.overwrite(spark.range(20, 30).selectExpr("id as user_key"))
    t.expire_snapshots(keep_last=1)
    meta = os.listdir(os.path.join(t.root, "metadata"))
    blooms = [n for n in meta if n.startswith("bloom-")]
    manifests = [n for n in meta if n.startswith("manifest-")]
    assert len(blooms) == 1 and len(manifests) == 1


def test_bloom_compaction_rebuilds_blooms(spark, bloom_table):
    t = bloom_table
    for i in range(3):
        t.append(spark.range(i * 10, (i + 1) * 10).selectExpr("id as user_key"))
    t.compact()
    assert t.read_where("user_key", 15, 15).count() == 1
    assert t.read_where("user_key", 999, 999).count() == 0


# -- rename/drop schema evolution (metadata-only) -------------------------


def test_rename_column_metadata_only(spark, table):
    v1 = table.append(spark.range(0, 5).selectExpr("id", "id * 10 as score"))
    files_before = set(table.read().inputFiles())
    v2 = table.rename_column("score", "points")
    assert table.read().columns == ["id", "points"]
    assert sorted(r["points"] for r in table.read().collect()) == [0, 10, 20, 30, 40]
    # no data file moved
    assert set(table.read().inputFiles()) == files_before
    # time travel sees the pre-rename name
    assert table.read(version=v1).columns == ["id", "score"]
    assert v2 == v1 + 1


def test_rename_then_append_mixes_epochs(spark, table):
    table.append(spark.range(0, 3).selectExpr("id", "id as score"))
    table.rename_column("score", "points")
    table.append(spark.range(3, 6).selectExpr("id", "id as points"))
    got = sorted(r["points"] for r in table.read().collect())
    assert got == [0, 1, 2, 3, 4, 5]
    # pruning maps the current name back to each file's epoch-local name
    assert sorted(r["points"] for r in table.read_where("points", 1, 4).collect()) == [
        1, 2, 3, 4,
    ]


def test_stale_writer_refused_after_rename(spark, table):
    table.append(spark.range(0, 3).selectExpr("id", "id as score"))
    table.rename_column("score", "points")
    with pytest.raises(SnapshotError, match="stale|predates"):
        table.append(spark.range(3, 6).selectExpr("id", "id as score"))


def test_drop_column_and_same_name_reintroduction(spark, table):
    table.append(spark.range(0, 3).selectExpr("id", "id * 100 as tmp"))
    table.drop_column("tmp")
    assert table.read().columns == ["id"]
    # re-adding the name starts a NEW lineage: old values must not leak in
    table.append(spark.range(3, 6).selectExpr("id", "id as tmp"))
    rows = {r["id"]: r["tmp"] for r in table.read().collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 3, 4: 4, 5: 5}
    # bounded probes on the new lineage prune pre-drop files entirely
    assert sorted(
        r["id"] for r in table.read_where("tmp", 0, 999).collect()
    ) == [3, 4, 5]


def test_rename_chain_and_merge(spark, table):
    table.append(spark.range(0, 4).selectExpr("id as k", "id as v"))
    table.rename_column("v", "v1")
    table.rename_column("v1", "v2")
    src = spark.range(2, 6).selectExpr("id as k", "id * 1000 as v2")
    table.merge(src, key="k")
    rows = {r["k"]: r["v2"] for r in table.read().collect()}
    assert rows == {0: 0, 1: 1, 2: 2000, 3: 3000, 4: 4000, 5: 5000}


def test_delete_where_cow_after_rename(spark, table):
    table.append(spark.range(0, 10).selectExpr("id", "id as score"))
    table.rename_column("score", "points")
    table.delete_where("points", 3, 6)
    assert sorted(r["points"] for r in table.read().collect()) == [0, 1, 2, 7, 8, 9]


def test_schema_evolution_guards(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "g"), partition_spec=[("identity", "k")])
    t.append(spark.range(0, 4).selectExpr("id as k", "id as v"))
    with pytest.raises(SnapshotError, match="partition"):
        t.rename_column("k", "key")
    with pytest.raises(SnapshotError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(SnapshotError, match="already exists"):
        t.rename_column("v", "k")
    t.delete_where("v", 0, 0, mode="mor")
    with pytest.raises(SnapshotError, match="compact"):
        t.rename_column("v", "w")


def test_rename_updates_bloom_spec(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "b"), bloom_cols=["k"])
    t.append(spark.range(0, 100).selectExpr("id * 2 as k"))
    t.rename_column("k", "key")
    assert t.bloom_cols == ["key"]
    t.append(spark.range(0, 100).selectExpr("id * 2 + 1 as key"))
    # bloom probe maps current name to each epoch's local name: the even
    # probe prunes the odd (post-rename) file and vice versa
    hit = t.read_where("key", 42, 42)
    assert [r["key"] for r in hit.collect()] == [42]
    assert len(hit.inputFiles()) < len(t.read().inputFiles())
    # a fresh handle reloads the re-pointed spec
    assert SnapshotTable(spark, t.root).bloom_cols == ["key"]


def test_rename_on_branch_does_not_leak_to_main(spark, table):
    table.append(spark.range(0, 3).selectExpr("id", "id as score"))
    b = table.create_branch("audit")
    b.rename_column("score", "points")
    assert b.read().columns == ["id", "points"]
    assert table.read().columns == ["id", "score"]


# -- partition-spec evolution ---------------------------------------------


def test_partition_evolution_both_epochs_prune(spark, tmp_path):
    """After evolving identity(k) → bucket(v, 8): old files keep pruning by
    k, new files prune by v's bucket, and reads across both epochs are
    value-correct despite differing hidden layout columns."""
    import datetime as dt

    t = SnapshotTable(
        spark, str(tmp_path / "pe"), partition_spec=[("identity", "k")]
    )
    t.append(spark.range(0, 400).selectExpr("id % 4 as k", "id as v"))
    t.evolve_partition_spec([("bucket", "v", 8)])
    t.append(spark.range(400, 800).selectExpr("id % 4 as k", "id as v"))
    # full read spans both layouts
    assert t.read().count() == 800
    assert sorted(t.read().columns) == ["k", "v"]
    # source-column predicates stay correct across epochs
    assert t.read_where("k", 2, 2).count() == 200
    assert t.read_where("v", 100, 100).count() == 1
    assert t.read_where("v", 700, 700).count() == 1
    # old-epoch files still prune on k: a k-probe must not open every file
    hit = t.read_where("k", 2, 2)
    assert len(hit.inputFiles()) < len(t.read().inputFiles())


def test_partition_evolution_is_metadata_only(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "pe2"), partition_spec=[("identity", "k")]
    )
    t.append(spark.range(0, 100).selectExpr("id % 4 as k", "id as v"))
    files_before = set(t.read().inputFiles())
    v = t.evolve_partition_spec([("truncate", "v", 25)])
    assert set(t.read().inputFiles()) == files_before
    hist = {r["version"]: r["op"] for r in t.history().collect()}
    assert hist[v] == "partition-spec"
    with pytest.raises(SnapshotError, match="unknown partition transform"):
        t.evolve_partition_spec([("zigzag", "v", 3)])


def test_partition_evolution_survives_compaction_and_time_travel(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "pe3"), partition_spec=[("identity", "k")]
    )
    v1 = t.append(spark.range(0, 100).selectExpr("id % 2 as k", "id as v"))
    t.evolve_partition_spec([("identity", "v")])
    t.append(spark.range(100, 200).selectExpr("id % 2 as k", "id as v"))
    t.compact()  # rewrites everything under the ACTIVE (v-identity) spec
    assert t.read().count() == 200
    assert t.read_where("v", 150, 150).count() == 1
    # time travel to the pre-evolution version still works
    assert t.read(version=v1).count() == 100


def test_partition_evolution_guards_schema_change(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "pe4"), partition_spec=[("identity", "k")]
    )
    t.append(spark.range(0, 10).selectExpr("id as k", "id as v"))
    t.evolve_partition_spec([("identity", "v")])
    # both the historical and the active partition source refuse rename
    for col in ("k", "v"):
        with pytest.raises(SnapshotError, match="partition-spec source"):
            t.rename_column(col, col + "2")


def test_remove_orphans_sweeps_sidecar_metadata(spark, tmp_path):
    """A writer that died after the data write left a dir + manifest +
    bloom sidecar; the orphan sweep must reclaim all three."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        remove_orphans,
    )

    t = SnapshotTable(spark, str(tmp_path / "orph"), bloom_cols=["k"])
    t.append(spark.range(0, 10).selectExpr("id as k"))
    # simulate the crash: data + sidecars written, commit never happened
    orphan = t._write_new_dir(spark.range(10, 20).selectExpr("id as k"))
    name = os.path.basename(orphan)
    meta = os.path.join(t.root, "metadata")
    assert os.path.exists(os.path.join(meta, f"manifest-{name}.json"))
    assert os.path.exists(os.path.join(meta, f"bloom-{name}.json"))
    removed = remove_orphans(t, grace_seconds=0.0)
    assert removed == [orphan]
    assert not os.path.exists(os.path.join(meta, f"manifest-{name}.json"))
    assert not os.path.exists(os.path.join(meta, f"bloom-{name}.json"))
    assert t.read().count() == 10


def test_mor_delete_after_rename_applies_in_current_names(spark, table):
    """A MOR delete committed AFTER a rename references the new name; old-
    epoch files must be renamed BEFORE the delete predicate applies (the
    evolution guard guarantees pending deletes always postdate schema
    ops)."""
    table.append(spark.range(0, 10).selectExpr("id as k", "id as v"))
    table.rename_column("v", "val")
    table.delete_where("val", 3, 6, mode="mor")
    assert sorted(r["val"] for r in table.read().collect()) == [0, 1, 2, 7, 8, 9]
    # equality delete file path too
    table.delete_keys(spark.range(9, 10).selectExpr("id as val"), "val")
    assert sorted(r["val"] for r in table.read().collect()) == [0, 1, 2, 7, 8]


def test_incremental_and_changelog_across_rename(spark, table):
    """CDC surfaces across schema evolution: pre-rename appends read under
    TO-version names; the changelog treats metadata-only commits as
    row-neutral (append fast path survives, rewrites diff in to-schema)."""
    v1 = table.append(spark.range(0, 3).selectExpr("id as k", "id as v"))
    table.append(spark.range(3, 5).selectExpr("id as k", "id as v"))
    table.rename_column("v", "val")
    table.append(spark.range(5, 8).selectExpr("id as k", "id as val"))
    inc = table.read_incremental(v1)
    assert inc.columns == ["k", "val"]
    assert sorted(r["val"] for r in inc.collect()) == [3, 4, 5, 6, 7]
    cl = table.changelog(v1)
    assert {r["_change_type"] for r in cl.collect()} == {"insert"}
    assert sorted(r["val"] for r in cl.collect()) == [3, 4, 5, 6, 7]
    # general (rewrite) path: a CoW delete after the rename
    v_pre = table.current_version()
    table.delete_where("val", 0, 1)
    cl2 = table.changelog(v_pre)
    assert sorted((r["_change_type"], r["val"]) for r in cl2.collect()) == [
        ("delete", 0),
        ("delete", 1),
    ]
    # and spanning the rename itself through a rewrite: old side aligns
    cl3 = table.changelog(v1)
    got = sorted((r["_change_type"], r["val"]) for r in cl3.collect())
    assert got == [
        ("delete", 0),
        ("delete", 1),
        ("insert", 3),
        ("insert", 4),
        ("insert", 5),
        ("insert", 6),
        ("insert", 7),
    ]


def test_incremental_clustering_after_rename_keeps_current_names(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "clr"))
    t.append(spark.range(0, 50).selectExpr("id as x", "id * 2 as y"))
    t.rename_column("y", "z")
    t.append(spark.range(50, 100).selectExpr("id as x", "id * 2 as z"))
    t.cluster_by(["x"], incremental=True, target_file_bytes=1 << 20)
    assert sorted(t.read().columns) == ["x", "z"]
    assert t.read().count() == 100
    assert t.read_where("z", 100, 100).count() == 1


def test_partition_evolution_carries_pending_mor_deletes(spark, tmp_path):
    """Fuzz-found: a metadata-only partition-spec commit must CARRY pending
    MOR deletes — dropping them from the new snapshot entry resurrected
    deleted rows."""
    t = SnapshotTable(spark, str(tmp_path / "pmor"))
    t.append(spark.range(0, 1).selectExpr("id", "'a' as val"))
    t.delete_where("id", 0, 0, mode="mor")
    t.append(spark.range(0, 1).selectExpr("id", "'a' as val"))
    t.evolve_partition_spec([("bucket", "id", 4)])
    # one live row: the re-append postdates the delete's applies_to scope
    assert t.read().count() == 1


# -- zero-copy clone ------------------------------------------------------


def test_clone_is_zero_copy_and_independent(spark, table, tmp_path):
    table.append(spark.range(0, 10).selectExpr("id", "id * 2 as v"))
    v2 = table.append(spark.range(10, 15).selectExpr("id", "id * 2 as v"))
    src_files = set(table.read().inputFiles())
    clone = table.clone_to(str(tmp_path / "clone"))
    # same bytes, no copies
    assert set(clone.read().inputFiles()) == src_files
    assert clone.read().count() == 15
    # history carries over — time travel inside the clone works
    assert clone.read(version=1).count() == 10
    assert clone.current_version() == v2
    # divergence: writes to one never show in the other
    clone.append(spark.range(100, 103).selectExpr("id", "id * 2 as v"))
    table.append(spark.range(200, 201).selectExpr("id", "id * 2 as v"))
    assert clone.read().count() == 18
    assert table.read().count() == 16


def test_clone_preserves_schema_ops_and_deletes(spark, table, tmp_path):
    table.append(spark.range(0, 10).selectExpr("id", "id as v"))
    table.add_constraint("id_ok", "id >= 0")
    table.rename_column("v", "val")
    table.append(spark.range(10, 12).selectExpr("id", "id as val"))
    table.delete_where("val", 3, 5, mode="mor")
    clone = table.clone_to(str(tmp_path / "c2"))
    # constraints ride the cloned log prefix and gate the clone's writes
    assert clone._constraints() == {"id_ok": "id >= 0"}
    with pytest.raises(SnapshotError, match="id_ok"):
        clone.append(spark.range(0, 1).selectExpr("id - 5 as id", "id as val"))
    assert clone.read().columns == ["id", "val"]
    assert sorted(r["val"] for r in clone.read().collect()) == [0, 1, 2, 6, 7, 8, 9, 10, 11]
    # cloning an EARLIER version: pre-rename names
    old = table.clone_to(str(tmp_path / "c3"), version=1)
    assert old.read().columns == ["id", "v"]
    assert old.read().count() == 10


def test_clone_expire_cannot_delete_source_data(spark, table, tmp_path):
    table.append(spark.range(0, 5).selectExpr("id", "id as v"))
    clone = table.clone_to(str(tmp_path / "c4"))
    clone.overwrite(spark.range(5, 8).selectExpr("id", "id as v"))
    clone.overwrite(spark.range(8, 11).selectExpr("id", "id as v"))
    clone.expire_snapshots(keep_last=1)
    # the clone's own dead dir is reclaimed, but the SOURCE's data — which
    # the clone's expired v1 referenced — must be untouched
    assert table.read().count() == 5
    assert clone.read().count() == 3


def test_clone_keeps_bloom_pruning(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "src"), bloom_cols=["k"])
    t.append(spark.range(0, 300).selectExpr("id * 2 as k"))
    t.append(spark.range(0, 300).selectExpr("id * 2 + 1 as k"))
    clone = t.clone_to(str(tmp_path / "c5"))
    hit = clone.read_where("k", 42, 42)
    assert [r["k"] for r in hit.collect()] == [42]
    assert len(hit.inputFiles()) < len(clone.read().inputFiles())
    # clone inherits bloom_cols for its own future commits
    assert clone.bloom_cols == ["k"]


def test_update_where_cow_file_granularity(spark, tmp_path):
    """CoW UPDATE rewrites only files whose range intersects the predicate;
    others carry forward by reference, and old versions stay intact."""
    t = SnapshotTable(spark, str(tmp_path / "upd"), partition_spec=[("identity", "k")])
    v1 = t.append(spark.range(0, 100).selectExpr("id % 10 as k", "id as v", "'x' as tag"))
    files_before = set(t.read().inputFiles())
    t.update_where("k", 3, 3, {"v": "v + 1000", "tag": "'hit'"})
    rows = {(r["k"], r["v"]): r["tag"] for r in t.read().collect()}
    assert t.read().count() == 100
    hit = [(k, v) for (k, v), tag in rows.items() if tag == "hit"]
    assert len(hit) == 10 and all(k == 3 and v >= 1000 for k, v in hit)
    # untouched files carried forward by reference
    after = set(t.read().inputFiles())
    assert files_before & after, "disjoint files must be carried, not rewritten"
    # time travel unaffected
    assert all(r["tag"] == "x" for r in t.read(version=v1).collect())


def test_update_where_after_rename_and_with_mor(spark, table):
    table.append(spark.range(0, 10).selectExpr("id as k", "id as v"))
    table.rename_column("v", "val")
    table.delete_where("val", 8, 9, mode="mor")
    table.update_where("val", 0, 2, {"val": "val * 100"})
    got = sorted(r["val"] for r in table.read().collect())
    assert got == [0, 3, 4, 5, 6, 7, 100, 200]


# -- CHECK constraints ----------------------------------------------------


def test_constraints_reject_violating_batches(spark, table):
    table.append(spark.range(0, 5).selectExpr("id", "id * 10 as price"))
    table.add_constraint("price_nonneg", "price >= 0")
    # clean batch passes
    table.append(spark.range(5, 8).selectExpr("id", "id as price"))
    # violating batch rejected WHOLE, table unchanged
    v = table.current_version()
    with pytest.raises(SnapshotError, match="price_nonneg"):
        table.append(
            spark.range(8, 12).selectExpr("id", "id - 100 as price")
        )
    assert table.current_version() == v
    assert table.read().count() == 8


def test_constraint_on_existing_violations_refused(spark, table):
    table.append(spark.range(0, 5).selectExpr("id", "id - 3 as bal"))
    with pytest.raises(SnapshotError, match="existing data violates"):
        table.add_constraint("bal_pos", "bal >= 0")
    # no constraint was committed
    assert table._constraints() == {}


def test_constraint_drop_and_merge_enforcement(spark, table):
    table.append(spark.range(0, 5).selectExpr("id as k", "id as v"))
    table.add_constraint("v_small", "v < 100")
    with pytest.raises(SnapshotError, match="v_small"):
        table.merge(spark.range(0, 2).selectExpr("id as k", "id + 500 as v"), "k")
    table.drop_constraint("v_small")
    table.merge(spark.range(0, 2).selectExpr("id as k", "id + 500 as v"), "k")
    assert table.read().filter("v >= 500").count() == 2


# -- adversarial-review regressions (round 4, second segment) -------------


def test_add_constraint_cas_refuses_concurrent_append(spark, table, monkeypatch):
    """The validation scan is long; an append landing underneath must turn
    into SnapshotConflict, never a silent erasure of the appended files."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotConflict,
    )

    table.append(spark.range(0, 5).selectExpr("id", "id as v"))
    orig_read = table.read
    raced = {"done": False}

    def racing_read(*a, **k):
        df = orig_read(*a, **k)
        if not raced["done"]:
            raced["done"] = True
            SnapshotTable(spark, table.root).append(
                spark.range(5, 8).selectExpr("id", "id as v")
            )
        return df

    monkeypatch.setattr(table, "read", racing_read)
    with pytest.raises(SnapshotConflict):
        table.add_constraint("v_ok", "v >= 0")
    # nothing was lost and no constraint half-landed
    assert SnapshotTable(spark, table.root).read().count() == 8
    assert table._constraints() == {}


def test_stale_writer_allows_rename_back(spark, table):
    table.append(spark.range(0, 3).selectExpr("id", "id as a"))
    table.rename_column("a", "b")
    table.rename_column("b", "a")
    # 'a' is current again — appending it must be allowed
    table.append(spark.range(3, 5).selectExpr("id", "id as a"))
    assert sorted(r["a"] for r in table.read().collect()) == [0, 1, 2, 3, 4]
    # the dead intermediate name is still refused
    with pytest.raises(SnapshotError, match="predates rename"):
        table.append(spark.range(5, 6).selectExpr("id", "id as b"))


def test_transaction_stage_honors_constraints(spark, table, tmp_path):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
    )

    table.append(spark.range(0, 3).selectExpr("id", "id as v"))
    table.add_constraint("v_nonneg", "v >= 0")
    txn = MultiTableTransaction([table], str(tmp_path / "txn"))
    with pytest.raises(SnapshotError, match="v_nonneg"):
        txn.stage_append(table, spark.range(0, 3).selectExpr("id", "id - 10 as v"))


def test_update_where_honors_constraints(spark, table):
    table.append(spark.range(0, 5).selectExpr("id", "id as price"))
    table.add_constraint("price_nonneg", "price >= 0")
    v = table.current_version()
    with pytest.raises(SnapshotError, match="price_nonneg"):
        table.update_where("id", 0, 2, {"price": "price - 1000"})
    assert table.current_version() == v


def test_bloom_skips_precision_lost_ints(spark, tmp_path):
    """int64 values ≥ 2^53 in a NULLABLE column lose precision through the
    Arrow float promotion; the bloom must decline the column rather than
    wrong-prune the exact probe."""
    big = (1 << 53) + 1
    t = SnapshotTable(spark, str(tmp_path / "big"), bloom_cols=["k"])
    t.append(
        spark.range(0, 3).selectExpr(
            f"if(id = 0, null, id + {big} - 1) as k"
        )
    )
    got = t.read_where("k", big, big).collect()
    assert [r["k"] for r in got] == [big]


def test_changelog_across_drop_and_readd(spark, table):
    v1 = table.append(spark.range(0, 3).selectExpr("id", "id as v"))
    table.drop_column("v")
    table.append(spark.range(3, 5).selectExpr("id", "id as v"))
    table.delete_where("id", 0, 0)  # force the general (rewrite) path
    cl = table.changelog(v1)
    got = sorted((r["_change_type"], r["id"], r["v"] is None) for r in cl.collect())
    # old rows 1,2 carried (their v reads NULL both sides → no change rows);
    # row 0 deleted; rows 3,4 inserted with the new lineage's values
    assert got == [
        ("delete", 0, True),
        ("insert", 3, False),
        ("insert", 4, False),
    ]


def test_incremental_feed_survives_constraint_commits(spark, table):
    v1 = table.append(spark.range(0, 3).selectExpr("id", "id as v"))
    table.add_constraint("v_ok", "v >= 0")
    table.append(spark.range(3, 5).selectExpr("id", "id as v"))
    inc = table.read_incremental(v1)
    assert sorted(r["id"] for r in inc.collect()) == [3, 4]
    cl = table.changelog(v1)
    assert {r["_change_type"] for r in cl.collect()} == {"insert"}


def test_branch_rename_does_not_repoint_main_spec(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "brs"), bloom_cols=["k"])
    t.append(spark.range(0, 200).selectExpr("id * 2 as k"))
    b = t.create_branch("audit")
    b.rename_column("k", "key")
    # main's persisted spec still blooms 'k' for its own future appends
    fresh = SnapshotTable(spark, t.root)
    assert fresh.bloom_cols == ["k"]
    fresh.append(spark.range(0, 200).selectExpr("id * 2 + 1 as k"))
    hit = fresh.read_where("k", 42, 42)
    assert [r["k"] for r in hit.collect()] == [42]
    assert len(hit.inputFiles()) < len(fresh.read().inputFiles())


def test_delete_keys_composite_columns(spark, table):
    """Multi-column equality delete: a row drops only when EVERY named
    column matches a delete-file row."""
    table.append(
        spark.range(0, 6).selectExpr("id % 3 as a", "id % 2 as b", "id as v")
    )
    keys = spark.createDataFrame([(0, 0), (2, 0)], "a long, b long")
    table.delete_keys(keys, ["a", "b"])
    left = sorted((r["a"], r["b"]) for r in table.read().collect())
    # dropped: (0,0) [id 0] and (2,0) [id 2]; (0,1) id 3, (1,1) id 1,
    # (1,0) id 4, (2,1) id 5 remain
    assert left == [(0, 1), (1, 0), (1, 1), (2, 1)]
    # later appends of the same composite keys are unaffected (sequence
    # number semantics)
    table.append(spark.createDataFrame([(0, 0, 99)], "a long, b long, v long"))
    assert table.read().count() == 5
    # compaction materializes the delete
    table.compact()
    assert table.read().count() == 5


# -- positional merge-on-read deletes -------------------------------------


def test_positional_delete_arbitrary_predicate(spark, table):
    """Position-delete files handle predicates no range/key column maps to;
    later appends of identical rows are unaffected (position scoping)."""
    table.append(spark.range(0, 10).selectExpr("id", "id % 3 as tag"))
    v = table.delete_where_positional("tag = 1 AND id > 3")
    assert sorted(r["id"] for r in table.read().collect()) == [0, 1, 2, 3, 5, 6, 8, 9]
    # identical rows appended AFTER the delete are untouched
    table.append(spark.range(4, 5).selectExpr("id", "id % 3 as tag"))
    assert sorted(r["id"] for r in table.read().collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9,
    ]
    # time travel to before the delete still sees all rows
    assert table.read(version=v - 1).count() == 10
    # compaction materializes; counts unchanged
    table.compact()
    assert table.read().count() == 9


def test_positional_delete_stacks_with_other_deletes(spark, table):
    table.append(spark.range(0, 12).selectExpr("id", "id as v"))
    table.delete_where("id", 0, 1, mode="mor")          # predicate delete
    table.delete_keys(spark.range(2, 3).toDF("id"), "id")  # equality delete
    table.delete_where_positional("v % 5 = 4")          # positional delete
    assert sorted(r["id"] for r in table.read().collect()) == [3, 5, 6, 7, 8, 10, 11]


def test_positional_delete_after_rename(spark, table):
    table.append(spark.range(0, 6).selectExpr("id", "id as score"))
    table.rename_column("score", "points")
    table.delete_where_positional("points IN (1, 3)")
    assert sorted(r["points"] for r in table.read().collect()) == [0, 2, 4, 5]


def test_constraint_on_empty_table_gates_first_append(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "empty_c"))
    t.add_constraint("pos", "v >= 0")
    with pytest.raises(SnapshotError, match="pos"):
        t.append(spark.range(0, 3).selectExpr("id", "id - 10 as v"))
    t.append(spark.range(0, 3).selectExpr("id", "id as v"))
    assert t.read().count() == 3


def test_bloom_table_tolerates_empty_batches(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "eb"), bloom_cols=["k"])
    t.append(spark.range(0, 5).selectExpr("id as k"))
    t.append(spark.range(0, 0).selectExpr("id as k"))  # empty commit
    assert t.read().count() == 5
    assert t.read_where("k", 3, 3).count() == 1
    assert t.read_where("k", 99, 99).count() == 0


def test_positional_delete_review_regressions(spark, table, tmp_path):
    """Second-review findings: (a) predicate on a dropped-then-re-added
    column reads old lineage as NULL instead of crashing; (b) empty-table
    and no-match calls are clean no-ops; (c) applies_to scopes to matched
    FILES so untouched file groups never pay the anti-join."""
    # (b) empty table: no-op, no crash
    t = SnapshotTable(spark, str(tmp_path / "pe"))
    t.add_constraint("any", "1 = 1")
    assert t.delete_where_positional("1 = 1") == t.current_version()
    # (a) drop + re-add lineage
    table.append(spark.range(0, 3).selectExpr("id", "id * 100 as score"))
    table.drop_column("score")
    table.append(spark.range(3, 6).selectExpr("id", "id as score"))
    table.delete_where_positional("score >= 4")  # old lineage is NULL → safe
    assert sorted(r["id"] for r in table.read().collect()) == [0, 1, 2, 3]
    # (b) no-match predicate: version unchanged
    v = table.current_version()
    assert table.delete_where_positional("id > 999") == v
    # (c) matched-file scoping: the delete's applies_to lists files, and a
    # point-read of an unmatched id binds no position columns (plan-level:
    # its scan group has no applicable positional delete)
    snap = table._snapshot(None)
    pos_deletes = [d for d in snap.get("deletes", []) if d["type"] == "pos"]
    assert pos_deletes and all(
        q.endswith(".parquet") for d in pos_deletes for q in d["applies_to"]
    )


def test_rollback_preserves_pending_mor_deletes(spark, table):
    """Rolling back TO a version with pending merge-on-read deletes must
    not resurrect the deleted rows: the rollback commit re-references the
    target's data files AND its pending delete set (found by the round-6
    fuzz-extension review — rollback() previously copied only dirs)."""
    table.append(spark.range(0, 10))
    v2 = table.delete_where("id", 3, 5, mode="mor")  # pending, not rewritten
    assert _ids(table.read()) == [0, 1, 2, 6, 7, 8, 9]
    table.append(spark.range(100, 102))  # carries the pending delete forward
    v4 = table.rollback(v2)
    assert v4 == 3 + 1 == 4
    # the rolled-back view is exactly v2's: MOR delete still applied
    assert _ids(table.read()) == [0, 1, 2, 6, 7, 8, 9]
    # and a rollback PAST the delete really does restore the rows
    table.rollback(1)
    assert _ids(table.read()) == list(range(10))


def test_stage_upsert_keys_merges_on_read(spark, tmp_path):
    """stage_upsert_keys must (a) supersede matched keys, insert unmatched,
    leave others untouched; (b) cost O(batch) — one new data dir, one
    delete file, the base dirs carried by REFERENCE; (c) stack across
    batches; and (d) compact away: an overwrite of read() materializes
    the pending deletes and clears them."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "open"))
    base = spark.createDataFrame(
        [(u, 0) for u in range(10)], "user_id long, v int"
    )
    t.append(base.coalesce(1))
    base_dirs = set(t._snapshot(None)["dirs"])

    def rows(df):
        return sorted((r["user_id"], r["v"]) for r in df.collect())

    # batch 1: update users 3..5, insert 100
    b1 = spark.createDataFrame(
        [(3, 1), (4, 1), (5, 1), (100, 1)], "user_id long, v int"
    )
    txn = MultiTableTransaction([t], str(tmp_path / "txns"))
    txn.stage_upsert_keys(t, b1.coalesce(1), key="user_id", batch_id="b1")
    txn.commit()
    want = {(u, 0) for u in range(10) if u not in (3, 4, 5)} | {
        (3, 1), (4, 1), (5, 1), (100, 1)
    }
    assert set(rows(t.read())) == want
    snap = t._snapshot(None)
    # base dirs carried by reference, exactly one new dir, one eq delete
    assert base_dirs < set(snap["dirs"]) and len(snap["dirs"]) == 2
    assert len(snap.get("deletes", [])) == 1
    assert snap["deletes"][0]["type"] == "eq"
    assert set(snap["deletes"][0]["applies_to"]) == base_dirs

    # batch 2 stacks: update 4 again and 100
    b2 = spark.createDataFrame([(4, 2), (100, 2)], "user_id long, v int")
    txn2 = MultiTableTransaction([t], str(tmp_path / "txns"))
    txn2.stage_upsert_keys(t, b2.coalesce(1), key="user_id", batch_id="b2")
    txn2.commit()
    want = (want - {(4, 1), (100, 1)}) | {(4, 2), (100, 2)}
    assert set(rows(t.read())) == want
    assert len(t._snapshot(None).get("deletes", [])) == 2

    # compaction materializes and clears the pending deletes
    t.overwrite(t.read())
    snap = t._snapshot(None)
    assert not snap.get("deletes")
    assert set(rows(t.read())) == want

    # an append that lands between staging and commit survives the
    # commit, and the staged row still supersedes its key exactly once
    r = SnapshotTable(spark, str(tmp_path / "race"))
    r.append(spark.createDataFrame([(u, 0) for u in range(10)], "user_id long, v int"))
    txn3 = MultiTableTransaction([r], str(tmp_path / "txns"))
    txn3.stage_upsert_keys(
        r, spark.createDataFrame([(5, 7)], "user_id long, v int"), key="user_id"
    )
    SnapshotTable(spark, str(tmp_path / "race")).append(
        spark.createDataFrame([(u, 0) for u in range(100, 105)], "user_id long, v int")
    )
    assert r.read().count() == 15
    txn3.commit()
    got = rows(r.read())
    assert [u for u, _ in got] == list(range(10)) + list(range(100, 105))
    assert [v for u, v in got if u == 5] == [7]


def test_stage_upsert_keys_recovery_and_stale_pin(spark, tmp_path):
    """A crashed upsert-keys intent must recover exactly once. One staged
    before a racing APPEND still applies (its eq-delete is scoped at fold
    time, so the append survives and is superseded on matching keys); one
    staged before a racing REWRITE must NOT apply (it would revert the
    racing writer's commit) — the overwrite pin, narrowed to rewrites."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources import (
        snapshots as snapmod,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 0), (2, 0)], "user_id long, v int"))
    txn = MultiTableTransaction([t], str(tmp_path / "txns"))
    txn.stage_upsert_keys(
        t,
        spark.createDataFrame([(2, 9), (3, 9)], "user_id long, v int"),
        key="user_id",
    )
    os.makedirs(str(tmp_path / "txns"), exist_ok=True)
    intent = str(tmp_path / "txns" / "txn-cafef00d.json")
    with open(intent, "w") as f:
        _json.dump(txn.staged, f)
    # crash before apply -> recovery completes it
    recovered = recover_transactions(spark, str(tmp_path / "txns"))
    assert recovered == [intent]
    got = sorted((r["user_id"], r["v"]) for r in t.read().collect())
    assert got == [(1, 0), (2, 9), (3, 9)]

    # racing append: stage against current version, then append a row
    # with the upserted key; recovery applies the upsert on top of it
    txn2 = MultiTableTransaction([t], str(tmp_path / "txns"))
    txn2.stage_upsert_keys(
        t,
        spark.createDataFrame([(1, 5)], "user_id long, v int"),
        key="user_id",
    )
    t.append(spark.createDataFrame([(7, 0), (1, 0)], "user_id long, v int"))
    intent2 = str(tmp_path / "txns" / "txn-deadd00d.json")
    with open(intent2, "w") as f:
        _json.dump(txn2.staged, f)
    assert recover_transactions(spark, str(tmp_path / "txns")) == [intent2]
    got = sorted((r["user_id"], r["v"]) for r in t.read().collect())
    assert got == [(1, 5), (2, 9), (3, 9), (7, 0)]

    # stale pin: a racing compact (a rewrite) aborts the intent
    txn3 = MultiTableTransaction([t], str(tmp_path / "txns"))
    txn3.stage_upsert_keys(
        t,
        spark.createDataFrame([(2, 6)], "user_id long, v int"),
        key="user_id",
    )
    t.compact()
    intent3 = str(tmp_path / "txns" / "txn-feedf00d.json")
    with open(intent3, "w") as f:
        _json.dump(txn3.staged, f)
    assert recover_transactions(spark, str(tmp_path / "txns")) == []
    # aborted, not applied: the compacted rows stand, no v=6 row
    got = sorted((r["user_id"], r["v"]) for r in t.read().collect())
    assert got == [(1, 5), (2, 9), (3, 9), (7, 0)]
    assert os.listdir(str(tmp_path / "txns")) == ["txn-feedf00d.aborted.json"]


def test_write_training_shards_replay_and_txn(spark, tmp_path):
    """Shard-writer guarantees: (a) same seed => byte-identical shard
    membership, order, and manifest across two independent writes
    (reproducible training order); (b) a different seed reshuffles (at
    least one shard content hash changes); (c) rows and manifest commit
    in ONE multi-table transaction -- after the write, both tables exist
    at version 1 and the manifest's totals reconcile exactly with the
    committed rows."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.sampling import (
        shard_corpus,
        shard_manifest,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
    )

    docs = spark.createDataFrame(
        [(i, f"doc body {i} " + "tok " * (i % 7)) for i in range(57)],
        "doc_id long, text string",
    )

    def write(root, seed):
        keyed = shard_corpus(docs, seed, 4)
        rows_t = SnapshotTable(spark, f"{root}/rows")
        man_t = SnapshotTable(spark, f"{root}/manifest")
        txn = MultiTableTransaction([rows_t, man_t], f"{root}/txn")
        txn.stage_append(rows_t, keyed)
        txn.stage_append(man_t, shard_manifest(keyed))
        txn.commit()
        return rows_t, man_t

    r1, m1 = write(tmp_path / "a", "s1")
    r2, m2 = write(tmp_path / "b", "s1")
    man1 = sorted(map(tuple, m1.read().collect()))
    man2 = sorted(map(tuple, m2.read().collect()))
    assert man1 == man2 and len(man1) == 4
    rows1 = sorted(map(tuple, r1.read().collect()))
    rows2 = sorted(map(tuple, r2.read().collect()))
    assert rows1 == rows2

    _r3, m3 = write(tmp_path / "c", "s2")
    man3 = {t[0]: t for t in map(tuple, m3.read().collect())}
    assert any(man3[s][3] != h for (s, _n, _t, h) in man1 if s in man3)

    # (c) atomic pair: both tables at their first committed version, and
    # the manifest reconciles with the rows it was committed alongside
    assert r1.current_version() == m1.current_version() == 1
    got = (
        r1.read()
        .groupBy("shard")
        .count()
        .collect()
    )
    assert {r["shard"]: r["count"] for r in got} == {
        s: n for (s, n, _t, _h) in man1
    }


def test_log_grows_linearly_with_commits(spark, table):
    """Each log entry records only what its commit changed, so 40 appends
    write about twice the log bytes of 20. Entries that repeat the whole
    visible set grow the log quadratically (a ratio near 4)."""
    sizes = {}
    for i in range(40):
        table.append(spark.range(i, i + 1).coalesce(1))
        sizes[i + 1] = os.path.getsize(table._meta_path)
    assert sizes[40] < 2.5 * sizes[20]
    assert _ids(table.read()) == list(range(40))


def test_full_state_log_folds_to_the_same_versions(spark, tmp_path):
    """Logs written before the add/remove format hold the whole visible
    state in every entry (``dirs`` plus ``deletes`` with their scopes).
    Such a log, rebuilt from ``_snapshot(v)`` of a table with appends, a
    CoW merge that splits a dir, an equality and a positional delete and an
    overwrite, must behave exactly like the delta log the same commits
    wrote: every version, ``history()``, ``read_incremental`` and
    ``expire_snapshots``."""
    import json
    import shutil

    a = SnapshotTable(spark, str(tmp_path / "a"))
    two_files = spark.range(0, 100).repartitionByRange(2, "id")
    a.append(two_files.withColumn("val", F.lit("a")))
    a.append(_one_file_range(spark, 100, 120, val="a"))
    a.merge(spark.createDataFrame([(10, "m"), (30, "m")], "id long, val string"), "id")
    a.delete_keys(spark.createDataFrame([(3,), (110,)], "id long"), "id")
    a.delete_where_positional("id = 60")
    a.append(_one_file_range(spark, 200, 210, val="b"))
    a.overwrite(_one_file_range(spark, 300, 320, val="c"))
    a.append(_one_file_range(spark, 400, 405, val="d"))
    a.append(_one_file_range(spark, 500, 503, val="e"))
    delta = a._log()
    assert any("remove" in e for e in delta)
    full = [a._snapshot(e["id"]) for e in delta]
    assert all("remove" not in e and "add" not in e for e in full)

    def write_log(t, entries):
        with open(t._meta_path, "w") as f:
            json.dump(entries, f, indent=1)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def outcome(read):
        try:
            return rows(read())
        except SnapshotError as e:
            return str(e)

    def observe(t):
        return (
            {v: outcome(lambda: t.read(v)) for v in range(1, t.current_version() + 1)},
            [tuple(r) for r in t.history().collect()],
            outcome(lambda: t.read_incremental(1)),
            outcome(lambda: t.read_incremental(1, 2)),
        )

    before = observe(a)
    v5_ids = [r[0] for r in before[0][5]]
    assert len(v5_ids) == 117 and not {3, 60, 110} & set(v5_ids)
    write_log(a, full)
    assert observe(a) == before
    write_log(a, delta)

    # expiry deletes files, so it runs on a copy of the table whose
    # metadata names the copy's own files and whose log is full-state
    b_root = str(tmp_path / "b")
    shutil.copytree(a.root, b_root)

    def moved(obj):
        return json.loads(json.dumps(obj).replace(a.root, b_root))

    meta = os.path.join(b_root, "metadata")
    for name in os.listdir(meta):
        with open(os.path.join(meta, name)) as f:
            obj = json.load(f)
        with open(os.path.join(meta, name), "w") as f:
            json.dump(moved(obj), f)
    b = SnapshotTable(spark, b_root)
    write_log(b, moved(full))

    def data_files(t):
        base = os.path.join(t.root, "data")
        return sorted(
            os.path.relpath(os.path.join(d, n), base)
            for d, _, names in os.walk(base)
            for n in names
        )

    assert a.expire_snapshots(keep_last=2) == b.expire_snapshots(keep_last=2) == list(range(1, 8))
    assert data_files(a) == data_files(b)
    assert observe(a) == observe(b)
