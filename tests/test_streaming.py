"""Streaming + ETL-parity tests (SURVEY.md §5.3/§5.4).

Fixtures mirror the reference's data model edge cases (FIXTURES.md §A1):
an all-EV file (fuel_level 100% null — the schema-inference trap), an empty
file, a duplicate file, and late events for watermark semantics.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from pyspark.sql import functions as F

from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.ndjson import read_batch
from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
    SnapshotTable,
)
from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
    enrich,
    run_batch_ingest,
    start_snapshot_ingest,
    start_transactional_fanout_ingest,
    start_upsert_ingest,
    with_event_time,
)
from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.windowed import (
    dedup_within_watermark,
    session_counts,
    tumbling_counts,
)


def _gps_record(vehicle_id="veh00001", ts="2024-01-01 10:00:00", ev=False, **kw):
    rec = {
        "vehicle_id": vehicle_id,
        "latitude": 12.345678,
        "longitude": -45.678901,
        "speed_kmh": 55.5,
        "direction": "NE",
        "fuel_level": None if ev else 42.5,
        "battery_level": 88.0,
        "seat_belt_status": "Fastened",
        "collision_detected": False,
        "sudden_braking": False,
        "timestamp": ts,
    }
    rec.update(kw)
    return rec


def _write_ndjson(path, records):
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


@pytest.fixture
def gps_dir(tmp_path):
    d = tmp_path / "incoming"
    d.mkdir()
    _write_ndjson(
        d / "batch1.json",
        [_gps_record(ts=f"2024-01-01 10:00:{s:02d}") for s in range(10)],
    )
    # all-EV file: fuel_level entirely null — must stay DoubleType
    _write_ndjson(
        d / "batch2_ev.json",
        [_gps_record(vehicle_id="veh00002", ev=True, ts=f"2024-01-01 10:05:{s:02d}") for s in range(5)],
    )
    (d / "batch3_empty.json").write_text("")
    return str(d)


def test_batch_ingest_enrichment_parity(spark, tmp_path, gps_dir):
    """The reference's enrichment columns (spark_job.py:156-164) + explicit
    schema keeps fuel_level DoubleType even for the all-EV file."""
    root = str(tmp_path / "gps")
    files = [os.path.join(gps_dir, f) for f in sorted(os.listdir(gps_dir))]
    run_batch_ingest(spark, files, root)
    out = SnapshotTable(spark, root).read()
    assert out.count() == 15
    assert {"input_file", "processed_time", "processed_date"} <= set(out.columns)
    assert dict(out.dtypes)["fuel_level"] == "double"
    assert dict(out.dtypes)["processed_time"] == "timestamp"
    ev_rows = out.filter(F.col("vehicle_id") == "veh00002")
    assert ev_rows.count() == 5
    assert ev_rows.filter(F.col("fuel_level").isNull()).count() == 5
    # input_file lineage points at the actual source file
    assert out.filter(F.col("input_file").contains("batch1.json")).count() == 10


def test_streaming_ingest_exactly_once_restart(spark, tmp_path, gps_dir):
    """Checkpointed streaming ingest: draining twice with the same checkpoint
    must not duplicate rows (the upgrade over the reference's at-least-once
    delete-after-commit, spark_job.py:61 vs :185), and neither may a batch
    the sink committed but the checkpoint never recorded."""
    table = SnapshotTable(spark, str(tmp_path / "gps_stream"))
    ckpt = str(tmp_path / "ckpt")
    q = start_snapshot_ingest(spark, gps_dir, table.root, checkpoint_dir=ckpt)
    q.awaitTermination(120)
    assert table.read().count() == 15
    # restart with same checkpoint, no new files → no new rows
    q2 = start_snapshot_ingest(spark, gps_dir, table.root, checkpoint_dir=ckpt)
    q2.awaitTermination(120)
    assert table.read().count() == 15
    # crash between the table commit and the checkpoint commit: drop the
    # newest commits/<n> so the restart replays batch n → no new version
    v = table.current_version()
    commits = os.path.join(ckpt, "commits")
    newest = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for n in (str(newest), f".{newest}.crc"):
        if os.path.exists(os.path.join(commits, n)):
            os.remove(os.path.join(commits, n))
    q_replay = start_snapshot_ingest(spark, gps_dir, table.root, checkpoint_dir=ckpt)
    q_replay.awaitTermination(120)
    assert len(q_replay.recentProgress) == 1  # batch n re-ran, sink skipped it
    assert table.current_version() == v
    assert table.read().count() == 15
    # drop a new file in → only its rows are appended
    _write_ndjson(
        os.path.join(gps_dir, "batch4.json"),
        [_gps_record(vehicle_id="veh00003", ts="2024-01-01 10:10:00")],
    )
    q3 = start_snapshot_ingest(spark, gps_dir, table.root, checkpoint_dir=ckpt)
    q3.awaitTermination(120)
    assert table.read().count() == 16
    # a second source streamed into the same table through its own
    # checkpoint: its batch numbers restart at 0 and must not be taken for
    # replays of the first stream's batches
    site_b = tmp_path / "site_b"
    site_b.mkdir()
    for i in range(3):
        _write_ndjson(
            site_b / f"b{i}.json",
            [_gps_record(vehicle_id=f"veh0001{i}", ts="2024-01-01 11:00:00")],
        )
    q4 = start_snapshot_ingest(
        spark,
        str(site_b),
        table.root,
        checkpoint_dir=str(tmp_path / "ckpt_b"),
        max_files_per_trigger=1,
    )
    q4.awaitTermination(120)
    out = table.read()
    assert out.count() == 19
    assert out.filter(F.col("vehicle_id") == "veh00003").count() == 1
    site_b_rows = out.filter(F.col("vehicle_id").startswith("veh0001"))
    assert sorted(r[0] for r in site_b_rows.select("vehicle_id").collect()) == [
        "veh00010",
        "veh00011",
        "veh00012",
    ]


def _drain_to_memory(df, name, timeout=120):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return q


def test_tumbling_window_with_watermark_drops_late(spark, tmp_path):
    """Append mode emits a window only after the watermark passes its end;
    rows older than the watermark are dropped. Two drains sharing one
    checkpoint (watermark state persists across restarts)."""
    d = tmp_path / "ev"
    d.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt_win")
    schema = None

    def drain():
        stream = with_event_time(
            spark.readStream.schema(schema).json(str(d))
        )
        agg = tumbling_counts(stream, window="5 minutes", watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # phase 1: two on-time windows + a sentinel that advances the watermark
    _write_ndjson(
        d / "f1.json",
        [_gps_record(ts=f"2024-01-01 10:{m:02d}:00") for m in (0, 1, 6, 7)]
        + [_gps_record(ts="2024-01-01 10:30:00")],
    )
    schema = read_batch(spark, str(d / "f1.json")).schema
    drain()
    rows = {
        (r.window_start.strftime("%H:%M"), r.n)
        for r in spark.read.parquet(out_dir).collect()
    }
    # watermark = 10:30 - 10min = 10:20 → 10:00 and 10:05 finalized
    assert rows == {("10:00", 2), ("10:05", 2)}

    # phase 2: a late event (10:02, below watermark → dropped) + a future
    # event that pushes the watermark past the sentinel's window
    _write_ndjson(
        d / "f2.json",
        [_gps_record(ts="2024-01-01 10:02:00"), _gps_record(ts="2024-01-01 11:00:00")],
    )
    drain()
    rows = {
        (r.window_start.strftime("%H:%M"), r.n)
        for r in spark.read.parquet(out_dir).collect()
    }
    # 10:30 window emitted with 1 row; late 10:02 did NOT re-emit 10:00
    assert rows == {("10:00", 2), ("10:05", 2), ("10:30", 1)}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    d = tmp_path / "dup"
    d.mkdir()
    recs = [_gps_record(ts="2024-01-01 10:00:00")] * 3 + [
        _gps_record(vehicle_id="veh00009", ts="2024-01-01 10:00:30")
    ]
    _write_ndjson(d / "f1.json", recs)
    stream = with_event_time(
        spark.readStream.schema(read_batch(spark, str(d / "f1.json")).schema).json(str(d))
    )
    deduped = dedup_within_watermark(stream, ["vehicle_id", "timestamp"])
    _drain_to_memory(deduped, "dedup_test")
    out = spark.sql("select * from dedup_test").collect()
    assert len(out) == 2


def test_session_window_streaming(spark, tmp_path):
    d = tmp_path / "sess"
    d.mkdir()
    recs = [
        _gps_record(ts="2024-01-01 10:00:00"),
        _gps_record(ts="2024-01-01 10:00:10"),  # same session (gap 10s < 30s)
        _gps_record(ts="2024-01-01 10:05:00"),  # new session
        _gps_record(ts="2024-01-01 12:00:00"),  # far future: advances watermark
    ]
    _write_ndjson(d / "f1.json", recs)
    stream = with_event_time(
        spark.readStream.schema(read_batch(spark, str(d / "f1.json")).schema).json(str(d))
    )
    sess = session_counts(stream, gap="30 seconds", watermark="1 minute")
    _drain_to_memory(sess, "session_test")
    out = sorted(
        (r.session_start.strftime("%H:%M:%S"), r.n)
        for r in spark.sql("select * from session_test").collect()
    )
    assert ("10:00:00", 2) in out
    assert ("10:05:00", 1) in out


def test_stateful_trip_segmentation(spark, tmp_path):
    """applyInPandasWithState trip segmentation: gap > 120 s splits trips."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.stateful import trip_segments

    d = tmp_path / "trips"
    d.mkdir()
    recs = [
        _gps_record(ts="2024-01-01 10:00:00", speed_kmh=10.0),
        _gps_record(ts="2024-01-01 10:00:30", speed_kmh=99.0),
        _gps_record(ts="2024-01-01 10:01:00", speed_kmh=20.0),
        # gap of 10 minutes → trip 1 closes when this arrives
        _gps_record(ts="2024-01-01 10:11:00", speed_kmh=30.0),
    ]
    _write_ndjson(d / "f1.json", recs)
    stream = with_event_time(
        spark.readStream.schema(read_batch(spark, str(d / "f1.json")).schema).json(str(d))
    )
    trips = trip_segments(stream)
    q = (
        trips.writeStream.format("memory")
        .queryName("trips_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # availableNow does not self-terminate here: the open trip holds a
    # pending processing-time state timeout, so the query keeps triggering
    # while waiting for it. Poll the sink until the closed trip lands, then
    # hold an 8 s grace window (micro-batches keep running during it) so a
    # regression that re-emits the trip in a later micro-batch still fails
    # the exact-count assert below. The grace must stay well under the
    # 120 s state timeout — at that point the SECOND trip legitimately
    # closes and a second row is correct, not a regression.
    deadline = time.time() + 120
    first_row_at = None
    while time.time() < deadline:
        if q.awaitTermination(2):
            break
        if spark.sql("select count(*) from trips_test").first()[0] >= 1:
            if first_row_at is None:
                first_row_at = time.time()
            elif time.time() - first_row_at >= 8:
                break
    q.stop()
    q.awaitTermination(30)
    out = spark.sql("select * from trips_test").collect()
    assert len(out) == 1  # first trip closed; second still open in state
    t = out[0]
    assert t.n_points == 3
    assert t.max_speed == 99.0
    assert t.trip_start.strftime("%H:%M:%S") == "10:00:00"
    assert t.trip_end.strftime("%H:%M:%S") == "10:01:00"


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas state-server protocol needs protobuf",
)
def test_transform_with_state_running_stats(spark, tmp_path):
    """transformWithStateInPandas (Spark 4.x stateful API): running
    per-vehicle stats accumulate across micro-batches through RocksDB-backed
    ValueState."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.stateful import (
        running_vehicle_stats,
    )

    d = tmp_path / "tws"
    d.mkdir()
    _write_ndjson(
        d / "f1.json",
        [
            _gps_record(ts="2024-01-01 10:00:00", speed_kmh=10.0),
            _gps_record(ts="2024-01-01 10:00:30", speed_kmh=99.0),
        ],
    )
    _write_ndjson(
        d / "f2.json",
        [
            _gps_record(ts="2024-01-01 10:01:00", speed_kmh=20.0),
            _gps_record(ts="2024-01-01 10:01:30", speed_kmh=30.0),
        ],
    )
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(
            read_batch(spark, str(d / "f1.json")).schema
        ).option("maxFilesPerTrigger", 1).json(str(d))
        q = (
            running_vehicle_stats(stream)
            .writeStream.format("memory")
            .queryName("tws_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("select * from tws_test").collect()
        # one emission per micro-batch; the final one is cumulative over both
        assert len(out) == 2
        final = max(out, key=lambda r: r.n_points)
        assert final.n_points == 4
        assert final.max_speed == 99.0
        assert abs(final.total_speed - 159.0) < 1e-9
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)


def test_update_mode_reemits_growing_window(spark, tmp_path):
    """T11 output modes: in UPDATE mode a window re-emits each micro-batch
    that changes it (growing count), where append-mode would stay silent
    until the watermark closes the window."""
    d = tmp_path / "in"
    d.mkdir()
    _write_ndjson(
        d / "f1.json", [_gps_record(ts="2024-01-01 10:00:10")]
    )
    _write_ndjson(
        d / "f2.json",
        [_gps_record(ts="2024-01-01 10:00:20"), _gps_record(ts="2024-01-01 10:00:30")],
    )
    schema = read_batch(spark, str(d / "f1.json")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        tumbling_counts(with_event_time(stream))
        .writeStream.format("memory")
        .queryName("upd_mode")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    emitted = [
        r.n for r in spark.sql("select n from upd_mode order by n").collect()
    ]
    # same window emitted twice with growing counts: 1 (batch 1), 3 (batch 2)
    assert emitted == [1, 3]


def test_streaming_upsert_keeps_latest_per_vehicle(spark, tmp_path):
    """foreachBatch MERGE (CDC/latest-state pattern): newer readings replace
    older rows per vehicle across micro-batches; table stays one row/key."""
    d = tmp_path / "in"
    d.mkdir()
    _write_ndjson(
        d / "f1.json",
        [
            _gps_record(vehicle_id="v1", ts="2024-01-01 10:00:00", speed_kmh=10.0),
            _gps_record(vehicle_id="v2", ts="2024-01-01 10:00:00", speed_kmh=20.0),
        ],
    )
    _write_ndjson(
        d / "f2.json",
        [
            # newer v1 reading + brand-new v3
            _gps_record(vehicle_id="v1", ts="2024-01-01 10:05:00", speed_kmh=99.0),
            _gps_record(vehicle_id="v3", ts="2024-01-01 10:05:00", speed_kmh=30.0),
        ],
    )
    # an empty file is a micro-batch of its own: it must commit nothing
    (d / "f3_empty.json").write_text("")
    table = SnapshotTable(spark, str(tmp_path / "vehicle_latest"))
    q = start_upsert_ingest(
        spark,
        str(d),
        table.root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,  # forces multi-batch → real cross-batch merge
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert table.current_version() == 2  # f1 append + f2 merge
    got = {
        r.vehicle_id: (r.speed_kmh, r.timestamp)
        for r in table.read().collect()
    }
    assert set(got) == {"v1", "v2", "v3"}
    assert got["v1"] == (99.0, "2024-01-01 10:05:00"), "newest v1 must win"
    assert got["v2"][0] == 20.0
    assert got["v3"][0] == 30.0


def test_streaming_upsert_restart_is_exactly_once(spark, tmp_path):
    """Restarting the upsert stream from its checkpoint neither re-applies
    old batches (merge is idempotent) nor misses new files."""
    d = tmp_path / "in"
    d.mkdir()
    _write_ndjson(
        d / "f1.json",
        [_gps_record(vehicle_id="v1", ts="2024-01-01 10:00:00", speed_kmh=10.0)],
    )
    table = SnapshotTable(spark, str(tmp_path / "latest"))
    ckpt = str(tmp_path / "ckpt")
    q = start_upsert_ingest(spark, str(d), table.root, checkpoint_dir=ckpt)
    q.awaitTermination(120)
    first = {r.vehicle_id: r.speed_kmh for r in table.read().collect()}
    assert first == {"v1": 10.0}
    # new file lands; restart from the same checkpoint
    _write_ndjson(
        d / "f2.json",
        [
            _gps_record(vehicle_id="v1", ts="2024-01-01 10:05:00", speed_kmh=50.0),
            _gps_record(vehicle_id="v2", ts="2024-01-01 10:05:00", speed_kmh=20.0),
        ],
    )
    q = start_upsert_ingest(spark, str(d), table.root, checkpoint_dir=ckpt)
    q.awaitTermination(120)
    got = {r.vehicle_id: r.speed_kmh for r in table.read().collect()}
    assert got == {"v1": 50.0, "v2": 20.0}
    assert table.read().count() == 2  # no duplicate rows from replay


def test_streaming_rollup_incremental_additive_merge(spark, tmp_path):
    """Continuous aggregate: multi-batch ingest must produce the same
    per-minute per-vehicle rollup as a one-shot batch aggregation of all
    rows, and a restart must not re-fold any batch (the fold commits once
    per batch key)."""
    d = tmp_path / "in"
    d.mkdir()
    _write_ndjson(
        d / "f1.json",
        [
            _gps_record(vehicle_id="v1", ts="2024-01-01 10:00:05", speed_kmh=10.0),
            _gps_record(vehicle_id="v1", ts="2024-01-01 10:00:45", speed_kmh=20.0),
            _gps_record(vehicle_id="v2", ts="2024-01-01 10:00:10", speed_kmh=40.0),
        ],
    )
    _write_ndjson(
        d / "f2.json",
        [
            # same (minute, vehicle) bucket as f1 → must ADD, not replace
            _gps_record(vehicle_id="v1", ts="2024-01-01 10:00:55", speed_kmh=30.0),
            _gps_record(vehicle_id="v1", ts="2024-01-01 10:01:05", speed_kmh=50.0),
        ],
    )
    rollup = SnapshotTable(spark, str(tmp_path / "rollup"))

    def drain(**kw):
        q = start_transactional_fanout_ingest(
            spark,
            str(d),
            str(tmp_path / "facts"),
            rollup.root,
            str(tmp_path / "txn"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            **kw,
        )
        q.awaitTermination(120)

    drain(max_files_per_trigger=1)  # forces multi-batch → real cross-batch adds
    got = {
        (str(r.bucket_start), r.vehicle_id): (r.n, r.speed_sum)
        for r in rollup.read().collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", "v1"): (3, 60.0),
        ("2024-01-01 10:00:00", "v2"): (1, 40.0),
        ("2024-01-01 10:01:00", "v1"): (1, 50.0),
    }
    # restart (at-least-once delivery) must not double-add
    applied = rollup.current_version()
    drain()  # same checkpoint → no new batches
    got2 = {
        (str(r.bucket_start), r.vehicle_id): (r.n, r.speed_sum)
        for r in rollup.read().collect()
    }
    assert got2 == got, "restart from checkpoint must not re-add batches"
    assert rollup.current_version() == applied


def test_enrich_batch_matches_reference_shape(spark, gps_dir):
    df = enrich(read_batch(spark, os.path.join(gps_dir, "batch1.json")))
    assert df.columns[-3:] == ["input_file", "processed_time", "processed_date"]
    row = df.limit(1).collect()[0]
    assert row.processed_date == time.strftime("%Y-%m-%d")
    # the ingest module imports its operators lazily, per path: importing
    # it (the reference pipeline's entry point) loads no operator module
    import subprocess
    import sys

    probe = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest;"
            " print(sorted(m for m in sys.modules if '.operators' in m))",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert probe.stdout.strip() == "[]"


def test_stream_static_join(spark, tmp_path, gps_dir):
    """J8: stream enriched against a static dim — no streaming state."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.joins import stream_static_enrich

    dim = spark.createDataFrame(
        [("veh00001", "sedan"), ("veh00002", "ev-truck")],
        ["vehicle_id", "model"],
    )
    schema = read_batch(spark, os.path.join(gps_dir, "batch1.json")).schema
    stream = with_event_time(spark.readStream.schema(schema).json(gps_dir))
    joined = stream_static_enrich(stream, dim, on="vehicle_id")
    _drain_to_memory(joined, "ssj_test")
    out = spark.sql("select vehicle_id, model from ssj_test").collect()
    assert len(out) == 15  # 10 + 5 records, all matched
    models = {(r.vehicle_id, r.model) for r in out}
    assert models == {("veh00001", "sedan"), ("veh00002", "ev-truck")}


def test_stream_stream_interval_join(spark, tmp_path):
    """J9: watermarked stream-stream join — right event within 5 minutes
    after the left event joins; one outside the interval does not."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    ld = tmp_path / "left"
    rd = tmp_path / "right"
    ld.mkdir()
    rd.mkdir()
    _write_ndjson(ld / "l.json", [_gps_record(ts="2024-01-01 10:00:00")])
    _write_ndjson(
        rd / "r.json",
        [
            _gps_record(ts="2024-01-01 10:03:00"),  # within 5 min → joins
            _gps_record(ts="2024-01-01 10:30:00"),  # outside → dropped
        ],
    )
    schema = read_batch(spark, str(ld / "l.json")).schema
    left = with_event_time(spark.readStream.schema(schema).json(str(ld))).select(
        "vehicle_id", "event_ts"
    )
    right = with_event_time(spark.readStream.schema(schema).json(str(rd))).select(
        F.col("vehicle_id").alias("vehicle_id_r"),
        F.col("event_ts").alias("event_ts_r"),
    )
    joined = stream_stream_interval_join(left, right, key="vehicle_id")
    _drain_to_memory(joined, "s2s_test")
    out = spark.sql("select * from s2s_test").collect()
    assert len(out) == 1
    assert out[0].event_ts_r.strftime("%H:%M") == "10:03"


def test_rate_source_keyed_feeder(spark):
    """S3: the reference's Kinesis producer keyed by vehicle_id
    (producer/gps-tracking-simulation.py:37-47) re-expressed as Spark's
    ``rate`` source with a derived partition key — the local stand-in for a
    keyed message bus."""
    feed = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .select(
            F.concat(
                F.lit("veh"), F.lpad((F.col("value") % 20).cast("string"), 5, "0")
            ).alias("vehicle_id"),
            F.col("timestamp").alias("event_ts"),
            (F.pmod(F.col("value").cast("double") * 7.3, F.lit(120.0))).alias(
                "speed_kmh"
            ),
        )
    )
    q = (
        feed.writeStream.format("memory")
        .queryName("rate_feed")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("select count(*) c from rate_feed").collect()[0].c
            if n >= 20:
                break
            time.sleep(1)
        assert n >= 20
        keys = spark.sql("select distinct vehicle_id from rate_feed").collect()
        assert all(r.vehicle_id.startswith("veh000") for r in keys)
        assert len(keys) <= 20
    finally:
        q.stop()


def test_streaming_heavy_hitters_maintains_topk_across_batches(spark, tmp_path):
    """Sharded MG state: counts accumulate ACROSS micro-batches (a token
    heavy only in aggregate must surface), state stays bounded, and the
    latest emission's estimates equal exact counts when under capacity."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    d = tmp_path / "docs"
    d.mkdir()
    # batch 1: 'alpha' x30, noise; batch 2: 'alpha' x5, 'beta' x40
    with open(d / "b1.json", "w") as f:
        for line in (["alpha"] * 30 + [f"n{i}" for i in range(20)]):
            f.write(_json.dumps({"token": line}) + "\n")
    stream = spark.readStream.schema("token string").option(
        "maxFilesPerTrigger", 1
    ).json(str(d))
    out = streaming_heavy_hitters(stream, n_shards=4)
    q = (
        out.writeStream.format("memory")
        .queryName("hh_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    with open(d / "b2.json", "w") as f:
        for line in (["alpha"] * 5 + ["beta"] * 40):
            f.write(_json.dumps({"token": line}) + "\n")
    q2 = (
        streaming_heavy_hitters(
            spark.readStream.schema("token string")
            .option("maxFilesPerTrigger", 1)
            .json(str(d)),
            n_shards=4,
        )
        .writeStream.format("memory")
        .queryName("hh_test2")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q2.awaitTermination(120)
    rows = spark.sql(
        "select token, max(est_count) as est from hh_test2 group by token"
    ).collect()
    est = {r["token"]: r["est"] for r in rows}
    # cross-batch accumulation: alpha = 30 + 5, beta = 40 (single shard each,
    # under capacity → MG estimates are exact)
    assert est["alpha"] == 35
    assert est["beta"] == 40


def test_transactional_fanout_atomic_and_replay_safe(spark, tmp_path, gps_dir):
    """Multi-table streaming fan-out: facts append + rollup refresh commit
    as ONE transaction per micro-batch; a checkpointed restart replays
    nothing, and the rollup always agrees with the facts it shipped with."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_transactional_fanout_ingest,
    )

    facts_root = str(tmp_path / "facts")
    rollup_root = str(tmp_path / "rollup")
    txn_dir = str(tmp_path / "txns")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_transactional_fanout_ingest(
            spark, gps_dir, facts_root, rollup_root, txn_dir, checkpoint_dir=ckpt
        )
        q.awaitTermination(120)

    drain()
    facts = SnapshotTable(spark, facts_root)
    rollup = SnapshotTable(spark, rollup_root)
    assert facts.read().count() == 15
    # the rollup is consistent with the facts: totals agree
    assert rollup.read().agg(F.sum("n")).first()[0] == 15
    v_facts, v_rollup = facts.current_version(), rollup.current_version()
    # restart with same checkpoint, no new files → nothing moves
    drain()
    assert facts.current_version() == v_facts
    assert rollup.current_version() == v_rollup
    # new file → exactly its rows land in BOTH tables
    _write_ndjson(
        os.path.join(gps_dir, "batch4.json"),
        [_gps_record(vehicle_id="veh00009", ts="2024-01-01 11:00:00")],
    )
    drain()
    assert facts.read().count() == 16
    assert rollup.read().agg(F.sum("n")).first()[0] == 16
    # per-vehicle-minute grouping is real: the new vehicle has its own row
    assert (
        rollup.read().filter(F.col("vehicle_id") == "veh00009").first()["n"] == 1
    )
    # no intent debris left behind
    assert os.listdir(txn_dir) == []


def test_incremental_dedup_ingest_cross_batch(spark, tmp_path):
    """Exact dedup at ingest must hold within a batch, ACROSS batches, and
    under checkpointed replay — duplicates arriving in a later micro-batch
    are dropped by the fingerprint anti-join, never re-admitted."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_dedup_ingest,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    # batch window 1: one in-file duplicate (10:00:03 twice)
    recs = [_gps_record(ts=f"2024-01-01 10:00:{s:02d}") for s in range(5)]
    _write_ndjson(src / "a.json", recs + [recs[3]])
    corpus_root = str(tmp_path / "corpus")
    seen_root = str(tmp_path / "seen")
    txn_dir = str(tmp_path / "txns")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_incremental_dedup_ingest(
            spark,
            str(src),
            corpus_root,
            seen_root,
            txn_dir,
            fingerprint_cols=["vehicle_id", "timestamp"],
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)

    drain()
    corpus = SnapshotTable(spark, corpus_root)
    seen = SnapshotTable(spark, seen_root)
    assert corpus.read().count() == 5  # in-batch duplicate dropped
    assert seen.read().count() == 5
    # batch window 2: 3 repeats of window 1 + 2 novel rows
    _write_ndjson(
        src / "b.json",
        [recs[0], recs[1], recs[2]]
        + [_gps_record(vehicle_id="veh00002", ts=f"2024-01-01 10:01:0{s}") for s in range(2)],
    )
    drain()
    assert corpus.read().count() == 7  # only the 2 novel rows landed
    assert seen.read().count() == 7
    # replay with no new files: nothing moves
    v = corpus.current_version()
    drain()
    assert corpus.current_version() == v
    assert corpus.read().count() == 7
    # the deduped corpus has unique fingerprints
    dup = (
        corpus.read()
        .groupBy("vehicle_id", "timestamp")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_fanout_batch_keys_are_namespaced(spark, tmp_path, gps_dir):
    """A facts table previously written by ANOTHER pipeline that stamps
    plain integer batch ids must not make the fan-out stream mistake those
    ids for its own and silently skip micro-batches."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_transactional_fanout_ingest,
    )

    facts_root = str(tmp_path / "facts")
    facts = SnapshotTable(spark, facts_root)
    # another pipeline's history: append_batch stamps raw ints 0 and 1
    facts.append_batch(spark.range(0, 3).selectExpr(
        "CAST(id AS STRING) vehicle_id", "CAST(id AS DOUBLE) speed_kmh",
        "timestamp'2024-01-01 09:00:00' event_ts"
    ), batch_id=0)
    pre_rows = facts.read().count()
    q = start_transactional_fanout_ingest(
        spark,
        gps_dir,
        facts_root,
        str(tmp_path / "rollup"),
        str(tmp_path / "txns"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    # the stream's batch 0 must have landed despite the foreign batch_id 0
    assert facts.read().count() == pre_rows + 15


def test_incremental_neardup_ingest_cross_batch(spark, tmp_path):
    """MinHash near-dup at ingest: fuzzy duplicates are dropped within a
    batch, across batches via the LSH bucket table, and replay admits
    nothing twice. Distinct docs and signature-less (null-text) docs pass."""
    from pyspark.sql import types as T

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_neardup_ingest,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sleepy pandas watch from a distant bamboo grove under heavy "
        "summer rain that never seems to stop falling on the valley"
    )
    near1 = base.replace("seventeen", "eighteen")
    near2 = base.replace("summer", "winter")
    other = (
        "completely different content about distributed query engines "
        "processing petabytes of training data with columnar formats "
        "snapshot isolation and carefully bounded shuffle stages"
    )
    third = (
        "yet another unrelated document discussing the economics of "
        "container shipping lanes across the northern pacific trade "
        "routes during the early twenty first century boom years"
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "docs_in"
    src.mkdir()
    _write_ndjson(
        src / "a.json",
        [
            {"doc_id": 1, "text": base},
            {"doc_id": 2, "text": near1},  # near-dup of 1 → dropped
            {"doc_id": 3, "text": other},
            {"doc_id": 4, "text": None},  # no tokens → no signature → admitted
        ],
    )
    corpus_root = str(tmp_path / "corpus")
    seen_root = str(tmp_path / "seen")
    txn_dir = str(tmp_path / "txns")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_incremental_neardup_ingest(
            spark,
            str(src),
            corpus_root,
            seen_root,
            txn_dir,
            schema=schema,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)

    drain()
    corpus = SnapshotTable(spark, corpus_root)
    seen = SnapshotTable(spark, seen_root)
    assert sorted(r["doc_id"] for r in corpus.read().collect()) == [1, 3, 4]
    assert seen.read().count() == 16  # 2 admitted signatures × 8 bands
    # batch 2: another fuzz of base (vs seen), an exact repeat of `other`,
    # and one genuinely new doc
    _write_ndjson(
        src / "b.json",
        [
            {"doc_id": 5, "text": near2},  # near-dup of admitted 1 → dropped
            {"doc_id": 6, "text": third},  # novel → admitted
            {"doc_id": 7, "text": other},  # exact dup of admitted 3 → dropped
        ],
    )
    drain()
    assert sorted(r["doc_id"] for r in corpus.read().collect()) == [1, 3, 4, 6]
    assert seen.read().count() == 24
    # replay with nothing new: no movement
    v = corpus.current_version()
    drain()
    assert corpus.current_version() == v


def test_streaming_ingest_into_bloom_table(spark, tmp_path):
    """A corpus table pre-created with bloom_cols keeps building sidecar
    blooms for every streaming micro-batch commit (the spec persists, and
    any handle — including the ingest path's own — picks it up)."""
    import os

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_dedup_ingest,
    )

    corpus_root = str(tmp_path / "corpus")
    # pre-configure: point lookups on vehicle_id should file-prune
    SnapshotTable(spark, corpus_root, bloom_cols=["vehicle_id"])._persist_spec()
    src = tmp_path / "in"
    src.mkdir()
    _write_ndjson(
        src / "a.json",
        [_gps_record(vehicle_id=f"veh{i:05d}", ts=f"2024-01-01 10:00:{i:02d}") for i in range(20)],
    )
    q = start_incremental_dedup_ingest(
        spark,
        str(src),
        corpus_root,
        str(tmp_path / "seen"),
        str(tmp_path / "txn"),
        fingerprint_cols=["vehicle_id", "timestamp"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    corpus = SnapshotTable(spark, corpus_root)
    assert corpus.bloom_cols == ["vehicle_id"]
    meta = os.listdir(os.path.join(corpus_root, "metadata"))
    assert any(n.startswith("bloom-") for n in meta)
    hit = corpus.read_where("vehicle_id", "veh00007", "veh00007")
    assert hit.count() == 1


def test_snapshot_ingest_constraints_blooms_crash_restart(spark, tmp_path):
    """VERDICT r5 order #6 — the composed end-to-end: `start_snapshot_ingest`
    lands micro-batches into a table with CHECK constraints, manifests and
    sidecar blooms ALL active; a checkpointed restart replays exactly-once;
    a constraint-violating micro-batch is rejected WHOLE (the stream
    surfaces the failure, the table doesn't move), and after the operator
    drops the constraint the same checkpoint replays the poisoned batch and
    commits it exactly once."""
    import pyspark.errors

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_snapshot_ingest,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_ndjson(
        src / "a.json",
        [_gps_record(ts=f"2024-01-01 10:00:{s:02d}") for s in range(10)],
    )
    _write_ndjson(
        src / "b.json",
        [
            _gps_record(vehicle_id="veh00002", ev=True, ts=f"2024-01-01 10:05:{s:02d}")
            for s in range(5)
        ],
    )
    root = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    # table pre-configured BEFORE the stream starts: bloom sidecars on
    # vehicle_id + a write-side CHECK constraint — the ingest path's own
    # handle must pick both up from the persisted spec / commit log
    table = SnapshotTable(spark, root, bloom_cols=["vehicle_id"])
    table._persist_spec()
    table.add_constraint("speed_nonneg", "speed_kmh >= 0")

    def drain():
        q = start_snapshot_ingest(
            spark, str(src), root, checkpoint_dir=ckpt, max_files_per_trigger=1
        )
        q.awaitTermination(120)

    drain()
    assert table.read().count() == 15
    # one snapshot per micro-batch (2 files × maxFilesPerTrigger=1), on top
    # of the add-constraint commit
    v0 = table.current_version()
    assert table.history().count() >= 3
    # manifests + blooms were written for the STREAMING commits
    meta = os.listdir(os.path.join(root, "metadata"))
    assert any(n.startswith("manifest-") for n in meta)
    assert any(n.startswith("bloom-") for n in meta)
    # bloom-pruned point lookup sees exactly the streamed rows
    assert table.read_where("vehicle_id", "veh00002", "veh00002").count() == 5

    # restart with the same checkpoint and no new input: exactly-once —
    # nothing moves
    drain()
    assert table.current_version() == v0

    # a micro-batch with one violating row is rejected WHOLE: the stream
    # fails loudly and the table stays at v0 (no partial batch visible)
    _write_ndjson(
        src / "c.json",
        [
            _gps_record(vehicle_id="veh00009", ts="2024-01-01 11:00:00"),
            _gps_record(
                vehicle_id="veh00010", ts="2024-01-01 11:00:01", speed_kmh=-7.0
            ),
        ],
    )
    with pytest.raises(pyspark.errors.StreamingQueryException):
        drain()
    assert table.current_version() == v0
    assert table.read().count() == 15

    # operator remediation: drop the constraint; the SAME checkpoint then
    # replays the poisoned micro-batch and commits it exactly once
    table.drop_constraint("speed_nonneg")
    drain()
    assert table.read().count() == 17
    assert table.read_where("vehicle_id", "veh00010", "veh00010").count() == 1
    # and the replay really was once: draining again moves nothing
    v1 = table.current_version()
    drain()
    assert table.current_version() == v1


def test_neardup_ingest_rejects_stale_signature_scheme(spark, tmp_path):
    """A seen/bucket table persisted under an older signature scheme (e.g.
    long band_sig from the pre-md5 pipeline) must fail LOUDLY at the probe
    join, not silently type-coerce to NULL and re-admit every historical
    near-duplicate."""
    import pyspark.errors
    from pyspark.sql import types as T

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_neardup_ingest,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "in"
    src.mkdir()
    _write_ndjson(src / "a.json", [{"doc_id": 1, "text": "alpha beta gamma delta"}])
    seen_root = str(tmp_path / "seen")
    # simulate a pre-migration bucket table: band_sig is LONG
    stale = SnapshotTable(spark, seen_root)
    stale.append(
        spark.createDataFrame(
            [(0, 12345, [1] * 32)],
            "band_idx int, band_sig long, seen_sig array<long>",
        )
    )
    q = start_incremental_neardup_ingest(
        spark,
        str(src),
        str(tmp_path / "corpus"),
        seen_root,
        str(tmp_path / "txns"),
        schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(pyspark.errors.StreamingQueryException) as ei:
        q.awaitTermination(120)
    assert "signature scheme changed" in str(ei.value)


def test_incremental_markov_ingest_matches_batch(spark, tmp_path):
    """Exact incremental Markov maintenance: the probability matrix
    finalized from the incrementally maintained counts (within-batch lag
    transitions + per-user boundary joins against the last-event state
    table) must equal the batch transition matrix over everything ingested
    — across micro-batches that SPLIT user sequences, under checkpointed
    replay, and the out-of-order guard must fire loudly."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        markov_from_counts,
        markov_transitions,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_markov_ingest,
    )

    types = ["view", "click", "purchase", "error"]
    src = tmp_path / "events"
    src.mkdir()
    all_rows = []

    def write_file(name, eids):
        with open(src / name, "w") as f:
            for e in eids:
                row = {
                    "event_id": e,
                    "ts": 1_700_000_000 + e * 10,
                    "user_id": e % 5,
                    "event_type": types[(e * 7) % len(types)],
                }
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    # three files, event-time ordered, every user's sequence split across
    # all three → boundary transitions are exercised heavily
    write_file("a.json", range(0, 30))
    write_file("b.json", range(30, 55))
    counts_root = str(tmp_path / "counts")
    state_root = str(tmp_path / "state")
    txn_dir = str(tmp_path / "txns")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts long, user_id long, event_type string"

    def drain():
        q = start_incremental_markov_ingest(
            spark,
            str(src),
            counts_root,
            state_root,
            txn_dir,
            schema=schema,
            checkpoint_dir=ckpt,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    counts = SnapshotTable(spark, counts_root)
    last_state = SnapshotTable(spark, state_root)

    def check():
        inc = {
            (r.prev_type, r.next_type): (r.n, r.p)
            for r in markov_from_counts(counts.read()).collect()
        }
        ref = {
            (r.prev_type, r.next_type): (r.n, r.p)
            for r in markov_transitions(
                spark.createDataFrame(
                    [tuple(r[k] for k in ("event_id", "ts", "user_id", "event_type")) for r in all_rows],
                    schema,
                )
            ).collect()
        }
        assert inc == ref and inc
        return inc

    inc1 = check()
    # state table: exactly one row per user, holding their true last event
    st = {r.user_id: r.event_id for r in last_state.read().collect()}
    assert len(st) == 5
    write_file("c.json", range(55, 70))
    drain()
    inc2 = check()
    assert inc1 != inc2
    st2 = {r.user_id: r.event_id for r in last_state.read().collect()}
    assert st2 == {u: max(e for e in range(70) if e % 5 == u) for u in range(5)}
    # replay: nothing moves
    v = counts.current_version()
    drain()
    assert counts.current_version() == v
    # out-of-order delivery (an event BEFORE a user's stored last) must
    # fail loudly, and the tables must be untouched by the failed batch
    with open(src / "z.json", "w") as f:
        f.write(
            _json.dumps(
                {"event_id": 1, "ts": 1_700_000_005, "user_id": 1, "event_type": "view"}
            )
            + "\n"
        )
    q = start_incremental_markov_ingest(
        spark,
        str(src),
        counts_root,
        state_root,
        txn_dir,
        schema=schema,
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="order contract"):
        q.awaitTermination(120)
        q.processAllAvailable()
    assert counts.current_version() == v


def test_incremental_ann_ingest_builds_servable_index(spark, tmp_path):
    """Streaming IVF maintenance: the first micro-batch bootstraps the
    quantizer, later batches encode with the STORED centroids, every vector
    lands in exactly one cell, the index answers queries (a vector
    identical to an indexed one is its cosine-1.0 top hit), the quantizer
    pointer is identical across all batch commits, and checkpointed replay
    moves nothing."""
    import json as _json

    import numpy as np

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.similarity import IvfIndex
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_ann_ingest,
    )

    rng = np.random.default_rng(11)
    d = 8
    src = tmp_path / "vecs"
    src.mkdir()

    def write_file(name, ids):
        with open(src / name, "w") as f:
            for i in ids:
                vec = rng.standard_normal(d).round(6).tolist()
                f.write(_json.dumps({"vec_id": i, "embedding": vec}) + "\n")

    write_file("a.json", range(40))
    index_root = str(tmp_path / "ivf")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_incremental_ann_ingest(
            spark,
            str(src),
            index_root,
            schema="vec_id long, embedding array<float>",
            checkpoint_dir=ckpt,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    idx = IvfIndex(spark, index_root)
    cent1 = idx.table.snapshot_props().get("ivf_centroids")
    assert cent1 is not None
    assert idx.table.read().count() == 40

    # second window: two more files → two more batches, one NULL embedding
    # (unindexable, dropped by encode)
    write_file("b.json", range(100, 130))
    with open(src / "c.json", "w") as f:
        f.write(_json.dumps({"vec_id": 999, "embedding": None}) + "\n")
    drain()
    rows = idx.table.read().select("vec_id", "cell").collect()
    assert len(rows) == 70 and all(r.cell is not None for r in rows)
    assert {r.vec_id for r in rows} == set(range(40)) | set(range(100, 130))
    # quantizer fixed since bootstrap: every commit names the same file
    assert idx.table.snapshot_props().get("ivf_centroids") == cent1
    # later batches were encoded with the STORED centroids
    cent = idx._load_centroids()
    one = idx.table.read().filter("vec_id = 115").first()
    scores = np.array(one.embedding, dtype=np.float64) @ cent.T - 0.5 * (
        cent**2
    ).sum(axis=1)
    assert one.cell == int(np.argmax(scores))
    # servable: query with a clone of an indexed vector → cosine-1.0 top hit
    probe_vec = idx.table.read().filter("vec_id = 5").first().embedding
    out = idx.query(
        spark.createDataFrame(
            [(777777, probe_vec)], "vec_id long, embedding array<float>"
        ),
        k=3,
    ).collect()
    top = [r for r in out if r.rank == 1]
    assert top and top[0].vec_id == 5 and top[0].cos_sim == 1.0
    # replay with no new files: nothing moves
    v = idx.table.current_version()
    drain()
    assert idx.table.current_version() == v


def test_incremental_bm25_ingest_matches_batch_rank(spark, tmp_path):
    """Exact incremental BM25: ranking from the incrementally maintained
    postings + stats tables must equal a batch bm25_rank over the ingested
    corpus — across micro-batches, with NULL text, and under checkpointed
    replay."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.textops import (
        bm25_rank,
        bm25_rank_from_index,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_bm25_ingest,
    )

    vocab = ["spark", "table", "scan", "join", "merge", "window", "agg"]
    src = tmp_path / "docs"
    src.mkdir()

    def write_file(name, ids):
        with open(src / name, "w") as f:
            for i in ids:
                words = [vocab[(i + j) % len(vocab)] for j in range(3 + i % 4)]
                f.write(
                    _json.dumps({"doc_id": i, "text": " ".join(words)}) + "\n"
                )

    write_file("a.json", range(20))
    corpus_root = str(tmp_path / "corpus")
    postings_root = str(tmp_path / "postings")
    stats_root = str(tmp_path / "stats")
    txn_dir = str(tmp_path / "txns")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_incremental_bm25_ingest(
            spark,
            str(src),
            corpus_root,
            postings_root,
            stats_root,
            txn_dir,
            schema="doc_id long, text string",
            checkpoint_dir=ckpt,
            max_files_per_trigger=1,  # one micro-batch per file
        )
        q.awaitTermination(120)

    drain()
    corpus = SnapshotTable(spark, corpus_root)
    postings = SnapshotTable(spark, postings_root)
    stats = SnapshotTable(spark, stats_root)
    qmap = spark.createDataFrame(
        [(1, "spark"), (1, "scan"), (2, "merge"), (2, "window")],
        "query_id int, term string",
    )

    def check():
        inc = {
            (r.query_id, r.rank): (r.doc_id, r.bm25)
            for r in bm25_rank_from_index(
                postings.read(), stats.read(), qmap
            ).collect()
        }
        ref = {
            (r.query_id, r.rank): (r.doc_id, r.bm25)
            for r in bm25_rank(corpus.read(), qmap).collect()
        }
        assert inc == ref and inc
        return inc

    inc1 = check()
    # second window: two more files (→ two micro-batches), one NULL-text
    # row (admitted to the corpus, contributes no postings and no stats)
    write_file("b.json", range(100, 115))
    with open(src / "c.json", "w") as f:
        f.write(_json.dumps({"doc_id": 999, "text": None}) + "\n")
    drain()
    inc2 = check()
    assert corpus.read().count() == 36
    assert postings.read().filter("doc_id = 999").count() == 0
    # the incremental ranking genuinely moved with the new data
    assert inc1 != inc2
    # replay with no new files: nothing moves
    v = postings.current_version()
    drain()
    assert postings.current_version() == v
    # stats table stays metadata-scale: one partial row per contributing batch
    assert stats.read().count() <= 3
    # vocab coverage served from the SAME maintained postings equals the
    # batch curve over everything ingested (Σtf per term == corpus counts)
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.textops import (
        bm25_doc_postings,
        vocab_coverage_from_index,
    )

    got_cov = sorted(
        map(tuple, vocab_coverage_from_index(postings.read()).collect())
    )
    want_cov = sorted(
        map(tuple, vocab_coverage_from_index(bm25_doc_postings(corpus.read())).collect())
    )
    assert got_cov == want_cov and len(got_cov) == len(vocab)
    # query-likelihood ranking served from the SAME maintained tables
    # equals the batch-derived index (shared postings/stats shapes)
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.textops import (
        bm25_stats_partial,
        ql_rank_from_index,
    )

    qterms = ["spark", "scan", "merge", "window"]
    got_ql = sorted(
        map(
            tuple,
            ql_rank_from_index(
                postings.read(), stats.read(), qmap, terms=qterms
            ).collect(),
        )
    )
    want_ql = sorted(
        map(
            tuple,
            ql_rank_from_index(
                bm25_doc_postings(corpus.read()),
                bm25_stats_partial(corpus.read()),
                qmap,
                terms=qterms,
            ).collect(),
        )
    )
    assert got_ql == want_ql and got_ql


def test_incremental_pca_ingest_matches_batch_fit(spark, tmp_path):
    """Exact streaming PCA: the fit finalized from the incrementally
    maintained moments table must equal a batch refit over the ingested
    corpus — across micro-batches, with NULL embeddings, and under
    checkpointed replay."""
    import json as _json

    import numpy as np

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.similarity import (
        _pca_finalize_rows,
        pca_fit_from_moments,
        pca_moment_partials,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_pca_ingest,
    )

    rng = np.random.default_rng(7)
    d = 8
    src = tmp_path / "vecs"
    src.mkdir()

    def write_file(name, ids):
        with open(src / name, "w") as f:
            for i in ids:
                vec = rng.standard_normal(d).round(6).tolist()
                f.write(_json.dumps({"vec_id": i, "embedding": vec}) + "\n")

    write_file("a.json", range(30))
    corpus_root = str(tmp_path / "corpus")
    moments_root = str(tmp_path / "moments")
    txn_dir = str(tmp_path / "txns")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_incremental_pca_ingest(
            spark,
            str(src),
            corpus_root,
            moments_root,
            txn_dir,
            schema="vec_id long, embedding array<double>",
            checkpoint_dir=ckpt,
            max_files_per_trigger=1,  # one micro-batch per file
        )
        q.awaitTermination(120)

    drain()
    corpus = SnapshotTable(spark, corpus_root)
    moments = SnapshotTable(spark, moments_root)

    def check():
        inc = pca_fit_from_moments(moments.read())
        ref = _pca_finalize_rows(pca_moment_partials(corpus.read()).collect())
        assert inc[0] == ref[0]
        for a, b in zip(inc[1:], ref[1:]):
            assert np.allclose(a, b, atol=1e-8)
        return inc

    inc1 = check()
    assert inc1[0] == 30
    # second window: two more files (→ two micro-batches), one NULL
    # embedding row (admitted to the corpus, contributes no moments)
    write_file("b.json", range(100, 120))
    with open(src / "c.json", "w") as f:
        f.write(_json.dumps({"vec_id": 999, "embedding": None}) + "\n")
    drain()
    inc2 = check()
    assert inc2[0] == 50
    assert corpus.read().count() == 51
    # the incremental fit genuinely moved with the new data
    assert not np.allclose(inc1[2], inc2[2], atol=1e-12)
    # replay with no new files: nothing moves
    v = moments.current_version()
    drain()
    assert moments.current_version() == v
    # moments table stays metadata-scale: (1+d+d²) rows per contributing batch
    assert moments.read().count() % (1 + d + d * d) == 0


def test_incremental_pca_ingest_rejects_dimension_drift(spark, tmp_path):
    """A batch whose embedding dimension differs from the moments table's
    must fail loudly — mixed-dimension moment sums would silently corrupt
    every future fit."""
    import json as _json

    import pytest as _pytest

    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_pca_ingest,
    )

    src = tmp_path / "vecs"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for i in range(5):
            f.write(_json.dumps({"vec_id": i, "embedding": [0.5] * 8}) + "\n")

    def drain():
        q = start_incremental_pca_ingest(
            spark,
            str(src),
            str(tmp_path / "corpus"),
            str(tmp_path / "moments"),
            str(tmp_path / "txns"),
            schema="vec_id long, embedding array<double>",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    drain()
    with open(src / "b.json", "w") as f:
        f.write(_json.dumps({"vec_id": 100, "embedding": [0.5] * 4}) + "\n")
    with _pytest.raises(Exception, match="dimension drift"):
        drain()


def test_incremental_pca_ingest_rejects_mixed_dims_within_batch(spark, tmp_path):
    """Two sources with different embedding dims landing in ONE trigger
    window (maxFilesPerTrigger > 1) must also fail loudly — per-chunk
    partials would otherwise merge incompatible pos-spaces silently."""
    import json as _json

    import pytest as _pytest

    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_pca_ingest,
    )

    src = tmp_path / "vecs"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for i in range(4):
            f.write(_json.dumps({"vec_id": i, "embedding": [0.5] * 8}) + "\n")
    with open(src / "b.json", "w") as f:
        for i in range(4):
            f.write(_json.dumps({"vec_id": 100 + i, "embedding": [0.5] * 4}) + "\n")

    q = start_incremental_pca_ingest(
        spark,
        str(src),
        str(tmp_path / "corpus"),
        str(tmp_path / "moments"),
        str(tmp_path / "txns"),
        schema="vec_id long, embedding array<double>",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with _pytest.raises(Exception, match="WITHIN one micro-batch"):
        q.awaitTermination(120)


def test_incremental_engagement_ingest_matches_batch(spark, tmp_path):
    """Exact incremental engagement maintenance: DAU/WAU/MAU finalized
    from the incrementally maintained DISTINCT (user, day) table must
    equal the batch operator over everything ingested — including
    OUT-OF-ORDER days across batches (distinct pairs are order-free, so
    unlike the Markov path late data is exact, not an error) and repeated
    (user, day) activity in later batches. A re-drain from the same
    checkpoint must be a no-op (replay idempotence)."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        activity_pairs,
        engagement_from_activity,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_engagement_ingest,
    )

    src = tmp_path / "events"
    src.mkdir()
    all_rows = []
    day0 = 1_700_000_000

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for eid, user, day in specs:
                row = {
                    "event_id": eid,
                    "ts": day0 + day * 86400 + eid,
                    "user_id": user,
                }
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    # batch a: users 1,2 on days 0-2; batch b revisits (1, day 0) — a
    # duplicate pair — and goes BACKWARD to day 1 for user 3 (late data)
    write_file("a.json", [(1, 1, 0), (2, 2, 0), (3, 1, 2), (4, 2, 1)])
    write_file("b.json", [(5, 1, 0), (6, 3, 1), (7, 3, 35), (8, 2, 1)])
    activity_root = str(tmp_path / "activity")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts long, user_id long"

    def drain():
        q = start_incremental_engagement_ingest(
            spark,
            str(src),
            activity_root,
            schema=schema,
            checkpoint_dir=ckpt,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    activity = SnapshotTable(spark, activity_root)
    versions_after_first = activity.current_version()

    batch_df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"]) for r in all_rows], schema
    )
    want = {
        r.day: (r.dau, r.wau, r.mau)
        for r in engagement_from_activity(activity_pairs(batch_df)).collect()
    }
    got = {
        r.day: (r.dau, r.wau, r.mau)
        for r in engagement_from_activity(activity.read()).collect()
    }
    assert got == want and got
    # growth accounting serves from the SAME maintained table (round 11:
    # events_user_lifecycle ≡ lifecycle_from_activity ∘ activity_pairs)
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        lifecycle_from_activity,
    )

    lc_want = sorted(
        tuple(r) for r in lifecycle_from_activity(activity_pairs(batch_df)).collect()
    )
    lc_got = sorted(
        tuple(r) for r in lifecycle_from_activity(activity.read()).collect()
    )
    assert lc_got == lc_want and lc_got
    # the maintained table holds exactly the distinct pairs, no dupes
    pairs = [(r.user_id, r.day) for r in activity.read().collect()]
    assert len(pairs) == len(set(pairs)) == 6

    # replay: re-drain from the same checkpoint — no new versions, same table
    drain()
    assert activity.current_version() == versions_after_first
    assert sorted(
        (r.user_id, str(r.day)) for r in activity.read().collect()
    ) == sorted((u, str(d)) for u, d in set(pairs))


def test_incremental_funnel_ingest_matches_batch(spark, tmp_path):
    """Exact incremental funnel maintenance (per-user state machine):
    stage counts and conversion latencies finalized from the maintained
    (t1, t2, t3) state must equal the batch operators over everything
    ingested — across users converting WITHIN one batch, ACROSS batches,
    a click with no prior view (passed over, then re-staged by a later
    view+click), a purchase preceding the click inside its batch (not a
    conversion until a later purchase), and checkpointed replay."""
    import datetime as _dt
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        funnel_conversion,
        funnel_from_state,
        funnel_latency,
        funnel_latency_from_state,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_funnel_ingest,
    )

    src = tmp_path / "events"
    src.mkdir()
    base = _dt.datetime(2024, 1, 5, 10, 0, 0)
    all_rows = []
    eid = [0]

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for user, etype, off in specs:
                row = {
                    "event_id": eid[0],
                    "ts": (base + _dt.timedelta(seconds=off)).isoformat(),
                    "user_id": user,
                    "event_type": etype,
                    "value": 1.0,
                    "props": "{}",
                }
                eid[0] += 1
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    # a: u1 view; u2 full funnel in-batch; u3 click with no view; u5 view
    write_file("a.json", [
        (1, "view", 0),
        (2, "view", 0), (2, "click", 10), (2, "purchase", 20),
        (3, "click", 0),
        (5, "view", 0),
    ])
    # b: u1 clicks; u3 views then clicks (re-staged); u4 view+purchase, no
    # click; u5 purchase BEFORE its click inside the batch
    write_file("b.json", [
        (1, "click", 100),
        (3, "view", 50), (3, "click", 60),
        (4, "view", 30), (4, "purchase", 35),
        (5, "purchase", 50), (5, "click", 60),
    ])
    # c: u1 purchases; u5's purchase finally lands after its click
    write_file("c.json", [(1, "purchase", 200), (5, "purchase", 70)])

    state_root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def drain():
        q = start_incremental_funnel_ingest(
            spark,
            str(src),
            state_root,
            schema=schema,
            checkpoint_dir=ckpt,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    state_t = SnapshotTable(spark, state_root)
    v = state_t.current_version()

    # batch twins over everything ingested
    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"], r["props"])
            for r in all_rows
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) ts", "user_id", "event_type", "value", "props"
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")

    got_counts = {r.stage: r.n_users for r in funnel_from_state(state_t.read()).collect()}
    want_counts = {r.stage: r.n_users for r in funnel_conversion(spark, sf).collect()}
    # views: u1-u5 all view; clicks after view: u1, u2, u3, u5;
    # purchases after click: u1, u2, u5 (u4 never clicks)
    assert got_counts == want_counts == {"1_view": 5, "2_click": 4, "3_purchase": 3}

    got_lat = sorted(map(tuple, funnel_latency_from_state(state_t.read()).collect()))
    want_lat = sorted(map(tuple, funnel_latency(spark, sf).collect()))
    assert got_lat == want_lat and len(got_lat) == 2

    # the cross-batch staging is exactly right: u5's t3 is the batch-c
    # purchase (70), not the pre-click batch-b one (50)
    st = {r.user_id: r for r in state_t.read().collect()}
    assert st[5].t3 is not None and (st[5].t3.minute, st[5].t3.second) == (1, 10)
    assert st[4].t3 is None  # purchase with no click never converts
    assert st[3].t1 is not None and st[3].t2 is not None

    # replay: no new versions
    drain()
    assert state_t.current_version() == v


def test_incremental_cooccurrence_ingest_matches_batch(spark, tmp_path):
    """Exact incremental co-occurrence maintenance (delta-user recompute):
    edges finalized from the maintained ±1 delta table must equal the
    batch pair counts over everything ingested — including a basket
    GROWING across batches (old pairs retracted, new contribution added),
    a user CROSSING the power-user cap mid-stream (entire contribution
    retracted), duplicate (user, item) pairs (no-ops), and out-of-order
    arrival. A re-drain from the same checkpoint must be a no-op."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        basket_pair_rows,
        baskets_from_items,
        cooccurrence_edges_from_index,
        user_item_pairs,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_cooccurrence_ingest,
    )
    from pyspark.sql import functions as F

    src = tmp_path / "events"
    src.mkdir()
    all_rows = []
    eid = [0]

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for user, item in specs:
                row = {
                    "event_id": eid[0],
                    "ts": 1_700_000_000 + eid[0],
                    "user_id": user,
                    "props": _json.dumps({"k": item}),
                }
                eid[0] += 1
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    cap = 3
    # a: u1={1,2}, u2={1,2,3} (at cap), u3={1}
    write_file("a.json", [(1, 1), (1, 2), (2, 1), (2, 2), (2, 3), (3, 1)])
    # b: u1 grows to {1,2,3} (old pair retracted + 3 re-added); u2 gets a
    # 4th item → CROSSES the cap → whole contribution retracted;
    # (u3, 1) repeats → pure no-op novel-wise
    write_file("b.json", [(1, 3), (2, 4), (3, 1)])
    # c: u3 grows to {1, 2}
    write_file("c.json", [(3, 2)])

    items_root = str(tmp_path / "items")
    delta_root = str(tmp_path / "delta")
    txn_dir = str(tmp_path / "txn")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts long, user_id long, props string"

    def drain():
        q = start_incremental_cooccurrence_ingest(
            spark,
            str(src),
            items_root,
            delta_root,
            txn_dir,
            schema=schema,
            cap=cap,
            checkpoint_dir=ckpt,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    delta_t = SnapshotTable(spark, delta_root)
    items_t = SnapshotTable(spark, items_root)
    v_delta, v_items = delta_t.current_version(), items_t.current_version()

    got = sorted(
        (r.item_a, r.item_b, r.co_users)
        for r in cooccurrence_edges_from_index(delta_t.read(), min_count=1).collect()
    )
    # u1{1,2,3} + u3{1,2}; u2 over cap contributes nothing
    assert got == [(1, 2, 2), (1, 3, 1), (2, 3, 1)]
    # parity against the batch path over everything ingested
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["props"]) for r in all_rows],
        schema,
    )
    want = sorted(
        (r.item_a, r.item_b, r.n)
        for r in basket_pair_rows(baskets_from_items(user_item_pairs(batch_df), cap))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert got == want

    # round 13: the PPR recommender serves from the SAME maintained edge
    # frame — ppr_over_edges(maintained) ≡ ppr_over_edges(batch pairs)
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import ppr_over_edges

    def run_ppr(co):
        res, cached = ppr_over_edges(co)
        rows = sorted(map(tuple, res.collect()))
        for f in cached:
            f.unpersist()
        return rows

    batch_pairs = (
        basket_pair_rows(baskets_from_items(user_item_pairs(batch_df), cap))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("co_users"))
    )
    assert run_ppr(
        cooccurrence_edges_from_index(delta_t.read(), min_count=1)
    ) == run_ppr(batch_pairs)

    # maintained items table is exactly the distinct pairs (ALL of them —
    # the cap applies at pair generation, not item storage)
    pairs = [(r.user_id, r.item) for r in items_t.read().collect()]
    assert len(pairs) == len(set(pairs)) == 9
    # default min-count gate applies at read
    assert sorted(
        (r.item_a, r.item_b, r.co_users)
        for r in cooccurrence_edges_from_index(delta_t.read()).collect()
    ) == [(1, 2, 2)]

    # serving parity: recommendations from the maintained state equal the
    # batch recommender over everything ingested (same shared core fed by
    # batch-derived vs index-derived ownership + edges)
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        _recommend_from,
        recommend_from_index,
    )

    batch_baskets = baskets_from_items(user_item_pairs(batch_df), cap)
    batch_owned = batch_baskets.select("user_id", F.explode("items").alias("item"))
    batch_edges = (
        basket_pair_rows(batch_baskets)
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("co_users"))
        .filter(F.col("co_users") >= 2)
    )
    want_recs = sorted(
        map(tuple, _recommend_from(batch_owned, batch_edges).collect())
    )
    got_recs = sorted(
        map(tuple, recommend_from_index(items_t.read(), delta_t.read(), cap).collect())
    )
    assert got_recs == want_recs

    # replay: no new versions on either table
    drain()
    assert (delta_t.current_version(), items_t.current_version()) == (v_delta, v_items)

    # compaction is a semantic no-op that shrinks the delta table to one
    # row per surviving pair, and ingest keeps working on top of it
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import compact_cooccurrence_index

    before = sorted(
        map(tuple, cooccurrence_edges_from_index(delta_t.read(), min_count=1).collect())
    )
    compact_cooccurrence_index(spark, delta_root)
    after_rows = delta_t.read().collect()
    assert sorted(
        map(tuple, cooccurrence_edges_from_index(delta_t.read(), min_count=1).collect())
    ) == before
    assert len(after_rows) == len(before)  # one row per surviving pair
    # d: a post-compaction batch applies delta-user recompute on the
    # compacted state — u3 grows to {1,2,3}
    write_file("d.json", [(3, 3)])
    drain()
    got2 = sorted(
        (r.item_a, r.item_b, r.co_users)
        for r in cooccurrence_edges_from_index(delta_t.read(), min_count=1).collect()
    )
    batch_df2 = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["props"]) for r in all_rows],
        schema,
    )
    want2 = sorted(
        (r.item_a, r.item_b, r.n)
        for r in basket_pair_rows(baskets_from_items(user_item_pairs(batch_df2), cap))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert got2 == want2 == [(1, 2, 2), (1, 3, 2), (2, 3, 2)]


def test_incremental_rfm_ingest_matches_batch(spark, tmp_path):
    """Exact incremental RFM maintenance (mergeable per-user partials):
    the full scored segmentation finalized from the maintained user-state
    table must equal the batch operator over everything ingested —
    including OUT-OF-ORDER days across batches and NULL event values
    (min/max/sum partials are order-free, so late data is exact, not an
    error). Compaction must be a semantic no-op that still blocks replay,
    and a re-drain from the same checkpoint must add no new versions."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        merge_user_state,
        retention_from_activity,
        rfm_from_user_state,
        rfm_user_partials,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        start_cells_ingest,
    )

    src = tmp_path / "events"
    src.mkdir()
    all_rows = []
    day0 = 1_700_000_000

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for eid, user, day, value in specs:
                row = {
                    "event_id": eid,
                    "ts": day0 + day * 86400 + eid,
                    "user_id": user,
                    "value": value,
                }
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    # batch a: three users spread over days 0-9; batch b goes BACKWARD for
    # user 2 (late day-0 event — moves d_first, not d_last), re-touches
    # user 1 (frequency + monetary accumulate), adds all-NULL-value user 4
    write_file(
        "a.json",
        [(1, 1, 0, 10.5), (2, 2, 3, None), (3, 3, 9, 4.25), (4, 1, 2, 1.0)],
    )
    write_file(
        "b.json",
        [(5, 2, 0, 7.75), (6, 1, 8, None), (7, 4, 5, None), (8, 3, 9, 0.5)],
    )
    state_root = str(tmp_path / "user_state")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts long, user_id long, value double"

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            state_root,
            ckpt,
            rfm_user_partials,
            schema=schema,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    state_t = SnapshotTable(spark, state_root)

    batch_df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["value"]) for r in all_rows],
        schema,
    )

    def canon(df):
        return sorted(map(tuple, df.collect()))

    want = canon(rfm_from_user_state(rfm_user_partials(batch_df)))
    assert canon(rfm_from_user_state(state_t.read())) == want and want
    # the state is partial rows — one per (batch, touched user):
    # batch a touches users {1,2,3}, batch b touches {1,2,3,4}
    assert state_t.read().count() == 7

    # retention needs NO extra state: it finalizes from the DISTINCT
    # activity table the engagement ingest maintains (that maintained
    # table is proven equal to activity_pairs over everything ingested in
    # test_incremental_engagement_ingest_matches_batch) — here assert the
    # shared finalization is live on this data's activity shape
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import activity_pairs

    ret = canon(retention_from_activity(activity_pairs(batch_df)))
    assert ret and ret[0][0] == 0  # day-0 row always present

    # compaction: semantic no-op, one row per user afterwards
    v_before = state_t.current_version()
    compact(spark, state_root, merge_user_state)
    assert canon(rfm_from_user_state(state_t.read())) == want
    assert state_t.read().count() == 4
    assert state_t.current_version() > v_before

    # replay after compaction: batch keys survive the overwrite, so a
    # re-drain from the same checkpoint adds nothing
    v_compacted = state_t.current_version()
    drain()
    assert state_t.current_version() == v_compacted
    assert canon(rfm_from_user_state(state_t.read())) == want

    # the Kaplan-Meier curve is ANOTHER serve face on the SAME maintained
    # state (round 13): survival_km_from_user_state over the appended
    # partials (pre- and post-compaction alike) must equal the batch
    # composition over everything ingested — no extra state, no extra
    # ingest path
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        survival_km_from_user_state,
    )

    km_want = canon(survival_km_from_user_state(rfm_user_partials(batch_df)))
    assert canon(survival_km_from_user_state(state_t.read())) == km_want
    assert km_want  # crafted lifetimes produce at least one churn row


def test_incremental_hourly_ingest_matches_batch(spark, tmp_path):
    """Exact incremental (day, hour) count maintenance: the seasonality
    profile AND the anomaly ranking finalized from the maintained counts
    table must equal the batch operators over everything ingested —
    including out-of-order hours across batches (additive partials are
    order-free). Compaction must be a semantic no-op that still blocks
    replay; a re-drain from the same checkpoint adds nothing."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        anomalies_from_counts,
        hourly_counts,
        merge_hourly_counts,
        seasonality_from_counts,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        start_cells_ingest,
    )

    src = tmp_path / "events"
    src.mkdir()
    all_rows = []
    day0 = 1_700_000_000  # day boundary-ish anchor

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for eid, day, hour in specs:
                row = {
                    "event_id": eid,
                    "ts": day0 + day * 86400 + hour * 3600 + eid % 60,
                    "user_id": eid % 5,
                }
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    # batch a: three days; batch b revisits (day 0, same hours) — additive
    # merge — and goes BACKWARD in time (late data, day 0 hour 1)
    write_file("a.json", [(1, 0, 3), (2, 0, 3), (3, 1, 3), (4, 2, 10)])
    write_file("b.json", [(5, 0, 3), (6, 0, 1), (7, 8, 3), (8, 1, 3)])
    counts_root = str(tmp_path / "hourly")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts long, user_id long"

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            counts_root,
            ckpt,
            hourly_counts,
            schema=schema,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    counts_t = SnapshotTable(spark, counts_root)
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"]) for r in all_rows], schema
    )

    def canon(df):
        return sorted(
            tuple(str(v) for v in row) for row in df.collect()
        )

    hc = hourly_counts(batch_df)
    want_seas = canon(seasonality_from_counts(hc))
    want_anom = canon(anomalies_from_counts(hc))
    assert canon(seasonality_from_counts(counts_t.read())) == want_seas
    assert canon(anomalies_from_counts(counts_t.read())) == want_anom
    assert want_seas and want_anom

    # compaction: semantic no-op, one row per bucket, replay still blocked
    compact(spark, counts_root, merge_hourly_counts)
    assert canon(seasonality_from_counts(counts_t.read())) == want_seas
    distinct_buckets = hc.count()
    assert counts_t.read().count() == distinct_buckets
    v = counts_t.current_version()
    drain()
    assert counts_t.current_version() == v
    assert canon(anomalies_from_counts(counts_t.read())) == want_anom


def test_incremental_value_hist_ingest_matches_batch(spark, tmp_path):
    """Exact incremental value-quantile maintenance (mergeable-sums class,
    the eleventh path): p50/p90/p99 finalized from the maintained pinned
    fixed-width histogram must equal the batch events_value_quantiles
    composition over everything ingested — including a later batch whose
    values revisit earlier bins (additive merge), negative values (floor
    handles the sign), and NULL value/type rows (excluded on both paths).
    Compaction is a semantic no-op that still blocks replay; a re-drain
    from the same checkpoint adds nothing."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        merge_value_hist,
        quantiles_from_value_hist,
        value_hist,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        start_cells_ingest,
    )

    src = tmp_path / "events"
    src.mkdir()
    all_rows = []

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for eid, etype, value in specs:
                row = {"event_id": eid, "event_type": etype, "value": value}
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    # batch a: two types, spread values; batch b revisits type/bin cells,
    # adds a negative value, a NULL value and a NULL type (both excluded)
    write_file("a.json", [(1, "click", 0.4), (2, "click", 7.2), (3, "buy", 99.9),
                          (4, "buy", 0.1), (5, "click", 7.9)])
    write_file("b.json", [(6, "click", 7.5), (7, "buy", -3.2), (8, "click", 0.6),
                          (9, "click", None), (10, None, 5.0)])
    hist_root = str(tmp_path / "vhist")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, event_type string, value double"

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            hist_root,
            ckpt,
            value_hist,
            schema=schema,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    hist_t = SnapshotTable(spark, hist_root)
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["event_type"], r["value"]) for r in all_rows], schema
    )

    def canon(df):
        return sorted(tuple(str(v) for v in row) for row in df.collect())

    vh = value_hist(batch_df)
    want = canon(quantiles_from_value_hist(vh))
    assert canon(quantiles_from_value_hist(hist_t.read())) == want and want

    # compaction: semantic no-op, one row per (type, bin), replay blocked
    compact(spark, hist_root, merge_value_hist)
    assert canon(quantiles_from_value_hist(hist_t.read())) == want
    assert hist_t.read().count() == vh.count()
    v = hist_t.current_version()
    drain()
    assert hist_t.current_version() == v
    assert canon(quantiles_from_value_hist(hist_t.read())) == want


def test_incremental_corpus_rollup_ingest_matches_batch(spark, tmp_path):
    """Exact incremental corpus-rollup maintenance (mergeable-sums class,
    the twelfth path): the (lang, source) ROLLUP finalized from the
    maintained leaf cells must equal batch text_rollup_by_lang_source
    over everything ingested — including later batches revisiting cells
    (additive merge), NULL lang/source keys (leaf NULLs flow through the
    rollup lattice identically on both paths) and NULL n_chars (counted
    as a doc, excluded from char stats). Compaction is a semantic no-op
    that still blocks replay; a re-drain adds nothing."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.textops import (
        corpus_cells,
        merge_corpus_cells,
        rollup_from_cells,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        start_cells_ingest,
    )

    src = tmp_path / "docs"
    src.mkdir()
    all_rows = []

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for did, lang, source, n_chars in specs:
                row = {"doc_id": did, "lang": lang, "source": source,
                       "n_chars": n_chars}
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    write_file("a.json", [(1, "en", "web", 100), (2, "en", "web", 300),
                          (3, "de", "books", 50), (4, None, "web", 70)])
    write_file("b.json", [(5, "en", "web", 20), (6, "de", None, 10),
                          (7, "en", "books", None), (8, None, None, 5)])
    cells_root = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, lang string, source string, n_chars long"

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            cells_root,
            ckpt,
            corpus_cells,
            schema=schema,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    cells_t = SnapshotTable(spark, cells_root)
    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["lang"], r["source"], r["n_chars"]) for r in all_rows],
        schema,
    )

    def canon(df):
        return sorted(tuple(str(v) for v in row) for row in df.collect())

    cells = corpus_cells(batch_df)
    want = canon(rollup_from_cells(cells))
    assert canon(rollup_from_cells(cells_t.read())) == want and want

    compact(spark, cells_root, merge_corpus_cells)
    assert canon(rollup_from_cells(cells_t.read())) == want
    assert cells_t.read().count() == cells.count()
    v = cells_t.current_version()
    drain()
    assert cells_t.current_version() == v
    assert canon(rollup_from_cells(cells_t.read())) == want


def test_incremental_sessions_ingest_matches_batch(spark, tmp_path):
    """Exact incremental sessionization (boundary-state class, the tenth
    path): sessions served from (closed log + open boundaries) must equal
    batch sessionize over everything ingested — across batches that
    CONTINUE an open session (merge at the boundary), REOPEN after a full
    gap (stored session closes), carry multi-session batches, NULL event
    values, and users absent from later batches. Replay from the same
    checkpoint adds no versions; an out-of-order batch raises the order
    contract instead of corrupting boundaries."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.windows import (
        session_rollup,
        sessions_from_state,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_sessions_ingest,
    )

    src = tmp_path / "events"
    src.mkdir()
    all_rows = []
    t0 = 1_700_000_000

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for eid, user, off, value in specs:
                row = {
                    "event_id": eid,
                    "ts": t0 + off,
                    "user_id": user,
                    "value": value,
                }
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    # batch a: user 1 two events 100 s apart (one open session), user 2
    # one event (open); batch b: user 1 continues 200 s later (MERGE),
    # then jumps 5000 s (old merged session closes in a LATER batch — no:
    # within batch b the jump closes the merged session and opens a new
    # one), user 2 returns after 4000 s (stored open closes), user 3 is
    # new with an all-NULL value session; batch c: user 1 continues the
    # open session within gap, user 3 jumps a full gap
    write_file("a.json", [(1, 1, 0, 2.5), (2, 1, 100, None), (3, 2, 50, 1.0)])
    write_file(
        "b.json",
        [(4, 1, 300, 4.0), (5, 1, 5300, 0.25), (6, 2, 4050, None), (7, 3, 0, None)],
    )
    write_file("c.json", [(8, 1, 5400, None), (9, 3, 3700, 3.0)])

    closed_root = str(tmp_path / "closed")
    open_root = str(tmp_path / "open")
    txn_dir = str(tmp_path / "txn")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts long, user_id long, value double"

    def drain():
        q = start_incremental_sessions_ingest(
            spark,
            str(src),
            closed_root,
            open_root,
            txn_dir,
            schema=schema,
            checkpoint_dir=ckpt,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    drain()
    closed_t = SnapshotTable(spark, closed_root)
    open_t = SnapshotTable(spark, open_root)

    batch_df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["value"]) for r in all_rows],
        schema,
    )

    def canon(df):
        return sorted(map(tuple, df.collect()))

    got = canon(sessions_from_state(closed_t.read(), open_t.read()))
    want = canon(session_rollup(batch_df))
    assert got == want and len(want) == 6
    # structural spot-checks: user 1 = 2 sessions (merged 4-event one +
    # the post-gap pair), user 2 = 2, user 3 = 2; opens = one per user
    assert open_t.read().count() == 3
    assert closed_t.read().count() == 3

    # replay: same checkpoint, no new versions on either table
    vc, vo = closed_t.current_version(), open_t.current_version()
    drain()
    assert (closed_t.current_version(), open_t.current_version()) == (vc, vo)
    assert canon(sessions_from_state(closed_t.read(), open_t.read())) == want

    # order contract: an event at/before user 1's stored last event raises
    with open(src / "z.json", "w") as f:
        f.write(
            _json.dumps(
                {"event_id": 99, "ts": t0 + 5399, "user_id": 1, "value": 1.0}
            )
            + "\n"
        )
    import pytest as _pytest

    q = start_incremental_sessions_ingest(
        spark,
        str(src),
        closed_root,
        open_root,
        txn_dir,
        schema=schema,
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,
    )
    with _pytest.raises(Exception, match="order contract"):
        q.awaitTermination(180)
        q.processAllAvailable()
    assert (closed_t.current_version(), open_t.current_version()) == (vc, vo)


def test_sessions_open_table_batch_cost_is_o_batch(spark, tmp_path):
    """The open-boundary table must be maintained at O(batch-users) write
    cost per micro-batch (the r10/r11 verdict finding, retired by the
    merge-on-read upsert): after a batch touching ONE user of many, the
    commit's new data dir holds exactly that user's row — never a rewrite
    of the whole open set — and a pending equality delete supersedes the
    user's old row; compact materializes the deletes
    without changing what readers see."""
    import pyarrow.parquet as pq

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        apply_sessions_batch,
        compact,
    )

    closed_t = SnapshotTable(spark, str(tmp_path / "closed"))
    open_t = SnapshotTable(spark, str(tmp_path / "open"))
    txn_dir = str(tmp_path / "txn")
    schema = "event_id long, ts long, user_id long, value double"
    t0 = 1_700_000_000

    # batch 1: 50 users, one event each
    b1 = [(u, t0 + u, u, 1.0) for u in range(50)]
    apply_sessions_batch(
        spark, closed_t, open_t, txn_dir,
        spark.createDataFrame(b1, schema), "b1",
    )
    assert open_t.read().count() == 50

    # batch 2: ONE user reappears much later (their old session closes)
    b2 = [(1000, t0 + 10**6, 7, 1.0)]
    apply_sessions_batch(
        spark, closed_t, open_t, txn_dir,
        spark.createDataFrame(b2, schema), "b2",
    )
    snap = open_t._snapshot(None)
    # the commit added exactly one NEW dir; batch-1's dir is carried by
    # reference; the new dir holds ONE row (user 7's new boundary)
    prev_dirs = set(open_t._snapshot(1)["dirs"])
    new_dirs = [d for d in snap["dirs"] if d not in prev_dirs]
    assert len(new_dirs) == 1
    n_new_rows = sum(
        pq.ParquetFile(os.path.join(new_dirs[0], f)).metadata.num_rows
        for f in os.listdir(new_dirs[0])
        if f.endswith(".parquet")
    )
    assert n_new_rows == 1
    assert len(snap.get("deletes", [])) == 1
    # reader semantics: still one open row per user, user 7's updated
    opened = {r["user_id"]: r["last_ts"] for r in open_t.read().collect()}
    assert len(opened) == 50
    assert opened[7] == t0 + 10**6
    # user 7's old open session closed into the log
    assert closed_t.read().filter("user_id = 7").count() == 1

    before = sorted(tuple(r) for r in open_t.read().collect())
    compact(spark, str(tmp_path / "open"))
    assert not open_t._snapshot(None).get("deletes")
    assert sorted(tuple(r) for r in open_t.read().collect()) == before


def test_incremental_shingle_index_matches_batch_decontamination(spark, tmp_path):
    """The THIRTEENTH incremental path (append-only postings): the
    decontamination audit served from the maintained shingle index must
    equal batch decontaminate_split over everything ingested — including
    an eval doc arriving in a LATER batch than the train doc it
    contaminates (the retro-detection case that makes maintained state
    worth having). Replay adds nothing; compaction is a semantic no-op."""
    import hashlib
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.sampling import (
        decontaminate_split,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.dedup import (
        doc_shingle_rows,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        decontaminate_from_index,
        start_cells_ingest,
    )

    def split_of(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    train_ids = [i for i in range(200) if split_of(i) == "train"]
    eval_ids = [i for i in range(200) if split_of(i) != "train"]
    assert train_ids and eval_ids
    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    clean = "one two three four five six seven eight nine ten eleven"
    other = "red orange yellow green blue indigo violet cyan magenta umber"
    # batch 1: a train doc with the leaking text + a clean train doc
    b1 = [(train_ids[0], leak), (train_ids[1], clean)]
    # batch 2 (LATER): the eval doc carrying the same text + noise
    b2 = [(eval_ids[0], leak), (eval_ids[1], other)]

    src = tmp_path / "docs"
    src.mkdir()
    all_rows = []
    for name, rows in (("a.json", b1), ("b.json", b2)):
        with open(src / name, "w") as f:
            for did, text in rows:
                row = {"doc_id": did, "text": text, "lang": "en",
                       "source": "web", "n_chars": len(text)}
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    index_root = str(tmp_path / "shidx")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            index_root,
            ckpt,
            doc_shingle_rows,
            schema=schema,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    index_t = SnapshotTable(spark, index_root)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    got = canon(decontaminate_from_index(index_t.read()))
    # the batch face over the same corpus written as parquet
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
         for r in all_rows], schema,
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    want = canon(decontaminate_split(spark, sf))
    assert got == want
    # the retro case actually fired: the batch-1 train doc is flagged
    assert any(r[0] == train_ids[0] for r in got), got
    assert all(split_of(r[0]) == "train" for r in got)

    # replay: a second drain of the same files adds nothing
    n_before = index_t.read().count()
    drain()
    assert index_t.read().count() == n_before
    # compaction: semantic no-op, replay still blocked after it
    compact(spark, index_root)
    assert canon(decontaminate_from_index(index_t.read())) == want
    drain()
    assert index_t.read().count() == n_before


def test_incremental_mixture_ingest_matches_batch(spark, tmp_path):
    """Exact incremental mixture-weight maintenance (mergeable-sums class,
    the fourteenth path): temperature weights read from the maintained
    per-source token cells must equal batch domain_mixture_weights over
    everything ingested — including later batches revisiting sources
    (additive merge), NULL source keys, and NULL-text docs (excluded on
    both paths). Compaction is a semantic no-op that still blocks
    replay; a re-drain adds nothing."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.sampling import (
        merge_source_token_cells,
        mixture_from_token_cells,
        source_token_cells,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        start_cells_ingest,
    )

    src = tmp_path / "docs"
    src.mkdir()
    all_rows = []

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for did, source, text in specs:
                row = {"doc_id": did, "source": source, "text": text}
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    write_file("a.json", [(1, "web", "alpha beta gamma"),
                          (2, "web", "delta"),
                          (3, "books", "epsilon zeta"),
                          (4, None, "eta theta iota kappa")])
    write_file("b.json", [(5, "web", "lambda mu"),
                          (6, "books", None),
                          (7, "news", "nu xi omicron"),
                          (8, None, "pi")])
    cells_root = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, source string, text string"

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            cells_root,
            ckpt,
            source_token_cells,
            schema=schema,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    cells_t = SnapshotTable(spark, cells_root)
    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in all_rows], schema
    )

    def canon(df):
        return sorted(tuple(str(v) for v in row) for row in df.collect())

    want = canon(mixture_from_token_cells(source_token_cells(batch_df)))
    assert canon(mixture_from_token_cells(cells_t.read())) == want and want

    compact(spark, cells_root, merge_source_token_cells)
    assert canon(mixture_from_token_cells(cells_t.read())) == want
    # compaction collapsed the two per-batch partial sets to one row per
    # distinct source key (web/books/None revisited across batches)
    assert cells_t.read().count() == source_token_cells(batch_df).count()
    v = cells_t.current_version()
    drain()
    assert cells_t.current_version() == v
    assert canon(mixture_from_token_cells(cells_t.read())) == want


def test_incremental_daily_type_ingest_matches_batch(spark, tmp_path):
    """Exact incremental monitoring-series maintenance (mergeable-sums
    class, the fifteenth path): the zero-filled grid read from the
    maintained (event_type, day) cells must equal batch daily_type_grid
    over everything ingested — including later batches revisiting
    (type, day) cells (additive merge), NULL ts/type rows (excluded on
    both paths), and out-of-order days (no ordering contract). The
    parity is asserted through the FULL forecast-backtest readout so the
    serving face, not just the state, is pinned. Compaction is a
    semantic no-op that still blocks replay; a re-drain adds nothing."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        _FC_LAG_DAYS,
        daily_type_cells,
        daily_type_grid,
        grid_from_daily_cells,
        merge_daily_type_cells,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        start_cells_ingest,
    )

    src = tmp_path / "events"
    src.mkdir()
    all_rows = []

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for eid, ts, et in specs:
                row = {"event_id": eid, "ts": ts, "event_type": et}
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    # batch 1: a 10-day span with gaps; batch 2 arrives out of order,
    # revisits day 3 for "view" and adds a new type
    write_file("a.json", [(1, "2024-01-01 10:00:00", "view"),
                          (2, "2024-01-03 11:00:00", "view"),
                          (3, "2024-01-10 09:00:00", "click"),
                          (4, None, "view"),
                          (5, "2024-01-05 08:00:00", None)])
    write_file("b.json", [(6, "2024-01-03 12:00:00", "view"),
                          (7, "2024-01-02 07:00:00", "purchase"),
                          (8, "2024-01-09 23:59:59", "view")])
    cells_root = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, event_type string"

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            cells_root,
            ckpt,
            daily_type_cells,
            schema=schema,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    drain()
    cells_t = SnapshotTable(spark, cells_root)
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["event_type"]) for r in all_rows],
        "event_id long, ts string, event_type string",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type")

    def canon(df):
        return sorted(tuple(str(v) for v in row) for row in df.collect())

    want_grid = canon(daily_type_grid(batch_df))
    assert canon(grid_from_daily_cells(cells_t.read())) == want_grid and want_grid

    # the serving faces: replay the backtest arithmetic over both grids
    from pyspark.sql import Window as W

    def backtest(grid_df):
        w = W.partitionBy("event_type").orderBy("day")
        p = grid_df.withColumn("pred", F.lag("n", _FC_LAG_DAYS).over(w)).filter(
            F.col("pred").isNotNull()
        )
        return p.groupBy("event_type").agg(
            F.sum("n").alias("ta"), F.sum("pred").alias("tp")
        )

    assert canon(backtest(grid_from_daily_cells(cells_t.read()))) == canon(
        backtest(daily_type_grid(batch_df))
    )

    # the round-13 ACF serve face: per-day totals from maintained cells
    # (pre- and post-compaction) equal the batch composition
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        autocorr_from_daily_cells_input,
    )

    want_perday = canon(autocorr_from_daily_cells_input(daily_type_cells(batch_df)))
    assert canon(autocorr_from_daily_cells_input(cells_t.read())) == want_perday

    # the round-15 Theil-Sen serve face: the robust trend re-estimates
    # from the maintained cells with no fact re-scan
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        theil_sen_from_grid,
    )

    want_ts = canon(theil_sen_from_grid(daily_type_grid(batch_df)))
    assert canon(
        theil_sen_from_grid(grid_from_daily_cells(cells_t.read()))
    ) == want_ts and want_ts

    compact(spark, cells_root, merge_daily_type_cells)
    assert canon(grid_from_daily_cells(cells_t.read())) == want_grid
    assert canon(autocorr_from_daily_cells_input(cells_t.read())) == want_perday
    assert cells_t.read().count() == daily_type_cells(batch_df).count()
    v = cells_t.current_version()
    drain()
    assert cells_t.current_version() == v
    assert canon(grid_from_daily_cells(cells_t.read())) == want_grid


def test_incremental_pricing_ingest_matches_batch_q1(spark, tmp_path):
    """Q1 pricing dashboard from maintained integer cells (the twentieth
    path): q1_from_pricing_cells over partials ingested in three uneven
    lineitem batches equals batch q1_pricing_summary on the same rows —
    money as exact cents/basis-point integers, so batch splits cannot
    move a digit. Replay adds nothing; compaction collapses to one row
    per (flag, status) without changing the report."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.relational import (
        lineitem_pricing_cells,
        merge_pricing_cells,
        q1_from_pricing_cells,
        q1_pricing_summary,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        start_cells_ingest,
    )

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    cols = li.columns
    rows = li.collect()
    src = tmp_path / "li_in"
    src.mkdir()
    cells_root = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp"
    )

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            cells_root,
            ckpt,
            lineitem_pricing_cells,
            schema=schema,
        )
        q.awaitTermination(120)

    for b in range(3):
        with open(src / f"b{b}.json", "w") as f:
            for r in rows:
                if r.l_orderkey % 3 != b:
                    continue
                d = {c: getattr(r, c) for c in cols}
                d["l_shipdate"] = (
                    r.l_shipdate.isoformat() if r.l_shipdate else None
                )
                f.write(_json.dumps(d) + "\n")
        drain()

    cells = SnapshotTable(spark, cells_root)
    got = sorted(map(tuple, q1_from_pricing_cells(cells.read()).collect()))
    want = sorted(map(tuple, q1_pricing_summary(spark, sf).collect()))
    assert got == want and got

    # replay: nothing appended twice
    n = cells.read().count()
    drain()
    assert cells.read().count() == n

    # compaction: one row per group, report unchanged
    compact(spark, cells_root, merge_pricing_cells)
    merged = cells.read()
    assert merged.count() == merged.select(
        "l_returnflag", "l_linestatus"
    ).distinct().count()
    assert sorted(map(tuple, q1_from_pricing_cells(merged).collect())) == want


def test_incremental_revenue_ingest_matches_batch_q5(spark, tmp_path):
    """Q5 revenue-by-nation from maintained delta-join state (the
    twenty-first path — the first JOIN-BEARING incremental view):
    q5_from_revenue_cells over cells ingested from an interleaved
    lineitem/order envelope stream equals batch q5_revenue_by_nation on
    the same tables — with OUT-OF-ORDER arrival both ways (lineitems
    landing batches before their order, orders landing before any of
    their lineitems) and orders outside Q5's date window leaving their
    lineitems pending forever.  Replay adds nothing; compaction
    collapses lineitem partials per order and cells per (region,
    nation) without changing the report."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.relational import (
        customer_nation_dim,
        merge_order_partials,
        merge_revenue_cells,
        q5_from_revenue_cells,
        q5_revenue_by_nation,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        start_incremental_revenue_ingest,
    )

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li_rows = li.collect()
    ord_rows = orders.collect()
    src = tmp_path / "env_in"
    src.mkdir()
    roots = {
        n: str(tmp_path / n) for n in ("li_state", "ord_state", "cells")
    }
    txn_dir = str(tmp_path / "txns")
    ckpt = str(tmp_path / "ckpt")
    cust_dim = customer_nation_dim(spark, sf)

    def drain():
        q = start_incremental_revenue_ingest(
            spark,
            str(src),
            roots["li_state"],
            roots["ord_state"],
            roots["cells"],
            txn_dir,
            cust_dim=cust_dim,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)

    def li_env(r):
        return {
            "kind": "lineitem",
            "l_orderkey": r.l_orderkey,
            "l_extendedprice": r.l_extendedprice,
            "l_discount": r.l_discount,
        }

    def ord_env(r):
        return {
            "kind": "order",
            "o_orderkey": r.o_orderkey,
            "o_custkey": r.o_custkey,
            "o_orderdate": r.o_orderdate.isoformat() if r.o_orderdate else None,
        }

    # b0: lineitems of orders %3==0 arrive BEFORE those orders (which
    # only land in b2); orders %3==1 arrive before ANY of their
    # lineitems (which land in b1); b1 mixes both kinds.
    batches = [
        [li_env(r) for r in li_rows if r.l_orderkey % 3 == 0]
        + [ord_env(r) for r in ord_rows if r.o_orderkey % 3 == 1],
        [li_env(r) for r in li_rows if r.l_orderkey % 3 == 1]
        + [ord_env(r) for r in ord_rows if r.o_orderkey % 3 == 2],
        [li_env(r) for r in li_rows if r.l_orderkey % 3 == 2]
        + [ord_env(r) for r in ord_rows if r.o_orderkey % 3 == 0],
    ]
    for i, b in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for d in b:
                f.write(_json.dumps(d) + "\n")
        drain()

    cells = SnapshotTable(spark, roots["cells"])
    got = [tuple(r) for r in q5_from_revenue_cells(cells.read()).collect()]
    want = [tuple(r) for r in q5_revenue_by_nation(spark, sf).collect()]
    assert got == want and got

    # pending lineitems exist: some orders fall outside Q5's window, so
    # their lineitem partials outnumber the stated orders' keys
    li_t = SnapshotTable(spark, roots["li_state"])
    ord_t = SnapshotTable(spark, roots["ord_state"])
    li_keys = {r.o_orderkey for r in li_t.read().select("o_orderkey").distinct().collect()}
    ord_keys = {r.o_orderkey for r in ord_t.read().select("o_orderkey").distinct().collect()}
    assert li_keys - ord_keys, "expected forever-pending lineitems"

    # replay: nothing appended twice
    counts = (li_t.read().count(), ord_t.read().count(), cells.read().count())
    drain()
    assert (li_t.read().count(), ord_t.read().count(), cells.read().count()) == counts
    assert [tuple(r) for r in q5_from_revenue_cells(cells.read()).collect()] == want

    # compaction: one partial per order, one row per cell, report unchanged
    compact(spark, roots["li_state"], merge_order_partials)
    compact(spark, roots["ord_state"])
    compact(spark, roots["cells"], merge_revenue_cells)
    assert li_t.read().count() == len(li_keys)
    m = cells.read()
    assert m.count() == m.select("r_name", "n_name").distinct().count()
    assert [tuple(r) for r in q5_from_revenue_cells(m).collect()] == want


def test_incremental_benford_cells_match_batch(spark, tmp_path):
    """Benford digit counters at ingest (the twenty-fourth path,
    mergeable integer sums — whole state ≤ 9 rows): the audit served
    from cells ingested across three uneven batches equals the batch
    audit; replay appends nothing; compaction collapses to ≤9 rows with
    the report unchanged; a planted fabricated batch (all totals led by
    digit 9) visibly inflates chi2 on the next drain."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        benford_digit_audit,
        benford_digit_cells,
        benford_from_digit_cells,
        merge_benford_cells,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        ORDERS_ENVELOPE_SCHEMA,
        compact,
        start_cells_ingest,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/orders.parquet").collect()
    src = tmp_path / "env_in"
    src.mkdir()
    cells_root = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            cells_root,
            ckpt,
            benford_digit_cells,
            schema=ORDERS_ENVELOPE_SCHEMA,
        )
        q.awaitTermination(120)

    def env(r):
        return {
            "o_orderkey": r.o_orderkey,
            "o_custkey": r.o_custkey,
            "o_orderstatus": r.o_orderstatus,
            "o_totalprice": r.o_totalprice,
            "o_orderdate": r.o_orderdate.isoformat() if r.o_orderdate else None,
            "o_orderpriority": r.o_orderpriority,
        }

    for i in range(3):
        with open(src / f"b{i}.json", "w") as f:
            for r in rows:
                if r.o_orderkey % 3 == i:
                    f.write(_json.dumps(env(r)) + "\n")
        drain()

    cells_t = SnapshotTable(spark, cells_root)
    want = [tuple(r) for r in benford_digit_audit(spark, sf).collect()]
    got = [
        tuple(r)
        for r in benford_from_digit_cells(spark, cells_t.read()).collect()
    ]
    assert got == want and want

    n = cells_t.read().count()
    drain()
    assert cells_t.read().count() == n
    compact(spark, cells_root, merge_benford_cells)
    assert cells_t.read().count() <= 9
    assert [
        tuple(r)
        for r in benford_from_digit_cells(spark, cells_t.read()).collect()
    ] == want

    # fabricated batch: every total starts with 9 → chi2 jumps
    chi_before = want[0][-1]
    with open(src / "b3.json", "w") as f:
        for k in range(500):
            fake = dict(env(rows[0]))
            fake["o_orderkey"] = 10**9 + k
            fake["o_totalprice"] = 9000.0 + k
            f.write(_json.dumps(fake) + "\n")
    drain()
    after = benford_from_digit_cells(spark, cells_t.read()).collect()
    assert after[0].chi2_total > chi_before


def test_incremental_code_index_serves_hamming(spark, tmp_path):
    """Binary sign codes maintained at ingest (the twenty-third path,
    append-only projection): hamming_from_code_index over codes ingested
    in three uneven batches equals batch knn_hamming on the same
    embeddings; replay appends nothing; compaction changes only layout."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.similarity import (
        code_index_rows,
        hamming_from_code_index,
        knn_hamming,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        EMBEDDING_ENVELOPE_SCHEMA,
        compact,
        start_cells_ingest,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()
    src = tmp_path / "env_in"
    src.mkdir()
    codes_root = str(tmp_path / "codes")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            codes_root,
            ckpt,
            code_index_rows,
            schema=EMBEDDING_ENVELOPE_SCHEMA,
        )
        q.awaitTermination(120)

    batches = [
        [r for r in rows if r.vec_id % 3 == i] for i in range(3)
    ]
    for i, b in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for r in b:
                f.write(
                    _json.dumps(
                        {"vec_id": r.vec_id,
                         "embedding": [float(x) for x in r.embedding]}
                    )
                    + "\n"
                )
        drain()

    codes_t = SnapshotTable(spark, codes_root)
    want = [tuple(r) for r in knn_hamming(spark, sf).collect()]
    got = [tuple(r) for r in hamming_from_code_index(codes_t.read()).collect()]
    assert got == want and want

    n = codes_t.read().count()
    assert n == len(rows)
    drain()
    assert codes_t.read().count() == n
    compact(spark, codes_root)
    assert codes_t.read().count() == n
    assert [
        tuple(r) for r in hamming_from_code_index(codes_t.read()).collect()
    ] == want


def test_incremental_recon_ingest_matches_batch_audit(spark, tmp_path):
    """Order-reconciliation from maintained per-order partials (the
    twenty-second path): reconciliation_from_state over state ingested
    from an interleaved order/lineitem envelope stream equals the batch
    order_reconciliation_audit on the same tables — with out-of-order
    arrival both ways (lines before their header and headers before any
    line), a planted no-lines order and planted header-less lines (which
    must stay pending), replay adding nothing, and compaction collapsing
    to one row per order without changing the report."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.quality import (
        merge_recon_partials,
        order_reconciliation_audit,
        recon_partials,
        reconciliation_from_state,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        RECON_ENVELOPE_SCHEMA,
        compact,
        start_cells_ingest,
    )

    sf = "/root/testdata/sf0.001"
    li_rows = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
        .collect()
    )
    ord_rows = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    src = tmp_path / "env_in"
    src.mkdir()
    state_root = str(tmp_path / "recon_state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            state_root,
            ckpt,
            recon_partials,
            schema=RECON_ENVELOPE_SCHEMA,
        )
        q.awaitTermination(120)

    def li_env(r):
        return {
            "kind": "lineitem",
            "l_orderkey": r.l_orderkey,
            "l_extendedprice": r.l_extendedprice,
            "l_discount": r.l_discount,
            "l_tax": r.l_tax,
        }

    def ord_env(r):
        return {
            "kind": "order",
            "o_orderkey": r.o_orderkey,
            "o_totalprice": r.o_totalprice,
        }

    # headers %3==1 land a batch before any of their lines; lines %3==0
    # land before their headers; header-less lines (keys beyond the
    # order range) stay pending forever and must not enter the report
    batches = [
        [li_env(r) for r in li_rows if r.l_orderkey % 3 == 0]
        + [ord_env(r) for r in ord_rows if r.o_orderkey % 3 == 1],
        [li_env(r) for r in li_rows if r.l_orderkey % 3 == 1]
        + [ord_env(r) for r in ord_rows if r.o_orderkey % 3 == 2]
        + [
            {
                "kind": "lineitem",
                "l_orderkey": 10**12,
                "l_extendedprice": 1000.0,
                "l_discount": 0.0,
                "l_tax": 0.0,
            }
        ],
        [li_env(r) for r in li_rows if r.l_orderkey % 3 == 2]
        + [ord_env(r) for r in ord_rows if r.o_orderkey % 3 == 0],
    ]
    for i, b in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for d in b:
                f.write(_json.dumps(d) + "\n")
        drain()

    state_t = SnapshotTable(spark, state_root)
    want_row = order_reconciliation_audit(spark, sf).collect()[0]
    got_row = reconciliation_from_state(state_t.read()).collect()[0]
    # the planted header-less line must NOT shift the report
    assert tuple(got_row) == tuple(want_row)
    assert want_row.n_orders > 0

    # replay: nothing appended twice
    n = state_t.read().count()
    drain()
    assert state_t.read().count() == n
    assert tuple(
        reconciliation_from_state(state_t.read()).collect()[0]
    ) == tuple(want_row)

    # compaction: one row per order key (incl. the pending orphan),
    # report unchanged
    compact(spark, state_root, merge_recon_partials)
    m = state_t.read()
    assert m.count() == m.select("k").distinct().count()
    assert 10**12 in {r.k for r in m.select("k").collect()}
    assert tuple(
        reconciliation_from_state(m).collect()[0]
    ) == tuple(want_row)


def test_incremental_word_cells_ingest_serves_both_trainers(spark, tmp_path):
    """Word-type frequency cells at ingest (mergeable integer sums, the
    nineteenth path): BOTH tokenizer trainers re-run from the maintained
    cells table exactly — BPE merge table and unigram vocabulary equal
    their batch twins over everything ingested, across batch splits,
    after replay, and after compaction."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.textops import (
        _uni_state,
        bpe_merges_from_word_cells,
        bpe_word_table,
        merge_word_cells,
        train_bpe_merges,
        unigram_vocab_from_word_cells,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        start_cells_ingest,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog near the river",
        "the lazy dog sleeps while the quick fox runs through the grass",
        "a quick brown cat watches the lazy dog from the old fence",
        "river grass grows where the brown fox and the cat once ran",
        None,
        "the old fence by the river keeps the dog from the grass",
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    cells_root = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_cells_ingest(
            spark,
            str(src),
            cells_root,
            ckpt,
            bpe_word_table,
            schema="doc_id long, text string",
        )
        q.awaitTermination(120)

    # three uneven batches
    for i, ids in enumerate([[0, 1], [2, 3, 4], [5]]):
        with open(src / f"b{i}.json", "w") as f:
            for d in ids:
                f.write(_json.dumps({"doc_id": d, "text": texts[d]}) + "\n")
        drain()

    cells = SnapshotTable(spark, cells_root)
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, t, "en", "s", 0) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    want_bpe = sorted(map(tuple, train_bpe_merges(spark, sf).collect()))
    got_bpe = sorted(
        map(tuple, bpe_merges_from_word_cells(spark, cells.read()).collect())
    )
    assert got_bpe == want_bpe and got_bpe

    want_vocab = _uni_state(spark, sf)[0]
    got_vocab, _ = unigram_vocab_from_word_cells(cells.read())
    assert got_vocab == want_vocab and got_vocab

    # replay: nothing appended twice
    n = cells.read().count()
    drain()
    assert cells.read().count() == n

    # compaction: one row per word type, training unchanged
    compact(spark, cells_root, merge_word_cells)
    merged = cells.read()
    assert merged.count() == merged.select("word").distinct().count()
    assert (
        sorted(
            map(
                tuple, bpe_merges_from_word_cells(spark, merged).collect()
            )
        )
        == want_bpe
    )


def test_incremental_kgram_index_matches_batch_exact_substr(spark, tmp_path):
    """Positional k-gram index at ingest (append-only postings, the
    eighteenth path): exact_substr_from_index over the maintained
    (corpus, index) equals batch dedup_exact_substr — including the
    later-shared flip (a span appears only when its SECOND document
    arrives in a later batch). Replay adds nothing; compaction is a
    semantic no-op."""
    import hashlib

    from pyspark.sql import types as T

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.dedup import (
        dedup_exact_substr,
        exact_substr_from_index,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
        start_incremental_kgram_index_ingest,
    )

    shared = " ".join(f"boiler{i}" for i in range(12))
    u = lambda p, n: " ".join(f"{p}{i}" for i in range(n))
    docs = {
        1: f"{u('a', 10)} {shared} {u('b', 10)}",
        2: f"{u('c', 5)} {shared} {u('d', 8)}",
        3: u("e", 30),
        4: None,
    }
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "docs_in"
    src.mkdir()
    corpus_root = str(tmp_path / "corpus")
    index_root = str(tmp_path / "index")
    txn_dir = str(tmp_path / "txns")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_incremental_kgram_index_ingest(
            spark,
            str(src),
            corpus_root,
            index_root,
            txn_dir,
            schema=schema,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)

    corpus = SnapshotTable(spark, corpus_root)
    index_t = SnapshotTable(spark, index_root)

    def serve():
        return sorted(
            map(
                tuple,
                exact_substr_from_index(
                    index_t.read(), corpus.read()
                ).collect(),
            )
        )

    # batch 1: the span's FIRST copy + a unique doc -> nothing shared yet
    _write_ndjson(
        src / "b0.json",
        [{"doc_id": d, "text": docs[d]} for d in (1, 3)],
    )
    drain()
    assert serve() == []
    # batch 2: null-text doc -> still nothing
    _write_ndjson(src / "b1.json", [{"doc_id": 4, "text": None}])
    drain()
    assert serve() == []
    # batch 3: the span's second copy arrives -> both docs report it
    _write_ndjson(src / "b2.json", [{"doc_id": 2, "text": docs[2]}])
    drain()
    got = serve()
    want_hash = hashlib.md5(shared.encode()).hexdigest()
    assert got == [
        (1, 1, 11, 12, want_hash),
        (2, 1, 6, 12, want_hash),
    ]

    # == the batch face over the same corpus
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(d, t, "en", "s", 0) for d, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    assert got == sorted(map(tuple, dedup_exact_substr(spark, sf).collect()))

    # replay: no movement
    v = index_t.current_version()
    drain()
    assert index_t.current_version() == v and serve() == got

    # compaction: semantic no-op
    compact(spark, index_root)
    assert serve() == got

    # r15: the SAME maintained index serves span-level eval
    # decontamination — doc 5 hashes to the eval split (md5 bucket 86)
    # and carries the planted span, so both train docs (1: bucket 78,
    # 2: bucket 30) report their exact contaminated frame against it,
    # equal to the batch face over the same corpus
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.dedup import (
        decontaminate_spans,
        decontaminate_spans_from_index,
    )

    docs[5] = f"{u('f', 6)} {shared} {u('g', 7)}"
    _write_ndjson(src / "b3.json", [{"doc_id": 5, "text": docs[5]}])
    drain()
    sf2 = str(tmp_path / "sf2")
    spark.createDataFrame(
        [(d, t, "en", "s", 0) for d, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf2}/documents.parquet")
    got_dec = sorted(
        map(
            tuple,
            decontaminate_spans_from_index(
                index_t.read(), corpus.read()
            ).collect(),
        )
    )
    assert got_dec == [
        (1, 5, 1, 11, 12, want_hash),
        (2, 5, 1, 6, 12, want_hash),
    ]
    assert got_dec == sorted(
        map(tuple, decontaminate_spans(spark, sf2).collect())
    )


def test_incremental_cluster_ingest_matches_batch(spark, tmp_path):
    """Exact incremental near-dup cluster maintenance (union-find event
    log, the seventeenth path): clusters_from_lsh_state over the
    maintained merge log must equal batch dedup_clusters_lsh over
    everything ingested — across batches where a doc's near-dups arrive
    LATER (label merges union existing clusters), with null-text docs
    admitted as singletons. The log stays a functional forest, replay
    adds nothing, compaction flattens to depth 1 without changing
    labels, and a one-cluster batch order produces identical labels."""
    from pyspark.sql import types as T

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.dedup import (
        clusters_from_lsh_state,
        dedup_clusters_lsh,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact_cluster_merges,
        start_incremental_cluster_ingest,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sleepy pandas watch from a distant bamboo grove under heavy "
        "summer rain that never seems to stop falling on the valley"
    )
    near1 = base.replace("seventeen", "eighteen")
    near2 = base.replace("summer", "winter")
    other = (
        "completely different content about distributed query engines "
        "processing petabytes of training data with columnar formats "
        "snapshot isolation and carefully bounded shuffle stages"
    )
    third = (
        "yet another unrelated document discussing the economics of "
        "container shipping lanes across the northern pacific trade "
        "routes during the early twenty first century boom years"
    )
    docs = {1: base, 2: near1, 3: other, 4: None, 5: near2, 6: third, 7: other}
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "docs_in"
    src.mkdir()
    corpus_root = str(tmp_path / "corpus")
    bands_root = str(tmp_path / "bands")
    merges_root = str(tmp_path / "merges")
    txn_dir = str(tmp_path / "txns")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_incremental_cluster_ingest(
            spark,
            str(src),
            corpus_root,
            bands_root,
            merges_root,
            txn_dir,
            schema=schema,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)

    # near-dups of 1 arrive BEFORE 1; 7 (exact dup of 3) before 3 — the
    # final batch has to union clusters/singletons created earlier
    for i, ids in enumerate([[2, 6], [5, 7, 4], [1, 3]]):
        _write_ndjson(
            src / f"b{i}.json",
            [{"doc_id": d, "text": docs[d]} for d in ids],
        )
        drain()

    corpus = SnapshotTable(spark, corpus_root)
    bands = SnapshotTable(spark, bands_root)
    merges = SnapshotTable(spark, merges_root)
    assert sorted(r.doc_id for r in corpus.read().collect()) == list(range(1, 8))

    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(d, t, "en", "s", 0) for d, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    want = sorted(map(tuple, dedup_clusters_lsh(spark, sf).collect()))

    def got():
        return sorted(
            map(
                tuple,
                clusters_from_lsh_state(
                    corpus.read(), merges.read()
                ).collect(),
            )
        )

    assert got() == want
    by_doc = dict((r[0], r[1]) for r in want)
    # the guaranteed edges: base~near1, base~near2, other==other
    assert by_doc[2] == 1 and by_doc[5] == 1 and by_doc[7] == 3
    assert by_doc[4] == 4 and by_doc[6] == 6
    # functional forest: each node is a source at most once, targets
    # strictly smaller
    ev = merges.read().collect()
    srcs = [r.node for r in ev]
    assert len(srcs) == len(set(srcs))
    assert all(r.target < r.node for r in ev)

    # replay: no movement, labels unchanged
    v = corpus.current_version()
    drain()
    assert corpus.current_version() == v
    assert got() == want

    # O(batch) state growth: one new unrelated doc = 8 band rows, 0 events
    n_bands, n_events = bands.read().count(), merges.read().count()
    _write_ndjson(
        src / "b3.json",
        [{"doc_id": 8, "text": "entirely novel words nobody used before "
                               "in any earlier document of this corpus"}],
    )
    drain()
    assert bands.read().count() == n_bands + 8
    assert merges.read().count() == n_events

    # compaction: depth-1 forest, same labels
    compact_cluster_merges(spark, merges_root)
    flat = merges.read().collect()
    assert not ({r.node for r in flat} & {r.target for r in flat})
    state_labels = {
        r.doc_id: r.cluster_id
        for r in clusters_from_lsh_state(corpus.read(), merges.read()).collect()
    }
    for d, c in by_doc.items():
        assert state_labels[d] == c

    # order-invariance: everything in ONE batch gives the same labels
    src2 = tmp_path / "docs_in2"
    src2.mkdir()
    _write_ndjson(
        src2 / "all.json",
        [{"doc_id": d, "text": t} for d, t in docs.items()],
    )
    q = start_incremental_cluster_ingest(
        spark,
        str(src2),
        str(tmp_path / "corpus2"),
        str(tmp_path / "bands2"),
        str(tmp_path / "merges2"),
        str(tmp_path / "txns2"),
        schema=schema,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(120)
    got2 = sorted(
        map(
            tuple,
            clusters_from_lsh_state(
                SnapshotTable(spark, str(tmp_path / "corpus2")).read(),
                SnapshotTable(spark, str(tmp_path / "merges2")).read(),
            ).collect(),
        )
    )
    assert got2 == want


def test_incremental_scd2_ingest_matches_batch(spark, tmp_path):
    """Exact incremental SCD2 (boundary-state class, the sixteenth path):
    the dimension served from (closed-versions log + open boundaries)
    must equal batch scd2_from_events over everything ingested — across
    batches that CONTINUE the open state (merge: no new version), change
    state exactly at the boundary (stored version closes at the first
    batch change), carry multi-change batches, and users absent from
    later batches. Replay from the same checkpoint adds no versions; an
    out-of-order batch raises the order contract instead of corrupting
    closed versions."""
    import json as _json

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.windows import scd2_from_state
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        start_incremental_scd2_ingest,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    src = tmp_path / "events"
    src.mkdir()
    all_rows = []
    t0 = 1_700_000_000

    def write_file(name, specs):
        with open(src / name, "w") as f:
            for eid, user, off, etype in specs:
                row = {
                    "event_id": eid,
                    "ts": t0 + off,
                    "user_id": user,
                    "event_type": etype,
                }
                all_rows.append(row)
                f.write(_json.dumps(row) + "\n")

    # user 1: a a | a b b | b a  (merge, then boundary change, then a
    #   same-state boundary merge followed by an in-batch change)
    # user 2: x | y  (boundary change closes the stored version)
    # user 3: appears only in batch b with repeated then changed states
    write_file("a.json", [(1, 1, 0, "a"), (2, 1, 10, "a"), (3, 2, 5, "x")])
    write_file(
        "b.json",
        [
            (4, 1, 20, "a"),
            (5, 1, 30, "b"),
            (6, 1, 40, "b"),
            (7, 2, 50, "y"),
            (8, 3, 0, "m"),
            (9, 3, 60, "m"),
            (10, 3, 70, "n"),
        ],
    )
    write_file("c.json", [(11, 1, 80, "b"), (12, 1, 90, "a")])

    closed_root = str(tmp_path / "closed")
    open_root = str(tmp_path / "open")
    txn_dir = str(tmp_path / "txn")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts long, user_id long, event_type string"

    def drain():
        q = start_incremental_scd2_ingest(
            spark,
            str(src),
            closed_root,
            open_root,
            txn_dir,
            schema=schema,
            checkpoint_dir=ckpt,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    drain()
    closed_t = SnapshotTable(spark, closed_root)
    open_t = SnapshotTable(spark, open_root)

    batch_df = spark.createDataFrame(
        [
            (r["event_id"], r["ts"], r["user_id"], r["event_type"])
            for r in all_rows
        ],
        schema,
    )

    # batch twin on the same frame (scd2_from_events reads parquet, so
    # inline the identical definition here)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = batch_df.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("state"),
        F.lag("event_type").over(w).alias("_prev"),
    ).filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("state")))
    want_df = changes.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )

    def canon(df):
        return sorted(map(tuple, df.collect()))

    got = canon(scd2_from_state(closed_t.read(), open_t.read()))
    want = canon(want_df)
    assert got == want and len(want) == 7
    # user 1 versions: a[0,30) b[30,90) a[90,∞); user 2: x[5,50) y[50,∞);
    # user 3: m[0,70) n[70,∞)
    assert open_t.read().count() == 3
    assert closed_t.read().count() == 4

    # replay: same checkpoint, no new versions on either table
    vc, vo = closed_t.current_version(), open_t.current_version()
    drain()
    assert (closed_t.current_version(), open_t.current_version()) == (vc, vo)
    assert canon(scd2_from_state(closed_t.read(), open_t.read())) == want

    # order contract: an event at/before user 1's stored last event raises
    with open(src / "z.json", "w") as f:
        f.write(
            _json.dumps(
                {"event_id": 99, "ts": t0 + 85, "user_id": 1, "event_type": "q"}
            )
            + "\n"
        )
    import pytest as _pytest

    q = start_incremental_scd2_ingest(
        spark,
        str(src),
        closed_root,
        open_root,
        txn_dir,
        schema=schema,
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,
    )
    with _pytest.raises(Exception, match="order contract"):
        q.awaitTermination(180)
        q.processAllAvailable()
    assert (closed_t.current_version(), open_t.current_version()) == (vc, vo)


def test_scd2_open_table_batch_cost_is_o_batch(spark, tmp_path):
    """The SCD2 open-boundary table must be maintained at O(batch-users)
    write cost per micro-batch: after a batch touching ONE user of many,
    the commit's new data dir holds exactly that user's row — never a
    rewrite of the whole open set (the sessions merge-on-read upsert
    machinery, shared by construction)."""
    import pyarrow.parquet as pq

    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import SnapshotTable
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import apply_scd2_batch

    schema = "event_id long, ts long, user_id long, event_type string"
    seed = spark.createDataFrame(
        [(i, 1000 + i, i % 50, "s0") for i in range(200)], schema
    )
    closed_t = SnapshotTable(spark, str(tmp_path / "closed"))
    open_t = SnapshotTable(spark, str(tmp_path / "open"))
    apply_scd2_batch(
        spark, closed_t, open_t, str(tmp_path / "txn"), seed, "t#1"
    )
    assert open_t.read().count() == 50
    one = spark.createDataFrame([(900, 9000, 7, "s1")], schema)
    apply_scd2_batch(
        spark, closed_t, open_t, str(tmp_path / "txn"), one, "t#2"
    )
    # the open set still reads one row per user, user 7 now on s1 v2
    got = {r.user_id: (r.state, r.version) for r in open_t.read().collect()}
    assert len(got) == 50 and got[7] == ("s1", 2)
    # O(batch) write: the latest snapshot's newest data dir holds ONLY
    # user 7's row
    snap = open_t._snapshot(None)
    new_dirs = [d for d in snap["dirs"] if d not in {"."}]
    import os

    newest = max(
        (os.path.join(str(tmp_path / "open"), d) for d in new_dirs),
        key=os.path.getmtime,
    )
    tbl = pq.read_table(newest)
    assert tbl.num_rows == 1
