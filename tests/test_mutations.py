"""Row-level mutation (CoW merge/update/delete) unit tests.

The reference declares copy-on-write delete/update/merge table modes
(/root/reference/spark-data-pipeline/spark_job.py:50-52); these tests drive
the SnapshotTable surface that implements them, on tiny literal tables.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
    SnapshotTable,
)


def _seed(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame(
            [
                Row(k=1, status="open", amount=10.0),
                Row(k=2, status="open", amount=20.0),
                Row(k=3, status="done", amount=30.0),
            ]
        )
    )
    return t


def test_merge_upserts_matched_and_inserts_new(spark, tmp_path):
    t = _seed(spark, tmp_path)
    src = spark.createDataFrame(
        [
            Row(k=2, status="closed", amount=99.0),  # matched → update
            Row(k=4, status="new", amount=40.0),  # not matched → insert
        ]
    )
    t.merge(src, "k")
    got = {r.k: (r.status, r.amount) for r in t.read().collect()}
    assert got == {
        1: ("open", 10.0),
        2: ("closed", 99.0),
        3: ("done", 30.0),
        4: ("new", 40.0),
    }


def test_merge_is_idempotent_for_same_source(spark, tmp_path):
    t = _seed(spark, tmp_path)
    src = spark.createDataFrame([Row(k=2, status="closed", amount=99.0)])
    t.merge(src, "k")
    once = sorted(map(tuple, t.read().collect()))
    t.merge(src, "k")
    assert sorted(map(tuple, t.read().collect())) == once


def test_delete_where_removes_only_matching_rows(spark, tmp_path):
    t = _seed(spark, tmp_path)
    t.delete_where("status", "done", "done")
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_delete_where_null_condition_keeps_row(spark, tmp_path, mode):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame(
            [
                Row(k=1, status=None, amount=1.0),
                Row(k=2, status="x", amount=2.0),
                Row(k=3, status="y", amount=3.0),
            ],
            "k long, status string, amount double",
        )
    )
    # NULL predicate is not TRUE → row must survive (SQL DELETE semantics)
    t.delete_where("status", "x", "x", mode=mode)
    assert sorted(r.k for r in t.read().collect()) == [1, 3]


def test_update_where_mutates_only_matching_rows(spark, tmp_path):
    t = _seed(spark, tmp_path)
    t.update_where(
        "status", "open", "open", {"amount": "amount * 2", "status": "'hot'"}
    )
    got = {r.k: (r.status, r.amount) for r in t.read().collect()}
    assert got == {
        1: ("hot", 20.0),
        2: ("hot", 40.0),
        3: ("done", 30.0),
    }
