"""MERGE/SCD1 upsert: semantic matrix, idempotency, delete tombstones,
and the partition-selective parquet rewrite."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from cse_datapipeline_and_mls_spark.operators.relational import merge_upsert
from cse_datapipeline_and_mls_spark.sources.sinks import merge_upsert_parquet


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id bigint, name string, bal double",
    )


def test_merge_action_matrix(spark):
    updates = spark.createDataFrame(
        [(2, 99.0), (4, 40.0)], "id bigint, bal double"
    )
    got = {
        r["id"]: r
        for r in merge_upsert(
            _target(spark), updates, ["id"], with_action=True
        ).collect()
    }
    assert got[1]["merge_action"] == "kept" and got[1]["bal"] == 10.0
    assert got[2]["merge_action"] == "updated" and got[2]["bal"] == 99.0
    assert got[3]["merge_action"] == "kept"
    assert got[4]["merge_action"] == "inserted" and got[4]["bal"] == 40.0
    assert got[4]["name"] is None  # non-set target col NULL on insert


def test_update_null_wins_over_stale_value(spark):
    """MERGE SET semantics: a matched update's NULL overwrites — a
    coalesce-based merge would silently keep stale data."""
    updates = spark.createDataFrame([(1, None)], "id bigint, bal double")
    got = {r["id"]: r["bal"] for r in merge_upsert(_target(spark), updates, ["id"]).collect()}
    assert got[1] is None and got[2] == 20.0


def test_order_col_keeps_latest_and_is_idempotent(spark):
    updates = spark.createDataFrame(
        [(1, 5.0, 1), (1, 7.0, 3), (1, 6.0, 2)], "id bigint, bal double, v int"
    )
    out1 = merge_upsert(_target(spark), updates, ["id"], order_col="v")
    got = {r["id"]: r["bal"] for r in out1.collect()}
    assert got[1] == 7.0
    # replaying the same batch over the merged result changes nothing
    out2 = merge_upsert(out1, updates, ["id"], order_col="v")
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))


def test_delete_tombstones_drop_rows(spark):
    updates = spark.createDataFrame(
        [(1, 0.0, True), (2, 99.0, False)], "id bigint, bal double, deleted boolean"
    )
    got = {r["id"]: r["bal"] for r in merge_upsert(
        _target(spark), updates, ["id"], set_cols=["bal"], delete_col="deleted"
    ).collect()}
    assert set(got) == {2, 3}
    assert got[2] == 99.0


def test_merge_rejects_bad_args(spark):
    with pytest.raises(ValueError):
        merge_upsert(_target(spark), _target(spark), [])
    with pytest.raises(ValueError):
        merge_upsert(_target(spark), _target(spark), ["id"], set_cols=["nope"])


def test_parquet_partition_selective_rewrite(spark, tmp_path):
    """Only the partitions the batch touches are rewritten; untouched
    partition files stay byte-identical on disk."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0), (3, "2024-01-02", 30.0)],
        "id bigint, day string, bal double",
    )
    df.write.partitionBy("day").parquet(path)
    untouched_before = sorted(glob.glob(f"{path}/day=2024-01-02/*.parquet"))
    mtimes_before = [os.path.getmtime(f) for f in untouched_before]

    updates = spark.createDataFrame(
        [(2, "2024-01-01", 99.0), (9, "2024-01-03", 90.0)],
        "id bigint, day string, bal double",
    )
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(conf_key)
    n = merge_upsert_parquet(spark, path, updates, ["id", "day"], partition_col="day")
    assert n == 3  # rows written for the two touched partitions
    # dynamic overwrite is a per-write option, never a session-conf flip
    assert spark.conf.get(conf_key) == conf_before

    # note: hive partition discovery re-infers the partition column as
    # DATE, hence str() normalization
    back = {
        (r["id"], str(r["day"])): r["bal"]
        for r in spark.read.parquet(path).collect()
    }
    assert back == {
        (1, "2024-01-01"): 10.0,
        (2, "2024-01-01"): 99.0,
        (3, "2024-01-02"): 30.0,
        (9, "2024-01-03"): 90.0,
    }
    untouched_after = sorted(glob.glob(f"{path}/day=2024-01-02/*.parquet"))
    assert untouched_after == untouched_before
    assert [os.path.getmtime(f) for f in untouched_after] == mtimes_before


def test_parquet_partitioned_upsert_creates_missing_table(spark, tmp_path):
    """The first batch may land before the table exists: it is merged
    into an empty target, so order_col dedup and tombstones still apply
    and the tombstone column is not written."""
    path = str(tmp_path / "new_tbl")
    updates = spark.createDataFrame(
        [
            (1, "2024-01-01", 10.0, 1, False),
            (1, "2024-01-01", 11.0, 2, False),
            (2, "2024-01-02", 20.0, 1, True),
            (3, "2024-01-02", 30.0, 1, False),
        ],
        "id bigint, day string, bal double, v int, deleted boolean",
    )
    n = merge_upsert_parquet(
        spark, path, updates, ["id", "day"], partition_col="day",
        order_col="v", delete_col="deleted",
    )
    assert n == 2
    back = spark.read.parquet(path)
    assert "deleted" not in back.columns
    got = {(r["id"], str(r["day"])): r["bal"] for r in back.collect()}
    assert got == {(1, "2024-01-01"): 11.0, (3, "2024-01-02"): 30.0}


def test_parquet_full_rewrite_fallback(spark, tmp_path):
    path = str(tmp_path / "flat")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], "id bigint, bal double").write.parquet(path)
    updates = spark.createDataFrame([(2, 9.0), (3, 3.0)], "id bigint, bal double")
    n = merge_upsert_parquet(spark, path, updates, ["id"])
    assert n == 3
    back = {r["id"]: r["bal"] for r in spark.read.parquet(path).collect()}
    assert back == {1: 1.0, 2: 9.0, 3: 3.0}


# -- snapshot_diff: the inverse direction (derive a changeset) ---------------

from cse_datapipeline_and_mls_spark.operators.relational import snapshot_diff  # noqa: E402


def _diff(spark, old_rows, new_rows):
    schema = "k long, v string, x double"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    return {r["k"]: r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()}


def test_snapshot_diff_full_matrix(spark):
    old = [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, "d", None)]
    new = [
        (1, "a", 1.0),      # unchanged -> absent from output
        (2, "B", 2.0),      # value change -> update
        (4, "d", 4.0),      # NULL -> value -> update (null-safe compare)
        (5, "e", 5.0),      # new key -> insert
    ]                        # key 3 gone -> delete
    assert _diff(spark, old, new) == {2: "update", 4: "update", 5: "insert", 3: "delete"}


def test_snapshot_diff_value_to_null_is_update(spark):
    old = [(1, "a", 1.0)]
    new = [(1, "a", None)]
    assert _diff(spark, old, new) == {1: "update"}


def test_snapshot_diff_identical_snapshots_empty(spark):
    rows = [(1, "a", 1.0), (2, None, None)]
    assert _diff(spark, rows, rows) == {}


def test_snapshot_diff_replay_through_merge_upsert(spark):
    """snapshot_diff(old, new) applied back via merge_upsert(old, ...)
    must reconstruct new exactly (the documented inverse contract)."""
    schema = "k long, v string, x double"
    old_rows = [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    new_rows = [(1, "a", 9.0), (3, "c", 3.0), (7, "z", 7.0)]
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    d = snapshot_diff(old, new, ["k"])
    # build the merge changeset: upserts carry new values, deletes a tombstone
    ups = d.filter(F.col("change_type") != "delete").join(new, "k").drop("change_type")
    dels = d.filter(F.col("change_type") == "delete").join(old, "k").drop("change_type")
    cs = ups.withColumn("_deleted", F.lit(False)).unionByName(
        dels.withColumn("_deleted", F.lit(True))
    )
    replayed = merge_upsert(old, cs, ["k"], delete_col="_deleted")
    assert sorted((r["k"], r["v"], r["x"]) for r in replayed.collect()) == sorted(new_rows)
