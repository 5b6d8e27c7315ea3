"""The generator is a pure function of its seed."""

from __future__ import annotations

import os

from perfbench import datagen

TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")


def _bytes(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.write_tables(str(a), 7, 0.002, TABLES)
    datagen.write_tables(str(b), 7, 0.002, TABLES)
    datagen.write_tables(str(c), 8, 0.002, TABLES)
    first = _bytes(str(a))
    assert sorted(first) == sorted(f"{t}.parquet" for t in TABLES)
    assert first == _bytes(str(b))
    other = _bytes(str(c))
    assert all(first[n] != other[n] for n in first if n not in ("region.parquet", "nation.parquet"))


def test_snapshots_are_byte_identical_and_replay_earlier_days(tmp_path):
    # scale 0.003: 3,000 events over 30 days, so 100 new rows a day
    a = datagen.land_snapshots(str(tmp_path / "a"), 3, 0.003, 4, 0.25)
    b = datagen.land_snapshots(str(tmp_path / "b"), 3, 0.003, 4, 0.25)
    assert _bytes(str(tmp_path / "a")) == _bytes(str(tmp_path / "b"))
    assert a.equals(b)
    assert len(os.listdir(tmp_path / "a")) == 4
    ids = a.column("event_id").to_pylist()
    # 4 days x 100 new rows, plus 25 replays on each day after the first
    assert len(ids) == 400 + 3 * 25
    assert len(set(ids)) == 400


def test_snapshots_use_microsecond_timestamps(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    datagen.land_snapshots(str(tmp_path), 1, 0.001, 2, 0.5)
    for name in os.listdir(tmp_path):
        assert pq.read_schema(tmp_path / name).field("ts").type == pa.timestamp("us")


def test_row_counts_and_key_ranges_follow_the_test_data_layout(tmp_path):
    """At scale 0.01 the tables have the engine's sf0.01 test data counts."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    datagen.write_tables(str(tmp_path), 5, 0.01, TABLES)
    tables = {t: pq.read_table(tmp_path / f"{t}.parquet") for t in TABLES}
    counts = {t: tables[t].num_rows for t in TABLES}
    assert counts == {
        "region": 5, "nation": 25, "customer": 1_500, "supplier": 100,
        "orders": 15_000, "lineitem": 60_000, "events": 10_000,
    }
    assert len(pc.unique(tables["events"].column("user_id"))) == 150
    assert pc.max(tables["lineitem"].column("l_orderkey")).as_py() < 15_000
    assert pc.max(tables["lineitem"].column("l_partkey")).as_py() < 2_000
