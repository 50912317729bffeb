"""Secondary index (Cassandra 2i shape): index build, point lookup,
tombstone hygiene, and the broadcast-semi-join fetch plan."""

from pyspark.sql import functions as F

from hive_cassandra_spark import datasource, index, sink


def _store(spark, tmp_path, rows, name):
    datasource.register(spark)
    df = spark.createDataFrame(
        [
            (rk.encode(), cn.encode(), None if v is None else v.encode(), ts)
            for rk, cn, v, ts in rows
        ],
        "row_key binary, column_name binary, value binary, ts long",
    )
    path = str(tmp_path / name)
    sink.write_cells(df, path)
    return path


BASE = [
    ("r1", "seg", "gold", 1),
    ("r1", "name", "alice", 1),
    ("r2", "seg", "gold", 1),
    ("r2", "name", "bob", 1),
    ("r3", "seg", "iron", 1),
    ("r3", "name", "carol", 1),
    ("r4", "seg", None, 2),  # tombstoned segment: must not be indexed
    ("r4", "name", "dave", 1),
]


def test_index_build_and_lookup(spark, tmp_path):
    base = _store(spark, tmp_path, BASE, "base")
    cells = spark.read.format("cassandra_cells").load(base)
    idx = index.build_value_index(cells, b"seg")
    got = {
        (r.row_key, r.column_name): r.value for r in idx.collect()
    }
    # row_key = indexed value, column_name = base row key, value = NULL
    assert set(got) == {
        (b"gold", b"r1"), (b"gold", b"r2"), (b"iron", b"r3")
    }
    assert all(v is None for v in got.values())

    idx_path = str(tmp_path / "idx")
    sink.write_cells(idx, idx_path)
    rows = index.index_lookup(spark, base, idx_path, b"gold")
    fetched = {(r.row_key, r.column_name) for r in rows.collect()}
    # full cell rows of r1+r2 only — r3 (iron) and r4 (tombstoned) excluded
    assert fetched == {
        (b"r1", b"seg"), (b"r1", b"name"), (b"r2", b"seg"), (b"r2", b"name")
    }


def test_lookup_misses_cleanly(spark, tmp_path):
    base = _store(spark, tmp_path, BASE, "base")
    cells = spark.read.format("cassandra_cells").load(base)
    idx_path = str(tmp_path / "idx")
    sink.write_cells(index.build_value_index(cells, b"seg"), idx_path)
    assert index.index_lookup(spark, base, idx_path, b"unobtainium").count() == 0


def test_lookup_plan_broadcasts_keys_no_base_shuffle(spark, tmp_path):
    base = _store(spark, tmp_path, BASE, "base")
    cells = spark.read.format("cassandra_cells").load(base)
    idx_path = str(tmp_path / "idx")
    sink.write_cells(index.build_value_index(cells, b"seg"), idx_path)
    rows = index.index_lookup(spark, base, idx_path, b"gold")
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # the base-store (stream) side must not be exchanged, and the key side
    # is broadcast as fetched: a semi-join ignores duplicate keys, so no
    # DISTINCT shuffle precedes the build
    stream_side = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in stream_side, plan
    assert "hashpartitioning" not in plan, plan


def test_index_lookup_via_sql_views(spark, tmp_path):
    """The 2i works from pure SQL: base + index stores registered as
    views THROUGH the cassandra_cells datasource (catalog.
    register_cells_table), lookup written as the textbook IN-subquery —
    same rows as the library path."""
    from hive_cassandra_spark.catalog import Catalog

    base = _store(spark, tmp_path, BASE, "base")
    cells = spark.read.format("cassandra_cells").load(base)
    idx_path = str(tmp_path / "idx")
    sink.write_cells(index.build_value_index(cells, b"seg"), idx_path)

    cat = Catalog(spark)
    cat.register_cells_table("cf_base", base)
    cat.register_cells_table("cf_seg_idx", idx_path)
    got = spark.sql(
        """
        SELECT row_key, column_name FROM cf_base
        WHERE row_key IN (SELECT column_name FROM cf_seg_idx
                          WHERE row_key = X'676f6c64')  -- 'gold'
        """
    )
    want = index.index_lookup(spark, base, idx_path, b"gold").select(
        "row_key", "column_name"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    cat.drop_table("cf_base")
    cat.drop_table("cf_seg_idx")
