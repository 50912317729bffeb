"""Secondary index over the cell store (Cassandra 2i semantics).

The reference's storage handler exposes only primary-key access paths —
every non-key predicate is a full scan filtered Hive-side
(HiveCassandraStandardColumnInputFormat scans token ranges; the
SlicePredicate push in :73-98 narrows COLUMNS, never rows-by-value).
Cassandra itself answers ``WHERE col = v`` with a secondary index: an
internal column family whose ROW KEY is the indexed value and whose
COLUMN NAMES are the base-table row keys owning it. This module builds
the same structure as cells, so the index is itself a cell store — it is
written, split, paged, and pushdown-scanned by the exact machinery of
``datasource.py``, which is the property that makes it work at 100 TB:

- the index write is one projection of the base cells (no join);
- a value lookup is a ROW-KEY point read on the index store —
  ``pushFilters`` turns it into row-group-statistics pruning inside the
  pyarrow scan, so only the probed value's index row is materialized;
- the fetched base row keys (the selectivity of the predicate, NOT the
  table size) broadcast into a semi-join against the base store — the
  only exchange in the plan is that broadcast. The base side is scanned
  but never shuffled; with the base store
  row_key-sorted (sink.write_cells hash-distributes; compact_store
  sorts), a future JVM DSv2 runtime-filter push would prune it too.

Index maintenance under mutation is LWW like everything else: rebuilds
are one projection, and a stale index entry is detected at fetch time
(the semi-joined base row no longer carries the value) — the same
read-repair posture Cassandra's 2i takes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def build_value_index(cells: DataFrame, column: bytes) -> DataFrame:
    """Project the index cells for one indexed column: for every base cell
    (rk, ``column``, v, ts) emit the index cell (row_key=v,
    column_name=rk, value=NULL, ts). Live cells only — a tombstoned base
    cell must not resurrect through its index entry."""
    return (
        cells.filter(
            (F.col("column_name") == F.lit(column))
            & F.col("value").isNotNull()
        )
        .select(
            F.col("value").alias("row_key"),
            F.col("row_key").alias("column_name"),
            F.lit(None).cast("binary").alias("value"),
            F.col("ts"),
        )
    )


def index_lookup(
    spark: SparkSession,
    base_path: str,
    index_path: str,
    value: bytes,
) -> DataFrame:
    """All base cells of the rows where the indexed column equals
    ``value``: point-read the index row (pushdown-pruned scan of the
    index store), broadcast the matching base row keys, semi-join the
    base store. Returns the matching base rows' cells in the base cell
    layout (row_key, column_name, value, ts).

    Both loads pass that layout as their schema, so neither asks the
    Python data source to rediscover it from the store's footers. The
    keys are not deduplicated: a semi-join is insensitive to duplicates,
    and a DISTINCT would cost a shuffle."""
    from hive_cassandra_spark import datasource

    datasource.register(spark)
    cells = spark.read.format("cassandra_cells").schema(datasource._BASE_SCHEMA)
    keys = (
        cells.load(index_path)
        .filter(F.col("row_key") == F.lit(value))
        .select(F.col("column_name").alias("row_key"))
    )
    return cells.load(base_path).join(F.broadcast(keys), "row_key", "semi")
