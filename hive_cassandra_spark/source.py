"""Read path: binary cell store → typed DataFrame per the column mapping
(≙ the reference's input format + SerDe deserialize).

The reference's read pipeline (SURVEY.md §3.1) re-derives the table shape
from the mapping
(/root/reference/src/main/java/org/apache/hadoop/hive/cassandra/input/HiveCassandraStandardColumnInputFormat.java:47-127),
shapes rows in ``CassandraHiveRecordReader.nextKeyValue``
(input/CassandraHiveRecordReader.java:108-196 — transposed explode, dead-cell
filter :198-214), and decodes fields lazily per declared Hive type through
the CassandraLazy* codecs (input/LazyCassandraRow.java:69-106).

Spark-first re-expression:

- *regular*: one ``groupBy(row_key)`` reconciles and pivots at once —
  per mapped column the (ts, value) struct-max of its cells, the
  last-write-wins rule Cassandra's reconciler gives the reference for
  free — then tombstoned winners and ghost rows drop and every column
  decodes in one SQL-text projection. One shuffle, on the row key (the
  table's natural partitioning).
- *transposed*: pure projection + decode; **no shuffle at all** (the
  reference's wide-row iterator, ColumnFamilyWideRowRecordReader.java:240-429,
  exists only to page cells over Thrift — columnar storage makes it moot).
- *cf-map*: cells → ``map<string,binary>`` per row (functional, unlike the
  reference's no-op LazyCassandraCellMap.parse — a documented deviation).

Projection pushdown (#4 in SURVEY.md §2.A): pass ``wanted_columns`` to
prune cells *before* the pivot shuffle — the analogue of the reference's
SlicePredicate.column_names push
(HiveCassandraStandardColumnInputFormat.java:95-98); over parquet the
``column_name IN (...)`` filter reaches the scan as a pushed filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hive_cassandra_spark.codecs import (
    decode_sql,
    sql_binary,
    sql_ident,
    sql_str,
)
from hive_cassandra_spark.mapping import ColumnMapping


def _decode_value_sql(operand: str, hive_type: str) -> str:
    """Primitive → dual binary/text decode; complex (struct/array/map) →
    parse the JSON text the write path produced (sink._encode_value_sql,
    ≙ TableMapping.java:101-133)."""
    from hive_cassandra_spark.sink import is_complex_type

    if is_complex_type(hive_type):
        return f"from_json(CAST({operand} AS STRING), {sql_str(hive_type)})"
    return decode_sql(operand, hive_type)


def read_cells(spark: SparkSession, path: str) -> DataFrame:
    """Open a persisted cell store (see sink.write_cells)."""
    return spark.read.parquet(path)


def _live(cells: DataFrame) -> DataFrame:
    """Drop dead/tombstone cells (≙ isLive() filter,
    CassandraHiveRecordReader.java:198-214, and the DSP-465 ghost-row skip
    :139-147)."""
    return cells.filter("value IS NOT NULL")


def expire_cells(
    cells: DataFrame, now_millis: int, ttl_col: str = "ttl_s"
) -> DataFrame:
    """Drop TTL-expired cells — Cassandra's ExpiringColumn read semantics
    (public Cassandra data model; the reference serde never surfaces TTLs,
    so this is a superset capability next to the §2.A ghost-row skip).
    A cell with ``ttl_col`` NULL never expires; otherwise it is live while
    ``ts + ttl_s·1000 > now_millis`` (ts is the writer's epoch-millis
    timestamp from sink._ts_column). A row whose every cell expires
    disappears entirely from the pivoted read — the TTL analogue of the
    ghost-row elimination in ``_live`` — because cells_to_table sees no
    live cells for its key. Narrow codegen filter, zero shuffle; the
    ``ttl_col`` column is dropped so downstream decode sees the standard
    cell schema."""
    alive = F.col(ttl_col).isNull() | (
        F.col("ts") + F.col(ttl_col).cast("long") * 1000 > F.lit(now_millis)
    )
    return cells.filter(alive).drop(ttl_col)


def apply_cdc_batch(cells: DataFrame, changes: DataFrame) -> DataFrame:
    """Apply a CDC change batch to a cell store: INSERT/UPDATE changes are
    ordinary cells with a newer ``ts``; a DELETE is a TOMBSTONE — the same
    cell key with ``value`` NULL at a newer ``ts``. Union + last-write-
    wins compaction resolves everything in one keyed aggregation
    (``max_by`` keeps the newest version even when it is the NULL
    tombstone — pinned by test_source_sink), and ``cells_to_table`` then
    drops tombstoned winners, so a fully-deleted row vanishes from the
    pivoted read exactly like a ghost row.

    Cassandra's distributed-delete semantics, public data model (the
    reference inherits reconciliation from the server and, being Hive
    0.9, has no DELETE surface at all — this is a superset capability
    next to the §2.A LWW/TTL rows). One shuffle on the cell key; the
    batch is typically tiny relative to the store, so at scale the
    shuffle carries O(store) once — the same cost as any LWW compaction
    pass, which this IS."""
    return lww_latest(cells.unionByName(changes))


def lww_latest(cells: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Keep the newest version of each cell — Cassandra's last-write-wins
    reconciliation, which the reference inherits from the server. Expressed
    as max_by over the writer timestamp: one map-side-combined aggregation."""
    key_cols = key_cols or ["row_key", "column_name"]
    return (
        cells.groupBy(*key_cols)
        .agg(F.max_by("value", "ts").alias("value"), F.max("ts").alias("ts"))
    )


def cells_to_table(
    cells: DataFrame,
    mapping: ColumnMapping,
    column_names: list[str],
    hive_types: list[str],
    wanted_columns: list[str] | None = None,
) -> DataFrame:
    """Decode a cell store into the relational shape the mapping declares.

    ``column_names``/``hive_types`` are the declared relational schema
    (arity == mapping arity, CassandraColumnSerDe.java:57-63).
    ``wanted_columns`` optionally prunes the fetch to a subset of value
    columns (projection pushdown; key always implied, as the reference
    excludes it from the slice predicate —
    HiveCassandraStandardColumnInputFormat.java:203-216).

    A regular mapping reconciles and pivots in ONE ``groupBy(row_key)``:
    per mapped column the (ts, value) struct-max of its cells — highest
    ts wins, ties to the greater value, the ``sink._compact_winners``
    rule, so a read always equals what compaction would keep. Dead
    winners (tombstones) read as NULL afterwards and a row with no live
    winner is dropped (the ghost-row skip): reconciling before dropping
    is what keeps a newer tombstone from resurrecting an older value.
    """
    if len(column_names) != len(mapping.entries) or len(hive_types) != len(
        mapping.entries
    ):
        raise ValueError("schema arity must match mapping arity")

    if mapping.transposed:
        idx = {e: i for i, e in enumerate(mapping.entries)}
        fields = [(":key", "row_key"), (":column", "column_name")]
        if mapping.has_subcolumn:
            fields.append((":subcolumn", "sub_column_name"))
        fields.append((":value", "value"))
        return _live(cells).selectExpr(
            *[
                f"{_decode_value_sql(src, hive_types[idx[e]])}"
                f" AS {sql_ident(column_names[idx[e]])}"
                for e, src in fields
            ]
        )

    cf_map_idx = sorted(mapping.cf_map_indexes)
    plain_idx = [
        i for i in range(len(mapping.entries)) if i != mapping.key_index and i not in cf_map_idx
    ]
    if wanted_columns is not None:
        plain_idx = [i for i in plain_idx if column_names[i] in wanted_columns]
        cf_map_idx = [i for i in cf_map_idx if column_names[i] in wanted_columns]
    names = ", ".join(sql_binary(mapping.entries[i]) for i in plain_idx)

    # Projection pushdown: restrict cells before the shuffle. With no cf-map
    # column the IN-filter also reaches the parquet scan (PushedFilters).
    if not cf_map_idx:
        cells = cells.filter(f"column_name IN ({names})")

    aggs = [
        F.expr(
            "max(struct(ts, value)) FILTER (WHERE column_name = "
            f"{sql_binary(mapping.entries[i])}) AS __w{i}"
        )
        for i in plain_idx
    ]
    # everything not claimed by a plain mapped column belongs to the map;
    # its entries sort by (key, ts, value), so a key's winner is its last
    claim = f" FILTER (WHERE column_name NOT IN ({names}))" if names else ""
    aggs += [
        F.expr(
            "array_sort(collect_list(struct(CAST(column_name AS STRING) AS key,"
            f" ts, value)){claim}) AS __m{i}"
        )
        for i in cf_map_idx
    ]
    wide = cells.groupBy("row_key").agg(*aggs).selectExpr(
        "row_key",
        *[f"__w{i}.value AS __v{i}" for i in plain_idx],
        *[
            f"filter(__m{i}, (x, j) -> x.value IS NOT NULL"
            f" AND NOT get(__m{i}, j + 1).key <=> x.key) AS __m{i}"
            for i in cf_map_idx
        ],
    )
    wide = wide.filter(
        " OR ".join(
            [f"__v{i} IS NOT NULL" for i in plain_idx]
            + [f"size(__m{i}) > 0" for i in cf_map_idx]
        )
    )
    out = [
        f"{decode_sql('row_key', hive_types[mapping.key_index])}"
        f" AS {sql_ident(column_names[mapping.key_index])}"
    ]
    out += [
        f"{_decode_value_sql(f'__v{i}', hive_types[i])} AS {sql_ident(column_names[i])}"
        for i in plain_idx
    ]
    # map keys are utf-8 strings (validated map<string,?> —
    # CassandraColumnSerDe.java:66-81); values read back as strings
    out += [
        f"map_from_entries(transform(__m{i}, x -> struct(x.key AS key,"
        f" CAST(x.value AS STRING) AS value))) AS {sql_ident(column_names[i])}"
        for i in cf_map_idx
    ]
    return wide.selectExpr(*out)


def paged_cells(cells: DataFrame, page_size: int = 1000) -> DataFrame:
    """Stable ordered pagination of a cell store: adds (scan_partition,
    page) so a consumer can fetch bounded chunks in a deterministic order
    and resume after any page.

    ≙ the reference's resumable wide-row iterator
    (ColumnFamilyWideRowRecordReader.java:240-429), which pages one row's
    cells across Thrift RPCs with a restart-at-last-column cursor, 1000
    rows / 1000 cells per fetch (AbstractColumnSerDe.java:70-71). Columnar
    storage makes the RPC dance moot; what survives is the *semantics* —
    bounded, ordered, resumable chunks:

    - hash-repartition on row_key: all of a row's cells land in one
      partition (the reference's token-range locality),
    - sortWithinPartitions(row_key, column_name): the slice order,
    - mapInPandas with a running counter: page numbers per partition —
      Arrow-batched, no global sort, no driver involvement, so it holds at
      any scale (a global orderBy here would be the 100 TB mistake).
    """
    import pandas as pd  # noqa: F401 (mapInPandas ships pandas batches)

    part = (
        cells.repartition(F.col("row_key"))
        .sortWithinPartitions("row_key", "column_name")
        .withColumn("scan_partition", F.spark_partition_id())
    )
    from pyspark.sql import types as T

    # build a fresh StructType: StructType.add mutates in place, which would
    # corrupt the child DataFrame's own schema object
    schema = T.StructType(
        list(part.schema.fields) + [T.StructField("page", T.LongType())]
    )

    def paginate(batches):
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["page"] = [(seen + i) // page_size for i in range(len(pdf))]
            seen += len(pdf)
            yield pdf

    return part.mapInPandas(paginate, schema)


def slice_cells(
    cells: DataFrame,
    start: str | None = None,
    finish: str | None = None,
    reversed_order: bool = False,
    count: int | None = None,
) -> DataFrame:
    """Slice-range predicate over a cell store: restrict each row's cells
    to the column-name range [start, finish], optionally reversed, keeping
    at most ``count`` cells per row.

    ≙ the reference's user-configured SlicePredicate.slice_range push
    (HiveCassandraStandardColumnInputFormat.java:73-94, options plumbed in
    CassandraStorageHandler.java:149-189, defaults
    AbstractColumnSerDe.java:49-53) — the only *predicate* the reference
    ever pushes, and it restricts cells **within** each row, not rows.

    Plan shape: the range filter is a plain comparison on column_name →
    pushed to the parquet scan (PushedFilters). The per-row ``count`` is a
    row_number window over (row_key ORDER BY column_name [DESC]) — one
    shuffle on row_key, which AQE coalesces; without ``count`` the whole
    thing is shuffle-free.
    """
    from pyspark.sql import Window

    name = F.col("column_name").cast("string")
    out = cells
    if start is not None:
        out = out.filter(name >= start)
    if finish is not None:
        out = out.filter(name <= finish)
    if count is not None:
        order = name.desc() if reversed_order else name.asc()
        w = Window.partitionBy("row_key").orderBy(order)
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= count)
            .drop("__rn")
        )
    return out


def scrub_cells(cells: DataFrame, column_types: dict[bytes, str]) -> DataFrame:
    """Store scrub (≙ Cassandra's ``nodetool scrub`` pass over sstables):
    flag every live cell whose value fails its column's DECLARED decode —
    the full dual binary/text rule of ``codecs.decode_sql``, so a cell is
    corrupt only when neither the fixed-width binary form nor the text
    fallback parses. Adds a ``corrupt`` boolean; columns not in
    ``column_types`` are never flagged (no declared type → no contract to
    violate), and tombstones (NULL values) are deletes, not corruption.

    Pure codegen'd projection — zero shuffle, no Python; at 100 TB the
    scrub is exactly one scan, and quarantining is a filter on its
    output."""
    failed = " OR ".join(
        f"(column_name = {sql_binary(cname)} AND {decode_sql('value', htype)} IS NULL)"
        for cname, htype in column_types.items()
    )
    corrupt = F.expr(f"value IS NOT NULL AND ({failed})" if failed else "false")
    return cells.withColumn("corrupt", corrupt)
