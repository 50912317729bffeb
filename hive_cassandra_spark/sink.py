"""Write path: typed DataFrame → binary cell store (≙ the reference's
SerDe serialize + batched mutation sink).

The reference's write pipeline (SURVEY.md §3.2) is: per output row,
``TableMapping.getWritable`` serializes the key column then one
``CassandraColumn`` per mapped column
(/root/reference/src/main/java/org/apache/hadoop/hive/cassandra/serde/TableMapping.java:56-229,
RegularTableMapping.java:24-104, TransposedMapping.java:33-72), each cell
stamped with a writer-assigned ``System.currentTimeMillis()`` timestamp
(RegularTableMapping.java:84,94), and ``CassandraPut.write`` flushes
``batch_mutate`` every ``cassandra.batchmutate.size`` = 500 mutations
(output/CassandraPut.java:94-141, CassandraAbstractPut.java:61-77).

Spark-first re-expression: the cell store is a DataFrame
``(row_key binary, column_name binary, [sub_column_name binary,]
value binary, ts bigint)`` produced by one narrow projection + explode —
no shuffle at all for the regular shape; the batching/consistency knobs
become writer options (``maxRecordsPerFile`` is the parquet analogue of the
mutation batch). Timestamps come from an injectable clock so tests are
deterministic (the reference is nondeterministic there — SURVEY.md §7 risk
register).

Everything here is a narrow transform until the final write, so the plan
scales linearly: at 100 TB the cell fan-out is |rows| × |columns| rows
streamed partition-by-partition, never collected.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from hive_cassandra_spark.codecs import encode_sql, sql_binary, sql_ident
from hive_cassandra_spark.mapping import ColumnMapping

# Reference defaults carried as option schema (AbstractColumnSerDe.java:66-75).
DEFAULT_BATCH_MUTATE_SIZE = 500
CONSISTENCY_LEVELS = {
    "ONE", "TWO", "THREE", "QUORUM", "LOCAL_QUORUM", "EACH_QUORUM", "ALL", "ANY",
}


def normalize_consistency(level: str | None) -> str:
    """Bad/unknown consistency levels coerce to ONE, matching
    CassandraAbstractPut.getConsistencyLevel
    (output/CassandraAbstractPut.java:39-50)."""
    if level and level.upper() in CONSISTENCY_LEVELS:
        return level.upper()
    return "ONE"


def _ts_sql(clock_millis: int | None) -> str:
    """Writer-assigned cell timestamp: injectable for reproducible tests,
    else epoch millis at write time (≙ System.currentTimeMillis() per cell,
    RegularTableMapping.java:84,94)."""
    if clock_millis is not None:
        return f"CAST({int(clock_millis)} AS BIGINT)"
    return "unix_millis(current_timestamp())"


def to_cells(
    df: DataFrame,
    mapping: ColumnMapping,
    hive_types: list[str],
    clock_millis: int | None = None,
) -> DataFrame:
    """Typed relational rows → binary cells per the column mapping.

    ``hive_types[i]`` is the declared Hive type of relational column *i*
    (arity must match the mapping — CassandraColumnSerDe.java:57-63 is
    enforced upstream by ``parse_mapping``).

    Shapes:
    - regular: one cell per non-key mapped column; whole-CF ``map`` columns
      fan out one cell per entry (RegularTableMapping.java:54-91);
    - transposed: one cell per row from the ``:column``/``:value``
      (and optional ``:subcolumn``) fields (TransposedMapping.java:33-72).

    Output schema: (row_key, column_name, [sub_column_name,] value, ts),
    all binary except ts. Null values produce no cell (a null cell is a
    delete/tombstone in Cassandra; the reference likewise skips them).
    Every encode is a ``codecs.encode_sql`` template, rendered into one
    ``selectExpr`` that runs once per row.
    """
    if len(hive_types) != len(mapping.entries):
        raise ValueError(
            f"arity mismatch: {len(hive_types)} types vs {len(mapping.entries)} mapping entries"
        )
    cols = [sql_ident(c) for c in df.columns]
    key = f"{encode_sql(cols[mapping.key_index], hive_types[mapping.key_index])} AS row_key"
    ts = f"{_ts_sql(clock_millis)} AS ts"

    if mapping.transposed:
        idx = {e: i for i, e in enumerate(mapping.entries)}
        fields = [(":column", "column_name")]
        if mapping.has_subcolumn:
            fields.append((":subcolumn", "sub_column_name"))
        out = [
            f"{encode_sql(cols[idx[e]], hive_types[idx[e]])} AS {name}"
            for e, name in fields
        ]
        val_i = idx[":value"]
        value = f"{_encode_value_sql(cols[val_i], hive_types[val_i])} AS value"
        return df.selectExpr(key, *out, value, ts).filter("value IS NOT NULL")

    # regular shape: encode the key and every plain mapped column once per
    # row in a projection below the generator (a generator over the
    # templates would re-encode the key per cell and, with a reflect()
    # body, drop out of whole-stage codegen), then inline() one
    # (name, value) struct per column. cf-map columns fan out via their
    # own explode and union in — all narrow transforms, no shuffle.
    cf_map_idx = sorted(mapping.cf_map_indexes)
    plain_idx = [
        i for i in range(len(cols)) if i != mapping.key_index and i not in cf_map_idx
    ]
    enc = df.selectExpr(
        key,
        *[f"{_encode_value_sql(cols[i], hive_types[i])} AS __v{i}" for i in plain_idx],
        *[f"{cols[i]} AS __m{i}" for i in cf_map_idx],
        ts,
    )
    structs = [
        f"named_struct('column_name', {sql_binary(mapping.entries[i])}, 'value', __v{i})"
        for i in plain_idx
    ]
    out = (
        enc.selectExpr("row_key", f"inline(array({', '.join(structs)}))", "ts")
        if structs
        else None
    )
    for i in cf_map_idx:
        # map<string, T> column: one cell per entry, key utf-8, value encoded
        # per the map's declared value type ('map<string,double>' → 'double')
        vtype = _map_value_type(hive_types[i])
        m = enc.selectExpr("row_key", f"explode(__m{i}) AS (k, v)", "ts").selectExpr(
            "row_key",
            "CAST(k AS BINARY) AS column_name",
            f"{encode_sql('v', vtype)} AS value",
            "ts",
        )
        out = m if out is None else out.unionByName(m)
    if out is None:
        raise ValueError("mapping has no value columns")
    return out.filter("value IS NOT NULL")


def _map_value_type(map_type: str) -> str:
    """'map<string,double>' → 'double'; bare 'map' defaults to string."""
    t = map_type.strip().lower()
    if t.startswith("map<") and t.endswith(">"):
        return t[4:-1].split(",", 1)[1].strip()
    return "string"


def is_complex_type(hive_type: str) -> bool:
    t = hive_type.strip().lower()
    return t.startswith(("struct", "array", "map", "uniontype"))


def _encode_value_sql(operand: str, hive_type: str) -> str:
    """Primitive → validator bytes; complex (struct/array/map) → JSON text
    bytes (≙ SerDeUtils.getJSONString under useJsonSerialize,
    TableMapping.java:101-133 — non-primitives flatten to JSON on write)."""
    if is_complex_type(hive_type):
        return f"CAST(to_json({operand}) AS BINARY)"
    return encode_sql(operand, hive_type)


def write_cells(
    cells: DataFrame,
    path: str,
    batch_size: int = DEFAULT_BATCH_MUTATE_SIZE,
    consistency: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a cell store, keyed for downstream locality.

    ``batch_size`` maps the reference's ``cassandra.batchmutate.size`` onto
    ``maxRecordsPerFile``-style batching semantics: it bounds the unit of
    work a writer flushes at once. ``consistency`` is validated and carried
    as table metadata only (no-op over parquet, as SURVEY.md §2.A #17
    prescribes). Rows are hash-distributed on row_key so one row's cells
    co-locate — the property the reference gets from Cassandra's
    partitioner and that the read path's implode relies on.
    """
    normalize_consistency(consistency)  # validate/coerce, reference-style
    (
        cells.repartition(F.col("row_key"))
        .write.option("maxRecordsPerFile", batch_size * 1000)
        .mode(mode)
        .parquet(path)
    )


def _next_lww_ts(last_ts: int, now_millis: int) -> int:
    """Next streaming LWW timestamp: wall clock, but never ≤ the previous
    batch's stamp — strict monotonicity is what makes last-write-wins mean
    last WRITE wins when micro-batches land within one millisecond (or the
    clock stalls or steps backwards)."""
    return max(now_millis, last_ts + 1)


def stream_to_cells(
    stream_df: DataFrame,
    mapping: ColumnMapping,
    hive_types: list[str],
    path: str,
    checkpoint: str,
    clock_millis: int | None = None,
):
    """Streaming face of the cell sink: every micro-batch encodes to cells
    and appends to the store; versions reconcile at read time via LWW
    (source.cells_to_table), exactly as Cassandra reconciles the reference's
    per-cell timestamped mutations. Append-only parquet + idempotent LWW
    merge means at-least-once delivery upgrades to effectively-once
    semantics for the reader.

    Returns the StreamingQuery; callers own awaitTermination/stop.
    """

    # Monotone LWW clock across micro-batches: each batch stamps
    # _next_lww_ts = max(wall-clock epoch millis, previous batch's ts + 1).
    # Epoch-millis magnitude keeps cross-path LWW (a store written by both
    # this and the batch sink's _ts_column) following actual write order,
    # and the max() guarantees a later batch NEVER gets a smaller ts — the
    # previous pmod(batch_id, 1000) sub-second tiebreaker wrapped every
    # 1000 batches, so batches 1000 apart landing in the same second
    # inverted last-write-wins. foreachBatch runs driver-side, so closure
    # state is the standard place for this watermark (it survives
    # micro-batches of one streaming query; a restarted query re-bases
    # from wall clock, which is still monotone unless the clock itself
    # steps back).
    last_ts = {"v": -1}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        clk = clock_millis if clock_millis is not None else None
        cells = to_cells(batch_df, mapping, hive_types, clock_millis=clk)
        if clk is None:
            import time

            ts = _next_lww_ts(last_ts["v"], int(time.time() * 1000))
            last_ts["v"] = ts
            cells = cells.withColumn("ts", F.lit(ts).cast("long"))
        cells.write.mode("append").parquet(path)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _compact_winners(
    cells: DataFrame,
    key: list,
    extras: list,
    drop_tombstones: bool,
    now_millis: int | None,
    gc_grace_s: int | None,
    has_ttl: bool,
) -> DataFrame:
    """The compaction winner computation shared by ``compact_store`` and
    ``occ_compact_store``: per cell key keep the (ts, value, extras)
    struct-max — highest ts wins, ties to the lexically greater value
    (Cassandra's reconciliation rule) — then apply the tombstone /
    gc_grace / TTL purge rules documented on ``compact_store``."""
    packed = F.struct(*(["ts", "value"] + extras))
    won = cells.groupBy(*key).agg(F.max(packed).alias("w"))
    flat = won.select(
        *key,
        F.col("w.value").alias("value"),
        F.col("w.ts").alias("ts"),
        *[F.col(f"w.{c}").alias(c) for c in extras],
    )
    if drop_tombstones:
        if gc_grace_s is not None and now_millis is not None:
            # purge only tombstones past the grace window; younger ones
            # keep suppressing late-arriving older writes
            flat = flat.filter(
                F.col("value").isNotNull()
                | (F.col("ts") + gc_grace_s * 1000 > F.lit(now_millis))
            )
        else:
            flat = flat.filter(F.col("value").isNotNull())
    if now_millis is not None and has_ttl:
        flat = flat.filter(
            F.col("ttl_s").isNull()
            | (
                F.col("ts") + F.col("ttl_s").cast("long") * 1000
                > F.lit(now_millis)
            )
        )
    return flat


def compact_store(
    spark,
    path: str,
    now_millis: int | None = None,
    drop_tombstones: bool = True,
    target_buckets: int = 8,
    gc_grace_s: int | None = None,
) -> dict:
    """Compact a file-backed cell store in place — the Cassandra
    compaction analogue the reference's engine delegates to the server
    (SSTables accumulate versions; compaction keeps each cell's winner and
    garbage-collects tombstones/expired cells). Appends and streaming
    micro-batch commits accumulate part files with duplicate cell
    versions exactly like SSTables do; readers stay correct via LWW at
    read time, and this maintenance op makes the store itself small and
    single-versioned again.

    Semantics per cell key (row_key, column_name[, sub_column_name]):
    - the winner is the version with the highest ``ts``; ties go to the
      lexically greater ``value`` — Cassandra's actual reconciliation
      rule, so the result is deterministic and oracle-checkable;
    - a NULL-value winner is a tombstone: it suppresses every older
      version, then (``drop_tombstones``) vanishes itself — the
      post-gc_grace moment. With ``gc_grace_s`` (and ``now_millis``)
      given, only tombstones OLDER than the grace window are purged;
      younger ones are retained in the compacted store so a write that
      arrives late (delayed replica, replayed batch) with an older ``ts``
      still loses to the delete — Cassandra's gc_grace_seconds rule,
      public data model;
    - with ``now_millis`` given, TTL-expired winners are dropped
      (``source.expire_cells`` arithmetic: live while
      ts + ttl_s*1000 > now).

    One map-side-combinable aggregation (max of a (ts, value, ...)
    struct — no window, no skew funnel: the key includes column_name so
    wide rows spread), then an atomic swap: compacted parts land in a
    sibling temp dir that replaces the store only after a fully
    successful write. Like Cassandra's, this compaction assumes one
    maintainer per store at a time. Returns
    {cells_in, cells_out, files_in, files_out}.
    """
    import glob as _glob
    import os
    import shutil
    import uuid

    from hive_cassandra_spark import datasource

    datasource.register(spark)
    cells = spark.read.format("cassandra_cells").load(path)
    cols = set(cells.columns)
    key = ["row_key", "column_name"] + (
        ["sub_column_name"] if "sub_column_name" in cols else []
    )
    extras = [c for c in ("ttl_s",) if c in cols]
    cells_in = cells.count()
    files_in = len(_glob.glob(os.path.join(_glob.escape(path), "*.parquet")))

    flat = _compact_winners(
        cells, key, extras, drop_tombstones, now_millis, gc_grace_s,
        "ttl_s" in cols,
    )

    token = uuid.uuid4().hex[:8]
    tmp_dir = f"{path.rstrip('/')}.compacting-{token}"
    (
        flat.repartition(target_buckets, F.col("row_key"))
        .write.format("cassandra_cells")
        .mode("overwrite")
        .save(tmp_dir)
    )
    cells_out = spark.read.parquet(_hadoop_path(tmp_dir)).count()
    files_out = len(_glob.glob(os.path.join(_glob.escape(tmp_dir), "*.parquet")))
    old_dir = f"{path.rstrip('/')}.old-{token}"
    os.rename(path, old_dir)
    os.rename(tmp_dir, path)
    shutil.rmtree(old_dir)
    return {
        "cells_in": cells_in,
        "cells_out": cells_out,
        "files_in": files_in,
        "files_out": files_out,
    }


def recover_store(path: str) -> dict:
    """Crash recovery for ``compact_store``'s atomic swap — run before
    opening a store that may have been abandoned mid-maintenance (the
    SSTable-replay analogue of Cassandra's startup cleanup of incomplete
    compactions, public operational model).

    The swap sequence is: write ``<path>.compacting-T`` → rename the live
    store to ``<path>.old-T`` → rename the compacted dir into ``path`` →
    delete the old dir. A crash leaves exactly one of three states, each
    detected and resolved here:

    1. ``path`` alive + leftover ``.compacting-*`` (crash before the
       first rename): the live store was never touched — drop the
       partial compaction output.
    2. ``path`` MISSING + ``.old-T`` + ``.compacting-T`` (crash between
       the renames): roll FORWARD — the compacted dir is complete (it
       was fully written and counted before any rename), so it becomes
       the store and the old dir is dropped.
    3. ``path`` alive + leftover ``.old-*`` (crash after the second
       rename, before the delete): the swap finished — drop the old dir.

    Idempotent; returns {rolled_forward, dropped_partials, dropped_old}.
    """
    import glob as _glob
    import os
    import shutil

    base = path.rstrip("/")
    rolled = dropped_partial = dropped_old = 0
    compacting = sorted(_glob.glob(f"{_glob.escape(base)}.compacting-*"))
    olds = sorted(_glob.glob(f"{_glob.escape(base)}.old-*"))
    if not os.path.exists(base):
        # state 2: finish the interrupted swap with the newest complete
        # compaction output; its paired .old- dir is then obsolete
        if compacting:
            os.rename(compacting[-1], base)
            rolled = 1
            compacting = compacting[:-1]
        elif olds:
            # no compacted dir survived (partial write was cleaned some
            # other way): roll BACK to the pre-compaction store
            os.rename(olds[-1], base)
            rolled = 1
            olds = olds[:-1]
    for d in compacting:  # states 1/2 leftovers: partial outputs
        shutil.rmtree(d)
        dropped_partial += 1
    for d in olds:  # state 3 leftovers: superseded pre-compaction dirs
        shutil.rmtree(d)
        dropped_old += 1
    return {
        "rolled_forward": rolled,
        "dropped_partials": dropped_partial,
        "dropped_old": dropped_old,
    }


VACUUM_MARKER = "_vacuum_watermark"


def vacuum_commit_log(spark, path: str, retain_after_batch: int) -> dict:
    """Delta-VACUUM analogue for the streaming sink's commit log: fold
    every micro-batch part with id ≤ ``retain_after_batch`` into ONE
    consolidated, LWW-compacted part stamped with that batch id, delete
    the originals, and record a vacuum watermark. Reads as-of any batch
    ≥ the watermark (and the unpinned full read) are unchanged —
    LWW over the consolidated prefix equals LWW over the raw prefix by
    construction — while time travel BEFORE the watermark now refuses
    fail-closed (the history is truncated, exactly Delta's post-VACUUM
    contract) and a replayed micro-batch ≤ the watermark is refused by
    the sink rather than silently destroying the folded history.

    Why it exists: the commit log is append-only, so a long-lived stream
    accumulates one part set per micro-batch forever — footer storms at
    read planning and unbounded time-travel surface. Tombstones are
    KEPT (they must keep suppressing late older writes; purging them is
    ``compact_store``'s gc_grace job, a different decision).

    Crash safety by idempotent ordering: (1) consolidated parts land
    under final batch-stamped names while the originals still exist —
    duplicated cell VERSIONS are invisible to LWW readers; (2) the
    watermark is written; (3) originals are removed. A crash anywhere
    leaves a store that reads correctly (or refuses), and re-running
    the vacuum heals it. One maintainer per store at a time, like
    compaction. Returns {files_in, files_out, cells_in, cells_out,
    watermark}.
    """
    import glob as _glob
    import os
    import re as _re
    import shutil as _shutil
    import uuid as _uuid

    from hive_cassandra_spark import datasource

    files = sorted(_glob.glob(os.path.join(_glob.escape(path), "*.parquet")))
    if not files:
        raise ValueError(f"no parquet files under {path}")
    ids: dict[str, int] = {}
    for f in files:
        m = _re.search(datasource._BATCH_PART_RE, os.path.basename(f))
        if m is None:
            raise ValueError(
                f"{os.path.basename(f)}: vacuum needs a stream-written "
                "store (batch-id part names define the commit order)"
            )
        ids[f] = int(m.group(1))
    cutoff = int(retain_after_batch)
    prefix = [f for f in files if ids[f] <= cutoff]
    if not prefix:
        return {
            "files_in": len(files), "files_out": len(files),
            "cells_in": 0, "cells_out": 0, "watermark": None,
        }
    cells = spark.read.parquet(*map(_hadoop_path, prefix))
    cols = set(cells.columns)
    key = ["row_key", "column_name"] + (
        ["sub_column_name"] if "sub_column_name" in cols else []
    )
    extras = [c for c in ("ttl_s",) if c in cols]
    cells_in = cells.count()
    packed = F.struct(*(["ts", "value"] + extras))
    flat = cells.groupBy(*key).agg(F.max(packed).alias("w")).select(
        *key,
        F.col("w.value").alias("value"),
        F.col("w.ts").alias("ts"),
        *[F.col(f"w.{c}").alias(c) for c in extras],
    )
    tmp = f"{path}.vacuum-{_uuid.uuid4().hex[:12]}"
    flat.write.mode("overwrite").parquet(tmp)
    tok = _uuid.uuid4().hex
    renamed: list[str] = []
    for i, part in enumerate(
        sorted(_glob.glob(os.path.join(_glob.escape(tmp), "*.parquet")))
    ):
        dst = os.path.join(
            path, f"part-{tok}-b{cutoff:09d}-{i:05d}.parquet"
        )
        os.rename(part, dst)
        renamed.append(dst)
    n_out = len(renamed)
    marker = os.path.join(path, VACUUM_MARKER)
    prev = -1
    if os.path.exists(marker):
        with open(marker) as fh:
            prev = int(fh.read().strip() or -1)
    with open(marker, "w") as fh:
        fh.write(str(max(prev, cutoff)))
    for f in prefix:
        os.remove(f)
    _shutil.rmtree(tmp, ignore_errors=True)
    # footer-only row counts: no Spark read (a glob read here makes
    # FileStreamSink log a spurious metadata-probe stack trace)
    import pyarrow.parquet as _pq

    cells_out = sum(_pq.read_metadata(f).num_rows for f in renamed)
    return {
        "files_in": len(files),
        "files_out": len(files) - len(prefix) + n_out,
        "cells_in": cells_in,
        "cells_out": cells_out,
        "watermark": max(prev, cutoff),
    }


def store_version(path: str) -> int:
    """Current committed version of an OCC-managed store: the highest
    PUBLISHED ``_occ-v%09d`` marker (0 = never committed). Markers are
    underscore-prefixed so every parquet reader ignores them."""
    return _OccLog(path).version


_PART_RE = re.compile(r"part-occ-v(\d{9})-\d{5}-[0-9a-f]+\.parquet$")


class _Marker(NamedTuple):
    """One parsed ``_occ-v%09d`` marker. ``files`` maps table -> the part
    count the commit recorded (``""`` = the flat store's ``files:<n>``)."""

    snapshot: bool
    tag: str | None
    files: dict


def _scan(directory: str) -> list:
    """(name, is_dir) for every entry of ``directory`` ([] if missing).
    A plain directory listing: no glob, so ``[`` / ``*`` / ``?`` in a store
    path are just characters."""
    try:
        with os.scandir(directory) as it:
            return [(e.name, e.is_dir()) for e in it]
    except (FileNotFoundError, NotADirectoryError):
        return []


class _OccLog:
    """One immutable read of an OCC store's commit log — the Delta
    Snapshot shape. Every public OCC call builds exactly one and derives
    all of its answers from it: the version, tags, snapshot floors,
    visible parts and pinned-completeness checks.

    Listing-order invariant: the markers are listed FIRST, and the part
    files in a SEPARATE listing afterwards, never in the same one. A
    writer renames its parts in before it publishes its marker, so every
    version this snapshot sees as published had all of its parts on disk
    before the part listing began. (One combined listing could see a
    marker published mid-listing but miss parts renamed in behind the
    listing's cursor.)

    ``tables`` names the part directories to list after the markers
    (``""`` = the flat store root); ``None`` lists the root and every
    table subdirectory. Markers are parsed lazily, each opened at most
    once."""

    def __init__(self, path: str, tables=()):
        self.path = path
        entries = _scan(path)
        self.versions = {
            int(n[6:]) for n, _ in entries
            if n.startswith("_occ-v") and n[6:].isdigit()
        }
        self.version = max(self.versions, default=0)
        # hidden leftovers occ_recover sweeps: staging dirs, publish temps
        self.leftovers = [
            (n, d) for n, d in entries
            if n.startswith((".occ-staging-", ".occ-publish-"))
        ]
        if tables is None:
            tables = [""] + [
                n for n, d in entries
                if d and not n.startswith((".", "_occ-claim-"))
            ]
        self.parts = {}  # table -> {version: [part paths, name order]}
        for t in tables:
            for name, _ in sorted(_scan(os.path.join(path, t))):
                m = _PART_RE.match(name)
                if m:
                    self.parts.setdefault(t, {}).setdefault(
                        int(m.group(1)), []
                    ).append(os.path.join(path, t, name))
        self._markers: dict[int, _Marker] = {}

    def marker(self, v: int) -> _Marker:
        if v not in self._markers:
            try:
                with open(os.path.join(self.path, f"_occ-v{v:09d}")) as fh:
                    lines = fh.read().splitlines()
            except OSError:
                lines = []
            tag, files = None, {}
            for ln in lines[1:]:
                if ln.startswith("tag:"):
                    tag = ln[4:]
                elif ln.startswith("files:"):
                    table, _, k = ln[6:].rpartition("=")
                    files.setdefault(table, int(k))
            self._markers[v] = _Marker(lines[1:2] == ["snapshot"], tag, files)
        return self._markers[v]

    def tags(self) -> dict:
        return {
            v: self.marker(v).tag
            for v in sorted(self.versions)
            if self.marker(v).tag is not None
        }

    def floor(self, cap: int | None = None) -> int:
        """Highest published snapshot version (0 = none): versions below
        it are superseded — invisible to ``occ_read``, droppable by
        ``occ_vacuum``. ``cap`` bounds it to snapshots at or below a
        pinned version (a compaction published AFTER the pin must not
        supersede the pin's history)."""
        for v in sorted(self.versions, reverse=True):
            if (cap is None or v <= cap) and self.marker(v).snapshot:
                return v
        return 0

    def visible(self, as_of_version: int | None) -> set:
        """Published versions visible to a read: all of them at or above
        the snapshot floor for a latest read, only ``(floor-at-N, N]``
        for an as-of read (Delta/Iceberg time-travel semantics). Raises
        ValueError on a pin that was never published: pinning a run to a
        version that doesn't exist is a caller bug, not an empty read."""
        if as_of_version is None:
            floor = self.floor()
            return {v for v in self.versions if v >= floor}
        if as_of_version not in self.versions:
            raise ValueError(
                f"as_of_version={as_of_version} was never published under "
                f"{self.path} (published: {sorted(self.versions)}) — cannot "
                "pin a read to a version that does not exist"
            )
        floor = self.floor(cap=as_of_version)
        return {v for v in self.versions if floor <= v <= as_of_version}

    def visible_parts(self, table: str, as_of_version: int | None):
        """(visible versions, {version: part paths}) for ``table``.

        A PINNED read fails closed when its visible range is only
        partially on disk: every visible version's part count is checked
        against the count its marker durably recorded, so a version that
        lost some or all of its parts (``occ_vacuum``, out-of-band
        deletion, a partial restore) is never served as "the state at
        vN". Markers that predate the ``files:`` records are unknowable
        and not flagged."""
        visible = self.visible(as_of_version)
        by_version = {
            v: fs for v, fs in self.parts.get(table, {}).items() if v in visible
        }
        if as_of_version is None:
            return visible, by_version
        for v in sorted(visible):
            recorded = self.marker(v).files.get(table)
            actual = len(by_version.get(v, ()))
            if recorded and actual < recorded:
                raise FileNotFoundError(
                    f"as_of_version={as_of_version}: version {v} committed "
                    f"{recorded} part file(s)"
                    + (f" for table '{table}'" if table else "")
                    + f" under {self.path} but only {actual} remain on disk "
                    "— the pinned history was vacuumed (occ_vacuum "
                    "retention window passed) or externally damaged; "
                    "refusing to serve partial state"
                )
        return visible, by_version


class LocalFSClaimBackend:
    """Claim/publish atomics for the OCC commit protocol on a POSIX
    filesystem — the default backend, and the CONTRACT any object-store
    backend must honor (``os.mkdir`` atomicity is a local stand-in; an
    S3/GCS deployment plugs in conditional-PUT here without touching the
    protocol above it):

    - ``claim(path, version, token)`` must atomically acquire EXCLUSIVE
      ownership of ``version`` for this store, recording ``token`` so
      recovery can match the claimant's part files: at most one caller
      ever returns True per (path, version), across processes and
      machines, and the claim persists until ``abandon``. Local:
      ``os.mkdir`` (atomic exactly-one-winner) + a token file. S3/GCS:
      conditional PUT (``If-None-Match: *`` / ``x-goog-if-generation-
      match: 0``) of ``_occ-claim-<v>`` with the token as body; a
      DynamoDB ``attribute_not_exists`` put works the same.
    - ``publish(path, version, content)`` makes the version marker
      visible atomically (readers either see the whole marker or no
      marker). Locally it writes a hidden ``.occ-publish-*`` temp and
      renames it into place. Only the claim winner may call it. The
      marker MUST land at ``<path>/_occ-v%09d`` on the same filesystem
      abstraction that serves ``path``'s data files — every OCC reader
      builds its log snapshot (``_OccLog``) by listing markers there, so
      a backend that publishes markers elsewhere (e.g. only into a lock
      table) would leave readers blind to committed versions and
      recovery would sweep LIVE commits. On S3 that filesystem IS the
      bucket (an s3fs/fsspec mount or the committer's S3 client — a
      single-object PUT is atomic, which is all publish needs); the
      claim atomics are what S3 LACKS, and they are the part a backend
      replaces.
    - ``claim_token / pending_claims / claim_age_s / abandon`` serve
      ``occ_recover``: enumerate claims with no published marker, age
      them (a conditional-PUT backend uses the object's Last-Modified),
      and release a dead claimant's version for re-claim.

    Versions, markers, snapshot floors, and part-file naming stay in
    the protocol layer (``occ_commit*`` / ``occ_read*``) — a backend
    only supplies the two atomics and claim bookkeeping."""

    def claim(self, path: str, version: int, token: str) -> bool:
        claim = os.path.join(path, f"_occ-claim-{version:09d}")
        try:
            os.mkdir(claim)  # the atom: exactly one winner per version
        except FileExistsError:
            return False
        with open(os.path.join(claim, "token"), "w") as fh:
            fh.write(token)
        return True

    def publish(self, path: str, version: int, content: str) -> None:
        # write-then-rename: a reader listing the store mid-publish sees
        # no marker or the whole one, never an empty file. The temp name
        # is hidden from parquet readers and does not match _occ-v*.
        tmp = os.path.join(
            path, f".occ-publish-{version:09d}-{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w") as fh:
            fh.write(content)
        os.rename(tmp, os.path.join(path, f"_occ-v{version:09d}"))

    def claim_token(self, path: str, version: int) -> str:
        tok_file = os.path.join(
            path, f"_occ-claim-{version:09d}", "token"
        )
        if os.path.exists(tok_file):
            return open(tok_file).read().strip()
        return ""

    def pending_claims(self, path: str) -> list[int]:
        import glob as _glob

        return sorted(
            int(os.path.basename(c)[11:])
            for c in _glob.glob(
                os.path.join(_glob.escape(path), "_occ-claim-*")
            )
        )

    def claim_age_s(self, path: str, version: int) -> float:
        try:
            return time.time() - os.path.getmtime(
                os.path.join(path, f"_occ-claim-{version:09d}")
            )
        except OSError:
            return float("inf")  # claim vanished: nothing to protect

    def abandon(self, path: str, version: int) -> None:
        shutil.rmtree(
            os.path.join(path, f"_occ-claim-{version:09d}"),
            ignore_errors=True,
        )


OCC_CLAIM_BACKEND: LocalFSClaimBackend = LocalFSClaimBackend()


def set_occ_claim_backend(backend) -> object:
    """Install a custom claim backend (see ``LocalFSClaimBackend`` for
    the contract) and return the previous one — the deployment seam for
    object stores, where mkdir atomicity doesn't exist."""
    global OCC_CLAIM_BACKEND
    prev, OCC_CLAIM_BACKEND = OCC_CLAIM_BACKEND, backend
    return prev


def _parquet_num_rows(path: str) -> int:
    """Row count from the parquet FOOTER (metadata-only, no column
    reads) — the per-staged-file check occ_commit uses to drop
    zero-row parts. Driver-side and O(parts-per-commit), the same cost
    class as the rename loop it sits in."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def occ_commit(
    spark, path: str, cells, expected_version: int, snapshot: bool = False,
) -> dict:
    """Optimistic-concurrency commit for a cell store — the Delta /
    Iceberg commit-protocol shape (public): a writer declares the store
    version it READ its inputs at, and the commit succeeds only if it
    atomically claims ``expected_version + 1``; a concurrent writer that
    claimed it first forces this writer to REFRESH and retry against the
    new state instead of silently clobbering it (lost-update
    prevention — the transactional layer the reference's thrift
    batch_mutate, AbstractColumnSerDe.java:47,75, never had).

    Protocol (claim/publish atomics via the pluggable
    ``OCC_CLAIM_BACKEND`` seam — ``LocalFSClaimBackend`` is the default
    and documents the contract an S3/GCS conditional-PUT or lock-table
    backend must honor):
    1. stage the data files under a hidden ``.occ-staging-*`` dir;
    2. CLAIM the version: ``backend.claim(path, v, token)`` — atomic,
       exactly one winner per version, the claim is permanent; a loser
       cleans its staging and reports the conflict with the fresh
       version so the caller can re-derive and retry;
    3. move the staged files in under version-stamped names
       (``part-occ-v%09d-*``), then PUBLISH with the ``_occ-v%09d``
       marker file — ``store_version`` counts only published markers,
       so a torn commit is never observed as the current VERSION.

    The cell store is the root table of ``occ_commit_tables`` (its
    parts land in ``path`` itself, its marker records ``files:<n>``):
    both run the one commit body.

    Torn-commit isolation applies to ``store_version`` and to readers
    that go through ``occ_read`` (which lists only part files whose
    version has a published marker). A raw ``spark.read.parquet(path)``
    glob over the directory sees unpublished parts too — committed
    consumers must read via ``occ_read`` (q183 does) or run
    ``occ_recover`` first.

    With ``snapshot=True`` the committed cells are a FULL REPLACEMENT of
    every version ≤ ``expected_version`` (the compaction commit shape):
    the published marker records the snapshot flag, ``occ_read`` then
    lists only parts of versions ≥ the newest snapshot, and
    ``occ_vacuum`` may physically drop the superseded parts at leisure.
    Because the snapshot claims the next version through the SAME mkdir
    atom, a concurrent append that wins the race forces the compactor to
    refresh (re-read, now including the new append) and retry — the
    lost-update window of the plain rename-swap discipline
    (``compact_store``) is gone.

    A crash between claim and publish leaves a claim without a marker:
    ``occ_recover`` sweeps those (drops the claim's token-matched part
    files) so the version becomes claimable again. A loser whose mkdir
    failed against a claim that has NO published marker gets
    ``claim_pending=True`` in its result: the claimant is either still
    in flight or dead, and a refresh-and-retry loop alone will spin
    forever on a dead claim — the caller should wait it out
    (``_occ_wait_out_claim``) or invoke ``occ_recover``
    (single-maintainer contract) before retrying. Returns
    {committed, version, conflict, claim_pending, files}.
    """
    return occ_commit_tables(spark, path, {"": cells}, expected_version, snapshot)


def occ_commit_tables(
    spark,
    path: str,
    tables: dict,
    expected_version: int,
    snapshot: bool = False,
    tag: str | None = None,
) -> dict:
    """One ATOMIC versioned commit spanning several parquet tables — the
    multi-table face of ``occ_commit`` for artifacts whose consistency
    spans files (a retrieval index's postings + corpus meta, an IVF-PQ
    index's centroids + codebooks + assignments + codes). A two-rename
    swap that appends delta postings BEFORE the meta merge leaves
    postings with stale stats after a crash, and a retry double-appends.
    Here every table's parts stage first, ONE claim takes the version,
    parts rename in under ``<path>/<table>/part-occ-v%09d-*-<token>.parquet``,
    and ONE marker publishes them together — readers
    (``occ_read_table``) see all of the commit or none of it.

    ``snapshot=True`` supersedes every prior version (the rebuild
    commit); an append commit layers on top (the delta commit). ``tag``
    lands in the marker (e.g. a batch id) so a crashed-then-retried
    delta can detect it already published (``store_tags``) instead of
    double-applying. Same conflict/claim_pending contract as
    ``occ_commit``."""
    os.makedirs(path, exist_ok=True)
    cur = _OccLog(path).version
    if cur != expected_version:
        return {
            "committed": False, "version": cur, "conflict": True,
            "claim_pending": False, "files": 0,
        }
    v = cur + 1
    token = uuid.uuid4().hex[:8]
    staging = os.path.join(path, f".occ-staging-{v:09d}-{token}")

    # stage the tables as CONCURRENT write jobs (a small driver-side
    # thread pool): the per-table writes are independent, and Spark's
    # scheduler back-fills executors freed by one job's straggler tail
    # with the next job's tasks — serially, a 5-table IVF-PQ commit
    # paid 5 full job latencies for mostly-small tables. FIFO
    # scheduling keeps the first job's resource priority; atomicity is
    # untouched (nothing publishes until every staged write returned).
    def _stage(item):
        tname, df = item
        df.write.mode("overwrite").parquet(os.path.join(staging, tname))

    if len(tables) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(3, len(tables))
        ) as pool:
            list(pool.map(_stage, tables.items()))
    else:
        for item in tables.items():
            _stage(item)
    # the claim/publish atomics ride the pluggable backend (the
    # deployment seam — LocalFSClaimBackend documents the contract)
    if not OCC_CLAIM_BACKEND.claim(path, v, token):
        shutil.rmtree(staging, ignore_errors=True)
        # distinguish a live racing writer (its marker will appear and
        # the version will advance) from a DEAD claim (no marker ever):
        # a caller that only refresh-and-retries would spin forever on
        # the latter — claim_pending tells it to run occ_recover first
        fresh = _OccLog(path)
        return {
            "committed": False, "version": fresh.version, "conflict": True,
            "claim_pending": v not in fresh.versions, "files": 0,
        }
    lines = [token]
    if snapshot:
        lines.append("snapshot")
    if tag:
        lines.append(f"tag:{tag}")
    n = 0
    for tname in tables:
        os.makedirs(os.path.join(path, tname), exist_ok=True)
        k = 0
        # listed, not globbed: a staging dir swept out from under a live
        # commit raises here instead of publishing an empty version
        for name in sorted(os.listdir(os.path.join(staging, tname))):
            f = os.path.join(staging, tname, name)
            if name.startswith(".") or not name.endswith(".parquet"):
                continue
            # drop zero-row parts instead of committing them: Spark
            # writes one empty part file even for an empty DataFrame,
            # and a streaming pipeline committing many empty deltas
            # would accumulate junk files every later read must list
            # and open
            if _parquet_num_rows(f) == 0:
                os.remove(f)
                continue
            os.rename(
                f,
                os.path.join(
                    path, tname, f"part-occ-v{v:09d}-{k:05d}-{token}.parquet"
                ),
            )
            k += 1
        n += k
        # files:<n> (root) / files:<table>=<k>: the durable part count an
        # as-of read checks once parts may have been vacuumed — a version
        # that RECORDED parts now missing fails closed, while files:0 (or
        # a version that never carried the table) is a legitimate no-op
        lines.append(f"files:{tname}={k}" if tname else f"files:{k}")
    shutil.rmtree(staging, ignore_errors=True)
    OCC_CLAIM_BACKEND.publish(path, v, "\n".join(lines))
    return {
        "committed": True, "version": v, "conflict": False,
        "claim_pending": False, "files": n,
    }


def store_tags(path: str) -> dict:
    """{version: tag} for every published marker that carries one —
    lets a retried delta job detect its batch already landed."""
    return _OccLog(path).tags()


def occ_read_table(
    spark,
    path: str,
    table: str,
    latest_only: bool = False,
    as_of_version: int | None = None,
):
    """Snapshot-isolation read of one table of an ``occ_commit_tables``
    artifact: parts of PUBLISHED versions at or above the newest
    snapshot floor, unioned (append semantics); ``latest_only=True``
    reads just the highest published version carrying parts for this
    table (replace semantics — the one-row meta shape).
    ``as_of_version=N`` pins the read to the store's state when version
    N was the head — versions in ``(floor-at-N, N]`` only, later deltas
    and later snapshots invisible — the dataset-reproducibility
    primitive a training run pins its inputs to (Delta/Iceberg
    time-travel). Raises FileNotFoundError when no committed parts are
    visible: index consumers must fail closed, not silently serve an
    empty index — for an as-of read that includes a pin whose parts
    ``occ_vacuum`` already dropped (history physically gone, same as
    time-travel past a Delta VACUUM)."""
    _, by_version = _OccLog(path, (table,)).visible_parts(table, as_of_version)
    if not by_version:
        raise FileNotFoundError(
            f"no committed parts for table '{table}' under {path}"
            + (
                f" visible as of version {as_of_version} — the pinned "
                "history was vacuumed (or the table had no parts yet)"
                if as_of_version is not None
                else " — the artifact was never built (or every version "
                "was swept)"
            )
        )
    if latest_only:
        return _read_parts(spark, by_version[max(by_version)])
    return _read_parts(spark, [f for v in sorted(by_version) for f in by_version[v]])


def _hadoop_path(path: str) -> str:
    """``path`` with Hadoop glob syntax escaped: Spark expands ``[ ] { }
    * ?`` in read paths, so an unescaped store path ``cf[0]`` would be
    read as ``cf0``."""
    return re.sub(r"([\\\[\]{}*?])", r"\\\1", path)


def _read_parts(spark, files: list):
    """Read committed part files with the Spark schema the first part's
    footer records (the file schema inference would open) — a
    metadata-only footer read instead of an inference job per read."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    meta = pq.read_schema(files[0]).metadata or {}
    spark_schema = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    reader = spark.read
    if spark_schema is not None:
        reader = reader.schema(StructType.fromJson(json.loads(spark_schema)))
    return reader.parquet(*map(_hadoop_path, files))


def occ_read(
    spark, path: str, empty_schema=None, as_of_version: int | None = None
):
    """Snapshot-isolation read of an OCC-managed store: only part files
    whose version has a PUBLISHED ``_occ-v%09d`` marker are listed — a
    torn commit's parts (claim without marker) are invisible without
    waiting for ``occ_recover`` — and versions below the newest
    published SNAPSHOT commit (a compaction's full replacement) are
    superseded and skipped even before ``occ_vacuum`` physically drops
    them. ``as_of_version=N`` pins the read to the state as of version
    N — versions in ``(floor-at-N, N]``, later deltas and later
    snapshots invisible (time-travel; see ``occ_read_table``). The cost
    is one log snapshot (``_OccLog``): two driver-side directory
    listings, markers then parts, plus one open per marker it consults,
    and zero data movement; the returned DataFrame scans exactly the
    committed, current parts.

    An empty / never-committed store reads as an empty cell DataFrame
    whose schema comes from, in order: ``empty_schema`` (a StructType)
    if given; the parquet footer of any part file present but not
    currently visible (superseded or unpublished — the store's actual
    cell shape); else the base 4-column cell layout. Without this, a
    store whose cells carry ``sub_column_name`` / ``ttl_s`` would read
    back 4-column when empty and diverge from the non-empty case in
    downstream unions and compaction key derivation."""
    return _occ_read_log(spark, _OccLog(path, ("",)), empty_schema, as_of_version)


def _occ_read_log(spark, log: _OccLog, empty_schema=None, as_of_version=None):
    """``occ_read`` over an already-built log snapshot."""
    visible, by_version = log.visible_parts("", as_of_version)
    if by_version:
        return _read_parts(
            spark, [f for v in sorted(by_version) for f in by_version[v]]
        )
    if as_of_version is not None and not all(
        log.marker(v).files.get("") == 0 for v in visible
    ):
        # a published pin with no visible parts — and at least one
        # visible marker that recorded parts or predates the files:
        # records — means occ_vacuum already dropped the pinned history:
        # fail closed like occ_read_table, never silently serve an empty
        # store as "the state at vN". When EVERY visible marker records
        # files:0 (empty-DataFrame commits), the pinned state genuinely
        # IS an empty store and serves through the empty-schema path.
        raise FileNotFoundError(
            f"no parts visible as of version {as_of_version} under "
            f"{log.path} — the pinned history was vacuumed"
        )
    if empty_schema is not None:
        return spark.createDataFrame([], empty_schema)
    every = log.parts.get("", {})
    if every:
        # no visible version, but the store HAS a cell shape — take the
        # schema from any part footer (metadata-only read)
        return _read_parts(spark, every[max(every)][-1:]).limit(0)
    from hive_cassandra_spark.datasource import _BASE_SCHEMA

    return spark.createDataFrame([], _BASE_SCHEMA)


def occ_recover(path: str, min_age_s: float = 0.0) -> dict:
    """Crash recovery for ``occ_commit``: a claim whose version has no
    published marker is a torn commit — drop its token-matched part
    files and the claim itself so the version becomes claimable again
    (the in-flight writer is presumed dead; the ``recover_store``
    single-maintainer contract). Leftover staging dirs and marker
    publish temps are swept too (they were never visible). Idempotent.

    ``min_age_s`` age-gates the sweep: a claim, staging dir or publish
    temp younger than it is left alone (counted in ``skipped_young``).
    "No marker at conflict time" does NOT prove the claimant is dead — a
    live writer sits in exactly that state between its staging write and
    its marker publish, and sweeping it would delete its staged parts,
    or its claim and already-renamed parts, so its eventually-published
    marker would name a version with silently missing files. Automated
    maintenance (``occ_compact_store``) passes a grace period; a
    human-invoked recovery after a known crash may keep the 0 default.
    Returns {dropped_claims, dropped_parts, dropped_staging,
    skipped_young}."""
    # claims are listed BEFORE the log: a claimant that publishes in
    # between is then seen as published, never swept as torn
    pending = OCC_CLAIM_BACKEND.pending_claims(path)
    log = _OccLog(path, None)
    dropped_claims = dropped_parts = dropped_staging = skipped_young = 0
    for name, is_dir in log.leftovers:
        leftover = os.path.join(path, name)
        try:
            age = time.time() - os.path.getmtime(leftover)
        except OSError:
            continue  # swept by a racing recovery
        if age < min_age_s:
            skipped_young += 1
        elif is_dir:
            shutil.rmtree(leftover, ignore_errors=True)
            dropped_staging += 1
        else:
            os.remove(leftover)
            dropped_staging += 1
    for v in pending:
        if v in log.versions:
            continue  # published — the claim is the permanent winner record
        if OCC_CLAIM_BACKEND.claim_age_s(path, v) < min_age_s:
            skipped_young += 1
            continue  # possibly a live writer between claim and publish
        token = OCC_CLAIM_BACKEND.claim_token(path, v)
        # root-level cell parts AND table subdirs (the occ_commit_tables
        # layout) carry the claimant's token
        for parts in log.parts.values():
            for f in parts.get(v, ()):
                if token and f.endswith(f"-{token}.parquet"):
                    os.remove(f)
                    dropped_parts += 1
        OCC_CLAIM_BACKEND.abandon(path, v)
        dropped_claims += 1
    return {
        "dropped_claims": dropped_claims,
        "dropped_parts": dropped_parts,
        "dropped_staging": dropped_staging,
        "skipped_young": skipped_young,
    }


def occ_vacuum(path: str, retain_versions: int = 0) -> dict:
    """Physically drop part files superseded by the newest published
    SNAPSHOT commit (they are already invisible to LATEST ``occ_read``s,
    so this is pure space reclamation — safe at leisure, idempotent).
    Driver-side dirent work, O(files), zero data movement.

    ``retain_versions=K`` keeps the parts of the K highest superseded
    versions on disk — the retention window that keeps
    ``as_of_version`` time-travel reads (q204) serviceable across a
    compaction, exactly Delta's ``deletedFileRetentionDuration`` /
    Iceberg's snapshot-expiry knob expressed in versions (public
    semantics). Retained versions stay invisible to latest reads (the
    marker floor governs those); a later vacuum with a smaller window
    drops them for good. Default 0 = reclaim everything below the
    floor, the behavior every maintenance pass uses.
    Returns {dropped_parts, floor, retained_versions}."""
    log = _OccLog(path, None)
    floor = log.floor()
    superseded = sorted(v for v in log.versions if v < floor)
    retained = set(superseded[-retain_versions:]) if retain_versions > 0 else set()
    dropped = 0
    for parts in log.parts.values():
        for v, files in parts.items():
            if v < floor and v not in retained:
                for f in files:
                    os.remove(f)
                    dropped += 1
    return {
        "dropped_parts": dropped,
        "floor": floor,
        "retained_versions": sorted(retained),
    }


def _occ_wait_out_claim(path: str, res: dict, claim_grace_s: float) -> None:
    """After a commit lost its claim to a claimant with no published
    marker (``res["claim_pending"]``), wait that claim out before the
    caller refreshes and retries. A pending claim is AMBIGUOUS: a live
    writer sits in exactly that state between its claim and its marker
    publish, indistinguishable from a dead claimant at conflict time. So
    this polls until the claimant publishes or its claim vanishes (an
    ordinary refresh-and-retry follows), and only once the claim is at
    least ``claim_grace_s`` old sweeps claims older than that
    (``occ_recover(min_age_s=claim_grace_s)``). Claim age comes from the
    pluggable backend, never a local getmtime: under an object-store
    backend there IS no local claim dir, and bypassing the seam would
    break recovery."""
    if not res["claim_pending"]:
        return
    while store_version(path) <= res["version"]:
        age = OCC_CLAIM_BACKEND.claim_age_s(path, res["version"] + 1)
        if age == float("inf"):
            return  # claim gone (recovered elsewhere / published)
        if age >= claim_grace_s:
            occ_recover(path, min_age_s=claim_grace_s)
            return
        time.sleep(min(0.2, claim_grace_s - age))


def occ_compact_store(
    spark,
    path: str,
    now_millis: int | None = None,
    drop_tombstones: bool = True,
    gc_grace_s: int | None = None,
    max_retries: int = 5,
    claim_grace_s: float = 10.0,
) -> dict:
    """``compact_store`` routed through the OCC commit protocol. The
    plain swap discipline has a lost-update window: compaction reads the
    store, a concurrent ingest appends, compaction's rename-swap
    clobbers the append. Here the compacted winners are committed as a
    SNAPSHOT at the exact version the inputs were read at — both taken
    from ONE log snapshot: a concurrent append that claimed the next
    version first forces a refresh-and-retry that re-reads WITH the new
    append included — no write is ever lost, with zero coordination
    between ingest and maintenance (the Delta/Iceberg optimistic-
    compaction shape).

    A conflict against a pending claim (claim without marker) waits the
    claim out through ``_occ_wait_out_claim`` with ``claim_grace_s``: a
    live writer that publishes inside the grace window turns the wait
    into an ordinary refresh-and-retry, and only a claim older than the
    grace is swept. Superseded parts are vacuumed after the commit.
    Returns {cells_in, cells_out, version, conflicts, vacuumed, files}.
    """
    conflicts = 0
    for _ in range(max_retries):
        log = _OccLog(path, ("",))
        cells = _occ_read_log(spark, log)
        cols = set(cells.columns)
        key = ["row_key", "column_name"] + (
            ["sub_column_name"] if "sub_column_name" in cols else []
        )
        extras = [c for c in ("ttl_s",) if c in cols]
        cells_in = cells.count()
        flat = _compact_winners(
            cells, key, extras, drop_tombstones, now_millis, gc_grace_s,
            "ttl_s" in cols,
        )
        # materialize the winners BEFORE the claim: the commit's write
        # must not re-read store files that a racing vacuum could move
        flat = flat.localCheckpoint(eager=True)
        cells_out = flat.count()
        res = occ_commit(spark, path, flat, log.version, snapshot=True)
        if res["committed"]:
            vac = occ_vacuum(path)
            return {
                "cells_in": cells_in,
                "cells_out": cells_out,
                "version": res["version"],
                "conflicts": conflicts,
                "vacuumed": vac["dropped_parts"],
                "files": res["files"],
            }
        conflicts += 1
        _occ_wait_out_claim(path, res, claim_grace_s)
    raise RuntimeError(
        f"occ_compact_store: {max_retries} consecutive commit conflicts "
        f"on {path} — a live writer is outpacing compaction"
    )
