"""The four workloads. Each drives the engine's public functions from
outside, one closed-loop client: the next op starts when the previous
one returns.

A workload builds its stores in ``prepare`` (called several times, each
from scratch, so set-up time can be reported as a median), warms every
op type in ``warmup``, then runs ``op(i)`` until the window closes. An op
returns its type, the latency of the engine calls alone (the oracle
check runs after the clock stops), and the list of correctness failures.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import host
import oracle
from spans import STREAM_PHASES, plan_ms

from hive_cassandra_spark import datasource, handler, index, sink, source
from hive_cassandra_spark.codecs import decode_col, encode_col
from hive_cassandra_spark.operators import curation, dedup, similarity
from hive_cassandra_spark.streaming import events as stream_events

clock = time.perf_counter


class Workload:
    name = ""
    CYCLE = 1  # ops per cycle of the op mix; the window ends on a cycle
    load_s: float | None = None  # bulk-load time of the last prepare, kept out of setup_s

    def __init__(self, spark, seed: int, work: str, tracer, plant: str | None = None):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.plant = plant  # name of the check whose input is corrupted (self-test)
        self.write_rates: list[float] = []  # cells/s, one per write call
        self.amp_samples: list[float] = []
        datasource.register(spark)

    def path(self, *parts) -> str:
        return os.path.join(self.work, self.name, *parts)

    def fresh(self, *parts) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def land(self, df: pd.DataFrame, *parts) -> str:
        """Write a generated input as a parquet file and return its path."""
        p = self.path("input", *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), p)
        return p

    def at_cycle_end(self, ops_done: int) -> bool:
        """The window closes only here, so every run has the same op mix."""
        return ops_done % self.CYCLE == 0

    def corrupt(self, check: str, result):
        return oracle.corrupt(result) if check == self.plant else result

    def probes(self) -> None:
        """Traced run only: per-layer probes run after the window."""

    def finish(self) -> list[str]:
        """Checks on the final state, after the window."""
        return []

    def layer_extras(self) -> dict:
        """Traced run only: per-layer metrics that do not come from spans."""
        return {}

    def space_amp(self) -> float:
        return float(np.median(self.amp_samples))

    def write_cells_per_s(self) -> float:
        return float(np.median(self.write_rates))


def _codec_probe(tracer, name: str, df, exprs) -> None:
    """An encode- or decode-only projection written to the noop sink."""
    for _ in range(3):
        with tracer.span(name):
            df.select(*exprs).write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------------ cf_scan

class CfScan(Workload):
    """Bulk-load a lineitem column family; one op is a read pass: the five
    read types in turn, each with seeded parameters. A pass, not a single
    read, is the unit: the median of a mix of five latency levels would
    be one type's median over a handful of samples."""

    name = "cf_scan"
    OPS = ("scan", "project", "slice", "get", "index_get")
    INDEXED = "l_suppkey"
    SLICE_ROWS = 40
    PROJECT = ["l_extendedprice", "l_returnflag", "l_suppkey"]  # one per decode family

    def prepare(self) -> None:
        li = gen.lineitem(self.seed)
        self.li = li
        self.cols = [c for c, _ in gen.LINEITEM_COLS]
        self.types = [t for _, t in gen.LINEITEM_COLS]
        self.sorted_ids = np.sort(li["l_id"].to_numpy())
        df = self.spark.read.parquet(self.land(li, "lineitem.parquet"))
        self.table = handler.define_table("lineitem", self.fresh("store"), self.cols, self.types)
        self.cells_path, self.index_path = self.fresh("cells"), self.fresh("index")
        n_cells = sum(int(li[c].notna().sum()) for c in self.cols[1:])
        t0 = clock()
        with self.tracer.span("handler.write_table"):
            handler.write_table(df, self.table, clock_millis=gen.T0_MS)
        cells = sink.to_cells(df, self.table.mapping, self.types, clock_millis=gen.T0_MS)
        with self.tracer.span("datasource.write") as s:
            cells.write.format("cassandra_cells").mode("overwrite").save(self.cells_path)
            s.counts["files"] = host.tree_bytes_files(self.cells_path)[1]
        with self.tracer.span("index.build_value_index"):
            base = self.spark.read.format("cassandra_cells").load(self.cells_path)
            index.build_value_index(base, self.INDEXED.encode()).write.format(
                "cassandra_cells"
            ).mode("overwrite").save(self.index_path)
        self.load_s = clock() - t0
        self.write_rates.append((2 * n_cells + len(li)) / self.load_s)

    def warmup(self) -> None:
        self.phase_ms: dict[str, list[float]] = {kind: [] for kind in self.OPS}
        self.op(-1)
        for samples in self.phase_ms.values():
            samples.clear()

    def space_amp(self) -> float:
        size, _ = host.tree_bytes_files(self.table.path)
        return size / oracle.payload_bytes(self.li, gen.LINEITEM_COLS)

    def op(self, i: int):
        total, failures = 0.0, []
        for j, kind in enumerate(self.OPS):
            ms, errs = getattr(self, "_" + kind)(np.random.default_rng([self.seed, 10, i + 1, j]))
            self.phase_ms[kind].append(ms)
            total += ms
            failures += errs
        return "read_pass", total, failures

    def _read(self, wanted):
        t0 = clock()
        with self.tracer.span("handler.read_table") as s:
            df = handler.read_table(self.spark, self.table, wanted_columns=wanted)
            keep = [(c, t) for c, t in gen.LINEITEM_COLS if c in df.columns]
            agg = df.agg(*checksum_exprs(keep))
            row = agg.collect()[0]
            s.counts["rows_out"] = row[0]
        ms = 1000 * (clock() - t0)
        return ms, keep, list(row)

    def _scan(self, rng):
        ms, keep, got = self._read(None)
        got = self.corrupt("scan", got)
        return ms, oracle.compare("scan", got, oracle.checksums(self.li, keep))

    def _project(self, rng):
        ms, keep, got = self._read(self.PROJECT)
        got = self.corrupt("project", got)
        return ms, oracle.compare("project", got, oracle.checksums(self.li, keep))

    def _cells_query(self, df, span_name):
        t0 = clock()
        with self.tracer.span(span_name) as s:
            rows = df.collect()
            if self.tracer.enabled:
                s.counts["plan_ms"] = plan_ms(df)
        return 1000 * (clock() - t0), rows, s

    def _slice(self, rng):
        start = int(rng.integers(0, len(self.sorted_ids) - self.SLICE_ROWS))
        lo_id, hi_id = self.sorted_ids[start], self.sorted_ids[start + self.SLICE_ROWS - 1]
        names = sorted(rng.choice(self.cols[1:], 2, replace=False).tolist())
        lo, hi = gen.enc(lo_id, "bigint"), gen.enc(hi_id, "bigint")
        df = (
            self.spark.read.format("cassandra_cells").option("reversed", "true").load(self.cells_path)
            .filter((F.col("row_key") >= lo) & (F.col("row_key") <= hi))
            .filter((F.col("column_name") >= names[0].encode()) & (F.col("column_name") <= names[1].encode()))
        )
        ms, rows, _ = self._cells_query(df, "datasource.scan")
        got = self.corrupt("slice", [(bytes(r.row_key), bytes(r.column_name), bytes(r.value)) for r in rows])
        sel = self.li[(self.li.l_id >= lo_id) & (self.li.l_id <= hi_id)]
        want = [c for c in gen.row_cells(sel, gen.LINEITEM_COLS) if names[0].encode() <= c[1] <= names[1].encode()]
        return ms, oracle.compare_cells("slice", got, want, reversed_names=True)

    def _get(self, rng):
        key = int(self.li.l_id.iloc[int(rng.integers(len(self.li)))])
        kb = gen.enc(key, "bigint")
        df = self.spark.read.format("cassandra_cells").load(self.cells_path).filter(F.col("row_key") == kb)
        ms, rows, s = self._cells_query(df, "datasource.scan")
        got = self.corrupt("get", [(bytes(r.row_key), bytes(r.column_name), bytes(r.value)) for r in rows])
        if self.tracer.enabled:
            s.counts["est_rows"] = _rows_examined(self.cells_path, kb)
            s.counts["hits"] = len(rows)
        want = gen.row_cells(self.li[self.li.l_id == key], gen.LINEITEM_COLS)
        return ms, oracle.compare_cells("get", got, want)

    def _index_get(self, rng):
        supp = int(rng.integers(1, gen.N_SUPPLIERS + 1))
        t0 = clock()
        with self.tracer.span("index.index_lookup"):
            hits = index.index_lookup(self.spark, self.cells_path, self.index_path, gen.enc(supp, "bigint"))
            rows = hits.select("row_key").distinct().collect()
        ms = 1000 * (clock() - t0)
        got = self.corrupt("index_get", sorted(bytes(r.row_key) for r in rows))
        want = sorted(gen.enc(k, "bigint") for k in self.li.l_id[self.li.l_suppkey == supp])
        return ms, oracle.compare("index_get", got, want)

    def probes(self) -> None:
        df = self.spark.read.parquet(self.path("input", "lineitem.parquet"))
        _codec_probe(
            self.tracer, "codecs.encode_col", df,
            [encode_col(F.col(c), t).alias(c) for c, t in gen.LINEITEM_COLS],
        )
        cells = source.read_cells(self.spark, self.table.path)
        name = F.col("column_name").cast("string")
        _codec_probe(
            self.tracer, "codecs.decode_col", cells,
            [F.when(name == c, decode_col(F.col("value"), t)).alias(c) for c, t in gen.LINEITEM_COLS[1:]],
        )


def checksum_exprs(cols) -> list:
    """Row count, then one exact integer checksum per column: integer
    sums, money columns in cents, CRC-32 sums of strings, epoch seconds of
    timestamps (the same definitions as ``oracle.checksums``)."""
    out = [F.count(F.lit(1))]
    for c, t in cols:
        col = F.col(c)
        if t == "string":
            out.append(F.sum(F.crc32(col.cast("binary"))))
        elif t == "double":
            out.append(F.sum(F.round(col * 100).cast("long")))
        else:
            out.append(F.sum(col.cast("long")))
    return out


def _rows_examined(path: str, key: bytes) -> int:
    """Rows the connector's splits would read for a row-key point get:
    the ``est_rows`` of every split after ``pushFilters``."""
    from pyspark.sql.datasource import EqualTo
    from pyspark.sql.types import StructType

    reader = datasource.CellStoreReader(
        {"path": path}, StructType.fromDDL(datasource._BASE_SCHEMA)
    )
    list(reader.pushFilters([EqualTo(("row_key",), key)]))
    return sum(s.est_rows for s in reader.partitions())


# --------------------------------------------------------------- occ_ingest

class OccIngest(Workload):
    """Seeded orders deltas committed through OCC into a store that starts
    empty; read-after-write after every commit, compaction every K."""

    name = "occ_ingest"
    COMPACT_EVERY = 5
    CYCLE = COMPACT_EVERY
    SCHEMA = ", ".join(f"{c} {t}" for c, t in gen.ORDERS_COLS)

    def prepare(self) -> None:
        self._start(self.fresh("store"))

    def warmup(self) -> None:
        # one full compaction cycle on a scratch store warms every path;
        # the timed store then starts empty
        store = self.store
        self._start(self.fresh("warm"))
        for i in range(self.COMPACT_EVERY):
            self._step(i, warm=True)
        self._start(store)

    def _start(self, path: str) -> None:
        self.store = path
        self.deltas = gen.OrdersDeltas(self.seed)
        self.model = oracle.LwwModel([c for c, _ in gen.ORDERS_COLS], [t for _, t in gen.ORDERS_COLS])
        self.version = 0
        self.write_rates, self.amp_samples = [], []
        self.phase_ms: dict[str, list[float]] = {"commit": [], "read": [], "compact": []}
        self.mapping = handler.define_table("orders", path, [c for c, _ in gen.ORDERS_COLS],
                                            [t for _, t in gen.ORDERS_COLS]).mapping

    def op(self, i: int):
        return "step", *self._step(i)

    def _step(self, i: int, warm: bool = False):
        spark, types = self.spark, [t for _, t in gen.ORDERS_COLS]
        d = self.deltas.next()
        tomb = pd.DataFrame({"o_orderkey": d.tombstone_keys}).assign(
            o_custkey=0, o_orderstatus="X", o_totalprice=0.0,
            o_orderdate=pd.Timestamp("1992-01-01"), o_orderpriority="X",
        )
        up_df = spark.createDataFrame(d.upserts, schema=self.SCHEMA)
        tomb_df = spark.createDataFrame(tomb, schema=self.SCHEMA)
        failures = []
        t0 = clock()
        cells = sink.to_cells(up_df, self.mapping, types, clock_millis=d.ts).unionByName(
            sink.to_cells(tomb_df, self.mapping, types, clock_millis=d.ts)
            .withColumn("value", F.lit(None).cast("binary"))
        )
        with self.tracer.span("sink.occ_commit") as s:
            io0 = host.syscalls()
            res = sink.occ_commit(spark, self.store, cells, expected_version=self.version)
            s.counts["driver_syscalls"] = host.syscalls() - io0
            s.counts["files"] = res["files"]
        t1 = clock()
        n_cells = self.model.apply(d)
        if not res["committed"] or res["version"] != self.version + 1:
            failures.append(f"commit {i}: {res}")
        self.version = res["version"]
        with self.tracer.span("sink.occ_read") as s:
            df = sink.occ_read(spark, self.store)
            live = source.lww_latest(df).filter(F.col("value").isNotNull()).count()
            if self.tracer.enabled:
                s.counts["files_visible"] = len(df.inputFiles())
        t2 = t3 = clock()
        failures += oracle.compare("read", self.corrupt("read", live), self.model.live_count())
        compacting = (i + 1) % self.COMPACT_EVERY == 0
        if compacting:
            with self.tracer.span("sink.occ_compact_store") as s:
                res = sink.occ_compact_store(spark, self.store)
                s.counts.update(cells_in=res["cells_in"], cells_out=res["cells_out"],
                                bytes_rewritten=_version_bytes(self.store, res["version"]))
            t3 = clock()
            failures += oracle.compare("compact", self.corrupt("compact", res["cells_out"]), self.model.live_count())
            self.version = res["version"]
        if not warm:
            self.phase_ms["commit"].append(1000 * (t1 - t0))
            self.phase_ms["read"].append(1000 * (t2 - t1))
            if compacting:
                self.phase_ms["compact"].append(1000 * (t3 - t2))
            self.write_rates.append(n_cells / (t1 - t0))
            size, _ = host.tree_bytes_files(self.store)
            self.amp_samples.append(size / self.model.payload())
        return 1000 * (t3 - t2 + t1 - t0 + t2 - t1), failures

    def layer_extras(self) -> dict:
        size, files = host.tree_bytes_files(self.store)
        return {"sink.store.bytes": size, "sink.store.files": files}

    def probes(self) -> None:
        d = gen.OrdersDeltas(self.seed).next()
        df = self.spark.createDataFrame(d.upserts, schema=self.SCHEMA)
        _codec_probe(
            self.tracer, "codecs.encode_col", df,
            [encode_col(F.col(c), t).alias(c) for c, t in gen.ORDERS_COLS],
        )


def _version_bytes(store: str, version: int) -> int:
    """Bytes of the part files a commit published under ``version``."""
    tag = f"part-occ-v{version:09d}-"
    return sum(
        os.path.getsize(os.path.join(store, f)) for f in os.listdir(store) if f.startswith(tag)
    )


# ------------------------------------------------------------ stream_ingest

class StreamIngest(Workload):
    """Events landed as files, one micro-batch per file, deduplicated in a
    streaming query and written through the cell-store stream sink."""

    name = "stream_ingest"
    FILES_PER_ROUND = 4
    STATE_PARTITIONS = 4

    def prepare(self) -> None:
        self._start("run")

    def warmup(self) -> None:
        # one round on scratch directories; the timed stream starts empty
        self._start("warm")
        self._round()
        self._start("run")

    def _start(self, tag: str) -> None:
        self.landing, self.ckpt = self.fresh(tag, "landing"), self.fresh(tag, "ckpt")
        self.store = self.fresh(tag, "store")
        os.makedirs(self.landing)
        self.files: list[pd.DataFrame] = []
        self.pending: list[float] = []  # batch latencies (ms) not yet handed out
        self.progress: list[dict] = []
        self.write_rates = []

    def _land(self) -> None:
        i = len(self.files)
        df = gen.events_file(self.seed, i, self.files[-1] if self.files else None)
        self.files.append(df)
        p = os.path.join(self.landing, f"events-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), p)
        # strictly increasing mtimes: the file source takes files oldest first
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    def _round(self) -> None:
        for _ in range(self.FILES_PER_ROUND):
            self._land()
        spark = self.spark
        src = (
            spark.readStream.schema(stream_events.EVENTS_SCHEMA_TS)
            .option("maxFilesPerTrigger", 1).parquet(self.landing)
        )
        shaped = stream_events.stream_dedup(src).select(
            "event_id", "user_id", "event_type", "value", F.col("ts").alias("event_ts")
        )
        cols = [c for c, _ in gen.EVENT_COLS]
        mapping = handler.define_table("events", self.store, cols, [t for _, t in gen.EVENT_COLS]).mapping
        cells = sink.to_cells(shaped, mapping, [t for _, t in gen.EVENT_COLS], clock_millis=gen.T0_MS)
        # the state-operator width is read when the query starts: size it
        # to the local cores, as streaming.events.run_bounded does for
        # bounded streams, and leave the session's setting as it was
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(self.STATE_PARTITIONS))
        try:
            q = (
                cells.writeStream.format("cassandra_cells")
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start(self.store)
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        with self.tracer.span("streaming.round") as s:
            s.groups.append(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                self.progress.append(p)
                ms = p["durationMs"]["triggerExecution"]
                self.pending.append(float(ms))
                state = p["stateOperators"][0] if p["stateOperators"] else {}
                cells_out = state.get("numRowsUpdated", 0) * (len(gen.EVENT_COLS) - 1)
                self.write_rates.append(1000.0 * cells_out / ms)

    def at_cycle_end(self, ops_done: int) -> bool:
        return not self.pending

    def op(self, i: int):
        # one op is one micro-batch; a round of FILES_PER_ROUND files runs
        # when the batches of the previous round have been handed out
        if not self.pending:
            self._round()
        return "batch", self.pending.pop(0), []

    def finish(self) -> list[str]:
        want = gen.row_cells(
            pd.concat(self.files).drop_duplicates("event_id").rename(columns={"ts": "event_ts"}),
            gen.EVENT_COLS,
        )
        t = pq.read_table(self.store, columns=["row_key", "column_name", "value"])
        got = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        got = self.corrupt("stream", got)
        size, _ = host.tree_bytes_files(self.store)
        self.amp_samples = [size / sum(oracle.cell_payload(*c) for c in want)]
        return oracle.compare_cells("stream", got, want)

    def layer_extras(self) -> dict:
        out = {
            f"streaming.trigger.{k}_ms": float(np.median([p["durationMs"].get(k, 0) for p in self.progress]))
            for k in STREAM_PHASES
        }
        state = self.progress[-1]["stateOperators"][0]
        out["streaming.state.rows_total"] = float(state["numRowsTotal"])
        out["streaming.state.memory_bytes"] = float(state["memoryUsedBytes"])
        return out


# ---------------------------------------------------------- corpus_curation

class CorpusCuration(Workload):
    """Documents and embeddings in cell stores; one op is a full curation
    pass: read, exact dedup, MinHash-LSH dedup, gopher rules, top-k and a
    write-back of the curated rows."""

    name = "corpus_curation"
    LSH_THRESHOLD = 0.5
    MIN_NEAR_RECALL = 0.8
    WARMUP_OPS = 3

    def prepare(self) -> None:
        c = gen.corpus(self.seed)
        self.c = c
        spark = self.spark
        self.docs_tbl = handler.define_table(
            "documents", self.fresh("documents"), [n for n, _ in gen.DOC_COLS], [t for _, t in gen.DOC_COLS]
        )
        self.vecs_tbl = handler.define_table(
            "embeddings", self.fresh("embeddings"), [n for n, _ in gen.VEC_COLS], [t for _, t in gen.VEC_COLS]
        )
        self.out_tbl = handler.define_table(
            "curated", self.fresh("curated"), [n for n, _ in oracle.CURATED_COLS],
            [t for _, t in oracle.CURATED_COLS],
        )
        for df, tbl, n_cells in (
            (c.docs, self.docs_tbl, len(c.docs) * (len(gen.DOC_COLS) - 1)),
            (c.vecs, self.vecs_tbl, len(c.vecs) * (len(gen.VEC_COLS) - 1)),
        ):
            self._write(spark.read.parquet(self.land(df, tbl.name + ".parquet")), tbl, n_cells)
        self.expect = oracle.CurationExpect(c)

    def _write(self, df, table, n_cells: int) -> None:
        t0 = clock()
        with self.tracer.span("handler.write_table"):
            handler.write_table(df, table, clock_millis=gen.T0_MS)
        self.write_rates.append(n_cells / (clock() - t0))

    def warmup(self) -> None:
        # the first passes run while the JIT is still compiling
        for i in range(self.WARMUP_OPS):
            self.op(i)

    def op(self, i: int):
        spark, tr, c, failures = self.spark, self.tracer, self.c, []
        t0 = clock()
        with tr.span("handler.read_table") as s:
            docs = handler.read_table(spark, self.docs_tbl).persist()
            s.counts["rows_out"] = docs.count()
        with tr.span("operators.dedup.exact_dedup"):
            exact = dedup.exact_dedup(docs).collect()
        with tr.span("operators.dedup.minhash_lsh_dedup"):
            pairs = dedup.minhash_lsh_dedup(docs, threshold=self.LSH_THRESHOLD).collect()
        with tr.span("operators.curation.gopher_rules"):
            gopher = curation.gopher_rules(docs).select("doc_id", "n_words", "stopword_hits", "keep").collect()
        with tr.span("operators.similarity.brute_force_topk"):
            vecs = handler.read_table(spark, self.vecs_tbl)
            queries = vecs.filter(F.col("vec_id").isin(c.query_ids))
            top = similarity.brute_force_topk(vecs, queries, k=gen.TOPK).collect()
        # the curated rows: quality figures of every kept exact-dedup keeper
        keepers = {r.keeper_id for r in exact}
        kept = pd.DataFrame(
            [(r.doc_id, r.n_words, r.stopword_hits) for r in gopher if r.keep and r.doc_id in keepers],
            columns=[n for n, _ in oracle.CURATED_COLS],
        )
        schema = ", ".join(f"{n} {t}" for n, t in oracle.CURATED_COLS)
        self._write(spark.createDataFrame(kept, schema=schema), self.out_tbl,
                    len(kept) * (len(oracle.CURATED_COLS) - 1))
        t1 = clock()
        docs.unpersist()
        spark.catalog.clearCache()
        size, _ = host.tree_bytes_files(self.out_tbl.path)
        e = self.expect
        self.amp_samples.append(size / e.curated_payload)
        failures += oracle.compare("exact_dedup", self.corrupt("exact_dedup", sorted((r.keeper_id, r.dup_count) for r in exact)), e.exact)
        failures += e.check_pairs(self.corrupt("lsh", [(r.doc_a, r.doc_b, r.jaccard) for r in pairs]),
                                  self.LSH_THRESHOLD, self.MIN_NEAR_RECALL)
        failures += oracle.compare("gopher", self.corrupt("gopher", sorted(r.doc_id for r in gopher if not r.keep)), e.junk)
        failures += e.check_topk(self.corrupt("topk", [(r.query_id, r.neighbor_id, r.cosine) for r in top]))
        t = pq.read_table(self.out_tbl.path, columns=["row_key", "column_name", "value"])
        got = list(zip(*(t.column(n).to_pylist() for n in t.column_names)))
        failures += oracle.compare_cells("write_back", self.corrupt("write_back", got), e.curated_cells)
        return "curate", 1000 * (t1 - t0), failures

    def probes(self) -> None:
        docs = handler.read_table(self.spark, self.docs_tbl).persist()
        sig = dedup.minhash_signatures(docs)
        with self.tracer.span("operators.dedup.lsh") as s:
            s.counts["candidates"] = dedup.lsh_candidate_pairs(dedup.lsh_buckets(sig, 4, 3)).count()
            s.counts["verified"] = dedup.minhash_lsh_dedup(docs, threshold=self.LSH_THRESHOLD).count()
        docs.unpersist()
        self.spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (CfScan, OccIngest, StreamIngest, CorpusCuration)}
