"""Spans around the benchmark's calls into the engine, and the per-layer
metrics derived from them.

A span has a name, start, end, parent and op id. Each span sets its own
Spark job group, so the jobs (and through them the stages) that run while
it is the innermost open span are attributed to it. Spans are kept in
memory; job and stage metrics are read from the JVM status store once,
after the timed window, so the window itself only pays for setting job
groups and reading planning trackers.

With tracing off, ``span`` yields a throwaway record and touches nothing,
and no engine function is wrapped.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import host

# per-layer metric -> (span name, measure). The value reported is the
# median over every span of that name (one span per call), 0 when the
# workload never makes the call.
SPAN_METRICS = {
    "session.get_spark.ms": ("session.get_spark", "ms"),
    "codecs.encode_col.task_ms": ("codecs.encode_col", "task_ms"),
    "codecs.decode_col.task_ms": ("codecs.decode_col", "task_ms"),
    "handler.write_table.ms": ("handler.write_table", "ms"),
    "handler.write_table.self_ms": ("handler.write_table", "self_ms"),
    "handler.read_table.ms": ("handler.read_table", "ms"),
    "handler.read_table.self_ms": ("handler.read_table", "self_ms"),
    "sink.to_cells.plan_ms": ("sink.to_cells", "plan_ms"),
    "sink.write_cells.ms": ("sink.write_cells", "ms"),
    "sink.write_cells.task_ms": ("sink.write_cells", "task_ms"),
    "sink.write_cells.shuffle_bytes": ("sink.write_cells", "shuffle_bytes"),
    "sink.write_cells.files": ("sink.write_cells", "files"),
    "sink.occ_commit.ms": ("sink.occ_commit", "ms"),
    "sink.occ_commit.driver_ms": ("sink.occ_commit", "driver_ms"),
    "sink.occ_commit.task_ms": ("sink.occ_commit", "task_ms"),
    "sink.occ_commit.files": ("sink.occ_commit", "files"),
    "sink.occ_commit.driver_syscalls": ("sink.occ_commit", "driver_syscalls"),
    "sink.occ_read.ms": ("sink.occ_read", "ms"),
    "sink.occ_read.driver_ms": ("sink.occ_read", "driver_ms"),
    "sink.occ_read.task_ms": ("sink.occ_read", "task_ms"),
    "sink.occ_read.files_visible": ("sink.occ_read", "files_visible"),
    "sink.occ_compact_store.ms": ("sink.occ_compact_store", "ms"),
    "sink.occ_compact_store.task_ms": ("sink.occ_compact_store", "task_ms"),
    "sink.occ_compact_store.cells_in": ("sink.occ_compact_store", "cells_in"),
    "sink.occ_compact_store.cells_out": ("sink.occ_compact_store", "cells_out"),
    "sink.occ_compact_store.bytes_rewritten": ("sink.occ_compact_store", "bytes_rewritten"),
    "source.cells_to_table.plan_ms": ("source.cells_to_table", "plan_ms"),
    "source.read.task_ms": ("handler.read_table", "task_ms"),
    "source.read.shuffle_bytes": ("handler.read_table", "shuffle_bytes"),
    "source.read.cells_scanned_per_row": ("handler.read_table", "cells_scanned_per_row"),
    "datasource.write.ms": ("datasource.write", "ms"),
    "datasource.write.task_ms": ("datasource.write", "task_ms"),
    "datasource.write.files": ("datasource.write", "files"),
    "datasource.scan.plan_ms": ("datasource.scan", "plan_ms"),
    "datasource.scan.tasks": ("datasource.scan", "tasks"),
    "datasource.scan.task_ms": ("datasource.scan", "task_ms"),
    "datasource.get.rows_examined_per_hit": ("datasource.scan", "rows_examined_per_hit"),
    "index.build_value_index.ms": ("index.build_value_index", "ms"),
    "index.index_lookup.ms": ("index.index_lookup", "ms"),
    "index.index_lookup.task_ms": ("index.index_lookup", "task_ms"),
    "index.index_lookup.tasks": ("index.index_lookup", "tasks"),
    "operators.dedup.exact_dedup.ms": ("operators.dedup.exact_dedup", "ms"),
    "operators.dedup.exact_dedup.task_ms": ("operators.dedup.exact_dedup", "task_ms"),
    "operators.dedup.exact_dedup.shuffle_bytes": ("operators.dedup.exact_dedup", "shuffle_bytes"),
    "operators.dedup.minhash_lsh_dedup.ms": ("operators.dedup.minhash_lsh_dedup", "ms"),
    "operators.dedup.minhash_lsh_dedup.task_ms": ("operators.dedup.minhash_lsh_dedup", "task_ms"),
    "operators.dedup.minhash_lsh_dedup.shuffle_bytes": ("operators.dedup.minhash_lsh_dedup", "shuffle_bytes"),
    "operators.dedup.minhash_lsh_dedup.jobs": ("operators.dedup.minhash_lsh_dedup", "jobs"),
    "operators.dedup.lsh.verified_per_candidate": ("operators.dedup.lsh", "verified_per_candidate"),
    "operators.curation.gopher_rules.ms": ("operators.curation.gopher_rules", "ms"),
    "operators.curation.gopher_rules.task_ms": ("operators.curation.gopher_rules", "task_ms"),
    "operators.similarity.brute_force_topk.ms": ("operators.similarity.brute_force_topk", "ms"),
    "operators.similarity.brute_force_topk.task_ms": ("operators.similarity.brute_force_topk", "task_ms"),
    "operators.similarity.brute_force_topk.shuffle_bytes": ("operators.similarity.brute_force_topk", "shuffle_bytes"),
}

STREAM_PHASES = ["queryPlanning", "getBatch", "latestOffset", "addBatch", "walCommit", "commitOffsets"]

# per-layer metrics a workload reports itself (``Workload.layer_extras``)
NON_SPAN_METRICS = (
    ["sink.store.bytes", "sink.store.files"]
    + [f"streaming.trigger.{k}_ms" for k in STREAM_PHASES]
    + ["streaming.state.rows_total", "streaming.state.memory_bytes"]
)

# measures that are a ratio of two per-span counts
RATIOS = {
    "cells_scanned_per_row": ("input_records", "rows_out"),
    "rows_examined_per_hit": ("est_rows", "hits"),
    "verified_per_candidate": ("verified", "candidates"),
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    groups: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # (submit_s, done_s, stages)


def plan_ms(df, force: bool = False) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s
    query execution; ``force`` plans it now if no action has run."""
    qe = df._jdf.queryExecution()
    if force:
        qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None
        self.sc = None

    def attach(self, spark) -> None:
        if self.enabled:
            self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield Span(-1, name, None, None, 0.0)
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent and parent.sid, self.op, time.time())
        s.groups.append(f"perfbench-span-{s.sid}")
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.groups[0], name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.groups[0], parent.name)
                else:
                    self.sc.setJobGroup("perfbench-untraced", "outside any span")

    def wrap(self, module, attr: str, name: str, path_arg: int | None = None) -> None:
        """Replace ``module.attr`` with a spanned call. Engine code that
        calls it through the module (``sink.write_cells(...)``) then opens
        a child span. Without ``path_arg`` the function returns a lazy
        DataFrame, and its span also plans it to record ``plan_ms``; with
        it, the span counts the parquet files under that argument."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if path_arg is None:
                    if not out.isStreaming:  # a stream plans per micro-batch
                        s.counts["plan_ms"] = plan_ms(out, force=True)
                else:
                    s.counts["files"] = host.tree_bytes_files(args[path_arg])[1]
                return out

        setattr(module, attr, traced)

    # ------------------------------------------------------------ resolve

    def resolve(self) -> None:
        """Attach each span's jobs and stage metrics from the status store."""
        if not self.enabled or self.sc is None:
            return
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            for g in s.groups:
                for jid in tracker.getJobIdsForGroup(g):
                    s.jobs.append(_job(store, jid))

    def _subtree(self, s: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for x in self.spans:
            if x.parent is not None:
                kids.setdefault(x.parent, []).append(x)
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x.sid, []))
        return out

    def measures(self, s: Span) -> dict:
        """Every measure of one span. Job-derived measures include the
        span's descendants."""
        tree = self._subtree(s)
        jobs = [j for x in tree for j in x.jobs]
        stages = {st["id"]: st for j in jobs for st in j[2]}.values()
        ms = 1000.0 * (s.end - s.start)
        kids = [(x.start, x.end) for x in self.spans if x.parent == s.sid]
        m = {
            "ms": ms,
            "self_ms": ms - 1000.0 * _covered(kids, s.start, s.end),
            "driver_ms": ms - 1000.0 * _covered([(a, b) for a, b, _ in jobs], s.start, s.end),
            "jobs": float(len(jobs)),
            "tasks": float(sum(st["tasks"] for st in stages)),
            "task_ms": float(sum(st["run_ms"] for st in stages)),
            "shuffle_bytes": float(sum(st["shuffle"] for st in stages)),
            "input_records": float(sum(st["input_records"] for st in stages)),
        }
        m.update(s.counts)
        for name, (num, den) in RATIOS.items():
            if m.get(den):
                m[name] = m.get(num, 0.0) / m[den]
        return m

    def layer_metrics(self) -> dict:
        by_name: dict[str, list[dict]] = {}
        for s in self.spans:
            by_name.setdefault(s.name, []).append(self.measures(s))
        out = {}
        for metric, (span_name, measure) in SPAN_METRICS.items():
            vals = [m[measure] for m in by_name.get(span_name, []) if measure in m]
            out[metric] = float(statistics.median(vals)) if vals else 0.0
        return out


def _job(store, jid: int):
    jd = store.job(jid)
    submit = jd.submissionTime()
    done = jd.completionTime()
    t0 = submit.get().getTime() / 1000.0 if submit.isDefined() else 0.0
    t1 = done.get().getTime() / 1000.0 if done.isDefined() else t0
    stages = []
    it = jd.stageIds().iterator()
    while it.hasNext():
        sid = it.next()
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # a stage evicted from the status store
            continue
        stages.append(
            {
                "id": sid,
                "tasks": sd.numCompleteTasks(),
                "run_ms": sd.executorRunTime(),
                "shuffle": sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                "input_records": sd.inputRecords(),
            }
        )
    return (t0, t1, stages)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector, in ms."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))
