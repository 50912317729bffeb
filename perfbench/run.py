"""Column-family engine benchmark.

    python3 perfbench/run.py --workload cf_scan --seed 1 --seconds 10 --trace 0

Runs one workload (cf_scan, occ_ingest, stream_ingest, corpus_curation)
against the ``hive_cassandra_spark`` package next to this directory, in
one process with one closed-loop client on a ``local[4]`` Spark session.
With ``--trace 0`` the last stdout line is the end-to-end metrics; with
``--trace 1`` it is the per-layer metrics from spans around every engine
call. A detail record (per-op-type latencies, contention stamps, the
failures seen) goes to stderr. Exit status: 0 when every op and every
final check matched the oracle, 1 on a correctness failure, 2 when the
engine package is missing, 3 on any other error.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import host  # noqa: E402
import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5  # set-up is repeated from scratch; setup_s takes the median
MASTER = "local[4]"
HEAP = "1g"

clock = time.perf_counter


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["cf_scan", "occ_ingest", "stream_ingest", "corpus_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the engine
    importable by Spark's Python workers, which inherit this environment
    through the JVM whatever the current directory is."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def start_spark(work: str):
    from hive_cassandra_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=MASTER,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's resident set then does
            # not depend on when the collector chose to grow the heap, so
            # peak RSS repeats run to run and moves only with off-heap and
            # driver memory (heap pressure shows in jvm.gc_ms instead). The
            # parallel collector runs no concurrent threads beside the four
            # task threads on four cores; under G1 the run-to-run spread of
            # occ_ingest's op_p50_ms was about twice as wide.
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -XX:+UseParallelGC "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples above it, and the
    value there; (None, None) with ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return None, None
    i = n - 11
    return 100.0 * (i + 1) / n, sorted(values)[i]


def run(args, work: str) -> int:
    try:
        import hive_cassandra_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads
    from hive_cassandra_spark import sink, source

    tracer = spans.Tracer(bool(args.trace))
    cpu0 = host.cpu_jiffies()
    t = clock()
    with tracer.span("session.get_spark"):
        spark = start_spark(work)
    session_s = clock() - t
    to_session_s = clock() - T_START  # interpreter start, imports, session
    jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
    try:
        tracer.attach(spark)
        if tracer.enabled:
            tracer.wrap(sink, "to_cells", "sink.to_cells")
            tracer.wrap(sink, "write_cells", "sink.write_cells", path_arg=1)
            tracer.wrap(source, "cells_to_table", "source.cells_to_table")
        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, work, tracer, plant=os.environ.get("PERFBENCH_PLANT")
        )
        prep, loads = [], []
        for _ in range(SETUP_REPS):
            t = clock()
            wl.prepare()
            loads.append(wl.load_s or 0.0)
            prep.append(clock() - t - loads[-1])
        t = clock()
        wl.warmup()
        warm_s = clock() - t
        setup_s = to_session_s + statistics.median(prep) + warm_s

        gc0 = spans.gc_ms(spark)
        cpu1 = host.cpu_jiffies()
        lat: dict[str, list[float]] = {}
        failures: list[str] = []
        attempted = failed = 0
        t_begin = clock()
        deadline = t_begin + args.seconds
        while clock() < deadline or not wl.at_cycle_end(attempted):
            tracer.op = attempted
            attempted += 1
            try:
                with tracer.span("op"):
                    kind, ms, errs = wl.op(attempted - 1)
            except Exception as e:  # an op that raises is a failed op
                errs = [f"op {attempted - 1}: {type(e).__name__}: {str(e)[:300]}"]
                kind = None
            if errs:
                failed += 1
                failures += errs
            else:
                lat.setdefault(kind, []).append(ms)
        window = clock() - t_begin
        tracer.op = None
        cpu2 = host.cpu_jiffies()
        gc_window = spans.gc_ms(spark) - gc0
        final = wl.finish()
        failures += final
        if tracer.enabled:
            wl.probes()
            tracer.resolve()
        rss = {"python": host.peak_rss_mb(), "jvm": host.peak_rss_mb(jvm_pid) if jvm_pid else 0.0}
        peak = rss["python"] + rss["jvm"]
        all_lat = [v for vs in lat.values() for v in vs]
        completed = len(all_lat)
        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (completed / window, "1/s"),
            "op_p50_ms": (statistics.median(all_lat) if all_lat else 0.0, "ms"),
            "peak_rss_mb": (peak, "MB"),
            "space_amp": (wl.space_amp(), "ratio"),
            "write_cells_per_s": (wl.write_cells_per_s(), "cells/s"),
        }
        if tracer.enabled:
            metrics = layer_metrics(tracer, wl, e2e, gc_window, completed)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "window_s": window,
            "to_session_s": to_session_s,
            "session_s": session_s,
            "prepare_s": prep,
            "load_s": loads,
            "warmup_s": warm_s,
            "ops": {
                k: {"n": len(v), "p50_ms": statistics.median(v), "tail": tail(v)}
                for k, v in lat.items()
            },
            "tail_all": tail(all_lat),
            "phases_p50_ms": {
                k: statistics.median(v) for k, v in getattr(wl, "phase_ms", {}).items() if v
            },
            "jvm_gc_ms": gc_window,
            "peak_rss_mb": rss,
            "contention_setup": host.contention(cpu0, cpu1),
            "contention_window": host.contention(cpu1, cpu2),
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "failures": failures[:20],
        }
        print(json.dumps(detail), file=sys.stderr)
        correct = not failures
        # a wrong final state (the stream's store) fails the run's last op
        failed = min(attempted, failed + bool(final))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        stop_spark(spark)


def layer_metrics(tracer, wl, e2e: dict, gc_window: float, completed: int) -> dict:
    """Per-layer metrics of a traced run. Layers a workload never calls
    read 0. ``trace.*`` repeat the traced run's own end-to-end figures;
    minus the untraced run's, they are the tracing overhead."""
    m = tracer.layer_metrics()
    m.update(wl.layer_extras())
    for name in spans.NON_SPAN_METRICS:
        m.setdefault(name, 0.0)  # a layer this workload never touches
    ops = [tracer.measures(s) for s in tracer.spans if s.name == "op"]
    m["jvm.gc_ms"] = gc_window
    m["jvm.jobs_per_op"] = sum(o["jobs"] for o in ops) / max(completed, 1)
    m["jvm.tasks_per_op"] = sum(o["tasks"] for o in ops) / max(completed, 1)
    m["trace.op_p50_ms"] = e2e["op_p50_ms"][0]
    m["trace.ops_per_s"] = e2e["ops_per_s"][0]
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in m.items()}


def unit_of(metric: str) -> str:
    last = metric.rsplit(".", 1)[-1]
    if last == "ms" or last.endswith("_ms"):
        return "ms"
    if last.endswith("bytes") or last == "bytes_rewritten":
        return "bytes"
    if last == "ops_per_s":
        return "1/s"
    if "_per_" in last:
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        return run(args, work)
    except Exception:
        traceback.print_exc()
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

if __name__ == "__main__":
    sys.exit(main())
