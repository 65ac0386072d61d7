"""Streaming bucketizer benchmark.

    python3 perfbench/run.py --workload trie_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated from
``--seed``; chunks are fed to the streaming job in a closed loop for
``--seconds`` seconds; the committed output is then checked against a batch
reference. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics (see perfbench/README.md for the map from
layer to end-to-end metric). The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. A run whose
output differs from the reference exits with code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time

from tracing import ProgressRecorder, Tracer, event_log_metrics, patched, program_patches, span_batch
from workloads import WINDOW, WORKLOADS, manifest_count, manifest_time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3
STALL_S = 90
# every run restarts the workload this many times (``restart_s`` is the
# median), then measures at least this many micro-batches
RESTARTS = 2
MIN_MEASURED = 3

END_TO_END = {
    "setup_s": "s",
    "input_rows_per_s": "rows/s",
    "batch_latency_p50_s": "s",
    "restart_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.list_ms_p50": "ms",
    "sources.backlog_files": "count",
    "trie_stream.batch_s_p50": "s",
    "trie_stream.self_s_p50": "s",
    "trie_stream.counter_rows": "count",
    "substring.call_s_p50": "s",
    "substring.jobs_per_call": "count",
    **{
        f"dedup.{q}.{m}": u
        for q in ("minhash", "segment", "decon")
        for m, u in (
            ("add_batch_ms_p50", "ms"),
            ("state_rows_total", "count"),
            ("state_mem_bytes", "bytes"),
            ("groups_per_batch", "count"),
        )
    },
    "dedup.minhash.candidates": "count",
    "dedup.minhash.useful_ratio": "ratio",
    "sinks.write_batch_s_p50": "s",
    "sinks.jobs_per_commit": "count",
    "sinks.rows_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.manifest_list_ms_p50": "ms",
    "sinks.replay_skips": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_busy_share": "ratio",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew_max": "ratio",
    "parallel_speedup": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# -- session --------------------------------------------------------------
def _warm(pdf):
    import numpy  # noqa: F401  (worker start-up imports numpy, as the kernels do)

    return pdf


def new_session(cores: int, work: str, extra: dict | None = None):
    """Start a Spark session and warm it: JVM, parquet reader and Python
    workers. Returns (session, seconds taken)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bucketizers_spark.plans.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        # C1 only: C2's profile-guided compilation made identical runs
        # differ by up to 60% between JVMs (see README); a fixed heap size
        # keeps the JVM's resident set from following GC sizing decisions
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -Xms1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "500",
        **(extra or {}),
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    warm = os.path.join(work, "warm.parquet")
    if not os.path.exists(warm):
        pq.write_table(pa.table({"id": list(range(1000))}), warm)
    spark.read.parquet(warm).count()
    spark.range(0, 64, 1, cores).withColumn("g", F.col("id") % cores).groupBy("g").applyInPandas(
        _warm, "id long, g long"
    ).count()
    return spark, time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this Python process plus the driver
    JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


# -- closed-loop feeding -----------------------------------------------------
class Feeder:
    """Stages chunk files into the workload's source directory. A chunk is
    written under ``staging/`` and renamed into ``src/``, so the file
    source never lists a half-written file."""

    def __init__(self, workload, wd: str):
        from bucketizers_spark.sources.stream import stage_chunks

        self._stage = stage_chunks
        self.w = workload
        self.src = os.path.join(wd, "src")
        self.staging = os.path.join(wd, "staging")
        os.makedirs(self.src, exist_ok=True)
        self.staged_at: dict[int, float] = {}

    @property
    def staged(self) -> int:
        return len(self.staged_at)

    def stage_next(self) -> None:
        k = self.staged
        (path,) = self._stage(self.w.chunks[k], self.staging, n_chunks=1, start_index=k)
        os.replace(path, os.path.join(self.src, os.path.basename(path)))
        self.staged_at[k] = time.time()


def committed(w, wd: str) -> int:
    return min(manifest_count(root) for root in w.sinks(wd).values())


def commit_time(w, wd: str, k: int) -> float:
    return max(manifest_time(root, k) for root in w.sinks(wd).values())


def _ts(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def wait_committed(w, wd: str, handle, feeder, seconds: float | None = None, min_measured: int = 0) -> None:
    """Poll until every staged chunk is committed. With ``seconds``, first
    keep ``WINDOW`` chunks in flight for that long (and until
    ``min_measured`` more chunks are committed)."""
    first = committed(w, wd)
    until = time.time() + (seconds or 0)
    last, last_change = -1, time.time()
    while True:
        done = committed(w, wd)
        now = time.time()
        if done != last:
            last, last_change = done, now
        if seconds is not None and (now < until or done < first + min_measured):
            while feeder.staged - done < WINDOW and feeder.staged < len(w.chunks):
                feeder.stage_next()
        elif done >= feeder.staged:
            return
        if now - last_change > STALL_S:
            raise RuntimeError(f"no chunk committed for {STALL_S}s ({done} committed)")
        handle.raise_if_failed()
        time.sleep(0.02)


def progress_until(handle, batch_id: int) -> dict[str, dict[int, float]]:
    """Trigger times of each query's data batches, once every query has
    reported ``batch_id``: a query reports progress just after its sink
    commits and its offsets are committed."""
    deadline = time.time() + 30
    while True:
        progress = {
            name: {p.batchId: _ts(p.timestamp) for p in q.recentProgress if p.numInputRows > 0}
            for name, q in handle.queries.items()
        }
        if all(batch_id in p for p in progress.values()):
            return progress
        if time.time() > deadline:
            raise RuntimeError(f"no progress reported for batch {batch_id}")
        time.sleep(0.05)


def run_stream(
    spark, w, wd: str, seconds: float, min_measured: int = MIN_MEASURED, restarts: int = RESTARTS
) -> dict:
    """Start the workload for one chunk; ``restarts`` times stop it and
    restart it from its checkpoints on the next chunk (``restart_s``); then
    feed chunks in a closed loop for ``seconds`` and drain. The batches
    before the measured ones are each a query's first: they pay worker
    start-up and code generation."""
    feeder = Feeder(w, wd)
    feeder.stage_next()
    handle = w.start(spark, wd)
    wait_committed(w, wd, handle, feeder)
    took = []
    for _ in range(restarts):
        # stop only once the batch's offsets are committed too, so the
        # restart never replays it
        progress_until(handle, feeder.staged - 1)
        handle.stop()
        feeder.stage_next()
        t0 = time.perf_counter()
        handle = w.start(spark, wd)
        wait_committed(w, wd, handle, feeder)
        took.append(time.perf_counter() - t0)

    start = feeder.staged
    wait_committed(w, wd, handle, feeder, seconds, min_measured)
    end = feeder.staged
    query_ids = {str(q.id): name for name, q in handle.queries.items()}
    progress = progress_until(handle, end - 1)
    handle.stop()
    measured = range(start, end)
    commits = {k: commit_time(w, wd, k) for k in range(end)}
    triggers = {k: min(p[k] for p in progress.values() if k in p) for k in measured}
    # chunks staged but not yet committed when each measured batch started
    backlog = [
        sum(1 for t in feeder.staged_at.values() if t <= triggers[k]) - sum(1 for c in commits.values() if c <= triggers[k])
        for k in measured
    ]
    return {
        "feeder": feeder,
        "query_ids": query_ids,
        "measured": measured,
        "restart_s": median(took),
        "t0": commits[start - 1],
        "t1": commits[end - 1],
        "latencies": {k: commits[k] - triggers[k] for k in measured},
        "input_rows_per_s": sum(len(w.chunks[k]) for k in measured) / (commits[end - 1] - commits[start - 1]),
        "backlog_files": median(backlog),
    }


# -- per-layer figures ---------------------------------------------------------
def sink_files(root: str):
    for dirpath, _, files in os.walk(root):
        if os.path.basename(dirpath).startswith("batch_id="):
            yield from (os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))


def parquet_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def layer_metrics(w, wd: str, tracer, stats: dict, events: list[dict], phase: dict) -> dict:
    tracer.finish()
    measured = phase["measured"]
    data = [e for e in events if e["numInputRows"] > 0 and e["batchId"] in measured]
    spans = [s for s in tracer.spans if span_batch(s) in measured]

    def named(name):
        return [s for s in spans if s["name"] == name]

    m = {k: 0.0 for k in PER_LAYER}
    m["sources.list_ms_p50"] = median(
        e["durationMs"].get("latestOffset", 0) + e["durationMs"].get("getBatch", 0) for e in data
    )
    m["sources.backlog_files"] = phase["backlog_files"]

    batches = [s for s in named("trie_stream.process_batch") if not s.get("replay_skip")]
    if batches:
        m["trie_stream.batch_s_p50"] = median(s["end"] - s["start"] for s in batches)
        m["trie_stream.self_s_p50"] = median(s["self_s"] for s in batches)
        counters = os.path.join(wd, "state", "counters")
        last = os.path.join(counters, max(os.listdir(counters), key=lambda v: int(v.split("=")[1])))
        m["trie_stream.counter_rows"] = parquet_rows(
            os.path.join(last, f) for f in os.listdir(last) if f.endswith(".parquet")
        )
    calls = named("substring.token_prefix_trie")
    if calls:
        m["substring.call_s_p50"] = median(s["end"] - s["start"] for s in calls)
        m["substring.jobs_per_call"] = median(s["jobs"] for s in calls)

    if w.name == "dedup_stream":
        for q in w.QUERIES:
            ev = [e for e in data if phase["query_ids"].get(e["id"], "decon") == q]
            ops = ev[-1]["stateOperators"] if ev else []
            m[f"dedup.{q}.add_batch_ms_p50"] = median(e["durationMs"].get("addBatch", 0) for e in ev)
            m[f"dedup.{q}.state_rows_total"] = sum(o["numRowsTotal"] for o in ops)
            m[f"dedup.{q}.state_mem_bytes"] = sum(o["memoryUsedBytes"] for o in ops)
            m[f"dedup.{q}.groups_per_batch"] = median(sum(o["numRowsUpdated"] for o in e["stateOperators"]) for e in ev)
        manifests = os.path.join(w.sinks(wd)["decon"], "_manifest")
        rows = []
        for k in measured:
            with open(os.path.join(manifests, f"{k}.json")) as fh:
                rows.append(json.load(fh)["rows"])
        m["dedup.decon.groups_per_batch"] = median(rows)
        cand = {(a, b) for _, _, a, b in w.candidate_pairs}
        m["dedup.minhash.candidates"] = parquet_rows(sink_files(w.sinks(wd)["minhash"]))
        m["dedup.minhash.useful_ratio"] = len(cand & w.near_pairs) / max(1, len(cand))

    writes = named("sinks.write_batch")
    commits = [s for s in named("sinks.commit") if not s.get("replay_skip")]
    m["sinks.write_batch_s_p50"] = median(s["end"] - s["start"] for s in writes)
    m["sinks.jobs_per_commit"] = median(s["jobs"] for s in commits)
    # a sink root may hold another sink's root (trie relations), so dedupe
    files = sorted({f for root in w.sinks(wd).values() for f in sink_files(root)})
    m["sinks.rows_written"] = parquet_rows(files)
    m["sinks.bytes_written"] = sum(os.path.getsize(f) for f in files)
    m["sinks.manifest_list_ms_p50"] = 1000 * median(stats.get("manifest_list_s", []))
    m["sinks.replay_skips"] = sum(1 for s in tracer.spans if s.get("replay_skip"))
    return m


# -- main -----------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bucketizers_spark")):
        print(f"perfbench: no bucketizers_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers start from the JVM and must import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        return run(args, WORKLOADS[args.workload](args.seed), work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def stop_jvm() -> None:
    """End the driver JVM this process launched and wait for it: it exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args, w, work: str) -> int:
    cores = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    clock = Phases()
    extra = {}
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    setups = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, took = new_session(cores, work, extra)
        setups.append(took)
    clock.mark("setup")

    wd = os.path.join(work, "run")
    if not traced:
        phase = run_stream(spark, w, wd, args.seconds)
        clock.mark("stream")
        attempted, bad = w.check(spark, wd, phase["feeder"].staged)
        clock.mark("check")
        metrics = {
            "setup_s": median(setups),
            "input_rows_per_s": phase["input_rows_per_s"],
            "batch_latency_p50_s": median(phase["latencies"].values()),
            "restart_s": phase["restart_s"],
            "peak_rss_mb": peak_rss_mb(spark),
        }
        spark.stop()
        return report(args, w, cores, metrics, END_TO_END, attempted, bad, phase, clock)

    tracer, stats, recorder = Tracer(spark), {}, ProgressRecorder()
    spark.streams.addListener(recorder)
    with patched(program_patches(tracer, stats)):
        phase = run_stream(spark, w, wd, args.seconds)
        clock.mark("stream")
    spark.streams.removeListener(recorder)
    attempted, bad = w.check(spark, wd, phase["feeder"].staged)
    clock.mark("check")
    metrics = layer_metrics(w, wd, tracer, stats, recorder.events, phase)
    spark.stop()  # flushes the event log
    metrics.update(event_log_metrics(log_dir, phase["t0"], phase["t1"], cores))
    metrics["session.start_s"] = median(setups)
    lat = phase["latencies"]
    # per measured chunk: bookkeeping time of every span of that chunk
    per_batch: dict[int, float] = {}
    for sp in tracer.spans:
        k = span_batch(sp)
        if k in lat:
            per_batch[k] = per_batch.get(k, 0.0) + sp["overhead_s"]
    metrics["trace.overhead_s"] = median(per_batch.values())
    metrics["trace.overhead_share"] = metrics["trace.overhead_s"] / median(lat.values())
    if w.name == "trie_stream":
        # single-threaded baseline of the same job; not gated, see README
        spark, _ = new_session(1, work)
        single = run_stream(spark, w, os.path.join(work, "single"), args.seconds, min_measured=2, restarts=0)
        spark.stop()
        metrics["parallel_speedup"] = phase["input_rows_per_s"] / single["input_rows_per_s"]
        clock.mark("single-core")
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"trace-{w.name}-s{args.seed}.json"), "w") as fh:
        json.dump(
            {"workload": w.name, "seed": args.seed, "cores": cores, "traffic": w.props, "metrics": metrics,
             "latencies": lat, "spans": tracer.spans, "progress": recorder.events},
            fh,
            default=str,
        )
    return report(args, w, cores, metrics, PER_LAYER, attempted, bad, phase, clock)


class Phases:
    """Wall time of each phase of a run, for the report."""

    def __init__(self):
        self.last = time.perf_counter()
        self.took: dict[str, float] = {}

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.took[name] = now - self.last
        self.last = now


def report(args, w, cores, metrics, units, attempted, bad, phase, clock) -> int:
    """Print the metrics table, then the result line; non-zero exit when
    any output differed from its reference."""
    failed = len(bad)
    print(f"# {w.name} seed={args.seed} cores={cores} trace={args.trace}")
    print("# traffic: " + json.dumps(w.props))
    print("# phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in clock.took.items()))
    print(
        f"# measured micro-batches: {len(phase['latencies'])} (after {phase['measured'].start} first batches); latencies (s): "
        + " ".join(f"{v:.2f}" for v in phase["latencies"].values())
    )
    for name, value in metrics.items():
        print(f"{name:32s} {value:>16.6g} {units[name]}")
    print(f"{'error_rate':32s} {failed / attempted:>16.6g} share ({failed} of {attempted} micro-batches failed)")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
