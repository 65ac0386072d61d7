"""Benchmark-side tracing: spans around calls into the program's public
functions, streaming progress from a query listener, Spark job counts per
span from the status tracker, and engine totals from the Spark event log.

Nothing here runs unless the benchmark is started with ``--trace 1``; the
end-to-end metrics come from untraced runs. Spans are kept in memory and
written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Records spans: name, start, end, parent span and batch id. Each span
    runs its Spark jobs under its own job group, so the status tracker can
    count the jobs it started. The time a span spends on its own
    bookkeeping (job-group calls, status-tracker query) is kept as
    ``overhead_s``: it is what tracing adds to the batch's wall time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, batch: str | None = None):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "batch": batch if batch is not None else (parent or {}).get("batch"),
        }
        if parent:
            parent.setdefault("children", []).append(name)
        group = f"perfbench-{sid}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.time()
        setup_s = time.perf_counter() - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            stack.pop()
            rec["own_jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(rec)
            rec["overhead_s"] = setup_s + time.perf_counter() - t_out

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- derived figures ------------------------------------------------
    def finish(self) -> None:
        """Fill in ``jobs`` (own plus every descendant's) and ``self_s``
        (duration minus the time the span's children cover)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)

        def total_jobs(s: dict) -> int:
            if "jobs" not in s:
                s["jobs"] = s["own_jobs"] + sum(total_jobs(c) for c in kids.get(s["id"], []))
            return s["jobs"]

        for s in self.spans:
            total_jobs(s)
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            s["self_s"] = (s["end"] - s["start"]) - covered


def span_batch(span: dict) -> int | None:
    """The micro-batch number of a span (its batch id is ``<tag>:<n>``)."""
    return int(span["batch"].rsplit(":", 1)[1]) if span["batch"] else None


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, object]]):
    """Temporarily replace attributes: (owner, attribute, replacement)."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, new in targets:
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


def program_patches(tracer: Tracer, stats: dict) -> list[tuple[object, str, object]]:
    """Spans at the program's layer boundaries. ``stats`` collects what is
    not a span: the manifest listing times."""
    from bucketizers_spark.sinks import idempotent
    from bucketizers_spark.streaming import trie_stream

    sink_cls = idempotent.IdempotentParquetSink
    job_cls = trie_stream.TrieStreamJob
    orig_process = job_cls.process_batch
    orig_foreach = sink_cls.foreach_batch
    orig_list = sink_cls.committed_batches

    def process_batch(self, batch_df, batch_id):
        with tracer.span("trie_stream.process_batch", f"trie:{batch_id}") as rec:
            orig_process(self, batch_df, batch_id)
            # an already-committed batch returns before the operator runs
            rec["replay_skip"] = "substring.token_prefix_trie" not in rec.get("children", [])

    def foreach_batch(self, transform=None):
        fn = orig_foreach(self, transform)
        tag = os.path.basename(self.root.rstrip("/"))

        def commit(batch_df, batch_id):
            with tracer.span("sinks.commit", f"{tag}:{batch_id}") as rec:
                fn(batch_df, batch_id)
                rec["replay_skip"] = "sinks.write_batch" not in rec.get("children", [])

        return commit

    def committed_batches(self):
        t0 = time.perf_counter()
        try:
            return orig_list(self)
        finally:
            stats.setdefault("manifest_list_s", []).append(time.perf_counter() - t0)

    return [
        (job_cls, "process_batch", process_batch),
        (trie_stream, "token_prefix_trie", tracer.wrap("substring.token_prefix_trie", trie_stream.token_prefix_trie)),
        (sink_cls, "write_batch", tracer.wrap("sinks.write_batch", sink_cls.write_batch)),
        (sink_cls, "foreach_batch", foreach_batch),
        (sink_cls, "committed_batches", committed_batches),
    ]


class ProgressRecorder(StreamingQueryListener):
    """Keeps every query's progress events (durations and state operators)
    in memory."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append(
            {
                "id": str(p.id),
                "batchId": p.batchId,
                "timestamp": p.timestamp,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs or {}),
                "stateOperators": [
                    {
                        "numRowsTotal": s.numRowsTotal,
                        "numRowsUpdated": s.numRowsUpdated,
                        "memoryUsedBytes": s.memoryUsedBytes,
                        "commitTimeMs": s.commitTimeMs,
                    }
                    for s in (p.stateOperators or [])
                ],
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def event_log_metrics(log_dir: str, t0: float, t1: float, cores: int) -> dict:
    """Engine totals over jobs submitted in [t0, t1] (wall-clock seconds),
    read from the Spark event log."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs = stages = 0
    busy_ms = sched_ms = 0.0
    sh_read = sh_write = spill = 0
    stage_runs: dict[tuple[int, int], list[float]] = {}
    lo, hi = t0 * 1000, t1 * 1000
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and lo <= ev.get("Submission Time", 0) <= hi:
                    jobs += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if lo <= info.get("Submission Time", 0) <= hi:
                        stages += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not lo <= info["Launch Time"] <= hi:
                        continue
                    m = ev.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0)
                    busy_ms += run
                    dur = info["Finish Time"] - info["Launch Time"]
                    sched_ms += max(
                        0,
                        dur
                        - run
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - info.get("Getting Result Time", 0),
                    )
                    rd = m.get("Shuffle Read Metrics") or {}
                    sh_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    sh_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    stage_runs.setdefault(key, []).append(run)
    tasks = sum(len(v) for v in stage_runs.values())
    skews = [
        max(v) / statistics.median(v)
        for v in stage_runs.values()
        if len(v) >= 2 and statistics.median(v) > 0
    ]
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.executor_busy_share": busy_ms / max(1.0, (hi - lo) * cores),
        "spark.scheduler_delay_s": sched_ms / 1000,
        "spark.shuffle_read_bytes": sh_read,
        "spark.shuffle_write_bytes": sh_write,
        "spark.spill_bytes": spill,
        "spark.task_skew_max": max(skews, default=1.0),
    }
