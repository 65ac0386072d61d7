"""The benchmark's workloads: what each one starts, how it knows a chunk is
committed, and how it checks the committed output against a batch
reference.

A workload is fed chunk files into ``<workdir>/src``; micro-batch ``k`` of
every query reads chunk ``k`` (one file per trigger, in order). A chunk is
committed when every sink of the workload has published its manifest
marker for batch ``k``.
"""

from __future__ import annotations

import os
import threading
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

import gen

# closed loop: the next chunk is staged once the previous one is committed
# by every sink, so a batch's latency never includes queueing behind
# earlier chunks
WINDOW = 1


def read_stream(spark, src: str, schema: str):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )


def manifest_count(sink_root: str) -> int:
    try:
        return sum(1 for f in os.listdir(os.path.join(sink_root, "_manifest")) if f.endswith(".json"))
    except FileNotFoundError:
        return 0


def manifest_time(sink_root: str, batch_id: int) -> float:
    return os.path.getmtime(os.path.join(sink_root, "_manifest", f"{batch_id}.json"))


class Running:
    """Handle on a started workload: its continuous queries by name, plus
    any background loop whose failure must surface."""

    def __init__(self, queries: dict):
        self.queries = queries
        self.on_stop = None
        self.error: BaseException | None = None

    def raise_if_failed(self) -> None:
        if self.error is not None:
            raise RuntimeError("workload loop failed") from self.error
        for name, q in self.queries.items():
            if not q.isActive:
                raise RuntimeError(f"query {name} stopped: {q.exception()}")

    def stop(self) -> None:
        if self.on_stop:
            self.on_stop()
        for q in self.queries.values():
            q.stop()
        if self.error is not None:
            raise RuntimeError("workload loop failed") from self.error


class TrieStream:
    """F1 token stream -> TrieStreamJob (salted token-prefix cascade with
    versioned counters) -> IdempotentParquetSink."""

    name = "trie_stream"
    # The cascade's per-batch job train grows by one level when the hottest
    # token prefix one level deeper passes half a page: for length-4
    # prefixes after 4.3k-6.6k cumulative rows, for length-5 ones after
    # 10.4k-15.9k (24 seeds). Chunk 0, the unmeasured first batch, takes
    # the stream past the first step, so every restart and measured batch
    # runs the same job train (60 jobs) until about 10k rows.
    FIRST_CHUNK_ROWS = 7000
    ROWS_PER_CHUNK = 500
    CHUNKS = 60
    TRIE = dict(page_size=200, max_depth=6, salt_buckets=16, tail_threshold=0)

    def __init__(self, seed: int):
        from bucketizers_spark.sources.synthetic import TOKEN_STREAM_SCHEMA

        self.schema = TOKEN_STREAM_SCHEMA
        pdf, self.props = gen.token_chunks(seed, self.ROWS_PER_CHUNK, self.CHUNKS, self.FIRST_CHUNK_ROWS)
        bounds = [0] + [self.FIRST_CHUNK_ROWS + k * self.ROWS_PER_CHUNK for k in range(self.CHUNKS)]
        self.chunks = [pdf.iloc[a:b] for a, b in zip(bounds, bounds[1:])]

    def chunk_of(self, seq: int) -> int:
        if seq < self.FIRST_CHUNK_ROWS:
            return 0
        return 1 + (seq - self.FIRST_CHUNK_ROWS) // self.ROWS_PER_CHUNK

    def sinks(self, wd: str) -> dict[str, str]:
        root = os.path.join(wd, "sink")
        return {"assignments": root, "relations": os.path.join(root, "_relations")}

    def start(self, spark, wd: str) -> Running:
        from bucketizers_spark.streaming.trie_stream import TrieStreamJob

        job = TrieStreamJob(
            self.sinks(wd)["assignments"], os.path.join(wd, "state"), mode="token", value_col="tokens", **self.TRIE
        )
        q = job.start(read_stream(spark, os.path.join(wd, "src"), self.schema), os.path.join(wd, "ckpt"))
        return Running({"trie": q})

    def check(self, spark, wd: str, n: int) -> tuple[int, set]:
        """(operations attempted, chunks whose output differs from batch
        ``token_prefix_trie`` over the concatenated chunks)."""
        from bucketizers_spark.operators.core import RELATIONS_SCHEMA
        from bucketizers_spark.operators.substring import token_prefix_trie
        from bucketizers_spark.sinks.idempotent import IdempotentParquetSink

        sinks = self.sinks(wd)
        batch = spark.createDataFrame(pd.concat(self.chunks[:n]), self.schema)
        ref = token_prefix_trie(batch, "tokens", **self.TRIE)
        rel_cols = RELATIONS_SCHEMA.fieldNames()
        bad: set[int] = set()

        got = IdempotentParquetSink(sinks["assignments"]).read_all(spark).select("seq", "bucket_id").toPandas()
        want = ref.assignments.select("seq", "bucket_id").toPandas()
        both = want.merge(got, on="seq", how="outer", suffixes=("_want", "_got"))
        diff = both[both["bucket_id_want"] != both["bucket_id_got"]]
        bad |= {self.chunk_of(int(s)) for s in diff["seq"]}

        def rel_rows(df):
            return Counter(
                (r[0], r[1], r[2], tuple(r[3] or ()), r[4], r[5]) for r in df.select(*rel_cols).collect()
            )

        got_rel = rel_rows(IdempotentParquetSink(sinks["relations"]).read_all(spark))
        want_rel = rel_rows(ref.relations)
        for row in (got_rel - want_rel) + (want_rel - got_rel):
            bad.add(self.chunk_of(int(row[5])) if row[5] is not None else -1)
        for p in ref.persisted:
            p.unpersist()
        return n, bad


class DedupStream:
    """A text-document stream through the streaming dedup family:
    minhash candidates and segment counts (keyed state), and test-set
    decontamination (stream-static join), each into an
    IdempotentParquetSink."""

    name = "dedup_stream"
    schema = gen.DOC_SCHEMA
    DOCS_PER_CHUNK = 100
    CHUNKS = 60
    QUERIES = ("minhash", "segment", "decon")

    def __init__(self, seed: int):
        pdf, self.eval_pdf, self.near_pairs, self.props = gen.doc_chunks(seed, self.DOCS_PER_CHUNK, self.CHUNKS)
        self.chunks = [
            pdf.iloc[k * self.DOCS_PER_CHUNK : (k + 1) * self.DOCS_PER_CHUNK]
            for k in range(self.CHUNKS)
        ]

    def sinks(self, wd: str) -> dict[str, str]:
        return {q: os.path.join(wd, "sink", q) for q in self.QUERIES}

    def start(self, spark, wd: str) -> Running:
        from bucketizers_spark.sinks.idempotent import IdempotentParquetSink
        from bucketizers_spark.streaming.decon_stream import benchmark_grams, run_decontaminate_stream
        from bucketizers_spark.streaming.dedup_stream import minhash_candidates_stream, segment_count_stream

        src = os.path.join(wd, "src")
        sinks = self.sinks(wd)
        queries = {}
        for name, op in (("minhash", minhash_candidates_stream), ("segment", segment_count_stream)):
            sink = IdempotentParquetSink(sinks[name])
            queries[name] = (
                op(read_stream(spark, src, self.schema))
                .writeStream.foreachBatch(sink.foreach_batch())
                .option("checkpointLocation", os.path.join(wd, "ckpt", name))
                .start()
            )
        bench = benchmark_grams(spark.createDataFrame(self.eval_pdf, self.schema)).cache()
        bench.count()
        # run_decontaminate_stream drains what is available and returns, so
        # it is re-invoked whenever a chunk is waiting for it; each call
        # resumes from the same checkpoint
        stop = threading.Event()
        handle = Running(queries)

        def decon_loop():
            try:
                while not stop.is_set():
                    if len(os.listdir(src)) > manifest_count(sinks["decon"]):
                        run_decontaminate_stream(
                            read_stream(spark, src, self.schema), bench, sinks["decon"], os.path.join(wd, "ckpt", "decon")
                        )
                    else:
                        stop.wait(0.02)
            except Exception as exc:  # surfaced by raise_if_failed / stop
                handle.error = exc

        thread = threading.Thread(target=decon_loop, name="decon-loop", daemon=True)
        thread.start()

        def stop_loop():
            stop.set()
            thread.join(timeout=120)
            bench.unpersist()

        handle.on_stop = stop_loop
        return handle

    def check(self, spark, wd: str, n: int) -> tuple[int, set]:
        """(operations attempted, chunks whose output differs from the
        batch forms the stream tests compare against)."""
        from bucketizers_spark.entry_queries import _minhash_stacked, _with_shingles
        from bucketizers_spark.functions.ngrams import segment_hashes, word_ngram_hashes
        from bucketizers_spark.sinks.idempotent import IdempotentParquetSink
        from bucketizers_spark.streaming.decon_stream import benchmark_grams

        per = self.DOCS_PER_CHUNK
        sinks = self.sinks(wd)
        docs = spark.createDataFrame(pd.concat(self.chunks[:n]), self.schema)
        bad: set[tuple[str, int]] = set()

        # minhash: candidate pairs == the batch band self-join
        stacked = _minhash_stacked(_with_shingles(docs))
        a, b = stacked.alias("a"), stacked.alias("b")
        want = {
            (r[0], r[1], r[2], r[3])
            for r in a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.band", "a.band_key", F.col("a.doc_id").cast("long"), F.col("b.doc_id").cast("long"))
            .collect()
        }
        got_rows = IdempotentParquetSink(sinks["minhash"]).read_all(spark).select("band", "band_key", "a_id", "b_id").collect()
        got = {(r[0], r[1], *sorted((int(r[2]), int(r[3])))) for r in got_rows}
        for row in got ^ want:
            bad.add(("minhash", row[3] // per))
        self.candidate_pairs = got

        # segment: final per-segment document counts == batch countDistinct
        seg = docs.select("doc_id", F.explode(segment_hashes(F.col("text"), 8)).alias("seg_h"))
        want_seg = {
            r[0]: (r[1], r[2])
            for r in seg.groupBy("seg_h").agg(F.countDistinct("doc_id"), F.max("doc_id")).collect()
        }
        got_seg = {
            r[0]: (r[1], r[2])
            for r in IdempotentParquetSink(sinks["segment"])
            .read_all(spark)
            .groupBy("seg_h")
            .agg(F.max("n_docs"), F.max("doc_id"))
            .collect()
        }
        for h in set(want_seg) | set(got_seg):
            if want_seg.get(h) != got_seg.get(h):
                last = (want_seg.get(h) or got_seg.get(h))[1]
                bad.add(("segment", int(last) // per))

        # decon: per-document distinct overlapping eval grams
        bench = benchmark_grams(spark.createDataFrame(self.eval_pdf, self.schema))
        g = docs.select("doc_id", F.explode(word_ngram_hashes(F.col("text"), 4)).alias("gram_h"))
        want_dc = {
            (r[0], r[1])
            for r in g.join(bench, "gram_h").groupBy("doc_id").agg(F.countDistinct("gram_h")).collect()
        }
        got_dc = {
            (r[0], r[1])
            for r in IdempotentParquetSink(sinks["decon"]).read_all(spark).select("doc_id", "n_hits").collect()
        }
        for doc_id, _ in got_dc ^ want_dc:
            bad.add(("decon", int(doc_id) // per))
        return len(self.QUERIES) * n, bad


WORKLOADS = {w.name: w for w in (TrieStream, DedupStream)}
