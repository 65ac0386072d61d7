"""cut_lineage seam: reliable checkpoint() when the context has a
checkpoint dir (production), localCheckpoint() otherwise (sandbox).
Dispatch is pinned with a stub frame so the test cannot pollute the
shared SparkContext with a sticky checkpoint dir; the localCheckpoint
path itself runs under every iterative-operator test in the suite."""

from __future__ import annotations

from pathlib import Path
from types import SimpleNamespace

from bucketizers_spark.plans.materialize import cut_lineage


class _StubDF:
    def __init__(self, ckpt_dir):
        self.calls = []
        sc = SimpleNamespace(getCheckpointDir=lambda: ckpt_dir)
        self.sparkSession = SimpleNamespace(sparkContext=sc)

    def checkpoint(self, eager=True):
        self.calls.append(("checkpoint", eager))
        return self

    def localCheckpoint(self, eager=True):
        self.calls.append(("localCheckpoint", eager))
        return self


def test_reliable_when_dir_configured():
    df = _StubDF("hdfs://nn/checkpoints")
    assert cut_lineage(df) is df
    assert df.calls == [("checkpoint", True)]
    df2 = _StubDF("hdfs://nn/checkpoints")
    cut_lineage(df2, eager=False)
    assert df2.calls == [("checkpoint", False)]


def test_local_when_no_dir():
    df = _StubDF(None)
    assert cut_lineage(df) is df
    assert df.calls == [("localCheckpoint", True)]
    df2 = _StubDF(None)
    cut_lineage(df2, eager=False)
    assert df2.calls == [("localCheckpoint", False)]


def test_reliable_checkpoint_path_runs_for_real(tmp_path):
    """The checkpoint() branch executes against a real SparkContext —
    in a SUBPROCESS session, because setCheckpointDir is sticky and
    would otherwise leak into the shared fixture. Runs an actual
    iterative operator (connected_components) under a configured
    checkpoint dir and asserts both the result and that reliable
    checkpoint data landed in the dir. The trie cascade, whose per-level
    counts ride the cut's own job as Observations, must give the same
    assignments and counter table under checkpoint() as under
    localCheckpoint(), on the window, salted and grouped-walk paths."""
    import subprocess
    import sys
    import textwrap

    ckpt = tmp_path / "ckpt"
    repo = str(Path(__file__).resolve().parents[1])
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.sql.execution.arrow.pyspark.enabled", "true")
                 .config("spark.ui.enabled", "false").getOrCreate())
        from bucketizers_spark.operators.substring import token_prefix_trie
        from bucketizers_spark.sources.synthetic import token_stream_df
        tokens = token_stream_df(spark, 600, seed=7)
        paths = [dict(salt_buckets=0, tail_threshold=0),
                 dict(salt_buckets=4, tail_threshold=0), dict()]

        def trie_runs():
            out = []
            for kw in paths:
                res = token_prefix_trie(tokens, "tokens", page_size=10,
                                        max_depth=5,
                                        emit_counter_updates=True, **kw)
                out.append((
                    sorted(tuple(r) for r in
                           res.assignments.select("seq", "bucket_id").collect()),
                    sorted(tuple(r) for r in res.counter_updates.collect()),
                ))
            return out

        local = trie_runs()
        spark.sparkContext.setCheckpointDir({str(ckpt)!r})
        assert trie_runs() == local, "checkpoint() cascade differs"
        from pyspark.sql import functions as F
        from bucketizers_spark.operators.substring import _cut_counted
        keyed = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
        cut, n = _cut_counted(keyed, F.col("k") < 4)
        assert (n, cut.count()) == (4, 10), n
        from bucketizers_spark.operators.graph import connected_components
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
        )
        comps = connected_components(edges)
        got = sorted((r[0], r[1]) for r in comps.collect())
        assert got == [("a", "a"), ("b", "a"), ("c", "a"),
                       ("x", "x"), ("y", "x")], got
        import glob
        files = glob.glob({str(ckpt)!r} + "/*/rdd-*")
        assert files, "no reliable checkpoint data written"
        print("SUBPROCESS_OK", len(files))
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
    )
    assert "SUBPROCESS_OK" in r.stdout, r.stdout + r.stderr
