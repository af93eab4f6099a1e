"""The workloads.  Each ``rep`` runs one timed job on a fresh sink inside
``clock`` and then checks its output untimed.

- ``Extract``: ``pipeline.run_job`` over a corpus into a fresh parquet
  sink; ``extract_mixed`` and ``extract_short`` differ only in their
  corpus.
- ``QueryPack`` (traced runs only): the ten JVM-side leaves of the frozen
  bench into the noop sink, over the sf tables in ``perfbench/data``.
  Results are checked against the DuckDB oracles on the warm rep, which
  collects them instead of dropping them.  Its ten short queries wait on
  their slowest task, so a pack rep moved with the host's CPU steal: ten
  seeds spread 0.29-0.32 (IQR / median), over any bound allowed.
- ``StreamLight`` (traced runs only): ``streaming_extract`` (availableNow,
  one file per trigger) over the backlog, then ``flush_open_runs``; a
  closed loop, since the code has no rate trigger.  Its drains cost ~5 s
  per micro-batch whatever the batch holds (4 cores), too slow for the
  run budget of a steady end-to-end workload.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from . import verify

QUERY_LEAVES = ["q01_pricing_summary", "q05_nation_revenue",
                "q_sessionize_events", "q_asof_prior_view",
                "q_window_top_order_per_cust", "q_minhash_lsh_buckets",
                "q_simhash", "q_jaccard_pairs", "q_embed_cosine_topk",
                "x_docwrap_roundtrip"]

# the tables the leaves read
TABLES = ["region", "nation", "customer", "orders", "lineitem", "events",
          "documents", "embeddings"]


@dataclass
class Rep:
    job_s: float
    turns: int
    attempted: int
    failed: int
    detail: dict = field(default_factory=dict)


def _fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


class Extract:
    # the first rep after a single warm one still ran 10-20% slower than the
    # next: the JVM and the Python workers were still warming up
    warm_reps = 2

    def __init__(self, name: str, corpus, scratch: Path):
        self.name, self.corpus, self.scratch = name, corpus, scratch

    def rep(self, spark, clock, keep_sink=False) -> Rep:
        from mineru_spark.pipeline import run_job

        sink = _fresh(self.scratch / "sink")
        with clock:
            run_job(spark, spark.read.parquet(str(self.corpus.parquet)),
                    str(sink))
        fails = verify.sink_failures(verify.read_sink(sink / "extracted"),
                                     self.corpus.expected)
        if not keep_sink:
            shutil.rmtree(sink)
        return Rep(clock.elapsed, self.corpus.turns, self.corpus.turns,
                   fails["failed"], fails)

    warm = rep


class StreamLight:
    name = "stream_light"

    def __init__(self, corpus, scratch: Path, timeout_s: float = 150):
        import pyarrow.parquet as pq

        self.corpus, self.scratch = corpus, scratch
        self.timeout_s = timeout_s
        warm = pq.read_table(corpus.stream_warm,
                             columns=["conv_id", "turn_idx"]).to_pylist()
        self.expected = {k: corpus.expected[k] for k in corpus.stream_keys}
        self.warm_expected = {k: corpus.expected[k] for k in
                              ((r["conv_id"], r["turn_idx"]) for r in warm)}

    def _drain(self, spark, backlog: Path, clock):
        from mineru_spark.streaming.ingest import (flush_open_runs,
                                                   streaming_extract)

        out = _fresh(self.scratch / "stream_out")
        ckpt = self.scratch / "stream_ckpt"
        shutil.rmtree(ckpt, ignore_errors=True)
        with clock:
            q = streaming_extract(spark, str(backlog), str(out), str(ckpt),
                                  max_files_per_trigger=1)
            if not q.awaitTermination(self.timeout_s):
                q.stop()
                raise RuntimeError("streaming query did not drain")
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
            t_flush = time.perf_counter()
            flushed = flush_open_runs(spark, str(out))
            t_flush = time.perf_counter() - t_flush
        progress = [p["durationMs"] for p in q.recentProgress]
        return out, ckpt, progress, flushed, t_flush

    def rep(self, spark, clock, warm: bool = False) -> Rep:
        backlog = self.corpus.stream_warm if warm else self.corpus.stream_in
        expected = self.warm_expected if warm else self.expected
        out, ckpt, progress, flushed, t_flush = self._drain(
            spark, backlog, clock)
        rows = verify.read_sink(out / "extracted")
        fails = verify.sink_failures(rows, expected)
        # the streamed row count must equal the input turn count: a turn
        # the watermark dropped would otherwise read as a speed-up
        fails["rows_out"] = len(rows)
        fails["rows_in"] = len(expected)
        fails["flush_s"], fails["flush_rows"] = t_flush, flushed
        fails["progress"] = progress
        shutil.rmtree(out)
        shutil.rmtree(ckpt)
        return Rep(clock.elapsed, len(expected), len(expected),
                   fails["failed"], fails)

    def warm(self, spark, clock) -> Rep:
        """A one-file drain: warms the streaming path at a fraction of the
        timed drain's cost."""
        return self.rep(spark, clock, warm=True)


class QueryPack:
    def __init__(self, tables: Path):
        self.tables = tables
        self.expected = duckdb_expected(tables)

    def _queries(self):
        import __spark_entry__ as entry
        qs = entry.queries()
        return {n: qs[n] for n in QUERY_LEAVES}

    def rep(self, spark, clock) -> Rep:
        leaf_s = {}
        with clock:
            for name, fn in self._queries().items():
                t0 = time.perf_counter()
                fn(spark, str(self.tables)).write.format("noop") \
                    .mode("overwrite").save()
                leaf_s[name] = time.perf_counter() - t0
        # checked on the warm rep only: a noop write has no result to check
        return Rep(clock.elapsed, 0, 0, 0, {"leaf_s": leaf_s})

    def warm(self, spark, clock) -> Rep:
        """Collect every leaf and compare it with its DuckDB oracle."""
        failed = []
        with clock:
            for name, fn in self._queries().items():
                # through Arrow: toPandas converts row by row here and
                # takes a third longer
                got = fn(spark, str(self.tables)).toArrow().to_pandas()
                if not verify.query_matches(got, self.expected[name]):
                    failed.append(name)
        return Rep(clock.elapsed, 0, len(QUERY_LEAVES), len(failed),
                   {"mismatched": failed})


def duckdb_expected(tables: Path) -> dict:
    """Each leaf's ``ORACLES`` SQL run by DuckDB over the same tables."""
    import duckdb
    from mineru_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.sql("SET threads TO 2")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables / (t + '.parquet')}')")
        return {n: con.sql(ORACLES[n]).df() for n in QUERY_LEAVES}
    finally:
        con.close()
