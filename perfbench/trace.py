"""The traced run: per-layer numbers, taken from outside the program.

It times calls into each module's public functions on the same inputs,
reads ``StreamingQuery.recentProgress`` and the sink's run-state dir, and
reduces the Spark event log (switched on only for this run).  A traced
run of either workload measures every layer, so that each metric is a
measurement: the pipeline and kernel layers on the workload's corpus, the
streaming ingest layer on its backlog, and each query leaf on the sf
tables.  ``trace.job_s`` is the traced workload's own job time; less the
untraced ``job_s`` of the same seed, it is the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

from . import session
from .workloads import QUERY_LEAVES

ROUTES = ["html", "pdf_txt", "pdf_ocr", "office", "pptx", "docx", "xlsx",
          "plain", "empty"]

# name -> unit, in BENCHMARK.json order
PER_LAYER: dict[str, str] = {
    "pipeline.scan_s": "s", "pipeline.transfer_s": "s",
    "pipeline.extract_s": "s", "pipeline.finalize_s": "s",
    "pipeline.office_run_rows": "rows", "pipeline.sink_s": "s",
    "pipeline.sink_bytes": "bytes", "pipeline.sink_files": "files",
    "pipeline.task_p50_s": "s", "pipeline.task_p95_s": "s",
    "pipeline.task_max_s": "s", "pipeline.cpu_busy": "share",
    "pipeline.shuffle_bytes": "bytes", "pipeline.spill_bytes": "bytes",
    "pipeline.parallel_eff": "share",
    **{f"kernels.{r}.{m}": u for r in ROUTES
       for m, u in (("ms_per_turn", "ms"), ("turns", "turns"))},
    "kernels.finalize_ms_per_run": "ms",
    "ingest.epoch_p50_s": "s", "ingest.epoch_tail_s": "s",
    "ingest.add_batch_s": "s", "ingest.engine_s": "s",
    "ingest.epoch_growth_s": "s", "ingest.held_rows": "rows",
    "ingest.state_bytes": "bytes", "ingest.flush_s": "s",
    "ingest.flush_rows": "rows",
    **{f"queries.{q}_s": "s" for q in QUERY_LEAVES},
    "cache.live_frames": "count",
    "trace.job_s": "s",
}

LAYER_REPS = 1
STREAM_DRAINS = 1
KERNEL_SAMPLE_EVERY = 4
EXTRACTION_TAG = "perfbench:extract_finalized"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, tag: str, fn, reps: int = 1) -> float:
    """Median wall time of ``fn``; its Spark jobs carry ``tag`` as their
    description, which the event-log reduction keys on."""
    sc = spark.sparkContext
    sc.setJobDescription(tag)
    try:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
    finally:
        sc.setJobDescription(None)
    return statistics.median(times)


def live_frames(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def _dir_stats(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return len([p for p in files if p.suffix == ".parquet"]), \
        sum(p.stat().st_size for p in files)


def _office_runs(turns: list[dict]) -> list[list[dict]]:
    """Maximal runs of >= 2 index-adjacent office turns per conversation:
    the units ``finalize_conv`` can merge."""
    from mineru_spark.kernels.classify import classify_payload

    runs, cur = [], []
    for t in turns:
        office = classify_payload(t["text"], t["tool"]) == "office"
        if office and cur and cur[-1]["conv_id"] == t["conv_id"] \
                and cur[-1]["turn_idx"] + 1 == t["turn_idx"]:
            cur.append(t)
            continue
        if len(cur) >= 2:
            runs.append(cur)
        cur = [t] if office else []
    if len(cur) >= 2:
        runs.append(cur)
    return runs


def kernel_layers(corpus) -> dict:
    """Direct single-process kernel calls: per-route ms/turn on every
    KERNEL_SAMPLE_EVERY-th turn, ``finalize_conv`` per office run."""
    import pyarrow.dataset as ds
    from mineru_spark.kernels.oracle import extract_turn, finalize_conv

    turns = sorted(ds.dataset(corpus.parquet).to_table(
        columns=["conv_id", "turn_idx", "text", "tool"]).to_pylist(),
        key=lambda t: (t["conv_id"], t["turn_idx"]))
    per_route: dict[str, list[float]] = {r: [] for r in ROUTES}
    for t in turns[::KERNEL_SAMPLE_EVERY]:
        t0 = time.perf_counter()
        r = extract_turn(t["text"], t["tool"])
        per_route.setdefault(r["route"], []).append(time.perf_counter() - t0)
    out = {}
    for r in ROUTES:
        v = per_route[r]
        out[f"kernels.{r}.ms_per_turn"] = 1e3 * sum(v) / len(v) if v else 0.0
        out[f"kernels.{r}.turns"] = len(v)
    runs = _office_runs(turns)
    fin = []
    for run in runs:
        outs = []
        for t in run:
            o = extract_turn(t["text"], t["tool"])
            o["turn_idx"] = t["turn_idx"]
            outs.append(o)
        t0 = time.perf_counter()
        finalize_conv(outs)
        fin.append(time.perf_counter() - t0)
    out["kernels.finalize_ms_per_run"] = 1e3 * statistics.mean(fin) \
        if fin else 0.0
    out["pipeline.office_run_rows"] = sum(len(r) for r in runs)
    sampled = [x for v in per_route.values() for x in v]
    out["_sample_tps"] = len(sampled) / sum(sampled)
    return out


def pipeline_layers(spark, wl, run_job_s: float) -> dict:
    """Each layer of the flagship path as its own noop job on the corpus;
    differences between nested jobs give finalize and sink."""
    from mineru_spark import cache
    from mineru_spark.pipeline import extract, extract_finalized

    def src():
        return spark.read.parquet(str(wl.corpus.parquet))

    def drop(batches):  # transfer only: Arrow batches in, nothing out
        for _ in batches:
            pass
        yield from ()

    n = session.nproc()
    out = {"pipeline.scan_s": _timed(
        spark, "perfbench:scan", lambda: _noop(src().select("text")))}
    out["pipeline.transfer_s"] = _timed(
        spark, "perfbench:transfer",
        lambda: _noop(src().select("conv_id", "turn_idx", "ts", "text",
                                   "tool")
                      .mapInPandas(drop, "conv_id string")))
    out["pipeline.extract_s"] = _timed(
        spark, "perfbench:extract", lambda: _noop(extract(src())))
    cpu0, t0 = session.tree_cpu_s(), time.perf_counter()
    ef = _timed(spark, EXTRACTION_TAG,
                lambda: _noop(extract_finalized(src())))
    # /proc, not the event log: executor CPU time there counts JVM threads
    # only, and the kernels run in the Python workers
    out["pipeline.cpu_busy"] = (session.tree_cpu_s() - cpu0) \
        / (n * (time.perf_counter() - t0))
    cache.release("extract_keys")
    out["pipeline.finalize_s"] = ef - out["pipeline.extract_s"]
    out["pipeline.sink_s"] = run_job_s - ef
    out["_extract_finalized_s"] = ef
    return out


def sink_layers(spark, wl) -> tuple:
    from .session import Clock
    rep = wl.rep(spark, Clock(), keep_sink=True)
    files, size = _dir_stats(wl.scratch / "sink" / "extracted")
    import shutil
    shutil.rmtree(wl.scratch / "sink")
    return rep, {"pipeline.sink_files": files, "pipeline.sink_bytes": size}


def reduce_event_log(log_dir: Path, tag: str) -> dict:
    """Task-duration quantiles, shuffle and spill bytes over the stages of
    the jobs described ``tag``."""
    stages, tasks = set(), []
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()
                    and not p.name.startswith((".", "appstatus"))):
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    if props.get("spark.job.description") == tag:
                        stages.update(e["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
    mine = [t for t in tasks if t["Stage ID"] in stages]
    if not mine:
        raise RuntimeError(f"no tasks of jobs {tag!r} in the event log")
    dur = [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"])
           / 1e3 for t in mine]
    m = [t.get("Task Metrics") or {} for t in mine]
    shuffle = sum((x.get("Shuffle Write Metrics") or {})
                  .get("Shuffle Bytes Written", 0) for x in m)
    spill = sum(x.get("Memory Bytes Spilled", 0)
                + x.get("Disk Bytes Spilled", 0) for x in m)
    q = statistics.quantiles(dur, n=100, method="inclusive") \
        if len(dur) > 1 else [dur[0]] * 99
    return {"pipeline.task_p50_s": q[49], "pipeline.task_p95_s": q[94],
            "pipeline.task_max_s": max(dur),
            "pipeline.shuffle_bytes": shuffle,
            "pipeline.spill_bytes": spill}


class _StateProbe:
    """Reads the run-state dir of each finished micro-batch: the rows a
    batch holds back for a later one, and their bytes."""

    def __init__(self, out_dir: Path):
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                probe.sample(event.progress.batchId)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.out_dir, self.samples = out_dir, []
        self.listener = Listener()

    def sample(self, batch_id: int) -> None:
        import pyarrow.parquet as pq
        d = self.out_dir / "run_state" / f"epoch={batch_id}"
        try:
            files = list(d.glob("*.parquet"))
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            size = sum(f.stat().st_size for f in d.iterdir())
        except OSError:
            return
        self.samples.append((rows, size))


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest of p50/p75/p90/p95/p99 that has
    at least ten samples beyond it.  Fewer than 20 samples leave none, and
    then the largest sample is the tail (reported as percentile 100)."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return statistics.quantiles(values, n=100,
                                        method="inclusive")[p - 1], p
    return max(values), 100.0


def ingest_layers(spark, corpus, scratch: Path) -> tuple[dict, dict, list]:
    """Drain the corpus' streaming backlog: one warm drain, then
    STREAM_DRAINS drains whose micro-batches give the epoch numbers."""
    from .session import Clock
    from .workloads import StreamLight

    stream = StreamLight(corpus, scratch)
    warm = stream.warm(spark, Clock())
    probe = _StateProbe(scratch / "stream_out")
    spark.streams.addListener(probe.listener)
    try:
        reps = [stream.rep(spark, Clock()) for _ in range(STREAM_DRAINS)]
    finally:
        spark.streams.removeListener(probe.listener)
    prog = [r.detail["progress"] for r in reps]
    epochs = [d["triggerExecution"] / 1e3 for p in prog for d in p]
    add = [d["addBatch"] / 1e3 for p in prog for d in p if "addBatch" in d]
    eng = [(d["triggerExecution"] - d.get("addBatch", 0)) / 1e3
           for p in prog for d in p]
    xs = [float(i) for p in prog for i in range(len(p))]
    growth = statistics.linear_regression(xs, epochs).slope \
        if len(set(xs)) > 1 else 0.0
    epoch_tail, pct = tail(epochs)
    out = {"ingest.epoch_p50_s": statistics.median(epochs),
           "ingest.epoch_tail_s": epoch_tail,
           "ingest.add_batch_s": statistics.median(add) if add else 0.0,
           "ingest.engine_s": statistics.median(eng),
           "ingest.epoch_growth_s": growth,
           "ingest.held_rows": max((s[0] for s in probe.samples), default=0),
           "ingest.state_bytes": max((s[1] for s in probe.samples),
                                     default=0),
           "ingest.flush_s": statistics.median(
               r.detail["flush_s"] for r in reps),
           "ingest.flush_rows": statistics.median(
               r.detail["flush_rows"] for r in reps)}
    return out, {"epochs": len(epochs), "epoch_tail_percentile": pct}, \
        [warm, *reps]


def measure(spark, wl, corpus, pack, scratch: Path, event_log: Path,
            timed_reps) -> tuple[dict, dict, list]:
    """Every per-layer metric.  ``timed_reps(n)`` runs n timed reps of the
    workload ``wl`` itself (the traced job_s); ``wl`` is warm, the query
    pack is warmed here.  Returns the metrics, a detail dict and every
    checked rep.  Stops the session: the event log is complete only
    then."""
    from .session import Clock

    reps = timed_reps(LAYER_REPS)
    out = {"trace.job_s": statistics.median(r.job_s for r in reps)}
    checked = list(reps)

    rep, sink = sink_layers(spark, wl)
    checked.append(rep)
    out.update(sink)
    out.update(pipeline_layers(
        spark, wl, statistics.median([*(r.job_s for r in reps), rep.job_s])))

    checked.append(pack.warm(spark, Clock()))
    leaf_s = pack.rep(spark, Clock()).detail["leaf_s"]
    for q in QUERY_LEAVES:
        out[f"queries.{q}_s"] = leaf_s[q]

    ingest, detail, stream_reps = ingest_layers(spark, corpus, scratch)
    out.update(ingest)
    checked += stream_reps
    out["cache.live_frames"] = live_frames(spark)
    spark.stop()

    out.update(kernel_layers(corpus))
    out["pipeline.parallel_eff"] = (
        corpus.turns / out.pop("_extract_finalized_s")) \
        / (session.nproc() * out.pop("_sample_tps"))
    out.update(reduce_event_log(event_log, EXTRACTION_TAG))
    return out, detail, checked
