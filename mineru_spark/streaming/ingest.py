"""Structured Streaming ingestion (SURVEY.md §2.9 streaming).

The reference is batch with a sliding processing window
(pipeline_analyze.py:207-323); the engine is batch-first with an optional
streaming front door:

    readStream(transcript files/queue)
      → withWatermark("ts", ...)            late-data bound
      → dropDuplicates(conv_id, turn_idx)   exactly-once turn semantics
      → foreachBatch(extract + append)      reuses the batch kernels + sink

``foreachBatch`` gives exactly-once per micro-batch against an idempotent
sink: each micro-batch runs the same lineage anti-join used by the batch
resume path, so replayed batches (after failure) write nothing twice.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernels.classify import OFFICE_SNIFF_RE
from ..pipeline import (TRANSCRIPT_SCHEMA, commit_extracted,
                        extract_finalized, _read_sink)


def read_transcript_stream(spark: SparkSession, in_dir: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    """File-based streaming source with the transcript schema (stand-in for
    a Kafka/queue source; the schema contract is identical)."""
    return (spark.readStream
            .schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(in_dir))


# a tail office run longer than this flushes anyway — bounds side-state
# per conversation (the cross-page merge window; real continuation chains
# are 2-4 tables)
MAX_OPEN_RUN = 64


def _split_open_runs(df: DataFrame,
                     received: DataFrame | None = None
                     ) -> tuple[DataFrame, DataFrame]:
    """(closed_rows, held_rows) over raw transcript rows — GAP-AWARE
    office-run closure (r5 directive #7, replacing the r3/r4 suffix-only
    tail rule whose in-order-arrival assumption let an out-of-order turn
    skip the cross-turn merge).

    Turn indices are dense per conversation (0, 1, 2, …— the transcript
    ordinal), so receipt gaps are observable.  A maximal ADJACENT office
    run [a..b] over the RECEIVED index set (this batch ∪ held state ∪
    committed sink lineage) is CLOSED — safe to extract and commit —
    exactly when both flanks are KNOWN non-office: a == 0 or index a-1
    received with a non-office payload, and index b+1 received
    non-office.  An unreceived neighbor index means a late office turn
    could still extend the run, so every new office row of the run is
    held.  Non-office rows always commit (nothing merges into them).
    Runs longer than MAX_OPEN_RUN commit regardless (bounded state); a
    late row arriving after that forced flush merges only with
    state-resident rows — the documented state bound, now the ONLY
    divergence window.

    INVARIANT this preserves: a committed office run always has known
    non-office flanks, so no late arrival can ever be adjacent to
    already-committed office rows (bar the forced-flush bound above) —
    which is why commit-then-never-revise stays correct for an
    append-only sink.

    ``received``: (conv_id, turn_idx, _office int) of already-committed
    rows (sink lineage); disjoint from ``df`` by construction (the
    caller anti-joins).  JVM-only: the office sniff + window
    expressions, no Python; the held-key frame is micro-batch-tiny and
    broadcast back."""
    from pyspark.sql import Window as W

    cols = df.columns
    flagged = df.withColumn("_office",
                            F.col("text").rlike(OFFICE_SNIFF_RE)
                            .cast("int"))
    narrow = flagged.select("conv_id", "turn_idx", "_office",
                            F.lit(1).alias("_new"))
    if received is not None:
        # only committed rows of conversations present in this batch
        # matter for flank knowledge
        rec = (received
               .join(narrow.select("conv_id").distinct(),
                     "conv_id", "left_semi")
               .select("conv_id", "turn_idx",
                       F.col("_office").cast("int").alias("_office"),
                       F.lit(0).alias("_new")))
        narrow = narrow.unionByName(rec)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    rw = W.partitionBy("conv_id", "_run")
    runs = (
        narrow
        .withColumn("_prev_idx", F.lag("turn_idx").over(w))
        .withColumn("_prev_off", F.lag("_office").over(w))
        .withColumn("_next_idx", F.lead("turn_idx").over(w))
        .withColumn("_next_off", F.lead("_office").over(w))
        # islands of index-ADJACENT same-office-ness rows
        .withColumn("_brk", F.when(
            F.col("_prev_idx").isNull()
            | (F.col("turn_idx") != F.col("_prev_idx") + 1)
            | (F.col("_office") != F.col("_prev_off")), 1).otherwise(0))
        .withColumn("_run", F.sum("_brk").over(
            w.rowsBetween(W.unboundedPreceding, 0)))
        .withColumn("_run_len", F.count("*").over(rw))
        # the run's FIRST row proves the left flank, its LAST row the
        # right flank; max() broadcasts the proof to every run row
        .withColumn("_pred_ok", F.max(F.when(
            (F.col("_brk") == 1)
            & ((F.col("turn_idx") == 0)
               | ((F.col("_prev_idx") == F.col("turn_idx") - 1)
                  & (F.col("_prev_off") == 0))),
            1).otherwise(0)).over(rw))
        .withColumn("_is_last", F.when(
            F.col("_next_idx").isNull()
            | (F.col("_next_idx") != F.col("turn_idx") + 1)
            | (F.col("_next_off") != F.col("_office")), 1).otherwise(0))
        .withColumn("_succ_ok", F.max(F.when(
            (F.col("_is_last") == 1)
            & (F.col("_next_idx") == F.col("turn_idx") + 1)
            & (F.col("_next_off") == 0), 1).otherwise(0)).over(rw))
        .withColumn("_closed",
                    (F.col("_office") == 0)
                    | (F.col("_run_len") > MAX_OPEN_RUN)
                    | ((F.col("_pred_ok") == 1)
                       & (F.col("_succ_ok") == 1))))
    held_keys = runs.filter((~F.col("_closed")) & (F.col("_new") == 1)) \
        .select("conv_id", "turn_idx")
    closed = flagged.join(F.broadcast(held_keys),
                          ["conv_id", "turn_idx"], "left_anti") \
        .select(*cols)
    held = flagged.join(F.broadcast(held_keys),
                        ["conv_id", "turn_idx"], "left_semi") \
        .select(*cols)
    return closed, held


def _drop_committed(spark: SparkSession, df: DataFrame, out_dir: str
                    ) -> tuple[DataFrame, DataFrame | None]:
    """(rows of ``df`` not yet in the sink, committed rows as
    (conv_id, turn_idx, _office)) — the second is None before the first
    commit.  The lineage anti-join makes a replayed micro-batch write
    nothing twice, and it leaves ``df`` disjoint from the committed rows,
    as ``_split_open_runs`` requires."""
    sink = _read_sink(spark, out_dir)
    if sink is None:
        return df, None
    todo = df.join(sink.select("conv_id", "turn_idx"),
                   ["conv_id", "turn_idx"], "left_anti")
    # route == 'office' ⟺ the raw sniff (parity-tested)
    return todo, sink.select(
        "conv_id", "turn_idx",
        (F.col("route") == "office").cast("int").alias("_office"))


def _query_state_dir(out_dir: str, checkpoint_dir: str) -> str:
    """One query's held-tail state dir, ``out_dir/run_state/<key>``.  The
    key is a short hash of the query's checkpoint dir: epoch ids restart
    at 0 per query, so two queries over one sink must not share
    ``epoch=N`` dirs — one would overwrite, then prune, the other's held
    rows."""
    import hashlib

    key = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]
    return os.path.join(out_dir, "run_state", key)


def _state_epochs(state_dir: str) -> list[int]:
    try:
        return [int(d.split("=", 1)[1]) for d in os.listdir(state_dir)
                if d.startswith("epoch=")]
    except FileNotFoundError:
        return []


def _read_run_state(spark: SparkSession, state_dir: str,
                    before_epoch: int) -> DataFrame | None:
    """Open-tail rows of the latest epoch < before_epoch — a REPLAYED
    epoch must read the state that preceded it, never its own partial
    write — or None."""
    epochs = [e for e in _state_epochs(state_dir) if e < before_epoch]
    if not epochs:
        return None
    return spark.read.schema(TRANSCRIPT_SCHEMA) \
        .parquet(os.path.join(state_dir, f"epoch={max(epochs)}"))


def streaming_extract(spark: SparkSession, in_dir: str, out_dir: str,
                      checkpoint_dir: str, watermark: str = "1 hour",
                      max_files_per_trigger: int = 8):
    """Start the streaming extraction job; returns the StreamingQuery.

    Late/duplicate turns inside the watermark are dropped by state;
    cross-restart duplicates are dropped by the sink's lineage anti-join
    (idempotent foreachBatch).

    CROSS-BATCH continuations: each micro-batch holds back every
    conversation's open tail office run (the rows a later batch could
    still merge into) in a raw side-state
    (`out_dir/run_state/<query key>/epoch=N`, one dir per checkpoint, so
    queries sharing a sink never touch each other's state) instead of
    committing them; the next batch unions the held rows with
    its own before the fused ``extract_finalized`` pass, so a
    continuation table whose anchor arrived in an EARLIER trigger merges
    exactly like the batch path.  The sink stays append-only — no row is
    ever revised.  Replay safety: the sink write precedes the state
    write, held rows are never in the sink (the anti-join can't drop
    them), and each epoch overwrites its own state dir, so a replayed
    epoch reproduces the same split.  Call :func:`flush_open_runs` after
    the stream drains (or on a watermark-style timer in a continuous
    deployment) to commit still-open tails.

    OUT-OF-ORDER arrivals are handled (r5 directive #7): run closure is
    gap-aware over the received index set (batch ∪ state ∪ sink
    lineage), so a continuation turn arriving a trigger AFTER its
    successor still merges — the successor was held while the
    intermediate index was unreceived.  The only divergence window left
    is a run force-flushed at MAX_OPEN_RUN (bounded state)."""
    src = (read_transcript_stream(spark, in_dir, max_files_per_trigger)
           .withWatermark("ts", watermark)
           .dropDuplicates(["conv_id", "turn_idx"]))

    state_dir = _query_state_dir(out_dir, checkpoint_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        todo = batch_df
        state = _read_run_state(spark, state_dir, before_epoch=int(epoch_id))
        if state is not None:
            todo = todo.unionByName(state) \
                .dropDuplicates(["conv_id", "turn_idx"])
        todo, received = _drop_committed(spark, todo, out_dir)
        closed, tails = _split_open_runs(todo, received)
        commit_extracted(spark, extract_finalized(closed), out_dir)
        tails.write.mode("overwrite") \
            .parquet(os.path.join(state_dir, f"epoch={int(epoch_id)}"))
        # prune state epochs older than the replay window (previous epoch)
        import shutil
        for e in _state_epochs(state_dir):
            if e < int(epoch_id) - 1:
                shutil.rmtree(os.path.join(state_dir, f"epoch={e}"),
                              ignore_errors=True)

    return (src.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def flush_open_runs(spark: SparkSession, out_dir: str) -> int:
    """Commit all still-open tail runs (stream drained / conversation
    closure): extract+finalize the held raw rows of every query's latest
    epoch, commit them as one run, clear the state.  Returns the number
    of rows flushed."""
    import shutil

    base = os.path.join(out_dir, "run_state")
    latest = []
    for q in (os.listdir(base) if os.path.isdir(base) else []):
        epochs = _state_epochs(os.path.join(base, q))
        if epochs:
            latest.append(os.path.join(base, q, f"epoch={max(epochs)}"))
    if not latest:
        return 0
    # queries over overlapping inputs may hold the same turn
    state = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*latest) \
        .dropDuplicates(["conv_id", "turn_idx"])
    todo, _ = _drop_committed(spark, state, out_dir)
    n = commit_extracted(spark, extract_finalized(todo), out_dir)["turns"]
    shutil.rmtree(base, ignore_errors=True)
    return n


def windowed_route_counts(spark: SparkSession, in_dir: str, out_dir: str,
                          checkpoint_dir: str, window: str = "10 minutes",
                          watermark: str = "30 minutes"):
    """Watermarked windowed aggregation over the live stream: per
    event-time window × parse route, count turns and payload bytes.

    The watermark bounds state: a row later than `watermark` behind the
    max seen ts is dropped instead of reopening its window — the
    late-data contract for a 10^12-turn stream where windows must close.
    Append output mode emits each window exactly once, when the watermark
    passes its end (checkpointable, replayable).
    """
    from ..pipeline import classify_routes

    src = classify_routes(read_transcript_stream(spark, in_dir))
    agg = (src.withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"), "parse_route")
           .agg(F.count("*").alias("n_turns"),
                F.sum(F.length("text")).alias("payload_bytes"))
           .select(F.col("w.start").alias("w_start"),
                   F.col("w.end").alias("w_end"),
                   "parse_route", "n_turns", "payload_bytes"))
    return (agg.writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


# ---------------------------------------------------------------------------
# Custom stateful operator (task brief: applyInPandasWithState)
# ---------------------------------------------------------------------------

def conv_progress_stream(spark: SparkSession, in_dir: str, out_dir: str,
                         checkpoint_dir: str):
    """Per-conversation streaming progress tracker: arbitrary keyed state
    via applyInPandasWithState.  State per conv_id = (turns_seen,
    max_turn_idx); each micro-batch emits the updated totals for the convs
    it touched — the streaming analog of the reference's per-doc
    on_doc_ready completion callback (cli/common.py:402-422).

    Returns the StreamingQuery appending progress rows to ``out_dir``
    (latest row per conv_id = current progress; the memory sink cannot
    recover from a checkpoint, so the sink is a parquet foreachBatch)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdf_iter, state: GroupState):
        turns = 0
        max_idx = -1
        if state.exists:
            turns, max_idx = state.get
        for pdf in pdf_iter:
            turns += len(pdf)
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((turns, max_idx))
        yield pd.DataFrame({"conv_id": [key[0]],
                            "turns_seen": [turns],
                            "max_turn_idx": [max_idx]})

    src = read_transcript_stream(spark, in_dir).select("conv_id", "turn_idx")
    out = (src.groupBy("conv_id")
           .applyInPandasWithState(
               track,
               outputStructType="conv_id string, turns_seen long, "
                                "max_turn_idx long",
               stateStructType="turns long, max_idx long",
               outputMode="update",
               timeoutConf=GroupStateTimeout.NoTimeout))
    def sink(batch_df, epoch_id):
        batch_df.withColumn("epoch", F.lit(int(epoch_id))) \
            .write.mode("append").parquet(out_dir)

    return (out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def streaming_dedup_stream(spark: SparkSession, in_dir: str, out_dir: str,
                           checkpoint_dir: str):
    """Streaming EXACT DEDUP with keyed state: the training-data dedup
    primitive run online — each arriving turn is kept iff its content
    hash was never seen in any earlier micro-batch.

    Scale shape (r6, replacing the 256-shard seen-hash arrays the r5
    review flagged as a scale-killer): state is keyed by the CONTENT
    HASH itself — the standard dropDuplicates-with-state layout — so
    every state row is one constant-size record per distinct hash
    (never rewritten, never growing), parallelism scales with the key
    space instead of capping at 256 shards, and the state store's
    per-key point lookups are exactly what RocksDB is built for.  At
    production scale a TTL watermark bounds total state cardinality
    (SCALE.md §5); the first-seen winner is ARRIVAL order — replaying
    from a checkpoint reproduces it because micro-batch composition is
    checkpointed.

    Emits (conv_id, turn_idx, content_hash, is_first) per input row;
    downstream keeps is_first rows (the corpus-rewrite analog of
    q_exact_dedup / q_para_dedup's keep-first rule)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def dedup(key, pdf_iter, state: GroupState):
        # key = (content_hash,); state = one constant-size row marking
        # "seen in an earlier batch" — O(1) regardless of corpus size
        h = key[0]
        seen_before = state.exists
        first_emitted = False
        out_rows = {"conv_id": [], "turn_idx": [], "content_hash": [],
                    "is_first": []}
        for pdf in pdf_iter:
            # arrival order within the batch decides intra-batch winners
            for cid, tix in zip(pdf["conv_id"], pdf["turn_idx"]):
                first = not seen_before and not first_emitted
                if first:
                    first_emitted = True
                out_rows["conv_id"].append(cid)
                out_rows["turn_idx"].append(int(tix))
                out_rows["content_hash"].append(h)
                out_rows["is_first"].append(first)
        if not seen_before:
            state.update((True,))
        yield pd.DataFrame(out_rows)

    src = (read_transcript_stream(spark, in_dir)
           .select("conv_id", "turn_idx",
                   F.md5(F.col("text")).alias("h")))
    out = (src.groupBy("h")
           .applyInPandasWithState(
               dedup,
               outputStructType="conv_id string, turn_idx long, "
                                "content_hash string, is_first boolean",
               stateStructType="seen boolean",
               outputMode="append",
               timeoutConf=GroupStateTimeout.NoTimeout))

    def sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out_dir)

    return (out.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
