"""Streaming ingestion: duplicates dropped, outputs equal the batch path,
restart-with-replay writes nothing twice."""

import os

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def stream_dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}


def _await(q, timeout=600):
    # availableNow queries self-terminate; the box is multi-tenant, so a
    # tight fixed wait flakes under ambient load — wait long and ASSERT
    # the query really finished (a silent partial drain corrupts the
    # equality checks below with a misleading count diff)
    assert q.awaitTermination(timeout), "streaming query did not drain"


def test_streaming_extract_matches_batch(spark, stream_dirs):
    """Streaming output equals the batch path per turn EVEN when a
    conversation's turns straddle triggers: open tail office runs are
    held in side-state and merge with the next batch's rows (cross-batch
    continuation), then flush_open_runs commits the remainder."""
    from mineru_spark.pipeline import synthesize_transcripts
    from mineru_spark.streaming.ingest import flush_open_runs, streaming_extract

    from datetime import datetime

    from mineru_spark.pipeline import TRANSCRIPT_SCHEMA

    # a handcrafted conversation whose office continuation RUN straddles
    # the file boundary: anchor + one continuation in file 1, two more
    # continuations in file 2 — only the cross-batch state path can merge
    # them the way the batch path does
    hdr = "<tr><th>k</th><th>v</th></tr>"
    row = "<tr><td>r{0}</td><td>x{0}</td></tr>"
    # continuation turns 1 and 3 carry LEADING WHITESPACE before <table>
    # — the streaming _split_open_runs sniff must still hold them back
    # and merge across the trigger (r4 directive #1, streaming half)
    ws = {1: "\n\t", 3: " " * 1200}
    straddle = [
        ("zz-straddle", i, "tool",
         ws.get(i, "")
         + f"<table>{hdr if i == 0 else ''}{row.format(i)}</table>",
         "file_reader", datetime(2025, 1, 1, 0, 0, i))
        for i in range(4)
    ]
    extra = spark.createDataFrame(straddle, schema=TRANSCRIPT_SCHEMA)

    base = synthesize_transcripts(spark, 20)
    src = base.unionByName(extra)
    # two input files, the second replays half of the first (duplicates);
    # conversations deliberately STRADDLE the file boundary (first file
    # holds each conv's turns 0..2, the second the rest) so cross-batch
    # continuation merges are exercised, not avoided
    src.filter(F.col("turn_idx") <= 1).coalesce(1) \
        .write.mode("overwrite").parquet(stream_dirs["in"])
    src.filter((F.col("turn_idx") >= 1)
               | (F.col("conv_id") >= "conv-00000006")).coalesce(1) \
        .write.mode("append").parquet(stream_dirs["in"])

    q = streaming_extract(spark, stream_dirs["in"], stream_dirs["out"],
                          stream_dirs["ckpt"], max_files_per_trigger=1)
    _await(q)
    flush_open_runs(spark, stream_dirs["out"])

    got = spark.read.parquet(os.path.join(stream_dirs["out"], "extracted"))
    n_src = src.count()
    assert got.count() == n_src  # duplicates dropped exactly once
    assert got.select("conv_id", "turn_idx").distinct().count() == n_src

    # per-turn equality with the batch path over the WHOLE corpus —
    # including continuation merges whose anchor arrived a trigger
    # earlier than the continuation
    from mineru_spark.pipeline import extract_finalized
    batch = extract_finalized(src).select("conv_id", "turn_idx",
                                          F.col("md").alias("md_b"))
    joined = got.join(batch, ["conv_id", "turn_idx"])
    assert joined.filter(F.col("md") != F.col("md_b")).count() == 0

    # the straddling run really merged across triggers: the anchor turn
    # absorbed all 3 continuations (its table holds rows r0..r3) and the
    # continuation turns were emptied — identical to the batch path
    zz = {r["turn_idx"]: r for r in
          got.filter(F.col("conv_id") == "zz-straddle").collect()}
    assert zz[0]["tables_merged"] == 3
    for i in range(4):
        assert f"<td>r{i}</td>" in zz[0]["md"]
    assert zz[1]["md"] == "" and zz[3]["md"] == ""

    # restart with a new checkpoint (full replay) → idempotent sink
    q2 = streaming_extract(spark, stream_dirs["in"], stream_dirs["out"],
                           stream_dirs["ckpt"] + "_2")
    _await(q2)
    flush_open_runs(spark, stream_dirs["out"])
    assert spark.read.parquet(
        os.path.join(stream_dirs["out"], "extracted")).count() == n_src


def test_stateful_conv_progress(spark, tmp_path):
    """applyInPandasWithState keyed state survives across micro-batch runs
    through the checkpoint: totals accumulate, not reset."""
    from pyspark.sql import functions as F
    from mineru_spark.pipeline import synthesize_transcripts
    from mineru_spark.streaming.ingest import conv_progress_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "prog")
    ckpt = str(tmp_path / "ckpt")
    src = synthesize_transcripts(spark, 10)
    first = src.filter(F.col("turn_idx") < 2)
    rest = src.filter(F.col("turn_idx") >= 2)
    first.write.parquet(in_dir)

    q = conv_progress_stream(spark, in_dir, out_dir, ckpt)
    _await(q)
    got1 = spark.read.parquet(out_dir).toPandas() \
        .sort_values(["conv_id", "turns_seen"]).groupby("conv_id").last()
    exp1 = first.groupBy("conv_id").count().toPandas().set_index("conv_id")
    assert all(got1.loc[c].turns_seen == exp1.loc[c]["count"]
               for c in exp1.index)

    # second tranche through the SAME checkpoint: state must ACCUMULATE
    rest.write.mode("append").parquet(in_dir)
    q2 = conv_progress_stream(spark, in_dir, out_dir, ckpt)
    _await(q2)
    got2 = spark.read.parquet(out_dir).toPandas() \
        .sort_values(["conv_id", "turns_seen"]).groupby("conv_id").last()
    total = src.groupBy("conv_id").count().toPandas().set_index("conv_id")
    touched = rest.select("conv_id").distinct().toPandas()["conv_id"]
    for c in touched:
        assert got2.loc[c].turns_seen == total.loc[c]["count"], c


def test_windowed_route_counts_watermark(spark, tmp_path):
    """Watermarked event-time windows: counts match the batch groupBy over
    the same windows; a too-late row (beyond the watermark of a CLOSED
    window) is dropped on a later trigger."""
    from pyspark.sql import functions as F
    from mineru_spark.pipeline import synthesize_transcripts, classify_routes
    from mineru_spark.streaming.ingest import windowed_route_counts

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "win")
    ckpt = str(tmp_path / "ckpt")
    src = synthesize_transcripts(spark, 12)
    src.coalesce(1).write.parquet(in_dir)

    q = windowed_route_counts(spark, in_dir, out_dir, ckpt,
                              window="10 minutes", watermark="30 minutes")
    _await(q)
    got = spark.read.parquet(out_dir)
    exp = (classify_routes(src)
           .groupBy(F.window("ts", "10 minutes").alias("w"), "parse_route")
           .agg(F.count("*").alias("n_turns")))
    # append mode emits only windows the watermark closed; every emitted
    # window must match the batch answer exactly
    j = got.join(exp.select(F.col("w.start").alias("w_start"),
                            "parse_route",
                            F.col("n_turns").alias("n_exp")),
                 ["w_start", "parse_route"], "left")
    bad = j.filter((F.col("n_exp").isNull())
                   | (F.col("n_turns") != F.col("n_exp"))).count()
    assert bad == 0 and got.count() > 0

    # feed a row 10 years late: its window is long closed -> dropped
    late = src.limit(1).withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 3650 DAYS"))
    late.coalesce(1).write.mode("append").parquet(in_dir)
    q2 = windowed_route_counts(spark, in_dir, out_dir, ckpt,
                               window="10 minutes", watermark="30 minutes")
    _await(q2)
    got2 = spark.read.parquet(out_dir)
    assert got2.filter(F.col("w_start") < "2020-01-01").count() == 0


def test_streaming_out_of_order_continuation_matches_batch(spark, tmp_path):
    """r5 directive #7: a continuation turn delivered one trigger AFTER
    its successor still merges into its anchor.  Conv 'zz-late' has an
    office run [0,1,2] closed by non-office turn 3; file 1 delivers
    turns 0, 2, 3 (turn 1 missing), file 2 delivers the late turn 1.
    Gap-aware closure must hold 0 AND 2 in batch one (their shared
    neighbor index 1 is unreceived) and merge the full run in batch two
    — byte-identical to the batch path.  The suffix-only r4 rule
    committed 0 and 2 unmerged in batch one."""
    from datetime import datetime

    from mineru_spark.pipeline import (TRANSCRIPT_SCHEMA,
                                       extract_finalized)
    from mineru_spark.streaming.ingest import (flush_open_runs,
                                               streaming_extract)

    dirs = {k: str(tmp_path / k) for k in ("in", "out", "ckpt")}
    hdr = "<tr><th>k</th><th>v</th></tr>"
    row = "<tr><td>r{0}</td><td>x{0}</td></tr>"
    def turn(i, office=True):
        text = f"<table>{hdr if i == 0 else ''}{row.format(i)}</table>" \
            if office else "plain closing text"
        return ("zz-late", i, "tool", text, "file_reader",
                datetime(2025, 1, 1, 0, 0, i))
    rows = [turn(0), turn(1), turn(2), turn(3, office=False)]
    src = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)

    # file 1: everything EXCEPT the late turn 1; file 2: turn 1 only
    src.filter(F.col("turn_idx") != 1).coalesce(1) \
        .write.mode("overwrite").parquet(dirs["in"])
    src.filter(F.col("turn_idx") == 1).coalesce(1) \
        .write.mode("append").parquet(dirs["in"])

    q = streaming_extract(spark, dirs["in"], dirs["out"], dirs["ckpt"],
                          max_files_per_trigger=1)
    _await(q)
    flush_open_runs(spark, dirs["out"])

    got = spark.read.parquet(os.path.join(dirs["out"], "extracted"))
    assert got.count() == 4
    batch = extract_finalized(src).select(
        "conv_id", "turn_idx", F.col("md").alias("md_b"),
        F.col("tables_merged").alias("tm_b"))
    joined = got.join(batch, ["conv_id", "turn_idx"])
    assert joined.filter(F.col("md") != F.col("md_b")).count() == 0
    zz = {r["turn_idx"]: r for r in got.collect()}
    # the anchor absorbed BOTH continuations, incl. the late one
    assert zz[0]["tables_merged"] == 2
    for i in range(3):
        assert f"<td>r{i}</td>" in zz[0]["md"]
    assert zz[1]["md"] == "" and zz[2]["md"] == ""


def test_batch_and_streaming_share_one_sink(spark, tmp_path):
    """Batch runs and streaming micro-batches commit through one writer
    into one day-partitioned sink: a batch run over half the
    conversations, then two streaming queries (separate checkpoints) over
    the other half, then a batch run over everything must find every turn
    already committed — no turn extracted twice, every data file under a
    ds= directory, every run in list_runs.  The two queries' epoch ids
    both start at 0, so their run_ids must not derive from them.  Each
    run's one metrics row holds exactly its sink rows' count and counter
    sums."""
    from mineru_spark.pipeline import (_METRIC_COLS, list_runs, read_run,
                                       run_job, synthesize_transcripts)
    from mineru_spark.streaming.ingest import (flush_open_runs,
                                               streaming_extract)

    src = synthesize_transcripts(spark, 12)
    n = src.count()
    out = str(tmp_path / "sink")
    streamed = {
        "q1": F.col("conv_id").between("conv-00000006", "conv-00000008"),
        "q2": F.col("conv_id") >= "conv-00000009"}
    r1 = run_job(spark, src.filter(F.col("conv_id") < "conv-00000006"), out)

    for name, cond in streamed.items():
        in_dir = str(tmp_path / f"in_{name}")
        # two files, so conversations straddle micro-batches
        src.filter(cond & (F.col("turn_idx") <= 1)).coalesce(1) \
            .write.parquet(in_dir)
        src.filter(cond & (F.col("turn_idx") >= 2)).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        q = streaming_extract(spark, in_dir, out, str(tmp_path / f"ck_{name}"),
                              max_files_per_trigger=1)
        _await(q)
        flush_open_runs(spark, out)

    r3 = run_job(spark, src, out)
    assert r3["turns"] == 0 and r3["skipped_resume"] == n

    root = os.path.join(out, "extracted")
    got = spark.read.parquet(root)
    assert got.count() == n
    assert got.select("conv_id", "turn_idx").distinct().count() == n

    data = [os.path.relpath(os.path.join(d, f), root)
            for d, _, files in os.walk(root) for f in files
            if f.endswith(".parquet")]
    assert data and all(p.split(os.sep)[0].startswith("ds=") for p in data)

    runs = {r["run_id"]: r["turns"] for r in list_runs(spark, out)}
    assert runs[r1["run_id"]] == r1["turns"]
    assert len(runs) >= 2 and sum(runs.values()) == n

    run_ids = {name: {r["run_id"] for r in
                      got.filter(cond).select("run_id").distinct().collect()}
               for name, cond in streamed.items()}
    assert run_ids["q1"] and run_ids["q2"]
    assert not run_ids["q1"] & run_ids["q2"]

    assert "part_id" not in got.columns
    metrics = spark.read.parquet(os.path.join(out, "metrics")).collect()
    assert sorted(m["run_id"] for m in metrics) == sorted(runs)
    for m in metrics:
        sums = read_run(spark, out, m["run_id"]).agg(
            F.count(F.lit(1)).alias("turns"),
            *(F.sum(c).alias(c) for c in _METRIC_COLS)).first()
        assert m.asDict() == {"run_id": m["run_id"], **sums.asDict()}


def test_two_queries_keep_their_held_tails_apart(spark, tmp_path):
    """Two streaming queries over one sink, over disjoint conversations,
    each holding open tail runs across its micro-batches, with NO flush
    in between: both queries' epoch ids start at 0, so their held-tail
    state must not share epoch dirs — a clash let the second query
    overwrite and prune the first one's held rows, which then never
    reached the sink.  One flush afterwards must commit every input turn
    exactly once."""
    from datetime import datetime

    from mineru_spark.pipeline import TRANSCRIPT_SCHEMA
    from mineru_spark.streaming.ingest import (flush_open_runs,
                                               streaming_extract)

    hdr = "<tr><th>k</th><th>v</th></tr>"
    row = "<tr><td>r{0}</td><td>x{0}</td></tr>"

    def conv(conv_id, n_turns):
        # plain turns, then an office run that is still open at the end
        # of the input (its right flank never arrives), so it is held
        return [(conv_id, i, "tool",
                 f"<table>{hdr if i == 2 else ''}{row.format(i)}</table>"
                 if i >= 2 else f"plain turn {i}", "file_reader",
                 datetime(2025, 1, 1, 0, 0, i)) for i in range(n_turns)]

    out = str(tmp_path / "sink")
    n = 0
    for name in ("q1", "q2"):
        src = spark.createDataFrame(
            conv(f"{name}-a", 5) + conv(f"{name}-b", 6),
            schema=TRANSCRIPT_SCHEMA)
        n += src.count()
        in_dir = str(tmp_path / f"in_{name}")
        # two files, so each conversation straddles two micro-batches
        src.filter(F.col("turn_idx") <= 2).coalesce(1).write.parquet(in_dir)
        src.filter(F.col("turn_idx") >= 3).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        q = streaming_extract(spark, in_dir, out, str(tmp_path / f"ck_{name}"),
                              max_files_per_trigger=1)
        _await(q)

    assert flush_open_runs(spark, out) > 0
    got = spark.read.parquet(os.path.join(out, "extracted"))
    assert got.count() == n
    assert got.select("conv_id", "turn_idx").distinct().count() == n
    # the held tails merged as one run each, across the trigger boundary
    merged = {r["conv_id"]: r["tables_merged"] for r in
              got.filter(F.col("turn_idx") == 2).collect()}
    assert merged == {"q1-a": 2, "q1-b": 3, "q2-a": 2, "q2-b": 3}


def test_streaming_dedup_same_batch_duplicate_burst(spark, tmp_path):
    """r6 state re-key (state keyed BY content hash, one constant-size
    row per distinct hash): a burst of many copies of one text inside a
    single micro-batch still yields exactly one is_first winner, and
    distinct texts each win once — the intra-group arrival-order rule
    survives the per-hash grouping."""
    from pyspark.sql import functions as F

    from mineru_spark.streaming.ingest import streaming_dedup_stream

    in_dir = str(tmp_path / "in")
    rows = ([("c0", i, "user", "same text", None, None) for i in range(25)]
            + [("c1", i, "user", f"uniq {i}", None, None) for i in range(5)])
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").write.parquet(in_dir)
    q = streaming_dedup_stream(spark, in_dir, str(tmp_path / "out"),
                               str(tmp_path / "ck"))
    _await(q)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 30
    per_hash = (got.groupBy("content_hash")
                .agg(F.sum(F.col("is_first").cast("long")).alias("nf"))
                .collect())
    assert len(per_hash) == 6 and all(r["nf"] == 1 for r in per_hash)


def test_streaming_dedup_matches_batch_and_accumulates(spark, tmp_path):
    """Streaming exact dedup with per-hash keyed state: within one
    run and ACROSS runs through the checkpoint, a content hash is
    first-seen exactly once; the kept set equals the batch distinct
    set, and later deliveries of an already-seen text flag is_first
    False."""
    from pyspark.sql import functions as F

    from mineru_spark.pipeline import synthesize_transcripts
    from mineru_spark.streaming.ingest import streaming_dedup_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "dedup")
    ckpt = str(tmp_path / "ckpt")
    src = synthesize_transcripts(spark, 12).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts")
    first = src.filter(F.col("turn_idx") < 2)
    first.write.parquet(in_dir)

    q = streaming_dedup_stream(spark, in_dir, out_dir, ckpt)
    _await(q)
    got1 = spark.read.parquet(out_dir)
    # exactly one is_first row per distinct hash
    per_hash = (got1.groupBy("content_hash")
                .agg(F.sum(F.col("is_first").cast("long")).alias("nf"))
                .toPandas())
    assert (per_hash["nf"] == 1).all()
    n_distinct = first.select(F.md5("text")).distinct().count()
    assert len(per_hash) == n_distinct
    assert got1.count() == first.count()

    # redeliver the SAME rows plus new ones: old hashes must flag
    # is_first=False through the checkpointed state
    rest = src.filter(F.col("turn_idx") >= 2)
    first.write.mode("append").parquet(in_dir)   # duplicates
    rest.write.mode("append").parquet(in_dir)
    q2 = streaming_dedup_stream(spark, in_dir, out_dir, ckpt)
    _await(q2)
    got2 = spark.read.parquet(out_dir)
    per_hash2 = (got2.groupBy("content_hash")
                 .agg(F.sum(F.col("is_first").cast("long")).alias("nf"))
                 .toPandas())
    assert (per_hash2["nf"] == 1).all()
    assert len(per_hash2) == src.select(F.md5("text")).distinct().count()
