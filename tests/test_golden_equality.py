"""Per-turn golden equality: the Spark job must byte-equal the
single-process oracle under stable (conv_id, turn_idx) ordering
(BASELINE.json north rule; `python -m pytest -x -q` is the named gate)."""

import os

import pandas as pd
from pyspark.sql import functions as F
import pytest

from mineru_spark.datagen import gen_transcripts_pdf
from mineru_spark.kernels.oracle import extract_turn

N_CONVS = 60


@pytest.fixture(scope="module")
def oracle_frame():
    from mineru_spark.kernels.oracle import finalize_conv

    src = gen_transcripts_pdf(N_CONVS)
    rows = []
    for conv_id, grp in src.groupby("conv_id", sort=True):
        outs = []
        for _, r in grp.sort_values("turn_idx").iterrows():
            out = extract_turn(r.text, r.tool)
            out["conv_id"] = r.conv_id
            out["turn_idx"] = r.turn_idx
            outs.append(out)
        finalize_conv(outs)  # conv-level pass (cross-turn table merge)
        for out in outs:
            rows.append({"conv_id": out["conv_id"], "turn_idx": out["turn_idx"],
                         "route": out["route"], "md": out["md"],
                         "md_nlp": out["md_nlp"],
                         "content_list": out["content_list"],
                         "content_list_v2": out["content_list_v2"],
                         "middle": out["middle"],
                         "n_spans": len(out["spans"]),
                         **{k: v for k, v in out["metrics"].items()}})
    return (pd.DataFrame(rows)
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))


@pytest.fixture(scope="module")
def spark_frame(spark):
    from mineru_spark.pipeline import extract_finalized, synthesize_transcripts

    # the SHIPPED path: fused single-pass extract + cross-turn finalize
    df = extract_finalized(synthesize_transcripts(spark, N_CONVS))
    got = (df.toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    got["n_spans"] = got["spans"].map(len)
    return got


def test_turn_counts_match(oracle_frame, spark_frame):
    assert len(oracle_frame) == len(spark_frame)
    assert list(oracle_frame.conv_id) == list(spark_frame.conv_id)
    assert list(oracle_frame.turn_idx) == list(spark_frame.turn_idx)


def test_md_byte_equality(oracle_frame, spark_frame):
    mism = oracle_frame.md.values != spark_frame.md.values
    assert not mism.any(), (
        f"{mism.sum()} md mismatches; first at "
        f"{oracle_frame[mism].iloc[0][['conv_id', 'turn_idx']].to_dict()}")


def test_content_list_byte_equality(oracle_frame, spark_frame):
    mism = oracle_frame.content_list.values != spark_frame.content_list.values
    assert not mism.any()


def test_md_nlp_and_middle_byte_equality(oracle_frame, spark_frame):
    for col in ("md_nlp", "middle", "content_list_v2"):
        mism = oracle_frame[col].values != spark_frame[col].values
        assert not mism.any(), col


def test_route_and_metrics_equality(oracle_frame, spark_frame):
    for col in ["route", "blocks_classified", "blocks_discarded",
                "boilerplate_dropped", "tables_parsed", "chars_deduped",
                "ocr_fallback", "para_merged", "tables_merged", "n_spans"]:
        assert list(oracle_frame[col]) == list(spark_frame[col]), col


def test_two_office_runs_in_one_conversation(spark):
    """The fused stage groups all office-run rows of a conversation
    together; two runs split by a non-office turn must still finalize
    exactly as over the whole conversation — every output field equal to
    extract_turn + finalize_conv on the complete turn list."""
    from datetime import datetime

    from mineru_spark.kernels.oracle import finalize_conv
    from mineru_spark.pipeline import (_METRIC_COLS, TRANSCRIPT_SCHEMA,
                                       extract_finalized)

    hdr = "<tr><th>k</th><th>v</th></tr>"
    row = "<tr><td>r{0}</td><td>x{0}</td></tr>"
    anchors = {0, 3, 7}
    plain = {2: "a plain reply between runs", 6: "another plain reply"}
    texts = [plain.get(i) or ("\n " if i == 4 else "")
             + f"<table>{hdr if i in anchors else ''}{row.format(i)}</table>"
             for i in range(8)]
    rows = [("zz-two-runs", i, "tool", t, "file_reader",
             datetime(2025, 1, 1, 0, 0, i)) for i, t in enumerate(texts)]

    want = []
    for i, t in enumerate(texts):
        out = extract_turn(t, "file_reader")
        out["turn_idx"] = i
        want.append(out)
    finalize_conv(want)
    assert [w["metrics"]["tables_merged"] for w in want] \
        == [1, 0, 0, 2, 0, 0, 0, 0]

    got = sorted(extract_finalized(spark.createDataFrame(
        rows, schema=TRANSCRIPT_SCHEMA)).collect(),
        key=lambda r: r["turn_idx"])
    assert [r["turn_idx"] for r in got] == list(range(8))
    for g, w in zip(got, want):
        for col in ("route", "md", "md_nlp", "content_list",
                    "content_list_v2", "middle"):
            assert g[col] == w[col], (g["turn_idx"], col)
        for col in _METRIC_COLS:
            assert g[col] == w["metrics"][col], (g["turn_idx"], col)
        assert [(s["page_idx"], list(s["bbox"]), s["type"], s["content"])
                for s in g["spans"]] \
            == [(s["page_idx"], [float(v) for v in s["bbox"]], s["type"],
                 s["content"]) for s in w["spans"]], g["turn_idx"]


def test_run_job_resume_idempotent(spark, tmp_path):
    """Second run over the same input must skip every turn (lineage
    anti-join) and leave the sink row count unchanged."""
    from mineru_spark.pipeline import (list_runs, run_job,
                                       synthesize_transcripts)

    out = str(tmp_path / "sink")
    df = synthesize_transcripts(spark, 10)
    n = df.count()
    r1 = run_job(spark, df, out, resume=True)
    assert r1["turns"] == n and r1["skipped_resume"] == 0
    # run-scoped metrics: the second run processes nothing new
    r2 = run_job(spark, df, out, resume=True)
    assert r2["turns"] == 0 and r2["skipped_resume"] == n
    assert spark.read.parquet(os.path.join(out, "extracted")).count() == n
    # one metrics row per non-empty run: the no-op rerun adds none
    m = spark.read.parquet(os.path.join(out, "metrics")).toPandas()
    assert m["run_id"].tolist() == [r1["run_id"]] and m["turns"].sum() == n
    assert [(r["run_id"], r["turns"]) for r in list_runs(spark, out)] \
        == [(r1["run_id"], n)]


def test_sink_partitioned_by_day(spark, tmp_path):
    """Sink is hive-partitioned by ds=days(ts); a ds predicate prunes
    partitions at scan."""
    import os
    from mineru_spark.pipeline import synthesize_transcripts, run_job

    out = str(tmp_path / "psink")
    run_job(spark, synthesize_transcripts(spark, 30), out)
    root = os.path.join(out, "extracted")
    ds_dirs = [d for d in os.listdir(root) if d.startswith("ds=")]
    assert len(ds_dirs) >= 2
    got = spark.read.parquet(root)
    one = got.filter(F.col("ds") == ds_dirs[0].split("=")[1])
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the ds predicate must reach the scan as a PartitionFilter (pruning),
    # not survive as a post-scan Filter
    assert "PartitionFilters" in plan and "ds" in \
        plan.split("PartitionFilters")[1].split("]")[0]
    assert one.count() > 0


def test_bucketed_sink_join_without_shuffle(spark, tmp_path):
    from mineru_spark.pipeline import (synthesize_transcripts, extract,
                                       write_bucketed_sink)

    ext = extract(synthesize_transcripts(spark, 8))
    write_bucketed_sink(spark, ext, table="tg_bucketed", n_buckets=4)
    t = spark.table("tg_bucketed")
    assert t.count() == ext.count()
    # self equi-join on the bucket key: no Exchange on either side
    j = t.alias("a").join(t.alias("b"), ["conv_id", "turn_idx"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(conv_id" not in plan
    spark.sql("DROP TABLE IF EXISTS tg_bucketed")


def test_skew_partition_balance(spark):
    """The Zipf conv-length tail must not create straggler partitions: the
    unit of work is one TURN, so per-partition turn counts stay balanced
    even though conversation lengths are skewed (north rule: explicit
    skew handling for long documents)."""
    from mineru_spark.pipeline import synthesize_transcripts, extract

    df = synthesize_transcripts(spark, 2000, partitions=64)
    counts = (extract(df)
              .withColumn("pid", F.spark_partition_id())
              .groupBy("pid").count().toPandas())
    mean = counts["count"].mean()
    assert counts["count"].max() <= 2.0 * mean, counts["count"].describe()


def test_run_snapshots_list_and_read(spark, tmp_path):
    """run_id is the snapshot handle: list_runs inventories every append,
    read_run time-travels to exactly one run's rows, in SINK_SCHEMA (a
    ds partition value stays a string).  Before the first commit there
    is no run to list or read."""
    from mineru_spark.pipeline import (SINK_SCHEMA, synthesize_transcripts,
                                       run_job, list_runs, read_run)

    out = str(tmp_path / "snap")
    assert list_runs(spark, out) == []
    assert read_run(spark, out, "none").count() == 0
    a = synthesize_transcripts(spark, 10)
    b = synthesize_transcripts(spark, 16).join(
        a.select("conv_id").distinct(), "conv_id", "left_anti")
    r1 = run_job(spark, a, out, resume=True)
    r2 = run_job(spark, b, out, resume=True)
    runs = {r["run_id"]: r for r in list_runs(spark, out)}
    assert runs[r1["run_id"]]["turns"] == r1["turns"]
    assert runs[r2["run_id"]]["turns"] == r2["turns"]
    assert read_run(spark, out, r1["run_id"]).count() == r1["turns"]
    assert read_run(spark, out, r2["run_id"]).count() == r2["turns"]
    assert read_run(spark, out, r1["run_id"]).schema == SINK_SCHEMA
