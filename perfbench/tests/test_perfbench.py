"""Benchmark self-tests.

    python3 -m pytest perfbench/tests -q

The tiny-size runs start Spark (under a minute each on 4 cores); the
oracle tests run in plain Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs, verify  # noqa: E402
from perfbench.run import E2E_UNITS, HEAVY, WORKLOADS  # noqa: E402
from perfbench.trace import PER_LAYER  # noqa: E402


def _spark_processes() -> set[int]:
    """Live processes of a Spark driver JVM or of its Python workers."""
    pids = set()
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except (OSError, NotADirectoryError):
            continue
        if b"SparkSubmit" in cmd or b"pyspark.daemon" in cmd:
            pids.add(int(d))
    return pids


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    before = _spark_processes()
    out = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=600, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    # the JVM and every Python worker ended before the benchmark did
    assert _spark_processes() <= before
    *_, detail, result = out.stdout.strip().splitlines()
    return json.loads(detail), json.loads(result)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric_with_unit(workload):
    detail, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == E2E_UNITS
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert {k: v["unit"] for k, v in detail["metrics"].items()} == {
        "fail_ratio": "share", "peak_rss_mb": "MB", "turns_per_s": "turns/s"}
    assert detail["metrics"]["fail_ratio"]["value"] == 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_traced_run_measures_every_layer(workload):
    detail, result = _run(workload, 1)
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
    values = {k: v["value"] for k, v in result["metrics"].items()}
    for k in ("pipeline.scan_s", "pipeline.extract_s", "ingest.engine_s",
              "queries.q01_pricing_summary_s", "trace.job_s"):
        assert values[k] > 0, k
    # the streaming drains wrote exactly one row per input turn
    streamed = [r for r in detail["reps"] if "rows_in" in r]
    assert streamed and all(r["rows_in"] == r["rows_out"] for r in streamed)


@pytest.fixture(scope="module")
def tiny_corpus(tmp_path_factory):
    return inputs.build_corpus(tmp_path_factory.mktemp("cache"), seed=5,
                               n_bytes=600_000, n_files=2, stream_files=2,
                               procs=2, heavy=HEAVY["extract_short"])


def _sink_from_oracle(corpus, path: Path, corrupt: int | None = None):
    """A sink in the pipeline's parquet layout holding the oracle rows,
    optionally with one row's ``md`` changed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for i, r in enumerate(corpus.expected.values()):
        row = {k: r[k] for k in ("conv_id", "turn_idx", "route", "md",
                                 "md_nlp", "content_list", "content_list_v2",
                                 "middle", *inputs.METRIC_COLS)}
        row["ts"] = pa.scalar(r["ts_us"], pa.timestamp("us", tz="UTC"))
        row["spans"] = [{"page_idx": p, "bbox": b, "type": t, "content": c}
                        for p, b, t, c in json.loads(r["spans"])]
        if i == corrupt:
            row["md"] += " "
        rows.append(row)
    path.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows), path / "part-0.parquet")
    return path


def test_oracle_sink_has_no_failures(tiny_corpus, tmp_path):
    rows = verify.read_sink(_sink_from_oracle(tiny_corpus, tmp_path / "s"))
    assert verify.sink_failures(rows, tiny_corpus.expected)["failed"] == 0


def test_one_corrupted_sink_row_is_counted(tiny_corpus, tmp_path):
    rows = verify.read_sink(
        _sink_from_oracle(tiny_corpus, tmp_path / "s", corrupt=3))
    fails = verify.sink_failures(rows, tiny_corpus.expected)
    assert fails["failed"] == 1 and fails["mismatch"] == 1


def test_missing_and_duplicated_turns_are_counted(tiny_corpus, tmp_path):
    rows = verify.read_sink(_sink_from_oracle(tiny_corpus, tmp_path / "s"))
    fails = verify.sink_failures(rows[1:] + rows[2:3], tiny_corpus.expected)
    assert (fails["missing"], fails["duplicated"], fails["failed"]) \
        == (1, 1, 2)
