"""spark-submit entry point for the extraction job (north rule: "launched
via spark-submit --py-files on multi-executor clusters").

Usage:
  spark-submit --py-files mineru_spark.zip jobs/run_extraction.py \
      --input /path/transcripts_parquet --output /path/sink
  spark-submit jobs/run_extraction.py --n-convs 20000 --output /path/sink
      (no --input: synthesize the deterministic corpus shard-locally)

The job is idempotent: rerunning with the same output resumes via the
sink's (conv_id, turn_idx) lineage anti-join. It writes the one sink that
batch and streaming runs share: <output>/extracted, partitioned by day
(ds=yyyy-MM-dd) with a run_id on every row, and a metrics table in
<output>/metrics holding one row per run: its run_id, turn count and
counter sums. A one-line JSON summary goes to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet (conv_id, turn_idx, "
                                    "role, text, tool, ts)")
    ap.add_argument("--n-convs", type=int, default=2000,
                    help="synthesize this many conversations when no --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from mineru_spark.pipeline import (get_spark, run_job,
                                       synthesize_transcripts)

    spark = get_spark(app="mineru_spark_extract", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    if args.input:
        src = spark.read.parquet(args.input)
    else:
        src = synthesize_transcripts(spark, args.n_convs)

    t0 = time.perf_counter()
    summary = run_job(spark, src, args.output, resume=not args.no_resume)
    dt = time.perf_counter() - t0
    summary["wall_sec"] = round(dt, 2)
    summary["turns_per_sec"] = round(summary["turns"] / dt, 1) if dt else None
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
