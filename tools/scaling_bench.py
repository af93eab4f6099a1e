"""Two-parallelism scaling benchmark (north-rule evidence).

The rule requires ≥0.8 throughput scaling efficiency between N and 4N
executors.  No real cluster exists in this sandbox, so per BASELINE.md the
evidence is the identical extraction job on the identical materialized
corpus at local[N] and local[4N]; efficiency = (T_4N / T_N) / 4.

Each parallelism level runs in its own subprocess (fresh JVM) so the
master setting, worker pools, and memory are not shared.  Results are
appended to BENCH/BASELINE.md and printed as JSON.

Usage: python tools/scaling_bench.py [N] [sf_dir]   (default N=8)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
def loadavg():
    return float(open("/proc/loadavg").read().split()[0])
from mineru_spark.pipeline import (get_spark, synthesize_transcripts,
                                   extract_finalized)
cores = int(sys.argv[1]); corpus = sys.argv[2]
spark = get_spark(app=f"scaling_{cores}", master=f"local[{cores}]",
                  shuffle_partitions=cores)
spark.sparkContext.setLogLevel("ERROR")
if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
    synthesize_transcripts(spark, int(sys.argv[3]), partitions=64).write \
        .mode("overwrite").parquet(corpus)
src = spark.read.parquet(corpus)
n = src.count()
# warm-up pass (page cache + python workers), then 3 timed reps, best-of
# (sandbox timing noise is ±20-30%)
extract_finalized(src.limit(2000)).write.format("noop") \
    .mode("overwrite").save()
best = None
loads = []
for _ in range(3):
    loads.append(loadavg())
    t0 = time.perf_counter()
    extract_finalized(src).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    best = dt if best is None else min(best, dt)
loads.append(loadavg())
print(json.dumps({"cores": cores, "turns": n, "sec": round(best, 2),
                  "turns_per_sec": round(n / best, 1),
                  "external_load": loads}))
spark.stop()
"""


def run_level(cores: int, corpus: str, n_convs: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _WORKER, str(cores), corpus, str(n_convs)],
        capture_output=True, text=True, timeout=1800, cwd=REPO)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not line:
        raise RuntimeError(f"worker failed: {out.stderr[-2000:]}")
    return json.loads(line[-1])


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else \
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    from importlib import import_module
    sys.path.insert(0, REPO)
    n_convs = import_module("mineru_spark.datagen.transcripts") \
        .n_convs_for_sf(sf)
    import hashlib
    import mineru_spark.datagen.transcripts as dgmod
    gen_ver = hashlib.md5(open(dgmod.__file__, "rb").read()).hexdigest()[:8]
    corpus = f"/tmp/mineru_spark_bench_corpus_sf{sf}_{gen_ver}"

    # alternate the legs across two fresh-JVM rounds each and keep the
    # best per leg: the sandbox host is multi-tenant with BURSTY external
    # load, and alternation keeps one leg from absorbing a whole burst
    legs = [run_level(n, corpus, n_convs), run_level(4 * n, corpus, n_convs),
            run_level(n, corpus, n_convs), run_level(4 * n, corpus, n_convs)]
    lo = min((r for r in legs if r["cores"] == n), key=lambda r: r["sec"])
    hi = min((r for r in legs if r["cores"] == 4 * n), key=lambda r: r["sec"])
    eff = round((hi["turns_per_sec"] / lo["turns_per_sec"]) / 4, 3)
    result = {"sf": sf, "N": n, "4N": 4 * n, "lo": lo, "hi": hi,
              "scaling_efficiency": eff, "target": 0.8,
              "pass": eff >= 0.8}
    print(json.dumps(result))

    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    md = (f"\n## Measured scaling (round run {stamp})\n\n"
          f"Identical SHIPPED extraction job (scan → run-key sniff → fused "
          f"extract+finalize → noop sink) on the identical materialized corpus "
          f"({lo['turns']} turns, sf={sf}):\n\n"
          f"| parallelism | wall sec | turns/sec |\n|---|---|---|\n"
          f"| local[{n}] (N) | {lo['sec']} | {lo['turns_per_sec']} |\n"
          f"| local[{4*n}] (4N) | {hi['sec']} | {hi['turns_per_sec']} |\n\n"
          f"Host 1-min load before each rep (this box is multi-tenant; "
          f"contention squeezes the 4N leg first): "
          f"N={lo.get('external_load')}, 4N={hi.get('external_load')}\n\n"
          f"Scaling efficiency = ({hi['turns_per_sec']} / "
          f"{lo['turns_per_sec']}) / 4 = **{eff}** "
          f"(target ≥ 0.8: {'PASS' if eff >= 0.8 else 'MISS'})\n")
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.write(md)


if __name__ == "__main__":
    main()
