"""Oracle-checked benchmark of the extraction engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one driver process at local[nproc] (shuffle partitions = nproc) from
the checkout that holds this directory, builds the seed's inputs and
oracles untimed (cached under ``.perfbench_work/``), times the workload
for S seconds of reps (at least two) after the untimed warm reps, checks
every output, and prints a detail line and then the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``E2E_UNITS`` (set-up
and job time) on the result line, and the others (``fail_ratio``,
``peak_rss_mb``, ``turns_per_s``) on the detail line.  ``--trace 1``
switches the Spark event log on and reports the per-layer metrics of
``trace.py``.  ``attempted``/``failed`` count the turns (and, traced, the
queries) checked against their oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import inputs, session  # noqa: E402

# each workload's count of the generator's heavy cases (inputs.conv_ids):
# extract_mixed holds about their expected count, so its job waits on a
# straggler task; extract_short holds none, so no task straggles
HEAVY = {"extract_mixed": {"giant": 1, "long": 2},
         "extract_short": {"giant": 0, "long": 0}}
WORKLOADS = tuple(HEAVY)

# the sf tables the query pack reads: copies of the repository's generated
# test tables (seed 42), committed here so that a run reads only its checkout
DATA = Path(__file__).resolve().parent / "data"

# ``tiny`` is the self-tests' size; ``full`` is what BENCHMARK.json runs
SIZES = {
    "full": {"bytes": 16 << 20, "files": 16, "stream_files": 2, "sf": "0.01",
             "setups": 3},
    "tiny": {"bytes": 1 << 20, "files": 4, "stream_files": 2, "sf": "0.001",
             "setups": 1},
}

# the end-to-end metrics of BENCHMARK.json: every workload reports each
E2E_UNITS = {"setup_s": "s", "job_s": "s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    return ap.parse_args(argv)


def timed_reps(spark, wl, seconds: float, clock, min_reps: int = 1) -> list:
    """Reps until their timed regions add up to ``seconds``."""
    reps = []
    while len(reps) < min_reps or sum(r.job_s for r in reps) < seconds:
        load, steal = session.loadavg(), session.steal_s()
        r = wl.rep(spark, clock)
        r.detail["loadavg"] = load
        r.detail["steal_s"] = session.steal_s() - steal
        r.detail["peak_rss_mb"] = clock.region_peak_rss / 2 ** 20
        reps.append(r)
    return reps


def e2e_metrics(reps: list, setups: list) -> dict:
    return {"setup_s": statistics.median(setups),
            "job_s": statistics.median(r.job_s for r in reps)}


def detail_metrics(wl, reps: list, fail_ratio: float) -> dict:
    """The other end-to-end metrics, printed on the detail line.  None
    fits BENCHMARK.json's list, whose metrics must be steady and never 0:
    ``fail_ratio`` is 0 on a correct run, a byte-sized corpus holds 15%
    more or fewer turns from seed to seed, and the JVM's resident heap
    grows with its collector's timing, so ``peak_rss_mb`` (median over the
    reps of each rep's peak) differs by a third or more between runs."""
    out = {"fail_ratio": {"value": fail_ratio, "unit": "share"}}
    if not reps:
        return out
    out["peak_rss_mb"] = {
        "value": statistics.median(r.detail["peak_rss_mb"] for r in reps),
        "unit": "MB"}
    out["turns_per_s"] = {
        "value": statistics.median(r.turns / r.job_s for r in reps),
        "unit": "turns/s"}
    return out


def _measure(args, size, work, scratch, event_log):
    """Build the inputs and the session, warm up and time the reps."""
    from perfbench import workloads
    pack = workloads.QueryPack(DATA / f"sf{size['sf']}") if args.trace \
        else None
    corpus = inputs.build_corpus(work, args.seed, size["bytes"],
                                 size["files"], size["stream_files"],
                                 session.nproc(), HEAVY[args.workload])
    wl = workloads.Extract(args.workload, corpus, scratch)
    spark, setups = session.build_session(1 if args.trace
                                          else size["setups"])
    detail = {"setup_s_all": setups}
    session.check_workers(spark)
    warm = [wl.warm(spark, session.Clock()) for _ in range(wl.warm_reps)]
    clock = session.Clock()
    if args.trace:
        from perfbench import trace
        values, trace_detail, reps = trace.measure(
            spark, wl, corpus, pack, scratch, event_log,
            lambda n: timed_reps(spark, wl, 0, clock, min_reps=n))
        detail.update(trace_detail)
        units = trace.PER_LAYER
    else:
        # at least two, so a slow first rep is not the run's only one
        reps = timed_reps(spark, wl, args.seconds, clock, min_reps=2)
        values = e2e_metrics(reps, setups)
        units = E2E_UNITS
    return wl, warm, reps, values, units, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    size = SIZES[args.size]
    try:
        import mineru_spark.pipeline  # noqa: F401
    except ImportError as e:
        sys.exit(f"perfbench: cannot import mineru_spark from "
                 f"{inputs.ROOT}: {e}")
    work = inputs.ROOT / ".perfbench_work"
    scratch = work / f"run-{os.getpid()}"
    event_log = scratch / "eventlog" if args.trace else None
    session.configure_env(work, event_log)
    session.become_subreaper()
    # a SIGTERM unwinds through the ``finally`` below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        wl, warm, reps, values, units, detail = _measure(args, size, work,
                                                         scratch, event_log)
    finally:
        # a second SIGTERM must not cut the shutdown short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        session.shutdown()
        shutil.rmtree(scratch, ignore_errors=True)

    checked = [*warm, *reps]
    attempted = sum(r.attempted for r in checked)
    failed = sum(r.failed for r in checked)
    rows_ok = all(r.detail.get("rows_out", 0) == r.detail.get("rows_in", 0)
                  for r in checked)
    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "nproc": session.nproc(),
        "metrics": detail_metrics(wl, [] if args.trace else reps,
                                  failed / attempted),
        "reps": [{"job_s": r.job_s, "failed": r.failed,
                  **{k: v for k, v in r.detail.items()
                     if k in ("loadavg", "steal_s", "peak_rss_mb", "rows_in",
                              "rows_out", "missing", "duplicated", "error",
                              "mismatch", "unknown", "mismatched")}}
                 for r in checked]})
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and rows_ok, "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
