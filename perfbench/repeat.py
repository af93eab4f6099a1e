"""Repeat the benchmark over seeds and summarize the runs.

    python3 perfbench/repeat.py run --workload W --seeds 3001-3010 \\
        --seconds 8 [--trace 1] --out perfbench/results/untraced-A.jsonl
    python3 perfbench/repeat.py summary perfbench/results/*.jsonl

``run`` calls ``run.py`` once per seed, one after the other, from the
checkout root, and appends one JSON record per run.  ``summary`` prints,
per workload and trace mode, each metric's median and the distance
between its first and third quartile as a share of the median (the
spread ``BENCHMARK.json``'s bounds apply to), and, per workload, the
tracing overhead: the traced runs' median ``trace.job_s`` less the
untraced runs' median ``job_s``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(args) -> None:
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
               "rc": p.returncode,
               "wall_s": round(time.perf_counter() - t0, 1),
               "detail": json.loads(lines[-2]) if len(lines) > 1 else None,
               "result": json.loads(lines[-1]) if lines else None}
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"{args.workload} seed {seed}: rc {p.returncode}, "
              f"{rec['wall_s']} s", flush=True)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def summary(args) -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    groups = defaultdict(list)
    for path in args.files:
        for line in open(path):
            rec = json.loads(line)
            groups[(rec["workload"], rec["trace"])].append(rec)
    medians = {}
    for (workload, trace), recs in sorted(groups.items()):
        ok = [r for r in recs if r["rc"] == 0 and r["result"]["correct"]]
        walls = [r["wall_s"] for r in recs]
        print(f"{workload} trace={trace}: {len(ok)}/{len(recs)} runs correct,"
              f" wall median {statistics.median(walls):.1f} s,"
              f" max {max(walls):.1f} s")
        values = defaultdict(list)
        for r in ok:
            for name, m in r["result"]["metrics"].items():
                values[name].append(m["value"])
        for name, vs in values.items():
            med = statistics.median(vs)
            medians[(workload, trace, name)] = med
            if trace or len(vs) < 2:
                print(f"  {name:40s} median {med:.4g}")
                continue
            s = spread(vs)
            # set-up time's spread is exempt; only its median must hold
            flag = "" if name == "setup_s" or s <= bounds.get(name, 1) \
                else "  EXCEEDS BOUND"
            print(f"  {name:40s} median {med:.4g}  spread {s:.3f}"
                  f" (bound {bounds.get(name)}){flag}")
    for (workload, trace, name), med in medians.items():
        untraced = medians.get((workload, 0, "job_s"))
        if name == "trace.job_s" and untraced:
            print(f"{workload} tracing overhead: {med - untraced:+.3f} s "
                  f"({(med - untraced) / untraced:+.1%} of untraced job_s)")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="N or LO-HI")
    r.add_argument("--seconds", type=int, required=True)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    args = ap.parse_args(argv)
    (run if args.cmd == "run" else summary)(args)


if __name__ == "__main__":
    main()
