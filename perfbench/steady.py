#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed and prints, for each
end-to-end metric, its median and its spread (the distance between the
first and third quartile as a share of the median), next to the bound that
BENCHMARK.json fixes for it.

    python3 perfbench/steady.py --workload serve_mix --seeds 1-10 [--seconds N]

A metric is steady when its spread stays under a third of its bound
(setup_s is exempt from the spread rule).
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()
    values = {}
    for seed in seeds(a.seeds):
        rc, lines = run.run(a.workload, seed, a.seconds, 0)
        if rc != 0 or not lines or not run.valid(lines[-1]):
            print(f"seed {seed}: run failed (exit {rc})")
            return 1
        result = json.loads(lines[-1])
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in sorted(result["metrics"].items())),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    ok = True
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        steady = m["name"] == "setup_s" or spread < m["bound"] / 3
        ok &= steady
        print(f"{m['name']:>14}: median {med:.4g} {m['unit']}  spread {spread:.3f}  "
              f"bound {m['bound']}  {'ok' if steady else 'NOT STEADY'}")
    return 0 if ok else 2


if __name__ == "__main__":
    sys.exit(main())
