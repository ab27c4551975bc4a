#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny scale (a few minutes):

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it checks that an untraced run emits
exactly the end-to-end metrics, and a traced run exactly the per-layer
metrics, each with its declared unit, with every correctness check
passing. Then it corrupts the serving path (lookups read a stale `dt`
partition) and checks that the run reports failed operations.
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def result(workload, trace, *extra):
    rc, lines = run.run(workload, 7, 2, trace, ["--smoke", *extra])
    assert rc == 0 and lines and run.valid(lines[-1]), f"{workload} trace={trace}: run failed ({rc})"
    return json.loads(lines[-1])


def main():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = result(w, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert r["correct"] and r["failed"] == 0, f"{w} trace={trace}: {r['failed']} failed"
            if trace == 0:
                zero = [k for k, v in r["metrics"].items() if v["value"] <= 0]
                assert not zero, f"{w}: end-to-end metrics not positive: {zero}"
            print(f"ok  {w} trace={trace}: {len(got)} metrics, {r['attempted']} checked", flush=True)
    r = result("serve_mix", 0, "--corrupt")
    assert not r["correct"] and r["failed"] > 0, "a stale-dt lookup went unnoticed"
    print(f"ok  serve_mix --corrupt: {r['failed']} of {r['attempted']} operations failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
