"""Run every workload untraced and traced on one seed, print every
end-to-end metric with its unit, each workload's failure ratio, span
coverage, and the tracing overhead (traced minus untraced).

    python3 perfbench/suite.py --seed 7 [--seconds 10]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = ap.parse_args()
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        plain = run(w, a.seed, a.seconds, 0)
        traced = run(w, a.seed, a.seconds, 1)
        for name, m in plain["metrics"].items():
            print(f"{w:14s} {name:22s} {m['value']:12.4f} {m['unit']}")
        for r, mode in ((plain, "untraced"), (traced, "traced")):
            print(f"{w:14s} {'failed_ratio':22s} {r['failed'] / r['attempted']:12.4f} "
                  f"({r['failed']}/{r['attempted']}, {mode})")
            ok = ok and r["correct"]
        t = traced["metrics"]
        cov = t["trace.span_coverage"]["value"]
        print(f"{w:14s} {'trace.span_coverage':22s} {cov:12.4f} ratio")
        for e2e in ("cpu_s", "op_cpu_s"):
            d = t[f"trace.{e2e}"]["value"] - plain["metrics"][e2e]["value"]
            print(f"{w:14s} {'overhead.' + e2e:22s} {d:12.4f} s "
                  f"({d / plain['metrics'][e2e]['value']:+.1%})")
        ok = ok and cov >= 0.9
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
