"""Run every workload in BENCHMARK.json once and print each metric by name
with its unit, plus the op error ratio.

    python3 perfbench/suite.py --seed 1            # end-to-end metrics
    python3 perfbench/suite.py --seed 1 --trace 1  # per-layer metrics

Exits non-zero when any op failed or failed its oracle check.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from steady import ROOT, one_run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float, default=None,
                    help="defaults to run_seconds in BENCHMARK.json")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    failed = 0
    for w in bench["workloads"]:
        ctx, res = one_run(w["name"], args.seed, seconds, args.trace)
        failed += res["failed"]
        print(f"{w['name']}: {res['attempted']} ops, error_ratio {ctx['error_ratio']:.3f}")
        for k, m in res["metrics"].items():
            print(f"  {k:<30}{m['value']:>16.6g} {m['unit']}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
