"""Steadiness check: run one workload at seeds 1..N and report, for each
end-to-end metric, the median, the quartiles and the spread
(Q3 - Q1) / median against the metric's bound in BENCHMARK.json, how each
time metric correlates with the host's calibration loop, and the tracing
overhead (untraced vs traced ``ops_per_s`` at seed 1).

    python3 perfbench/steady.py --workload scan_mix --runs 10

Each run is a separate ``run.py`` process, run one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"run failed ({out.returncode}): {out.stderr[-2000:]}")
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=None,
                    help="defaults to run_seconds in BENCHMARK.json")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {k: [] for k in bounds}
    calib: list[float] = []
    failed = 0
    for seed in range(1, args.runs + 1):
        ctx, res = one_run(args.workload, seed, seconds, 0)
        failed += res["failed"]
        for k in bounds:
            values[k].append(res["metrics"][k]["value"])
        c = [ctx["host_before"]["calib_s"], ctx["host_after"]["calib_s"]]
        calib.append(statistics.mean(c))
        print(json.dumps({"seed": seed, "failed": res["failed"],
                          "load": [ctx["host_before"]["loadavg_1m"],
                                   ctx["host_after"]["loadavg_1m"]],
                          "calib_s": c, "p50_band": ctx["p50_band"],
                          "kind_ms": {k: b["median_ms"] for k, b in ctx["kind_bands"].items()},
                          **{k: round(res["metrics"][k]["value"], 4) for k in bounds}}),
              flush=True)

    print(f"\n{args.workload}: {args.runs} runs x {seconds}s, failed ops {failed}")
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}"
          f"{'r(calib)':>10}  ok")
    worst = 0.0
    for k, vs in values.items():
        q1, med, q3, sp = spread(vs)
        ok = k == "setup_s" or sp < bounds[k] / 3
        worst = max(worst, sp / bounds[k] if k != "setup_s" else 0.0)
        r = statistics.correlation(calib, vs) if len(set(calib)) > 1 else 0.0
        print(f"{k:<16}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{sp:>9.3f}{bounds[k]:>8.2f}"
              f"{r:>10.2f}  {'yes' if ok else 'NO'}")

    traced = [one_run(args.workload, 1, seconds, 1)[1] for _ in range(2)]
    u = values["ops_per_s"][0]
    t = traced[0]["metrics"]["trace.ops_per_s"]["value"]
    print(f"tracing overhead at seed 1: ops_per_s {u:.4g} untraced vs "
          f"{t:.4g} traced ({(u - t) / u:+.1%}); bookkeeping "
          f"{traced[0]['metrics']['trace.overhead_ms']['value']:.2f} ms/op")
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    varying = {k: [r["metrics"][k]["value"] for r in traced]
               for k, u_ in units.items() if u_ in ("count", "B", "1", "B/row")
               and traced[0]["metrics"][k]["value"] != traced[1]["metrics"][k]["value"]}
    print("count metrics differing between two traced runs at seed 1: "
          f"{json.dumps(varying) if varying else 'none'}")
    return 0 if failed == 0 and worst < 1 / 3 else 1


if __name__ == "__main__":
    sys.exit(main())
