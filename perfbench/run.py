"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload scan_mix --seed 1 --seconds 10 --trace 0

Builds the workload's seeded inputs, times the set-up (session start, the
table build repeated ``SETUP_REPS`` times of which the median counts, and one
warm-up pass over one op block), then runs whole op blocks for
``--seconds`` seconds on ``local[3]`` and checks every op against an oracle.
The last line of stdout is the result as JSON: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics taken from spans
around the engine's layer boundaries. The line before it holds context that
is not judged: the host-noise stamp, kind bands, p90 and storage figures.

Everything it writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
# one core of the four is left to the driver process and the JVM's own
# threads: at local[4] they contend with the tasks and op latencies spread
CORES = 3
HEAP = "2g"

WORKLOADS = {
    "scan_mix": ("scan_mix", "ScanMix"),
    "ingest_cycle": ("ingest_cycle", "IngestCycle"),
    "plan_wide": ("plan_wide", "PlanWide"),
    "corpus_curate": ("corpus_curate", "CorpusCurate"),
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "iceberg_cpp_spark", "__init__.py"))


def configure_env(work: str) -> None:
    """Keep the JVM, the Python workers and every temp file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # spark-submit first runs a short launcher JVM, which would otherwise
    # write its perf data under the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--driver-java-options",
        # the whole heap is committed and touched at start-up, so later ops
        # pay no first-touch page faults
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"),
        "pyspark-shell"])
    sys.path.insert(0, ROOT)


def start_spark():
    from iceberg_cpp_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(f"perfbench: no engine package (iceberg_cpp_spark/) under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)

    import importlib

    import harness
    from spans import Tracer, install

    imports_s = time.perf_counter() - T_START
    host_before = harness.host_stamp()  # not part of set-up
    t0 = time.perf_counter()
    spark = start_spark()
    try:
        session_s = imports_s + time.perf_counter() - t0
        mod_name, cls_name = WORKLOADS[args.workload]
        tracer = Tracer(spark, enabled=False)
        wl = getattr(importlib.import_module(mod_name), cls_name)(
            spark, tracer, args.seed, work)
        wl.prepare()  # seeded inputs + oracle answers: not engine work
        builds = []
        for rep in range(SETUP_REPS):
            if rep:
                wl.drop()
            t0 = time.perf_counter()
            wl.setup(os.path.join(work, f"table{rep}"))
            builds.append(time.perf_counter() - t0)
        runner = harness.Runner(spark, tracer)
        t0 = time.perf_counter()
        for op in wl.warmup_ops():
            rec = runner.one(wl, op, -1)
            if not rec.ok:
                raise RuntimeError(f"warm-up {op.kind}: {rec.error}")
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(builds) + warmup_s
        if args.trace:
            install(tracer)
            tracer.enabled = True
        gc0 = runner.gc_ms()
        records = runner.measure(wl, args.seconds)
        gc_ms = runner.gc_ms() - gc0
        memory = runner.driver_memory()
        tracer.enabled = False
        tracer.uninstall()
        storage = wl.storage(records)
        host_after = harness.host_stamp()

        failed = sum(1 for r in records if not r.ok)
        if args.trace:
            metrics = harness.per_layer(tracer, records, gc_ms, storage,
                                        runner.stage_counts)
            tracer.dump(os.path.join(WORK, "traces",
                                     f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = harness.end_to_end(records, setup_s, sum(memory.values()))
        bands = harness.kind_bands(records)
        p90, beyond = harness.p90_or_none([r.lat for r in records])
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host_before": host_before, "host_after": host_after,
            "session_s": round(session_s, 3),
            "setup_builds_s": [round(b, 3) for b in builds],
            "warmup_s": round(warmup_s, 3),
            "ops": len(records),
            "driver_mib": {k: round(v, 1) for k, v in memory.items()},
            "op_p90_ms": None if p90 is None else round(p90 * 1e3, 3),
            "p90_samples_beyond": beyond,
            "kind_bands": bands,
            "p50_band": harness.band_at(bands, 0.5),
            "op_ms": [round(r.lat * 1e3, 1) for r in records],
            "error_ratio": failed / len(records),
            "errors": sorted({r.error for r in records if r.error})[:5],
            **{k: round(v, 3) for k, v in storage.items()},
        }
        print(json.dumps({"context": context}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in harness.declared(
                "per_layer" if args.trace else "end_to_end").items()},
        }))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
