"""Measurement loop, host-noise stamp, statistics and per-layer assembly.

A workload object provides ``prepare`` (seeded inputs and oracle answers,
untimed), ``setup`` (the table build that ``setup_s`` times), ``warmup_ops``,
``block(i)`` (the ops of the i-th block; blocks carry exact op shares),
``run``/``check`` (one op and its oracle check) and ``roots`` (directories
whose files it writes). The loop runs whole blocks until ``--seconds`` have
passed, one client, each op after the previous one completes (closed loop).
"""

from __future__ import annotations

import gc
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Optional

from spans import Tracer

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")

# --- host state -------------------------------------------------------------


def calibrate(n: int = 3_000_000, reps: int = 3) -> float:
    """Median seconds of ``reps`` passes of a fixed pure-Python loop: a
    contended or throttled host reads slower here, independently of the
    engine."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def host_stamp() -> dict:
    """Load average, the calibration loop's time and the CPU time the
    hypervisor has stolen so far (``/proc/stat``, in clock ticks)."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return {"loadavg_1m": load1, "calib_s": round(calibrate(), 4), "steal_ticks": steal}


def vm_rss_mib(pid: Optional[int] = None) -> float:
    path = f"/proc/{pid}/status" if pid else "/proc/self/status"
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


# --- statistics --------------------------------------------------------------

P90_MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def p90_or_none(values: list[float]) -> tuple[Optional[float], int]:
    """The 90th percentile, only when at least ``P90_MIN_BEYOND`` samples
    lie beyond it; always returns how many do."""
    if not values:
        return None, 0
    p = percentile(values, 0.9)
    beyond = sum(1 for v in values if v > p)
    return (p if beyond >= P90_MIN_BEYOND else None), beyond


def kind_bands(records: list["OpRecord"]) -> dict:
    """Where p50 and p90 fall among the op kinds: kinds sorted by median
    latency, each with its cumulative share band. Shows that neither
    percentile sits on a kind boundary."""
    by_kind: dict[str, list[float]] = {}
    for r in records:
        by_kind.setdefault(r.kind, []).append(r.lat)
    order = sorted(by_kind, key=lambda k: statistics.median(by_kind[k]))
    n, lo, bands = len(records), 0, {}
    for k in order:
        hi = lo + len(by_kind[k])
        bands[k] = {"share": [round(lo / n, 3), round(hi / n, 3)],
                    "median_ms": round(statistics.median(by_kind[k]) * 1e3, 2)}
        lo = hi
    return bands


def band_at(bands: dict, q: float) -> tuple[str, float]:
    """The kind whose share band holds quantile ``q``, and how far ``q``
    lies from the nearer edge of that band."""
    for kind, b in bands.items():
        lo, hi = b["share"]
        if lo <= q <= hi:
            return kind, round(min(q - lo, hi - q), 3)
    raise ValueError(f"no band holds {q}")


# --- file system deltas -------------------------------------------------------


def fs_snapshot(roots: list[str]) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
    return out


@dataclass
class OpRecord:
    kind: str
    lat: float
    ok: bool
    rows: int = 0
    created_bytes: int = 0
    created_puffin_bytes: int = 0
    removed_files: int = 0
    counts: dict = field(default_factory=dict)
    error: Optional[str] = None


# --- the loop ----------------------------------------------------------------


class Runner:
    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.stage_counts: dict[int, tuple[int, int]] = {}

    def driver_memory(self) -> dict[str, float]:
        """Driver memory in MiB once the measured ops are done: Python
        VmRSS, the live JVM heap, and the JVM's class metadata, code cache
        and buffer pools. The live heap is read after full GCs repeated until
        it stops shrinking: Spark's context cleaner and py4j free some objects
        only after a GC has run, so a single GC leaves 170-450 MiB of garbage
        on scan_mix, and the rounds needed vary from run to run."""
        gc.collect()  # drop Python's handles on JVM objects first
        lang = self.spark._jvm.java.lang
        mf = lang.management.ManagementFactory
        mx = mf.getMemoryMXBean()
        used, same = -1.0, 0
        for _ in range(12):
            lang.System.gc()
            now = mx.getHeapMemoryUsage().getUsed() / 2**20
            same = same + 1 if abs(now - used) < 1.0 else 0
            if same == 2:
                break
            used = now
            time.sleep(0.3)
        pools = mf.getPlatformMXBeans(lang.Class.forName("java.lang.management.BufferPoolMXBean"))
        return {"python_rss": vm_rss_mib(),
                "jvm_live_heap": now,
                "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
                "jvm_buffers": sum(p.getMemoryUsed() for p in pools) / 2**20}

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def measure(self, wl, seconds: float) -> list[OpRecord]:
        records: list[OpRecord] = []
        deadline = time.perf_counter() + seconds
        blk = 0
        while True:
            for op in wl.block(blk):
                records.append(self.one(wl, op, len(records)))
            blk += 1
            if time.perf_counter() >= deadline:
                return records

    def one(self, wl, op, op_id: int) -> OpRecord:
        before = fs_snapshot(wl.roots())
        self.tracer.op = op_id
        out, err = None, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                out = wl.run(op)
        except Exception as e:  # an op that raises counts as failed
            err = f"{type(e).__name__}: {e}"[:300]
        lat = time.perf_counter() - t0
        self.tracer.op = None
        after = fs_snapshot(wl.roots())
        rec = OpRecord(op.kind, lat, ok=False)
        new = [p for p in after if p not in before]
        rec.created_bytes = sum(after[p] for p in new)
        rec.created_puffin_bytes = sum(after[p] for p in new if p.endswith(".puffin"))
        rec.removed_files = sum(1 for p in before if p not in after)
        if err is None:
            try:
                rec.ok = bool(wl.check(op, out, rec))
                if not rec.ok:
                    err = "oracle mismatch"
            except Exception as e:
                err = f"check {type(e).__name__}: {e}"[:300]
        rec.error = err
        if self.tracer.enabled:
            self._count_stages(op_id)
        return rec

    def _count_stages(self, op_id: int) -> None:
        """(stages, tasks) of every job the op's spans recorded, read while
        the status tracker still retains them."""
        st = self.spark.sparkContext.statusTracker()
        for s in self.tracer.spans:
            if s.op != op_id:
                continue
            for j in s.jobs:
                info = st.getJobInfo(j)
                stages = [st.getStageInfo(sid) for sid in info.stageIds] if info else []
                stages = [x for x in stages if x is not None]
                self.stage_counts[j] = (len(stages), sum(x.numTasks for x in stages))


def declared(section: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares: the one list of which metrics a run reports."""
    with open(BENCHMARK_JSON) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def end_to_end(records: list[OpRecord], setup_s: float, driver_mem_mib: float) -> dict:
    lats = [r.lat for r in records]
    busy = sum(lats)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(records) / busy,
        "op_p50_ms": statistics.median(lats) * 1e3,
        "rows_per_s": sum(r.rows for r in records) / busy,
        "driver_mem_mib": driver_mem_mib,
    }


# --- per-layer metrics from the spans -----------------------------------------

def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tr: Tracer, records: list[OpRecord], gc_ms: float,
              storage: dict, stage_counts: dict) -> dict:
    """Every per-layer metric BENCHMARK.json declares; a layer the workload never
    calls reads 0. Times and counts are per call of the layer unless the
    name says otherwise (``*_per_op``, ``io.*`` and ``jvm.*`` are per op)."""
    spans = [s for s in tr.spans if s.op is not None]
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    n_ops = len(records)

    def calls(name):
        return by.get(name, [])

    def ms(name):
        ss = calls(name)
        return _div(sum(tr.self_time(s) for s in ss) * 1e3, len(ss))

    def dur_ms(name, per):
        return _div(sum(s.dur for s in calls(name)) * 1e3, per)

    def jobs(name):
        ss = calls(name)
        return _div(sum(len(s.jobs) for s in ss), len(ss))

    def cnt(name, key, per=None):
        ss = calls(name)
        return _div(sum(s.counts.get(key, 0) for s in ss), len(ss) if per is None else per)

    def rec_mean(kinds, key):
        """Mean over the ops of these kinds of an OpRecord field or count."""
        rs = [r for r in records if r.kind in kinds]
        return _div(sum(r.counts.get(key, getattr(r, key, 0)) for r in rs), len(rs))

    plans = calls("plan")
    scan_builds = calls("scan_build")
    delete_files = sum(s.counts.get("delete_files", 0) for s in calls("plan.deletes")
                       if any(a.name == "scan_build" for a in tr.ancestors(s)))
    exec_jobs = [j for s in calls("scan_exec") for j in s.jobs]
    commits = len(calls("commit.metadata_write"))
    op_jobs = sum(len(s.jobs) for s in spans if s.group)
    m = {
        "plan.ms": ms("plan"),
        "plan.jobs": jobs("plan"),
        "plan.decode_ms": _div(sum(s.dur for s in calls("plan.decode")
                                   if any(a.name == "plan" for a in tr.ancestors(s))) * 1e3,
                               len(plans)),
        "plan.files_out": cnt("plan", "files_out"),
        "plan.keep_ratio": _div(sum(s.counts.get("files_out", 0) for s in plans),
                                sum(s.counts.get("live_files", 0) for s in plans)),
        "plan.manifests_read": cnt("plan", "manifests_read"),
        "plan.manifest_keep_ratio": _div(sum(s.counts.get("manifests_read", 0) for s in plans),
                                         sum(s.counts.get("manifests_evaluated", 0) for s in plans)),
        "scan_build.ms": ms("scan_build"),
        "scan_build.jobs": jobs("scan_build"),
        "scan_build.delete_files": _div(delete_files, len(scan_builds)),
        "scan_exec.ms": ms("scan_exec"),
        "scan_exec.jobs": jobs("scan_exec"),
        "scan_exec.stages": _div(sum(stage_counts.get(j, (0, 0))[0] for j in exec_jobs),
                                 len(calls("scan_exec"))),
        "scan_exec.tasks": _div(sum(stage_counts.get(j, (0, 0))[1] for j in exec_jobs),
                                len(calls("scan_exec"))),
        "scan_exec.rows": cnt("scan_exec", "rows"),
        "append.ms": ms("append"),
        "append.jobs": jobs("append"),
        "append.bytes_written": rec_mean({"append"}, "created_bytes"),
        "metrics_harvest.ms": ms("metrics_harvest"),
        "commit.manifest_write_ms": (dur_ms("commit.manifest_write", commits)
                                     + dur_ms("commit.manifest_list_write", commits)),
        "commit.manifests_written": _div(len(calls("commit.manifest_write")), commits),
        "commit.metadata_write_ms": dur_ms("commit.metadata_write", commits),
        "commit.metadata_bytes": cnt("commit.metadata_write", "bytes", per=commits),
        "merge.ms": ms("merge"),
        "merge.jobs": jobs("merge"),
        "merge.files_rewritten": rec_mean({"merge"}, "files_rewritten"),
        "merge.bytes_written": rec_mean({"merge"}, "created_bytes"),
        "delete.ms": ms("delete"),
        "delete.jobs": jobs("delete"),
        "delete.dv_bytes": rec_mean({"delete"}, "created_puffin_bytes"),
        "puffin.write_ms": ms("puffin.write"),
        "maint.ms": ms("maint"),
        "maint.jobs": jobs("maint"),
        "maint.bytes_rewritten": rec_mean({"rewrite"}, "created_bytes"),
        "maint.files_removed": rec_mean({"orphans"}, "removed_files"),
        "dedup.ms": ms("dedup"),
        "dedup.jobs": jobs("dedup"),
        "dedup.keep_ratio": _div(sum(s.counts.get("docs_out", 0) for s in calls("dedup")),
                                 sum(s.counts.get("docs_in", 0) for s in calls("dedup"))),
        "chunk_write.ms": ms("chunk_write"),
        "contam.ms": ms("contam"),
        "contam.jobs": jobs("contam"),
        "io.read_bytes": _div(sum(s.counts.get("bytes", 0) for s in calls("io.read")), n_ops),
        "io.write_bytes": _div(sum(s.counts.get("bytes", 0) for s in calls("io.write")), n_ops),
        "io.read_ms": dur_ms("io.read", n_ops),
        "jvm.gc_ms": _div(gc_ms, n_ops),
        "spark.jobs_per_op": _div(op_jobs, n_ops),
        "storage.write_bytes_per_row": storage.get("write_bytes_per_row", 0.0),
        "storage.stored_bytes_per_row": storage.get("stored_bytes_per_row", 0.0),
        "trace.overhead_ms": _div(tr.overhead_s * 1e3, n_ops),
        "trace.ops_per_s": _div(n_ops, sum(r.lat for r in records)),
    }
    return {k: m[k] for k in declared("per_layer")}
