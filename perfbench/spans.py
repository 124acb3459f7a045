"""Spans around the engine's layer boundaries, recorded from outside.

The engine has no instrumentation of its own, so the traced run wraps the
public functions at each layer boundary (``install``) and the workloads open
spans around the public calls they make (``Tracer.span``). Every span that
may launch Spark jobs sets a job group, so ``statusTracker`` attributes jobs,
stages and tasks to exactly one span. High-frequency leaf calls (manifest
decode, FileIO, pruning) are "light": timed, but without a job group.

Spans stay in memory; ``harness.per_layer`` turns them into the per-layer
figures when the run ends, and ``dump`` writes them out.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Optional


@dataclass
class Span:
    idx: int
    name: str
    start: float
    parent: Optional[int]
    op: Optional[int]
    group: Optional[str]
    end: float = 0.0
    jobs: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def layer_of(name: str) -> str:
    """``plan.decode`` belongs to the ``plan`` layer."""
    return name.split(".", 1)[0]


class Tracer:
    """Records spans while ``enabled``; a disabled tracer is a no-op, so
    workloads call ``span`` unconditionally."""

    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: Optional[int] = None
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._kids: dict[int, list[Span]] = {}
        self._kids_n = -1

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Optional[Span]:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, light: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            idx = len(self.spans)
            s = Span(idx, name, 0.0, parent.idx if parent else None, self.op,
                     None if light else f"perfbench-{idx}")
            self.spans.append(s)
        if s.group and self.sc is not None:
            self.sc.setJobGroup(s.group, name)
        st.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            if s.group and self.sc is not None:
                self._restore_group(st)
                s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(s.group))
            self.overhead_s += time.perf_counter() - s.end

    def _restore_group(self, st: list) -> None:
        outer = next((p for p in reversed(st) if p.group), None)
        if outer is not None:
            self.sc.setJobGroup(outer.group, outer.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def count(self, key: str, n: float = 1, span: Optional[Span] = None) -> None:
        s = span or self.current()
        if self.enabled and s is not None:
            s.counts[key] = s.counts.get(key, 0) + n

    # --- wrapping the engine's public functions --------------------------
    def wrap(self, owner, attr: str, name: str, light: bool = False,
             after: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` by a traced version. For a module-level
        function every module of the engine that bound it by name gets the
        traced version too (``from m import f`` copies the reference)."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            cur = tracer.current()
            if not tracer.enabled or (cur is not None and cur.name == name):
                return orig(*args, **kwargs)  # a layer re-entering itself is one span
            with tracer.span(name, light=light) as s:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(tracer, s, args, out)
                return out

        traced.__wrapped__ = orig
        targets = [owner]
        if not isinstance(owner, type):
            targets += [m for n, m in list(sys.modules.items())
                        if n.startswith("iceberg_cpp_spark") and m is not owner
                        and getattr(m, attr, None) is orig]
        for t in targets:
            self._patches.append((t, attr, orig))
            setattr(t, attr, traced)

    def uninstall(self) -> None:
        for t, attr, orig in reversed(self._patches):
            setattr(t, attr, orig)
        self._patches.clear()

    # --- results ----------------------------------------------------------
    def self_time(self, s: Span) -> float:
        """Duration minus the union of the intervals covered by nested spans
        of another layer. A layer's own sub-spans (``plan.decode`` inside
        ``plan``) count as its time; ``io.*`` spans are transparent."""
        kids = self._children()
        ivals, todo = [], list(kids[s.idx])
        while todo:
            c = todo.pop()
            if layer_of(c.name) in (layer_of(s.name), "io"):
                todo.extend(kids[c.idx])
            else:
                ivals.append((c.start, c.end))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(ivals):
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.dur - covered

    def _children(self) -> dict[int, list[Span]]:
        if self._kids_n != len(self.spans):
            kids: dict[int, list[Span]] = {s.idx: [] for s in self.spans}
            for s in self.spans:
                if s.parent is not None:
                    kids[s.parent].append(s)
            self._kids, self._kids_n = kids, len(self.spans)
        return self._kids

    def ancestors(self, s: Span):
        while s.parent is not None:
            s = self.spans[s.parent]
            yield s

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "idx": s.idx, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "jobs": s.jobs,
                    "self_ms": self.self_time(s) * 1e3, "counts": s.counts}) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer boundaries named in the benchmark's
    interaction map (``interactions.json``)."""
    from iceberg_cpp_spark import table as tbl
    from iceberg_cpp_spark.core import io as fio
    from iceberg_cpp_spark.core import manifests as mf
    from iceberg_cpp_spark.core import metadata as md
    from iceberg_cpp_spark.core import metrics as mt
    from iceberg_cpp_spark.plans import pruning

    def planned(tr, s, args, out):
        scan = args[0]
        snap = scan.snapshot()
        live = int((snap.summary or {}).get("total-data-files", 0)) if snap else 0
        tr.count("live_files", live, s)
        if isinstance(out, list):
            tr.count("files_out", len(out), s)

    def summaries(tr, s, args, out):
        plan = next((p for p in tr.ancestors(s) if p.name == "plan"), None)
        if plan is not None:
            tr.count("manifests_evaluated", 1, plan)
            tr.count("manifests_read", 1 if out else 0, plan)

    def deletes(tr, s, args, out):
        tr.count("delete_files", len(out), s)

    def metadata_written(tr, s, args, out):
        path = args[1] if len(args) > 1 else None
        if path and os.path.exists(path):
            tr.count("bytes", os.path.getsize(path), s)

    def io_bytes(tr, s, args, out):
        data = out if isinstance(out, (bytes, bytearray)) else (args[2] if len(args) > 2 else b"")
        tr.count("bytes", len(data), s)

    tracer.wrap(tbl.TableScan, "plan_files", "plan", after=planned)
    tracer.wrap(tbl.TableScan, "plan_files_df", "plan", after=planned)
    tracer.wrap(tbl.TableScan, "plan_deletes", "plan.deletes", light=True, after=deletes)
    tracer.wrap(mf, "read_manifest_list", "plan.decode", light=True)
    tracer.wrap(mf, "read_manifest", "plan.decode", light=True)
    tracer.wrap(pruning, "evaluate_partition_summaries", "plan.prune", light=True,
                after=summaries)
    tracer.wrap(mt, "collect_metrics", "metrics_harvest")
    tracer.wrap(mf.ManifestWriter, "close", "commit.manifest_write", light=True)
    tracer.wrap(mf.ManifestListWriter, "close", "commit.manifest_list_write", light=True)
    tracer.wrap(md, "write_table_metadata", "commit.metadata_write", light=True,
                after=metadata_written)
    # puffin.write_deletion_vectors runs inside executors, out of the
    # driver's reach: the span covers the one Spark job that builds the
    # bitmaps and writes the puffin shards
    tracer.wrap(tbl, "_build_and_write_dv_shards", "puffin.write")
    tracer.wrap(fio.LocalFileIO, "read_bytes", "io.read", light=True, after=io_bytes)
    tracer.wrap(fio.LocalFileIO, "write_bytes", "io.write", light=True, after=io_bytes)
