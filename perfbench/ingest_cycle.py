"""ingest_cycle: rolling-window writes on an orders-shaped v3 table.

Each cycle appends ``INGEST_BATCH`` new keys, MERGEs an ``INGEST_UPSERT``-key
upsert into recent keys and deletes the oldest ``INGEST_BATCH`` keys with a
deletion vector, reading the table back after each of the three writes. Every
``INGEST_PERIOD`` cycles it compacts, expires snapshots and removes orphan
files. The live key count stays ``INGEST_LIVE`` throughout, and a block is
one whole maintenance period, so cost does not drift with run length.

Oracle: a numpy model of the live keys, updated from the same generated
batches; every read-back compares count and two column sums with it.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen


class IngestCycle:
    name = "ingest_cycle"

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.table = None
        self.batches = os.path.join(work, "batches")

    def prepare(self) -> None:
        os.makedirs(self.batches, exist_ok=True)
        self.initial = os.path.join(self.batches, "initial.parquet")
        pq.write_table(gen.orders(self.seed, 0, gen.INGEST_LIVE, stream=0), self.initial)

    # --- model of the live table (the oracle) -----------------------------
    def _reset_model(self) -> None:
        t = pq.read_table(self.initial)
        self.m_price = t["o_totalprice"].to_numpy().copy()
        self.m_cust = t["o_custkey"].to_numpy().copy()
        self.m_lo, self.m_hi = 0, gen.INGEST_LIVE

    def _model_put(self, tab: pa.Table) -> None:
        keys = tab["o_orderkey"].to_numpy()
        end = int(keys.max()) + 1
        if end > len(self.m_price):
            grow = end - len(self.m_price)
            self.m_price = np.concatenate([self.m_price, np.zeros(grow, np.int64)])
            self.m_cust = np.concatenate([self.m_cust, np.zeros(grow, np.int64)])
        self.m_price[keys] = tab["o_totalprice"].to_numpy()
        self.m_cust[keys] = tab["o_custkey"].to_numpy()
        self.m_hi = max(self.m_hi, end)

    def _model_read(self) -> tuple:
        lo, hi = self.m_lo, self.m_hi
        return (hi - lo, int(self.m_price[lo:hi].sum()), int(self.m_cust[lo:hi].sum()))

    # --- set-up -----------------------------------------------------------
    def setup(self, loc: str) -> None:
        from iceberg_cpp_spark import IceTable
        from iceberg_cpp_spark.core.types import schema_from_spark

        df = self.spark.read.parquet(self.initial)
        t = IceTable.create(self.spark, loc, schema_from_spark(df.schema),
                            properties={"format-version": "3"})
        self.table = t.append(df)
        self._reset_model()

    def drop(self) -> None:
        shutil.rmtree(self.table.location(), ignore_errors=True)

    def warmup_ops(self):
        """One cycle and one maintenance round (cycle 0); the measured
        periods start at cycle 1."""
        return self._ops(0, 1)

    def roots(self) -> list[str]:
        return [self.table.location()]

    def block(self, i: int):
        """Ops of measured maintenance period ``i``."""
        return self._ops(1 + i * gen.INGEST_PERIOD, gen.INGEST_PERIOD)

    def _ops(self, first_cycle: int, cycles: int):
        """The ops of these cycles; writes their batches (outside any timed
        region)."""
        ops = gen.ingest_ops(first_cycle, cycles)
        for op in ops:
            p = op.params
            if op.kind == "append":
                pq.write_table(gen.orders(self.seed, p["key_lo"], gen.INGEST_BATCH,
                                          stream=1 + p["cycle"]), self._batch("append", p["cycle"]))
            elif op.kind == "merge":
                pq.write_table(gen.upsert(self.seed, p["recent_hi"], p["cycle"]),
                               self._batch("merge", p["cycle"]))
        return ops

    def _batch(self, kind: str, cycle: int) -> str:
        return os.path.join(self.batches, f"{kind}-{cycle}.parquet")

    # --- ops ----------------------------------------------------------------
    def run(self, op):
        from pyspark.sql import functions as F

        from iceberg_cpp_spark.plans import expressions as ex

        p, t = op.params, self.table
        if op.kind == "append":
            with self.tr.span("append"):
                self.table = t.append(self.spark.read.parquet(self._batch("append", p["cycle"])))
        elif op.kind == "merge":
            with self.tr.span("merge"):
                self.table = t.merge_into(self.spark.read.parquet(self._batch("merge", p["cycle"])),
                                          on=["o_orderkey"])
        elif op.kind == "delete":
            with self.tr.span("delete"):
                self.table = t.delete_where(ex.lt(ex.Reference("o_orderkey"), p["below"]),
                                            mode="deletion-vector")
        elif op.kind == "read":
            with self.tr.span("scan_build"):
                df = t.to_df()
            with self.tr.span("scan_exec") as s:
                row = df.agg(F.count("*"), F.sum("o_totalprice"), F.sum("o_custkey")).collect()[0]
                self.tr.count("rows", int(row[0]), s)
            return tuple(int(v or 0) for v in row)
        else:
            with self.tr.span("maint"):
                if op.kind == "rewrite":
                    self.table = t.rewrite_data_files()
                elif op.kind == "expire":
                    self.table = t.expire_snapshots(keep_last=1)
                else:
                    return len(t.remove_orphan_files(older_than_ms=int(time.time() * 1000) + 1))
        return None

    def check(self, op, out, rec) -> bool:
        p = op.params
        if op.kind == "append":
            self._model_put(pq.read_table(self._batch("append", p["cycle"])))
            rec.rows = gen.INGEST_BATCH
            return self._summary("added-records") == gen.INGEST_BATCH
        if op.kind == "merge":
            self._model_put(pq.read_table(self._batch("merge", p["cycle"])))
            rec.rows = gen.INGEST_UPSERT
            rec.counts["files_rewritten"] = self._files_removed()
            return True
        if op.kind == "delete":
            self.m_lo = p["below"]
            rec.rows = gen.INGEST_BATCH
            return True
        if op.kind == "read":
            return out == self._model_read()
        if op.kind == "orphans":
            return out == rec.removed_files
        return True

    def _summary(self, key: str, snap=None) -> int:
        snap = snap or self.table.current_snapshot()
        return int((snap.summary or {}).get(key, 0))

    def _files_removed(self) -> int:
        """Data files the last commit dropped (the summary has no
        deleted-files count): parent total + added - new total."""
        snap = self.table.current_snapshot()
        parent = self.table.metadata.snapshot_by_id(snap.parent_snapshot_id)
        return (self._summary("total-data-files", parent)
                + self._summary("added-data-files") - self._summary("total-data-files"))

    def storage(self, records) -> dict:
        rows = sum(r.rows for r in records)
        stored = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(self.table.location()) for f in fs)
        return {
            "write_bytes_per_row": sum(r.created_bytes for r in records) / max(rows, 1),
            "stored_bytes_per_row": stored / max(self.m_hi - self.m_lo, 1),
        }
