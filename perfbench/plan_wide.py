"""plan_wide: scan planning only, over synthetic manifest metadata.

``PLAN_DAYS`` commits through the public ``commit_files_df`` register
``PLAN_FILES_PER_DAY`` fake files each (one day partition per commit, with
per-file ``id`` bounds); the files are never opened. Ops at fixed shares
(``gen.PLAN_SHARES``): one-day plans small enough for the driver planner,
``id``-range plans that survive manifest pruning on every manifest (so the
distributed planner runs), and ``plan_files_df()`` aggregates over a range
of days. Oracle: exact file counts from the same generated bounds.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pandas as pd

import gen

EPOCH = dt.date(1970, 1, 1)


class PlanWide:
    name = "plan_wide"

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.table = None

    def _schema_spec(self):
        from iceberg_cpp_spark.core import types as itt
        from iceberg_cpp_spark.core.metadata import PartitionField, PartitionSpec
        from iceberg_cpp_spark.functions import transforms as tr

        schema = itt.Schema([itt.NestedField(1, "id", itt.LongType(), required=True),
                             itt.NestedField(2, "d", itt.DateType(), required=True),
                             itt.NestedField(3, "v", itt.LongType())], schema_id=0)
        spec = PartitionSpec([PartitionField(2, 1000, "d_day", tr.DAY)], spec_id=0)
        return schema, spec

    def prepare(self) -> None:
        """One parquet file of file descriptors per day."""
        from iceberg_cpp_spark.core import manifests as mf

        schema, spec = self._schema_spec()
        self.files = f = gen.plan_files(self.seed)
        self.desc_dir = os.path.join(self.work, "descriptors")
        os.makedirs(self.desc_dir, exist_ok=True)

        def bound(v: int) -> str:
            return int(v).to_bytes(8, "little").hex()

        for day in range(gen.PLAN_DAY0, gen.PLAN_DAY0 + gen.PLAN_DAYS):
            sel = np.nonzero(f["day"] == day)[0]
            pd.DataFrame({
                "file_path": [f"/fake/d{day}/f{i:06d}.parquet" for i in sel],
                "record_count": f["records"][sel],
                "file_size_in_bytes": f["size"][sel],
                "partition_json": mf.partition_to_json({"d_day": day}, spec, schema),
                "metrics_json": [json.dumps({
                    "column_sizes": {}, "value_counts": {"1": int(r)},
                    "null_value_counts": {"1": 0}, "nan_value_counts": {},
                    "lower_bounds": {"1": bound(lo)}, "upper_bounds": {"1": bound(hi)}})
                    for lo, hi, r in zip(f["lo"][sel], f["hi"][sel], f["records"][sel])],
            }).to_parquet(os.path.join(self.desc_dir, f"day-{day}.parquet"))

    def setup(self, loc: str) -> None:
        from iceberg_cpp_spark import IceTable

        schema, spec = self._schema_spec()
        t = IceTable.create(self.spark, loc, schema, spec=spec)
        for day in range(gen.PLAN_DAY0, gen.PLAN_DAY0 + gen.PLAN_DAYS):
            t = t.commit_files_df(self.spark.read.parquet(
                os.path.join(self.desc_dir, f"day-{day}.parquet")))
        self.table = t

    def drop(self) -> None:
        shutil.rmtree(self.table.location(), ignore_errors=True)

    def warmup_ops(self):
        return self.block(0)

    def block(self, i: int):
        return gen.plan_block(self.seed)

    def roots(self) -> list[str]:
        return [self.table.location()]

    def run(self, op):
        from pyspark.sql import functions as F

        from iceberg_cpp_spark.plans import expressions as ex

        p, ref = op.params, ex.Reference
        if op.kind == "day_plan":
            flt = ex.and_(ex.eq(ref("d"), EPOCH + dt.timedelta(days=p["day"])),
                          ex.lt(ref("id"), p["id_below"]))
            return (len(self.table.scan(filter=flt).plan_files()),)
        if op.kind == "id_plan":
            flt = ex.and_(ex.gt_eq(ref("id"), p["lo"]), ex.lt(ref("id"), p["hi"]))
            return (len(self.table.scan(filter=flt).plan_files()),)
        # planning is inclusive: a `d < x` bound keeps day x's files (they
        # may hold matches), so the range is closed to keep the count exact
        flt = ex.and_(ex.gt_eq(ref("d"), EPOCH + dt.timedelta(days=p["day_lo"])),
                      ex.lt_eq(ref("d"), EPOCH + dt.timedelta(days=p["day_last"])))
        # plan_files_df is lazy: the aggregate is where planning happens
        with self.tr.span("plan") as s:
            row = (self.table.scan(filter=flt).plan_files_df()
                   .agg(F.count("*"), F.sum("record_count")).collect()[0])
            self.tr.count("files_out", int(row[0]), s)
            self.tr.count("live_files", gen.PLAN_DAYS * gen.PLAN_FILES_PER_DAY, s)
        return (int(row[0]), int(row[1] or 0))

    def check(self, op, out, rec) -> bool:
        f, p = self.files, op.params
        if op.kind == "day_plan":
            keep = (f["day"] == p["day"]) & (f["lo"] < p["id_below"])
            exp = (int(keep.sum()),)
        elif op.kind == "id_plan":
            keep = (f["lo"] < p["hi"]) & (f["hi"] >= p["lo"])
            exp = (int(keep.sum()),)
        else:
            keep = (f["day"] >= p["day_lo"]) & (f["day"] <= p["day_last"])
            exp = (int(keep.sum()), int(f["records"][keep].sum()))
        rec.rows = exp[0]
        return out == exp

    def storage(self, records) -> dict:
        return {}
