"""scan_mix: read-only queries on a month(l_shipdate)-partitioned table that
carries two rounds of deletion vectors.

Ops at fixed shares (``gen.SCAN_SHARES``): pruned month-range aggregates,
l_orderkey range lookups (metrics-only pruning, so every file is planned
and most are read), and full-table group-by aggregates. Oracle: duckdb
over the same generated rows with the deleted rows filtered out.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as pq

import gen


class ScanMix:
    name = "scan_mix"

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.table = None

    def prepare(self) -> None:
        self.src = os.path.join(self.work, "lineitem.parquet")
        pq.write_table(gen.lineitem(self.seed), self.src)
        live = (f"NOT (l_partkey < {gen.SCAN_DV_PARTKEY_BELOW}) "
                f"AND l_discount <> {gen.SCAN_DV_DISCOUNT}")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet('{self.src}') WHERE {live}")
        self.expect = {}
        for op in self.block(0):
            self.expect[self._key(op)] = self._oracle(con, op)
        con.close()

    @staticmethod
    def _key(op):
        return (op.kind, tuple(sorted(op.params.items())))

    @staticmethod
    def _oracle(con, op):
        p = op.params
        if op.kind == "month_agg":
            sql = ("SELECT count(*), coalesce(sum(l_extendedprice), 0) FROM li "
                   f"WHERE l_shipdate >= DATE '{p['lo']}' AND l_shipdate < DATE '{p['hi']}'")
            return tuple(int(v) for v in con.execute(sql).fetchone())
        if op.kind == "key_lookup":
            sql = ("SELECT count(*), coalesce(sum(l_quantity), 0) FROM li "
                   f"WHERE l_orderkey >= {p['lo']} AND l_orderkey < {p['hi']}")
            return tuple(int(v) for v in con.execute(sql).fetchone())
        rows = con.execute(
            "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), "
            "sum(l_extendedprice), sum(l_discount) FROM li GROUP BY 1, 2").fetchall()
        return {(r[0], r[1]): tuple(int(v) for v in r[2:]) for r in rows}

    def setup(self, loc: str) -> None:
        from iceberg_cpp_spark import IceTable
        from iceberg_cpp_spark.core.metadata import PartitionField, PartitionSpec
        from iceberg_cpp_spark.core.types import schema_from_spark
        from iceberg_cpp_spark.functions import transforms as tr
        from iceberg_cpp_spark.plans import expressions as ex

        li = self.spark.read.parquet(self.src)
        schema = schema_from_spark(li.schema)
        sd = schema.find_field("l_shipdate")
        spec = PartitionSpec([PartitionField(sd.field_id, 1000, "ship_month",
                                             tr.MonthTransform())])
        t = IceTable.create(self.spark, loc, schema, spec=spec,
                            properties={"format-version": "3"})
        t = t.append(li)
        t = t.delete_where(ex.lt(ex.Reference("l_partkey"), gen.SCAN_DV_PARTKEY_BELOW),
                           mode="deletion-vector")
        t = t.delete_where(ex.eq(ex.Reference("l_discount"), gen.SCAN_DV_DISCOUNT),
                           mode="deletion-vector")
        self.table = t

    def drop(self) -> None:
        shutil.rmtree(self.table.location(), ignore_errors=True)

    def warmup_ops(self):
        return self.block(0)

    def block(self, i: int):
        return gen.scan_block(self.seed)

    def roots(self) -> list[str]:
        return [self.table.location()]

    def run(self, op):
        from pyspark.sql import functions as F

        from iceberg_cpp_spark.plans import expressions as ex

        p, ref = op.params, ex.Reference
        if op.kind == "month_agg":
            flt = ex.and_(ex.gt_eq(ref("l_shipdate"), p["lo"]), ex.lt(ref("l_shipdate"), p["hi"]))
            aggs = [F.count("*"), F.sum("l_extendedprice")]
        elif op.kind == "key_lookup":
            flt = ex.and_(ex.gt_eq(ref("l_orderkey"), p["lo"]), ex.lt(ref("l_orderkey"), p["hi"]))
            aggs = [F.count("*"), F.sum("l_quantity")]
        else:
            flt = None
        with self.tr.span("scan_build"):
            df = self.table.scan(filter=flt).to_df()
        with self.tr.span("scan_exec") as s:
            if flt is not None:
                row = df.agg(*aggs).collect()[0]
                out = (int(row[0]), int(row[1] or 0))
                n = out[0]
            else:
                rows = (df.groupBy("l_returnflag", "l_linestatus")
                        .agg(F.count("*"), F.sum("l_quantity"), F.sum("l_extendedprice"),
                             F.sum("l_discount")).collect())
                out = {(r[0], r[1]): tuple(int(v) for v in r[2:]) for r in rows}
                n = sum(v[0] for v in out.values())
            self.tr.count("rows", n, s)
        return out

    def check(self, op, out, rec) -> bool:
        exp = self.expect[self._key(op)]
        rec.rows = exp[0] if isinstance(exp, tuple) else sum(v[0] for v in exp.values())
        return out == exp

    def storage(self, records) -> dict:
        return {}
