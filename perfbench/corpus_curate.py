"""corpus_curate: the LLM data-pipeline leg over documents in an Iceberg table.

Each op reads a seeded 3/4 shard of the train documents, then runs
``dedup.minhash_lsh_dedup`` -> ``text.chunk_documents`` -> ``IceTable.overwrite``
of a chunks table -> ``text.contamination`` against the held-out slice.

Oracle (plain Python over the same generated documents): the train corpus
holds exact duplicates only (random word sequences share no word 3-gram),
so dedup keeps the smallest id per distinct text; chunk counts follow from
the kept texts' lengths, contamination from their word 4-gram sets.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import gen


def n_chunks(n_chars: int) -> int:
    """Chunks ``chunk_documents`` emits for a text of ``n_chars`` chars."""
    step = gen.CHUNK_CHARS - gen.CHUNK_OVERLAP
    return max(n_chars - gen.CHUNK_OVERLAP - 1, 0) // step + 1


def word_grams(text: str, n: int) -> set:
    w = text.strip().lower().split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


class CorpusCurate:
    name = "corpus_curate"

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.docs = self.chunks = None
        self.expect = {}

    def prepare(self) -> None:
        tab = gen.corpus(self.seed)
        self.src = os.path.join(self.work, "documents.parquet")
        pq.write_table(tab, self.src)
        d = tab.to_pydict()
        held = [t for t, s in zip(d["text"], d["split"]) if s == "heldout"]
        held_grams = set().union(*(word_grams(t, gen.CONTAM_N) for t in held))
        train = [(i, b, t) for i, b, s, t in zip(d["doc_id"], d["bucket"], d["split"], d["text"])
                 if s == "train"]
        for op in self.block(0):
            shard = [(i, t) for i, b, t in train if b in op.params["buckets"]]
            first = {}
            for i, t in sorted(shard):
                first.setdefault(t, i)
            kept = [(i, t) for t, i in first.items()]
            hits = [len(word_grams(t, gen.CONTAM_N) & held_grams) for _, t in kept]
            self.expect[op.params["buckets"]] = {
                "docs_in": len(shard), "docs_out": len(kept),
                "chunks": sum(n_chunks(len(t)) for _, t in kept),
                "contaminated": sum(1 for h in hits if h),
                "shared_grams": sum(hits),
            }

    def setup(self, loc: str) -> None:
        from iceberg_cpp_spark import IceTable
        from iceberg_cpp_spark.core.types import schema_from_spark

        df = self.spark.read.parquet(self.src)
        t = IceTable.create(self.spark, os.path.join(loc, "documents"),
                            schema_from_spark(df.schema))
        self.docs = t.append(df)
        self.chunks = IceTable.create(self.spark, os.path.join(loc, "chunks"),
                                      self._chunk_schema())
        self.loc = loc

    def _chunk_schema(self):
        from pyspark.sql import types as T

        from iceberg_cpp_spark.core.types import schema_from_spark

        return schema_from_spark(T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("chunk_text", T.StringType())]))

    def drop(self) -> None:
        shutil.rmtree(self.loc, ignore_errors=True)

    def warmup_ops(self):
        return self.block(0)[:1]

    def block(self, i: int):
        return gen.corpus_block(self.seed)

    def roots(self) -> list[str]:
        return [self.loc]

    def run(self, op):
        from pyspark.sql import functions as F

        from iceberg_cpp_spark.operators import dedup
        from iceberg_cpp_spark.operators import text as tx
        from iceberg_cpp_spark.plans import expressions as ex

        ref = ex.Reference
        with self.tr.span("scan_build"):
            docs = self.docs.to_df()
            shard = self.docs.scan(filter=ex.and_(
                ex.eq(ref("split"), "train"),
                ex.in_(ref("bucket"), list(op.params["buckets"])))).to_df()
            held = docs.filter(F.col("split") == "heldout")
        with self.tr.span("dedup") as s:
            kept = dedup.minhash_lsh_dedup(shard, num_perm=64, bands=16,
                                           materialize="persist")
            kept_ids = kept.select("doc_id").persist()
            docs_out = kept_ids.count()
            self.tr.count("docs_in", self.expect[op.params["buckets"]]["docs_in"], s)
            self.tr.count("docs_out", docs_out, s)
        try:
            kept_docs = shard.join(kept_ids, "doc_id", "left_semi")
            with self.tr.span("chunk_write"):
                chunks = tx.chunk_documents(kept_docs, chunk_chars=gen.CHUNK_CHARS,
                                            overlap_chars=gen.CHUNK_OVERLAP)
                self.chunks = self.chunks.overwrite(
                    chunks.withColumn("chunk_idx", F.col("chunk_idx").cast("int")))
                n_chunks_written = int(self.chunks.current_snapshot().summary["total-records"])
            with self.tr.span("contam"):
                hits = (tx.contamination(kept_docs, held, n=gen.CONTAM_N)
                        .agg(F.count("*"), F.sum("n_contaminated_grams")).collect()[0])
        finally:
            kept_ids.unpersist()
            kept.release_signatures()
        return {"docs_out": docs_out, "chunks": n_chunks_written,
                "contaminated": int(hits[0]), "shared_grams": int(hits[1] or 0)}

    def check(self, op, out, rec) -> bool:
        exp = self.expect[op.params["buckets"]]
        rec.rows = exp["docs_in"]
        rec.counts["chunks"] = exp["chunks"]
        return out == {k: exp[k] for k in out}

    def storage(self, records) -> dict:
        rows = sum(r.counts.get("chunks", 0) for r in records)
        return {"write_bytes_per_row": sum(r.created_bytes for r in records) / max(rows, 1)}
