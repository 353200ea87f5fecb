"""Store operations of the ``query-store`` workload: one closed-loop client
ingests doc-disjoint batches into a BM25 serving store
(``streaming.bm25gate.write_batch_partials``), compacts it
(``streaming.compact.compact_bm25_store``) and issues a served read: the
stored-postings plan gate (``retrieval.maxscore_gate_from_postings``), then
``bm25gate.serve_bm25_topk`` with that verdict.

Batch 0 holds the query documents (``doc_id < N_QUERIES``); a seeded shuffle
deals the other documents over the batches.  The output check compares
each served top-k with one-shot ``q175_bm25_topk`` over the same documents,
row for row.  Each store lives in the run's own work directory, so no gate
memo sidecar crosses runs.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

N_BATCHES = 3  # compaction folds every batch but the newest, two or more


def assign_batches(seed: int, n_docs: int, n_queries: int) -> list[int]:
    """Batch of each doc id: the query docs in batch 0, the rest by a
    seeded shuffle dealt round-robin over all batches."""
    rest = list(range(n_queries, n_docs))
    random.Random(seed).shuffle(rest)
    batch = [0] * n_docs
    for i, doc in enumerate(rest):
        batch[doc] = i % N_BATCHES
    return batch


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


class StoreRun:
    """One store sequence over ``<docs_dir>/documents.parquet``: write every
    batch, compact, read once."""

    def __init__(self, ctx, docs_dir: str, tag: str):
        self.ctx, self.docs_dir = ctx, docs_dir
        self.state = os.path.join(ctx.work, f"store-{tag}")
        self.batched_path = os.path.join(ctx.work, f"batched-{tag}.parquet")
        self.op_s: dict[str, float] = {}
        self.probe_s = self.serve_s = 0.0
        self.files_at_read = 0
        self.prune = None
        self.served: list = []
        self.text_bytes = 0

    def run(self) -> dict[str, float]:
        """Write, compact and read; returns each operation's seconds."""
        from pyspark.sql import functions as F

        from oanda_stream_processor_spark.operators.retrieval import N_QUERIES
        from oanda_stream_processor_spark.streaming import bm25gate, compact

        ctx, spark = self.ctx, self.ctx.spark
        docs = pq.read_table(os.path.join(self.docs_dir, "documents.parquet"))
        self.text_bytes = sum(len(t.encode()) for t in docs.column("text").to_pylist())
        batches = assign_batches(ctx.seed, docs.num_rows, N_QUERIES)
        pq.write_table(docs.append_column("batch", pa.array(batches, pa.int32())),
                       self.batched_path)
        batched = spark.read.parquet(self.batched_path)
        spark.sparkContext.setJobGroup("store-ops", "store operations")
        for b in range(N_BATCHES):
            ctx.probe()
            with ctx.tracer.span("bm25gate.write_batch", batch=b):
                t = time.perf_counter()
                bm25gate.write_batch_partials(
                    batched.where(F.col("batch") == b).drop("batch"), self.state, b)
                self.op_s[f"store.write{b}"] = time.perf_counter() - t
        ctx.probe()
        with ctx.tracer.span("compact.compact"):
            t = time.perf_counter()
            compact.compact_bm25_store(spark, self.state)
            self.op_s["store.compact"] = time.perf_counter() - t
        self._read()
        spark.sparkContext.setJobGroup("perfbench", "perfbench")
        return dict(self.op_s)

    def _read(self) -> None:
        from oanda_stream_processor_spark.operators.retrieval import (
            maxscore_gate_from_postings)
        from oanda_stream_processor_spark.streaming import bm25gate, compact

        ctx, spark, state = self.ctx, self.ctx.spark, self.state
        self.files_at_read = compact.store_file_count(state)
        ctx.probe()
        with ctx.tracer.span("bm25gate.read", files=self.files_at_read):
            t = time.perf_counter()
            with ctx.tracer.span("bm25gate.gate_probe"):
                self.prune = maxscore_gate_from_postings(bm25gate.read_tf(spark, state),
                                                         bm25gate.read_dl(spark, state))
            t1 = time.perf_counter()
            with ctx.tracer.span("bm25gate.serve", prune=self.prune):
                self.served = [tuple(r) for r in
                               bm25gate.serve_bm25_topk(spark, state, prune=self.prune).collect()]
            t2 = time.perf_counter()
        self.probe_s, self.serve_s = t1 - t, t2 - t1
        self.op_s["store.read"] = t2 - t


def store_detail(ctx, stores: list[StoreRun]) -> tuple[int, dict]:
    """(failures, detail): every served top-k against one-shot q175, and the
    store figures, as means over the stores when there are several."""
    import __spark_entry__ as ent
    from oanda_stream_processor_spark.streaming import bm25gate

    spark, last = ctx.spark, stores[-1]
    oneshot = sorted(tuple(r) for r in
                     ent.queries()["q175_bm25_topk"](spark, last.docs_dir).collect())
    unequal = sum(1 for s in stores if sorted(s.served) != oneshot)

    def mean(values) -> float:
        values = list(values)
        return sum(values) / len(values)

    writes = mean(sum(s.op_s[f"store.write{b}"] for b in range(N_BATCHES)) for s in stores)
    compact_s = mean(s.op_s["store.compact"] for s in stores)
    detail = {"store_ingest_s": writes + compact_s,
              "store_read_s": mean(s.op_s["store.read"] for s in stores),
              "store_bytes_ratio": _dir_bytes(last.state) / last.text_bytes,
              "topk_mismatches": unequal, "served_rows": len(last.served),
              "oneshot_rows": len(oneshot)}
    if ctx.trace:
        t = time.perf_counter()
        for reader in (bm25gate.read_tf, bm25gate.read_dl, bm25gate.read_term_df,
                       bm25gate.read_corpus_stats):
            reader(spark, last.state).write.format("noop").mode("overwrite").save()
        scan_s = time.perf_counter() - t
        detail.update({
            "bm25gate.write_batch_s": writes,
            "compact.compact_s": compact_s,
            "compact.files_at_read": last.files_at_read,
            "bm25gate.gate_probe_s": mean(s.probe_s for s in stores),
            "bm25gate.scan_s": scan_s,
            "bm25gate.rank_s": mean(s.serve_s for s in stores) - scan_s,
            "bm25gate.pruned_reads": sum(1 for s in stores if s.prune),
            "bm25gate.store_bytes": _dir_bytes(last.state)})
    return unequal, detail
