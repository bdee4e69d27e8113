"""curation: the text, dedup and similarity pipeline on a scaled corpus.

One cold pass, then a fixed number of warm passes. A pass is six
registered curation queries plus one ``IncrementalDedupIndex.add_batch``
of a seed-chosen document batch; each is one operation, collected and
checked against its DuckDB twin.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import fixtures, twins
from perfbench.ops import run_op

# one query per cache family and text kernel; term_cooccurrence,
# ngram_jaccard, simhash_neardup and knn_pq are left out to fit the run
# budget, see NOTES.md
QUERIES = (
    "doc_chunks", "dup_span_stats", "minhash_dedup", "decontamination",
    "embedding_neardup", "knn_ivf",
)
TABLES = ("documents", "embeddings")
# corpus: COPIES disjoint copies of a BASE_DOCS / BASE_VECS base corpus
BASE_DOCS = 150
BASE_VECS = 150
COPIES = 2
BATCH_DOCS = 40  # documents per add_batch
PASS_S = 8.0  # one warm pass on an idle 4-core host


class Curation:
    name = "curation"

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.run_dir, "data")
        self.index_path = os.path.join(ctx.run_dir, "dedup_index")
        self.pass_s: list[float] = []
        self._pairs_expected: dict = {}

    def prepare(self) -> None:
        """Inputs, before set-up."""
        corpus = fixtures.curation_corpus(self.data, self.ctx.seed, BASE_DOCS,
                                          BASE_VECS, COPIES)
        self.corpus = {k: v for k, v in corpus.items() if k != "doc_ids"}
        self.batches = fixtures.add_batches(
            corpus["doc_ids"], self.ctx.seed,
            1 + self.warm_passes(self.ctx.seconds), BATCH_DOCS)

    def expect(self) -> None:
        """Expected answers, after the engine has stopped: the twins'
        memory stays out of the engine's peak."""
        from xboard_spark.oracles import all_oracles

        self.con = twins.connect(self.data, TABLES)
        oracles = all_oracles()
        self.expected = {q: twins.run(self.con, oracles[q]) for q in QUERIES}

    def setup(self, spark) -> None:
        """Open the corpus tables, decode them once, open an empty index."""
        from xboard_spark import io as xio
        from xboard_spark.streaming.dedup import IncrementalDedupIndex

        for name in TABLES:
            xio.read_table(spark, self.data, name).count()
        self.index = IncrementalDedupIndex(spark, self.index_path)

    def _pass(self, spark, k: int) -> list:
        import __spark_entry__ as entry
        from pyspark.sql import functions as F
        from xboard_spark import io as xio

        qs = entry.queries()
        tracer = self.ctx.tracer
        t0 = time.perf_counter()
        recs = [run_op(spark, tracer, f"p{k}-{q}", q, None,
                       lambda _c, q=q: qs[q](spark, self.data))
                for q in QUERIES]

        def add_batch(_c):
            docs = xio.read_table(spark, self.data, "documents").filter(
                F.col("doc_id").isin(self.batches[k]))
            return self.index.add_batch(docs)

        recs.append(run_op(spark, tracer, f"p{k}-add_batch", "add_batch", k, add_batch))
        self.pass_s.append(time.perf_counter() - t0)
        return recs

    def cold(self, spark) -> list:
        return self._pass(spark, 0)

    def warmup(self, spark) -> list:
        return []

    def window(self, spark, seconds: float) -> tuple[list, float]:
        """A fixed number of warm passes, which takes about ``seconds`` on
        an idle host: the same work whatever the host's speed (the index
        grows with every pass, so a pass's cost depends on how many ran)."""
        recs: list = []
        t0 = time.perf_counter()
        for k in range(1, 1 + self.warm_passes(seconds)):
            recs.extend(self._pass(spark, k))
        return recs, time.perf_counter() - t0

    @staticmethod
    def warm_passes(seconds: float) -> int:
        return max(1, round(seconds / PASS_S))

    def check(self, rec) -> bool:
        from perfbench.common import canonical

        if rec.error is not None:
            return False
        cols, rows = rec.rows
        got = canonical([tuple(r) for r in rows], cols)
        if rec.kind != "add_batch":
            return got == self.expected[rec.kind]
        k = rec.param
        if k not in self._pairs_expected:
            self._pairs_expected[k] = twins.run(
                self.con, twins.add_batch_sql(self.batches, k))
        return got == self._pairs_expected[k]

    def window_layers(self, recs) -> dict:
        adds = [r for r in recs if r.kind == "add_batch" and r.error is None]
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.index_path)
                 for f in fs if f.endswith(".parquet")]
        return {
            "dedup_index.add_batch_ms": 1000.0 * statistics.mean(r.seconds for r in adds) if adds else 0.0,
            "dedup_index.pairs": statistics.mean(len(r.rows[1]) for r in adds) if adds else 0.0,
            "dedup_index.index_bytes": float(sum(os.path.getsize(f) for f in files)),
            "dedup_index.index_files": float(len(files)),
        }

    def info(self) -> dict:
        warm = self.pass_s[1:]
        return {
            "corpus": self.corpus,
            "pass_s": [round(x, 3) for x in self.pass_s],
            "warm_pass_median_s": statistics.median(warm) if warm else None,
        }
