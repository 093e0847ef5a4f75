"""``serve``: query serving from persisted stores.

Set-up builds three stores over the corpus: a BM25 postings store (the
5,000 fixture docs), an IVF,SQ8 store (the first 2,000 x 64 vectors, 8
clusters) and a MaxSim token store (the first 1,000 docs; see
``N_MAXSIM``). The timed loop is one client in a closed loop that sends
fixed rounds of eleven calls: seven single queries (BM25, four IVF,SQ8,
MaxSim, hybrid), three 8-query batches (BM25 and RM3 over the postings
store, exact kNN) and one 8-text embedding batch. The seed picks every
query; the round's shape is the same in every run, so medians do not
depend on where the run stopped.

Every call pays store load, footer and listing work and a fixed number of
driver syncs over KB-sized data, so this workload moves with driver-side
and job-count work, not with executor data work.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Recorder, batch_recalls, ranked, typical_latency
from inputs import DOCS_FIXTURE, RECALL_QUERIES, Corpus, exact_topk

N_VECS = 2000
# bench.py builds its MaxSim store over all 5,000 docs; here that made the
# parallel set-up about 4 s longer and peak RSS about 1.1 GB higher
N_MAXSIM = 1000
N_CLUSTERS = 8
NPROBE = 2
K = 10
BATCH = 8
IVF_READS = 4  # of the batch vectors, also sent one by one to the IVF,SQ8 store


class Workload:
    def __init__(self, spark, corpus: Corpus, work):
        self.spark = spark
        self.corpus = corpus
        self.bm25 = str(work / "stores" / "bm25")
        self.ivf = str(work / "stores" / "ivf")
        self.maxsim = str(work / "stores" / "maxsim")
        self.inputs = work / "inputs"
        self.inputs.mkdir()
        self.served = []  # (kind, inputs, rows) kept for the output checks

    # -- set-up ---------------------------------------------------------
    def setup(self, rec: Recorder) -> None:
        from photo_vector_search_spark.operators.bm25_store import build_bm25_store
        from photo_vector_search_spark.operators.late_interaction import build_maxsim_store
        from photo_vector_search_spark.operators.sq import build_ivf_sq8_store

        # the vectors arrive as a parquet file, written without Spark
        c = self.corpus
        pq.write_table(pa.table({
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "label": pa.array(c.labels[:N_VECS], pa.int32()),
            "embedding": pa.array(list(c.vectors[:N_VECS]), pa.list_(pa.float32())),
        }), str(self.inputs / "vectors.parquet"))
        spark = self.spark
        self.docs = spark.read.parquet(str(DOCS_FIXTURE)).select("doc_id", "text")
        self.vectors = spark.read.parquet(str(self.inputs / "vectors.parquet"))
        rec.build_all([
            (build_bm25_store, (self.docs, self.bm25), {}),
            (build_ivf_sq8_store, (self.vectors, self.ivf), {"n_clusters": N_CLUSTERS}),
            (build_maxsim_store, (self.docs.filter(f"doc_id < {N_MAXSIM}"), self.maxsim), {}),
        ])

    def user_bytes(self) -> int:
        c = self.corpus
        return sum(len(t.encode()) + 8 for t in c.texts) + N_VECS * (4 * c.dim + 8)

    def write_amp(self, setup: Recorder, _loop: Recorder) -> float:
        """The bulk build is this workload's write path."""
        return sum(c["bytes_written"] for c in setup.calls) / self.user_bytes()

    # -- timed loop -----------------------------------------------------
    def loop(self, rec: Recorder, seconds: float) -> None:
        t0 = time.perf_counter()
        while not rec.calls or time.perf_counter() - t0 < seconds:
            self.round(rec)

    def round(self, rec: Recorder) -> None:
        from photo_vector_search_spark.operators.bm25_store import (
            bm25_store_batch_topk, bm25_store_topk, rm3_store_batch_topk,
        )
        from photo_vector_search_spark.operators.fusion import hybrid_store_search
        from photo_vector_search_spark.operators.knn import knn_batch_fast
        from photo_vector_search_spark.operators.late_interaction import maxsim_store_search
        from photo_vector_search_spark.operators.sq import ivf_sq8_store_topk
        from photo_vector_search_spark.pipelines.embed import embed_documents

        spark, c = self.spark, self.corpus
        q = c.query_text()
        self.served.append(("bm25", q, rec.call(
            bm25_store_topk, spark, self.bm25, q, k=K, kind="read", stores=[self.bm25])))
        vecs = [c.query_vector() for _ in range(BATCH)]
        ivf_rows = [
            rec.call(ivf_sq8_store_topk, spark, self.ivf, v, k=K, nprobe=NPROBE, kind="read",
                     stores=[self.ivf])
            for v in vecs[:IVF_READS]
        ]
        q = c.query_text()
        rec.call(maxsim_store_search, spark, self.maxsim, q, k=K, prefilter_n=64,
                 kind="read", stores=[self.maxsim])
        q = c.query_text()
        rec.call(hybrid_store_search, spark, self.bm25, self.ivf, q, k=K, nprobe=NPROBE,
                 kind="read", stores=[self.bm25, self.ivf])

        texts = [c.query_text() for _ in range(BATCH)]
        qdf = spark.createDataFrame(list(enumerate(texts)), "query_id long, query string")
        self.served.append(("bm25_batch", texts, rec.call(
            bm25_store_batch_topk, spark, self.bm25, qdf, k=K, kind="batch", items=BATCH,
            stores=[self.bm25])))
        texts = [c.query_text() for _ in range(BATCH)]
        qdf = spark.createDataFrame(list(enumerate(texts)), "query_id long, query string")
        self.served.append(("rm3_batch", texts, rec.call(
            rm3_store_batch_topk, spark, self.bm25, self.docs, qdf, k=K, fb_docs=10,
            fb_terms=10, kind="batch", items=BATCH, stores=[self.bm25])))
        vdf = spark.createDataFrame(list(enumerate(vecs)), "query_id long, query_vec array<double>")
        exact = rec.call(knn_batch_fast, self.vectors, vdf, k=K, kind="batch", items=BATCH)
        self.served.append(("knn_batch", vecs, exact))
        # the exact batch is the oracle of the IVF,SQ8 reads of the same vectors
        self.served.append(("ivf", exact, ivf_rows))
        texts = [c.query_text() for _ in range(BATCH)]
        tdf = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        self.served.append(("embed", texts, rec.call(
            embed_documents, tdf, kind="embed", items=BATCH)))

    # -- output checks (outside the timed region) -------------------------
    def check(self) -> tuple[int, float]:
        """Re-answers a seeded sample through the corpus path and checks the
        exact kNN and embedding outputs; returns (wrong outputs, recall@k).

        One corpus-path re-answer costs 2-5 s, so a seeded draw picks, per
        run, one of: its single BM25 queries, one query of each BM25 batch,
        one query of each RM3 batch; ten runs check all three."""
        from photo_vector_search_spark.operators.bm25 import bm25_topk, rm3_batch_topk
        from photo_vector_search_spark.pipelines.embed import stub_embed_one

        spark, c = self.spark, self.corpus
        vec_ids = np.arange(N_VECS)
        recheck = ("bm25", "bm25_batch", "rm3_batch")[int(c.rng.integers(0, 3))]
        pick = int(c.rng.integers(0, BATCH))  # the batch query re-answered
        wrong, recalls = 0, []
        for kind, inp, rows in self.served:
            if kind == "bm25" == recheck:
                wrong += ranked(rows) != ranked(bm25_topk(self.docs, inp, k=K).collect())
            elif kind == "bm25_batch" == recheck:
                want = ranked(bm25_topk(self.docs, inp[pick], k=K).collect())
                want = [(pick, *r[1:]) for r in want]
                wrong += [r for r in ranked(rows) if r[0] == pick] != want
            elif kind == "rm3_batch" == recheck:
                qdf = spark.createDataFrame([(pick, inp[pick])], "query_id long, query string")
                want = rm3_batch_topk(self.docs, qdf, k=K, fb_docs=10, fb_terms=10).collect()
                wrong += [r for r in ranked(rows) if r[0] == pick] != ranked(want)
            elif kind == "knn_batch":
                for qid, v in enumerate(inp):
                    got = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"])
                           if r["query_id"] == qid]
                    wrong += got != exact_topk(c.vectors[:N_VECS], vec_ids, v, K)
            elif kind == "ivf":
                for qid, got in enumerate(rows):
                    exact = {r["vec_id"] for r in inp if r["query_id"] == qid}
                    recalls.append(len({r["vec_id"] for r in got} & exact) / K)
            elif kind == "embed":
                got = {r["doc_id"]: r["embedding"] for r in rows}
                for i, t in enumerate(inp):
                    wrong += max(abs(a - b) for a, b in zip(got[i], stub_embed_one(t))) > 1e-5
        recalls += batch_recalls(spark, self.ivf, [c.query_vector() for _ in range(RECALL_QUERIES)],
                                 c.vectors[:N_VECS], vec_ids, K, NPROBE)
        return wrong, sum(recalls) / len(recalls)

    @staticmethod
    def metrics(rec: Recorder) -> dict[str, float]:
        reads = [c for c in rec.calls if c["kind"] in ("read", "batch")]
        return {
            "query_p50_s": typical_latency(rec, ("read",)),
            "queries_per_s": sum(c["items"] for c in reads) / sum(c["wall_s"] for c in reads),
        }
