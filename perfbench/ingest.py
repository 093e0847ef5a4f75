"""``ingest``: the store's write and background path beside its reads.

Set-up builds a BM25 postings store and an IVF,SQ8 store (8 clusters) over
the first 80 % of the corpus (docs 0-3,999, one 64-dim vector each). The
other 1,000 docs are held out: they arrive in the loop as upserts.

The timed loop is one client in a closed loop over one compaction period:
write cycles until ``--seconds`` have passed (at least one), then
compaction of both stores and reads of the compacted stores. A cycle:

1. the next 16 held-out docs arrive under their own (new) ids, and 16
   seeded live ids are rewritten with the content of 16 more held-out
   docs; two near-duplicates of batch vectors are injected, and the 34
   rows go through ``embedding_near_dup_fast``; the near-duplicates it
   reports are dropped;
2. the 32 kept rows are upserted into both stores;
3. two live ids are deleted from both stores;
4. one live BM25 read and one live IVF,SQ8 read run with the deltas and
   tombstones present.

After the cycles, ``compact_bm25_store`` and ``compact_ivf_sq8_store`` fold
the deltas back and one live read of each store runs on the result. Deltas
add files and side tables until compaction folds them back, so a
store-format change that speeds reads but slows writes, raises write
amplification or stalls compaction shows here and not on ``serve``.
"""

from __future__ import annotations

import time

import numpy as np

from harness import Recorder, batch_recalls, ranked, typical_latency
from inputs import N_DOCS, RECALL_QUERIES, Corpus, exact_topk

N_BASE = 4000
N_CLUSTERS = 8
NPROBE = 2
K = 10
NEW, REWRITE, NEAR_DUPS, DELETES = 16, 16, 2, 2
NEAR_DUP_TAU = 0.99
NEAR_DUP_NOISE = 1e-4  # an injected near-duplicate: cosine > 0.9999 to its source
DOC_SCHEMA = "doc_id long, text string"
VEC_SCHEMA = "vec_id long, label int, embedding array<float>"


class Workload:
    def __init__(self, spark, corpus: Corpus, work):
        self.spark = spark
        self.corpus = corpus
        self.bm25 = str(work / "stores" / "bm25")
        self.ivf = str(work / "stores" / "ivf")
        # the acknowledged state: what every live read must reflect
        self.texts = {i: corpus.texts[i] for i in range(N_BASE)}
        self.vecs = {i: corpus.vectors[i] for i in range(N_BASE)}
        self.labels = {i: corpus.labels[i] for i in range(N_BASE)}
        # held-out docs: new ids come from the front, rewrite content from the back
        self.front, self.back = N_BASE, N_DOCS
        self.next_dup_id = N_DOCS  # above every doc id, so the greedy rule drops it
        self.deleted: set[int] = set()
        self.upserted_bytes = 0
        self.recalls: list[float] = []
        self.bm25_reads = []  # ([query], [rows], acknowledged texts then)
        self.wrong = 0

    def _docs_df(self, ids):
        return self.spark.createDataFrame([(i, self.texts[i]) for i in ids], DOC_SCHEMA)

    def _vecs_df(self, ids, vecs, labels):
        return self.spark.createDataFrame(
            [(i, labels[i], [float(x) for x in vecs[i]]) for i in ids], VEC_SCHEMA)

    # -- set-up ---------------------------------------------------------
    def setup(self, rec: Recorder) -> None:
        from photo_vector_search_spark.operators.bm25_store import build_bm25_store
        from photo_vector_search_spark.operators.sq import build_ivf_sq8_store

        base = range(N_BASE)
        rec.build_all([
            (build_bm25_store, (self._docs_df(base), self.bm25), {}),
            (build_ivf_sq8_store, (self._vecs_df(base, self.vecs, self.labels), self.ivf),
             {"n_clusters": N_CLUSTERS}),
        ])

    def user_bytes(self) -> int:
        """User bytes of the live data: text and id per doc, vector and id
        per vector."""
        return sum(len(t.encode()) + 8 for t in self.texts.values()) + len(self.vecs) * (
            4 * self.corpus.dim + 8)

    def write_amp(self, _setup: Recorder, loop: Recorder) -> float:
        """Bytes the loop's upserts, deletes and compactions wrote, per
        upserted user byte."""
        return sum(c.get("bytes_written", 0) for c in loop.calls) / self.upserted_bytes

    # -- timed loop -----------------------------------------------------
    def loop(self, rec: Recorder, seconds: float) -> None:
        from photo_vector_search_spark.operators.bm25_store import compact_bm25_store
        from photo_vector_search_spark.operators.index_maintenance import (
            compact_ivf_sq8_store,
        )

        t0 = time.perf_counter()
        while not rec.calls or time.perf_counter() - t0 < seconds:
            if self.back - self.front < NEW + REWRITE:
                break  # every held-out doc has arrived
            self.cycle(rec)
        rec.call(compact_bm25_store, self.spark, self.bm25, kind="compact")
        rec.call(compact_ivf_sq8_store, self.spark, self.ivf, kind="compact")
        self.read(rec)

    def cycle(self, rec: Recorder) -> None:
        from photo_vector_search_spark.operators.bm25_store import (
            delete_from_bm25_store, upsert_bm25_store,
        )
        from photo_vector_search_spark.operators.dedup import embedding_near_dup_fast
        from photo_vector_search_spark.operators.index_maintenance import (
            delete_from_ivf_sq8_store, upsert_ivf_sq8_store,
        )

        spark, c = self.spark, self.corpus
        live = sorted(self.texts)
        new = list(range(self.front, self.front + NEW))
        rewrite = [int(i) for i in c.rng.choice(live, size=REWRITE, replace=False)]
        content = dict(zip(new, new))
        content.update(zip(rewrite, range(self.back - REWRITE, self.back)))
        self.front += NEW
        self.back -= REWRITE
        batch = rewrite + new
        texts = {i: c.texts[j] for i, j in content.items()}
        vecs = {i: c.vectors[j] for i, j in content.items()}
        labels = {i: c.labels[j] for i, j in content.items()}
        dups = list(range(self.next_dup_id, self.next_dup_id + NEAR_DUPS))
        self.next_dup_id += NEAR_DUPS
        for d, src in zip(dups, c.rng.choice(batch, size=NEAR_DUPS, replace=False)):
            texts[d], labels[d] = texts[int(src)], labels[int(src)]
            v = vecs[int(src)] + NEAR_DUP_NOISE * c.rng.normal(size=c.dim)
            vecs[d] = v / np.linalg.norm(v)

        pairs = rec.call(embedding_near_dup_fast, self._vecs_df(batch + dups, vecs, labels),
                         tau=NEAR_DUP_TAU, kind="dedup", items=len(batch) + NEAR_DUPS)
        dropped = {r["vec_b"] for r in pairs}
        self.wrong += dropped != set(dups)
        kept = [i for i in batch + dups if i not in dropped]
        self.texts.update((i, texts[i]) for i in kept)
        self.vecs.update((i, vecs[i]) for i in kept)
        self.labels.update((i, labels[i]) for i in kept)
        self.upserted_bytes += sum(len(texts[i].encode()) + 16 + 4 * c.dim for i in kept)
        rec.call(upsert_bm25_store, spark, self.bm25, self._docs_df(kept), kind="write",
                 items=len(kept))
        rec.call(upsert_ivf_sq8_store, spark, self.ivf,
                 self._vecs_df(kept, self.vecs, self.labels), kind="write", items=len(kept))

        gone = [int(i) for i in c.rng.choice(sorted(set(live) - set(batch)), size=DELETES,
                                             replace=False)]
        for i in gone:
            del self.texts[i], self.vecs[i], self.labels[i]
        self.deleted.update(gone)
        rec.call(delete_from_bm25_store, spark, self.bm25, gone, kind="write", items=DELETES)
        rec.call(delete_from_ivf_sq8_store, spark, self.ivf, gone, kind="write",
                 items=DELETES)
        self.read(rec)

    def read(self, rec: Recorder) -> None:
        from photo_vector_search_spark.operators.bm25_store import live_bm25_topk
        from photo_vector_search_spark.operators.index_maintenance import live_ivf_sq8_topk

        spark, c = self.spark, self.corpus
        q = c.query_text()
        rows = rec.call(live_bm25_topk, spark, self.bm25, q, k=K, kind="read",
                        stores=[self.bm25])
        if self.bm25_reads and self.bm25_reads[-1][2] == self.texts:
            # nothing acknowledged since the last read (a compaction changes
            # files, not docs): the check re-answers both in one call
            self.bm25_reads[-1][0].append(q)
            self.bm25_reads[-1][1].append(rows)
        else:
            self.bm25_reads.append(([q], [rows], dict(self.texts)))
        q = c.query_vector()
        rows = rec.call(live_ivf_sq8_topk, spark, self.ivf, q, k=K, nprobe=NPROBE,
                        kind="read", stores=[self.ivf])
        ids = np.array(sorted(self.vecs))
        exact = exact_topk(np.vstack([self.vecs[i] for i in ids]), ids, q, K)
        self.recalls.append(len({r["vec_id"] for r in rows} & set(exact)) / K)

    # -- output checks (outside the timed region) -------------------------
    def check(self) -> tuple[int, float]:
        """Each live BM25 top-k read in the loop equals top-k over the
        corpus composed at that moment; then, in a fresh session, every
        acknowledged upsert is visible with its new text and no acknowledged
        delete is. Returns (wrong outputs, recall@k)."""
        from photo_vector_search_spark.operators.bm25 import bm25_batch_topk
        from photo_vector_search_spark.operators.bm25_store import load_live_bm25
        from photo_vector_search_spark.operators.index_maintenance import load_live_ivf_sq8

        spark = self.spark.newSession()
        wrong = self.wrong
        for queries, rows, texts in self.bm25_reads:
            composed = spark.createDataFrame(sorted(texts.items()), DOC_SCHEMA)
            qdf = spark.createDataFrame(list(enumerate(queries)), "query_id long, query string")
            want = ranked(bm25_batch_topk(composed, qdf, k=K).orderBy("query_id", "rank")
                          .collect())
            for qid, got in enumerate(rows):
                wrong += [(qid, *r[1:]) for r in ranked(got)] != [r for r in want if r[0] == qid]
        _post, doclens, _meta = load_live_bm25(spark, self.bm25)
        got = {r["doc_id"]: r["dl"] for r in doclens.collect()}
        wrong += got != {i: len(t.split()) for i, t in self.texts.items()}
        live_vecs = load_live_ivf_sq8(spark, self.ivf)[0].select("vec_id").collect()
        wrong += {r["vec_id"] for r in live_vecs} != set(self.vecs)
        wrong += bool(self.deleted & (set(got) | {r["vec_id"] for r in live_vecs}))
        # the loop ends with a compaction, so the base store is the live view
        ids = np.array(sorted(self.vecs))
        queries = [self.corpus.query_vector() for _ in range(RECALL_QUERIES)]
        recalls = self.recalls + batch_recalls(
            spark, self.ivf, queries, np.vstack([self.vecs[i] for i in ids]), ids, K, NPROBE)
        return wrong, sum(recalls) / len(recalls)

    @staticmethod
    def metrics(rec: Recorder) -> dict[str, float]:
        reads = [c for c in rec.calls if c["kind"] == "read"]
        return {
            "query_p50_s": typical_latency(rec, ("read",)),
            "queries_per_s": len(reads) / sum(c["wall_s"] for c in reads),
        }
