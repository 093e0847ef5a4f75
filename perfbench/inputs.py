"""Seeded inputs for the benchmark workloads.

The corpus text is the sf0.1 ``documents`` fixture, kept under
``perfbench/data/`` (5,000 docs of 10-100 words over a 31-word
vocabulary). The corpus vectors are the package's own clustered table,
``sources.synthetic.mog_embeddings`` with its defaults (64-dim, 32
components, noise 0.15, its fixed seed), drawn to 5,512 rows. The sf0.1
``embeddings`` fixture is uniform random, IVF's worst case by construction,
so it is not used. The corpus is the same in every run.

``--seed`` picks everything drawn from the corpus: query terms, query
vectors, the rewrite and delete id sets and the near-duplicate injections.
The same seed gives the same inputs; the package sees only the generated
rows, never the seed.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

DOCS_FIXTURE = Path(__file__).resolve().parent / "data" / "documents.parquet"
SF = 0.1  # scale factor of the documents fixture
N_DOCS = 5000  # rows of the documents fixture; doc i owns vector i
N_QUERY_VECS = 512  # further rows of the same table, never stored
QUERY_TERMS = 3  # as in 7 of the 8 queries of bench.py's serving batch
RECALL_QUERIES = 64  # query vectors the output checks add to the recall sample


class Corpus:
    """The corpus and a generator of queries over it.

    ``texts[i]``, ``vectors[i]`` and ``labels[i]`` belong to document id
    ``i``. Draws made after construction come from ``rng`` in call order,
    so a workload that makes the same calls in the same order gets the
    same inputs."""

    def __init__(self, spark, seed: int):
        from photo_vector_search_spark.sources.synthetic import mog_embeddings

        self.rng = np.random.default_rng(seed)
        docs = pq.read_table(DOCS_FIXTURE, columns=["doc_id", "text"]).sort_by("doc_id")
        self.texts = docs.column("text").to_pylist()
        assert docs.column("doc_id").to_pylist() == list(range(N_DOCS))
        # query terms follow the corpus's own term frequencies
        tf = Counter(w for t in self.texts for w in t.split())
        self.vocab = sorted(tf)
        counts = np.array([tf[w] for w in self.vocab], dtype=np.float64)
        self.term_p = counts / counts.sum()
        rows = mog_embeddings(spark, n=N_DOCS + N_QUERY_VECS).collect()
        rows.sort(key=lambda r: r["vec_id"])
        self.vectors = np.array([r["embedding"] for r in rows[:N_DOCS]], dtype=np.float32)
        self.labels = [r["label"] for r in rows[:N_DOCS]]
        self.query_vectors = [list(r["embedding"]) for r in rows[N_DOCS:]]
        self.dim = self.vectors.shape[1]

    def query_text(self) -> str:
        """``QUERY_TERMS`` distinct corpus terms."""
        picks = self.rng.choice(len(self.vocab), size=QUERY_TERMS, replace=False,
                                p=self.term_p)
        return " ".join(self.vocab[i] for i in picks)

    def query_vector(self) -> list[float]:
        """A vector of the corpus table that no store holds: a component
        mean plus the generator's noise, like a stored vector."""
        return self.query_vectors[int(self.rng.integers(0, N_QUERY_VECS))]


def exact_topk(vectors: np.ndarray, ids: np.ndarray, query, k: int) -> list[int]:
    """Ids of the ``k`` vectors nearest ``query`` by cosine distance (the
    oracle for IVF recall), ties broken by ascending id."""
    q = np.asarray(query, dtype=np.float64)
    v = np.asarray(vectors, dtype=np.float64)
    sims = v @ q / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -sims))
    return [int(i) for i in ids[order[:k]]]
