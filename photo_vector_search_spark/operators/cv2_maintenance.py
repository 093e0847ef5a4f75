"""Incremental maintenance for the ColBERTv2 residual-compressed token
store — upsert/delete/live-serve/compact WITHOUT re-fitting the quantizer
or rewriting the corpus codes. The delta/tombstone protocol, its write
order and crash windows live in ``operators/store.py``; this module keeps
what is particular to ColBERTv2: encoding new docs against the frozen
quantizer, the base write layout, and serving.

Layout around a `token_compression.build_colbertv2_store` store at ``path``:
- ``path``                 base codes (id, pooled, tok_cids, tok_codes) —
                           FROZEN between compactions.
- ``path + '.delta'``      upserted rows, re-embedded AND re-encoded against
                           the build's FROZEN quantizer (token centroids +
                           residual range — the clip convention from
                           `encode_sq8`: residuals outside the fitted range
                           clip to the edges; geometry drifts only until
                           the next full rebuild). O(delta) rewrite.
- ``path + '.tombstones'`` deleted ids.
``build_id`` is a content hash over params + quantizer bytes, so a side
table encoded under a different codebook is refused — serving foreign codes
would decode garbage silently.

Compaction restamps the meta ``store_sig`` like `maxsim_maintenance` and,
like it, reads the RAW tables so it converges from any crash point;
`load_colbertv2_store` refuses to SERVE any intermediate state. Like the
MaxSim store (and unlike the BM25 store), a doc that tokenizes to ZERO
tokens has no code rows and cannot shadow its old version — the upsert
refuses it; delete explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.maxsim_maintenance import (
    _restamp_meta,
    _token_rows,
)
from photo_vector_search_spark.operators.store import (
    clear_side_tables,
    delete_ids,
    live_view,
    read_meta,
    read_table,
    recover_store,
    snapshot_overwrite,
    upsert_ids,
    upsert_side_tables,
)
from photo_vector_search_spark.operators.token_compression import (
    _META_SCHEMA,
    _serve_colbertv2,
    encode_token_matrices,
    load_colbertv2_store,
)


def upsert_colbertv2_store(
    spark, path: str, new_docs: DataFrame, text_col: str = "text"
) -> int:
    """Encode ``new_docs`` against the store's frozen quantizer and merge
    them into the delta segment (same-id delta rows replaced, tombstones
    revived). Returns the number of upserted docs. O(new + delta) — the
    base codes are never rewritten."""
    _base, quant, meta = load_colbertv2_store(spark, path)
    n_new, ids = upsert_ids(new_docs, meta["id_col"])
    if n_new == 0:
        return 0
    # embed and encode ONLY the new docs under the frozen quantizer
    coded = encode_token_matrices(
        _token_rows(meta, new_docs, text_col), quant, id_col=meta["id_col"]
    ).withColumn("build_id", F.lit(meta["build_id"]))
    n_coded = coded.count()
    if n_coded != n_new:
        raise ValueError(
            f"{n_new - n_coded} upsert doc(s) have NULL/empty text and "
            "produce no token codes — an empty doc cannot shadow its old "
            "version; delete those ids instead (delete_from_colbertv2_store)"
        )
    upsert_side_tables(
        spark, path, meta["build_id"], meta["id_col"], ids,
        [(".delta", coded, None)],
    )
    return n_new


def delete_from_colbertv2_store(spark, path: str, doc_ids) -> int:
    """Tombstone ``doc_ids`` (a list or a one-column DataFrame) and drop
    them from the delta. Returns the number of ids tombstoned."""
    _base, _quant, meta = load_colbertv2_store(spark, path)
    return delete_ids(
        spark, path, meta["build_id"], meta["id_col"], doc_ids,
        [(".delta", None)],
    )


def load_live_colbertv2(spark, path: str):
    """(live codes frame, quantizer, meta): delta ∪ (base anti delta-ids)
    − tombstones, every side table build-checked. Prefilter/candidate
    filters push through the union, so the base keeps its pruning."""
    base, quant, meta = load_colbertv2_store(spark, path)
    live = live_view(spark, path, base, meta["build_id"], meta["id_col"])
    return live, quant, meta


def live_colbertv2_search(
    spark,
    path: str,
    query: str,
    k: int = 10,
    prefilter_n: int | None = None,
    max_query_tokens: int | None = None,
    filter=None,
) -> DataFrame:
    """`colbertv2_store_search` over the LIVE view (base + delta −
    tombstones): the serving call for a store growing through upserts
    between compactions. ≡ composing the corpora in memory, pinned in
    tests. ``filter`` (keep_cols stores): metadata predicate applied
    before the prefilter, pushed through the union to both scans."""
    from photo_vector_search_spark.operators.late_interaction import (
        MAX_QUERY_TOKENS,
    )

    live, quant, meta = load_live_colbertv2(spark, path)
    return _serve_colbertv2(
        live, quant, meta, query, k=k, prefilter_n=prefilter_n,
        max_query_tokens=(
            MAX_QUERY_TOKENS if max_query_tokens is None else max_query_tokens
        ),
        filter=filter,
    )


def compact_colbertv2_store(spark, path: str) -> int:
    """Fold delta and tombstones into the base and clear them. ``build_id``
    stays STABLE (params + quantizer hash); ``store_sig`` and ``n_docs``
    are restamped. Reads the RAW tables — side tables checked against the
    META build id, the signature deliberately NOT verified — so it
    converges when re-run from any crash point; `load_colbertv2_store`
    refuses to SERVE any intermediate state. Returns the live doc count."""
    for suffix in ("", ".quant", ".meta"):
        recover_store(path + suffix)
    meta = read_meta(spark, path, "ColBERTv2 store")
    id_col = meta["id_col"]
    live = live_view(
        spark, path, read_table(spark, path), meta["build_id"], id_col
    ).localCheckpoint(eager=True)
    n = live.count()
    # the build layout: range-partitioned + id-sorted for row-group pruning
    snapshot_overwrite(
        live.repartitionByRange(F.col(id_col)).sortWithinPartitions(id_col),
        path,
    )
    _restamp_meta(spark, path, meta, n, _META_SCHEMA)
    clear_side_tables(path)
    return n
