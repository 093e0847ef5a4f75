"""Late-interaction (MaxSim) retrieval — the ColBERT scoring family
(Khattab & Zaharia, SIGIR'20): score(q, d) = Σ_{t∈q} max_{j∈d}
⟨q_t, d_j⟩ over per-TOKEN embeddings, so a document matches when each
query token finds its own best-matching document token — finer-grained
than one pooled vector (which averages a long document's topics away),
cheaper than a cross-encoder.

This completes the retrieval-family matrix: lexical (`operators/bm25`),
dense single-vector (knn/ivf/pq/sq/bq ladder), hybrid fusion
(`operators/fusion`), and now late interaction — with the standard
two-stage serving composition (`maxsim_search(prefilter_n=...)`): a
pooled single-vector top-N candidate pass first, MaxSim re-scoring only
the candidates (the ColBERT-v2 / PLAID deployment shape).

Engine shape:
- token embeddings ride as one ``array<array<double>>`` per document
  (token budget capped — the ColBERT doc-length budget — so the matrix
  is bounded); built once by `doc_token_embeddings` (JVM tokenize →
  ONE map-only Arrow embed kernel with a per-task token memo — zero
  exchanges; r12).
- scoring has TWO parity-pinned paths (the knn_topk/knn_batch_fast
  split). The EXPRESSION path (`maxsim_scores`) is the oracle twin: both
  sides are unit vectors (the stub embeds L2-normalize; CLIP/ColBERT
  convention), so sim = dot product, and the whole MaxSim is an unrolled
  fold — per query token an ``aggregate(tok_embs, -inf, greatest(acc,
  zip_with-dot))``. Spark's higher-order functions do NOT enter
  whole-stage codegen, so this path pays interpreted per-row cost — kept
  because it is exactly DuckDB-replayable. The SERVING path
  (`maxsim_scores_fast`, the default in `maxsim_search`) stacks each
  Arrow batch's token matrices and computes ``(qmat @ flat.T)`` in ONE
  BLAS call + a segment-max (``np.maximum.reduceat``) per doc — the
  `knn_batch_fast` discipline; rounding happens JVM-side with the same
  ``F.round`` both paths share.
- at scale the brute-force pass reads every doc's token matrix once
  (map-only into TakeOrdered); ``prefilter_n`` bounds that to N
  candidates chosen by the pooled single-vector COSINE rung (the pooled
  doc vector is L2-normalized before the dot — an unnormalized dot would
  favor docs whose token vectors happen to align, skewing candidate
  recall; ADVICE r11).

NULL discipline: docs with NULL/empty token matrices never rank; query
text must tokenize to ≥1 token.

DuckDB twin: the same per-token stub embeddings + list_max/list_dot
fold, value-checked in tests/test_late_interaction.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.arrowkit import bounded_rows

MAX_DOC_TOKENS = 16
MAX_QUERY_TOKENS = 8


def doc_token_embeddings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = MAX_DOC_TOKENS,
    dim: int = 64,
) -> DataFrame:
    """(id, tok_embs) — per-token stub embeddings for the first
    ``max_tokens`` tokens (the ColBERT document budget), kept in token
    order. MAP-ONLY: the token array is computed JVM-side (the shared
    `tokens` expression, so tokenization is bit-identical to every text
    operator) and ONE Arrow kernel embeds each doc's tokens in place —
    no explode, no collect-back shuffle (r12 optimization; the old
    explode → embed → groupBy shape shuffled N·max_tokens rows of
    64-double vectors just to reassemble matrices that never needed to
    leave their doc's row). A per-task token→vector memo bounds the md5
    work by the task's DISTINCT vocabulary, not its token count —
    corpus tokens repeat heavily, the same reason BM25's df table is
    small. Each document's matrix is bounded by max_tokens · dim
    doubles; docs tokenizing to zero tokens are absent (the previous
    explode semantics)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    from ..functions.text import tokens
    from ..pipelines.embed import stub_embed_one

    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.slice(
                F.array_remove(tokens(F.col(text_col)), ""), 1, max_tokens
            ).alias("_toks"),
        )
        .filter(F.size("_toks") > 0)
    )
    out_schema = StructType(
        [
            StructField(id_col, docs.schema[id_col].dataType, True),
            StructField("tok_embs", ArrayType(ArrayType(DoubleType())), True),
        ]
    )

    def _embed(batches):
        memo: dict = {}
        for pdf in batches:
            rows = []
            for toks in pdf["_toks"]:
                embs = []
                for t in toks:
                    e = memo.get(t)
                    if e is None:
                        e = memo[t] = stub_embed_one(t, dim)
                    embs.append(e)
                rows.append(embs)
            yield pd.DataFrame({id_col: pdf[id_col], "tok_embs": rows})

    return base.mapInPandas(_embed, schema=out_schema)


def _query_token_vecs(query: str, max_query_tokens: int, dim: int):
    # raw ordered split, duplicates KEPT — ColBERT scores every query
    # token occurrence (unlike bm25.query_terms' distinct set)
    from ..pipelines.embed import stub_embed_one

    qtoks = [
        t
        for t in str(query).strip().lower().split()
        if t
    ][:max_query_tokens]
    if not qtoks:
        raise ValueError("query has no tokens")
    return [stub_embed_one(t, dim=dim) for t in qtoks]


def maxsim_scores(
    doc_toks: DataFrame,
    query: str,
    id_col: str = "doc_id",
    max_query_tokens: int = MAX_QUERY_TOKENS,
    dim: int = 64,
) -> DataFrame:
    """(id, maxsim rounded 6dp): Σ over query tokens of the best doc-token
    dot product — unrolled codegen fold, zero exchanges. Docs with empty
    or NULL token matrices never score."""
    qvecs = _query_token_vecs(query, max_query_tokens, dim)

    def _dot(x: Column, qlit) -> Column:
        return F.aggregate(
            F.zip_with(x, qlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    total = F.lit(0.0)
    for qv in qvecs:
        qlit = F.array(*[F.lit(float(v)) for v in qv])
        best = F.aggregate(
            F.col("tok_embs"),
            F.lit(float("-inf")),
            lambda acc, x: F.greatest(acc, _dot(x, qlit)),
        )
        total = total + best
    return (
        doc_toks.filter(
            F.col("tok_embs").isNotNull() & (F.size("tok_embs") > 0)
        )
        .select(id_col, F.round(total, 6).alias("maxsim"))
    )


def _tok_matrices(col: "pd.Series"):
    """(flat (T, dim) float64 stack, per-doc counts, keep-mask) for one Arrow
    batch's ``tok_embs`` column — shared by the scoring and pooling kernels."""
    import numpy as np

    keep = col.map(lambda t: t is not None and len(t) > 0).to_numpy(dtype=bool)
    kept = col[keep]
    if not len(kept):
        return None, None, keep
    counts = kept.map(len).to_numpy(dtype=np.int64)
    flat = np.vstack(
        [np.vstack([np.asarray(v, dtype=np.float64) for v in m]) for m in kept]
    )
    return flat, counts, keep


def maxsim_scores_fast(
    doc_toks: DataFrame,
    query: str,
    id_col: str = "doc_id",
    max_query_tokens: int = MAX_QUERY_TOKENS,
    dim: int = 64,
) -> DataFrame:
    """Serving twin of ``maxsim_scores`` — same (id, maxsim) result modulo
    float summation order (parity-pinned in tests): per Arrow batch, ONE
    BLAS matmul of the query token matrix against the batch's stacked doc
    tokens, a ``maximum.reduceat`` segment-max per doc, then a sequential
    sum over query tokens in the SAME order as the expression fold.
    Map-only — no shuffle; rounding applied JVM-side via the shared
    ``F.round`` so both paths round identically. ``mapInArrow`` over the
    flat list buffers (r12, `functions.arrowkit`): the batch's stacked
    token matrix is one reshape, not a per-row vstack — same arithmetic,
    bit-identical scores."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.arrowkit import nested_matrix

    qmat = np.asarray(
        _query_token_vecs(query, max_query_tokens, dim), dtype=np.float64
    )
    sc = doc_toks.sparkSession.sparkContext
    bq = sc.broadcast(qmat)
    id_field = doc_toks.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("_raw", DoubleType(), True),
        ]
    )
    arrow_out = to_arrow_schema(out_schema)
    dim_ = dim

    def _score(batches):
        qm = bq.value
        for batch in batches:
            cols = {nm: i for i, nm in enumerate(batch.schema.names)}
            flat, counts, keep = nested_matrix(
                batch.column(cols["tok_embs"]), dim_
            )
            if flat is None:
                continue
            sims = qm @ flat.T  # (q, T) in one BLAS call
            offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
            best = np.maximum.reduceat(sims, offsets, axis=1)  # (q, docs)
            # accumulate in query-token order — the expression fold's order
            tot = np.zeros(best.shape[1], dtype=np.float64)
            for j in range(qm.shape[0]):
                tot = tot + best[j]
            ids_np = batch.column(cols[id_col]).to_numpy(
                zero_copy_only=False
            )[keep]
            yield pa.record_batch(
                [
                    pa.array(ids_np, type=arrow_out.field(0).type),
                    pa.array(tot, type=arrow_out.field(1).type),
                ],
                schema=arrow_out,
            )

    scored = doc_toks.select(id_col, "tok_embs").mapInArrow(
        _score, schema=out_schema
    )
    return scored.select(id_col, F.round("_raw", 6).alias("maxsim"))


def maxsim_topk(
    doc_toks: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    max_query_tokens: int = MAX_QUERY_TOKENS,
    dim: int = 64,
    fast: bool = True,
) -> DataFrame:
    """Top-k by MaxSim — (id, maxsim, rank), ties by ascending id;
    TakeOrderedAndProject (the knn ordering discipline). ``fast`` picks
    the Arrow-kernel scorer (serving default); ``fast=False`` keeps the
    DuckDB-replayable expression path."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    scorer = maxsim_scores_fast if fast else maxsim_scores
    scores = scorer(
        doc_toks, query, id_col=id_col,
        max_query_tokens=max_query_tokens, dim=dim,
    )
    top = scores.orderBy(F.col("maxsim").desc(), F.col(id_col).asc()).limit(k)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("maxsim").desc(), F.col(id_col).asc())
        ),
    ).select(id_col, "maxsim", "rank")


def pooled_cosine_candidates(
    doc_toks: DataFrame,
    query: str,
    n: int,
    id_col: str = "doc_id",
    max_query_tokens: int = MAX_QUERY_TOKENS,
    dim: int = 64,
    fast: bool = True,
) -> DataFrame:
    """Top-``n`` candidate ids by POOLED single-vector cosine: mean of the
    doc's token embeddings, L2-NORMALIZED, against the mean query token
    vector (whose norm is a per-query constant and cannot change the
    ranking). Normalizing the doc side matters: a raw dot favors docs
    whose pooled vector kept a long norm (homogeneous token sets),
    skewing candidate recall when n < corpus (ADVICE r11). Zero-norm
    pooled vectors have undefined cosine and sort LAST (never preferred
    over a real candidate). Returns (id) only — callers semi-join."""
    import numpy as np

    qvecs = np.asarray(
        _query_token_vecs(query, max_query_tokens, dim), dtype=np.float64
    )
    qmean = qvecs.mean(axis=0)
    if fast:
        import pandas as pd
        from pyspark.sql.types import DoubleType, StructField, StructType

        sc = doc_toks.sparkSession.sparkContext
        bqm = sc.broadcast(qmean)
        id_field = doc_toks.schema[id_col]
        out_schema = StructType(
            [
                StructField(id_col, id_field.dataType, True),
                StructField("_pool", DoubleType(), True),
            ]
        )

        def _pool(batches):
            qv = bqm.value
            for pdf in batches:
                flat, counts, keep = _tok_matrices(pdf["tok_embs"])
                if flat is None:
                    continue
                offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
                sums = np.add.reduceat(flat, offsets, axis=0)
                pooled = sums / counts[:, None]
                norms = np.linalg.norm(pooled, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (pooled @ qv) / norms
                cos = np.where(np.isfinite(cos), cos, None)
                yield pd.DataFrame(
                    {id_col: pdf[id_col].to_numpy()[keep], "_pool": cos}
                )

        scored = doc_toks.select(id_col, "tok_embs").mapInPandas(
            _pool, schema=out_schema
        )
    else:
        qlit = F.array(*[F.lit(float(v)) for v in qmean])
        # pooled doc vector = mean of token embeddings (expression fold)
        dim_n = F.size(F.element_at("tok_embs", 1))
        pooled = F.transform(
            F.sequence(F.lit(1), dim_n),
            lambda i: F.aggregate(
                F.col("tok_embs"),
                F.lit(0.0),
                lambda acc, x: acc + F.element_at(x, i),
            )
            / F.size("tok_embs"),
        )
        dot = F.aggregate(
            F.zip_with(pooled, qlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        norm = F.sqrt(
            F.aggregate(pooled, F.lit(0.0), lambda acc, v: acc + v * v)
        )
        cos = dot / F.nullif(norm, F.lit(0.0))  # zero norm → NULL, sorts last
        scored = doc_toks.filter(
            F.col("tok_embs").isNotNull() & (F.size("tok_embs") > 0)
        ).select(id_col, cos.alias("_pool"))
    return (
        scored.orderBy(F.col("_pool").desc_nulls_last(), F.col(id_col).asc())
        .limit(n)
        .select(id_col)
    )


def _pooled_candidates_from_docs(
    docs: DataFrame,
    query: str,
    n: int,
    text_col: str,
    id_col: str,
    max_tokens: int,
    max_query_tokens: int,
    dim: int,
) -> DataFrame:
    """`pooled_cosine_candidates(doc_token_embeddings(docs), ...)` fused
    into ONE Arrow kernel: tokenize JVM-side, embed (per-task token memo)
    and mean-pool inside the same batch loop, emit only (id, cos) — the
    token matrices never cross the Python↔JVM boundary (r12: the two-kernel
    chain shipped every doc's max_tokens·dim doubles through Arrow twice
    just to reduce them to one pooled score). Arithmetic is IDENTICAL to
    the two-stage form: the same `_tok_matrices` stack + ``add.reduceat``
    pooling over the same per-batch row grouping, so the candidate set is
    bit-identical (parity-pinned in tests)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.text import tokens
    from ..pipelines.embed import stub_embed_one

    qvecs = np.asarray(
        _query_token_vecs(query, max_query_tokens, dim), dtype=np.float64
    )
    qmean = qvecs.mean(axis=0)
    bqm = docs.sparkSession.sparkContext.broadcast(qmean)
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.slice(
                F.array_remove(tokens(F.col(text_col)), ""), 1, max_tokens
            ).alias("_toks"),
        )
        .filter(F.size("_toks") > 0)
    )
    out_schema = StructType(
        [
            StructField(id_col, docs.schema[id_col].dataType, True),
            StructField("_pool", DoubleType(), True),
        ]
    )

    def _embed_pool(batches):
        qv = bqm.value
        memo: dict = {}
        for pdf in batches:
            rows = []
            for toks in pdf["_toks"]:
                embs = []
                for t in toks:
                    e = memo.get(t)
                    if e is None:
                        e = memo[t] = stub_embed_one(t, dim)
                    embs.append(e)
                rows.append(embs)
            # the exact pooled_cosine_candidates fast-path arithmetic over
            # the same per-batch stack (shared _tok_matrices kernel)
            flat, counts, keep = _tok_matrices(pd.Series(rows))
            if flat is None:
                continue
            offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
            sums = np.add.reduceat(flat, offsets, axis=0)
            pooled = sums / counts[:, None]
            norms = np.linalg.norm(pooled, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (pooled @ qv) / norms
            cos = np.where(np.isfinite(cos), cos, None)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[keep], "_pool": cos}
            )

    return (
        base.mapInPandas(_embed_pool, schema=out_schema)
        .orderBy(F.col("_pool").desc_nulls_last(), F.col(id_col).asc())
        .limit(n)
        .select(id_col)
    )


def _maxsim_pairs(allq, qoff, flat, counts):
    """``exact(ri, qi)``: the raw MaxSim of doc ``ri`` (the docs stacked in
    ``flat`` with ``counts`` tokens each) against query ``qi`` (the token
    rows of ``allq`` from ``qoff[qi]``), for each pair from that pair's
    tokens alone — per-element ``einsum`` dots, a segment-max per doc and
    the query tokens summed in order (the expression fold's order)."""
    import numpy as np

    d_off = np.concatenate(([0], np.cumsum(counts)[:-1]))
    q_end = np.append(qoff[1:], len(allq))

    def exact(ri, qi):
        out = np.empty(len(ri))
        for j in np.unique(qi):
            at = np.flatnonzero(qi == j)
            n_tok = counts[ri[at]]
            seg = np.concatenate(([0], np.cumsum(n_tok)[:-1]))
            tok = np.repeat(d_off[ri[at]] - seg, n_tok) + np.arange(n_tok.sum())
            sims = np.einsum("ij,kj->ik", allq[qoff[j]:q_end[j]], flat[tok])
            tot = np.zeros(len(at))
            for best in np.maximum.reduceat(sims, seg, axis=1):
                tot = tot + best
            out[at] = tot
        return out

    return exact


def _maxsim_screen(allq, qoff, flat, counts, keep):
    """``arrowkit.batch_topk``'s screen for one batch of stacked doc tokens:
    ONE BLAS matmul against every query's tokens, a ``maximum.reduceat``
    segment-max over each doc's tokens and an ``add.reduceat`` segment-sum
    over each query's tokens (strictly sequential — the expression fold's
    order); ``_maxsim_pairs`` re-scores the survivors."""
    import numpy as np

    sims = allq @ flat.T  # (sum q tokens, sum doc tokens): one BLAS call
    d_off = np.concatenate(([0], np.cumsum(counts)[:-1]))
    best = np.maximum.reduceat(sims, d_off, axis=1)
    scores = np.add.reduceat(best, qoff, axis=0)  # (Q, docs)
    return (
        np.flatnonzero(keep), scores.T, _maxsim_pairs(allq, qoff, flat, counts)
    )


def _query_tokens(qrows, max_query_tokens: int, dim: int):
    """(all query tokens stacked (ΣT_q, dim), each query's first row)."""
    import numpy as np

    qmats = [
        np.asarray(
            _query_token_vecs(r["query"], max_query_tokens, dim),
            dtype=np.float64,
        )
        for r in qrows
    ]
    return np.vstack(qmats), np.cumsum([0] + [len(m) for m in qmats[:-1]])


def maxsim_batch_topk(
    doc_toks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    max_query_tokens: int = MAX_QUERY_TOKENS,
    dim: int = 64,
    max_queries: int = 4096,
) -> DataFrame:
    """Batched MaxSim: Q text queries share ONE pass over the token store —
    (query_id, id, maxsim, rank), ≡ a Python loop of ``maxsim_topk`` per
    query (pinned in tests) — extending the batched-serving contract
    (knn/bm25/hamming/sq8/cascade/rm3/rocchio) to late interaction.

    Kernel shape: ALL queries' token matrices stack into one broadcast
    (ΣT_q, dim) matrix; per Arrow batch ``_maxsim_screen`` scores every
    query against the batch's stacked doc tokens (the flat list buffer, one
    reshape — `functions.arrowkit`), then ``arrowkit.batch_topk`` keeps a
    per-batch LOCAL top-k per query by the 6-dp score, so the shuffle
    carries O(batches · Q · k) survivor rows — never N·Q. ``queries``:
    (query_id, query) text rows; duplicate ids rejected (the shared batch
    contract)."""
    from ..functions.arrowkit import batch_topk, nested_matrix

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qrows = bounded_rows(
        queries, ("query_id", "query"), max_queries,
        f">{max_queries} queries — split the batch or raise max_queries",
        duplicate="duplicate query_id in the batch — per-query top-k is "
        "ill-defined; de-duplicate the query frame first",
        empty="empty query frame",
    )
    bq = doc_toks.sparkSession.sparkContext.broadcast(
        _query_tokens(qrows, max_query_tokens, dim)
    )

    def _screen(batch):
        allq, qoff = bq.value
        flat, counts, keep = nested_matrix(batch.column("tok_embs"), dim)
        if flat is None:
            return None
        return _maxsim_screen(allq, qoff, flat, counts, keep)

    ranked = batch_topk(
        doc_toks.select(id_col, "tok_embs"), id_col,
        [r["query_id"] for r in qrows], k, _screen, value="maxsim",
        query_type=queries.schema["query_id"].dataType.simpleString(),
        descending=True, round6_key=True,
    )
    return ranked.select("query_id", id_col, "maxsim", "rank")


def build_maxsim_store(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = MAX_DOC_TOKENS,
    dim: int = 64,
    n_clusters: int | None = None,
    keep_cols: tuple[str, ...] = (),
) -> str:
    """Persist the per-document token-embedding matrices so late-interaction
    serving reads a PREBUILT store instead of re-embedding the corpus per
    query (the reference's whole value is a persistent index —
    photo_vector_search.py:16-20; every other serving family here persists
    its representation: ivf/sq8/ivf,sq8/pq/bq). The embed pass — the
    dominant cost of one-call `maxsim_search` — is paid ONCE at build time.

    Layout: `path` holds (id, tok_embs, pooled) parquet; `path + '.meta'`
    holds one sidecar row (build_id, store_sig, id_col, max_tokens, dim,
    n_docs, n_clusters), written LAST, as the store protocol
    (``operators/store.py`` module docstring) has it. ``build_id`` is a
    STABLE content hash of the build's parameters (+ centroid bytes when
    clustered) — it stamps side tables (delta/tombstones/centroids) and
    survives compaction, so a geometry-compatible side table is never
    refused; ``store_sig`` is the content signature of the written store,
    checked at every open. Returns the stable build id.

    ``n_clusters`` turns on the PLAID-style clustered layout: k-means
    over the POOLED vectors, store hive-partitioned by ``cluster_id``
    (centroid sidecar at ``path + '.centroids'``, same build id), so
    `maxsim_store_search(nprobe=...)` prunes whole cluster DIRECTORIES
    at file-listing time before the pooled prefilter even scans —
    the ColBERT-v2/PLAID centroid-pruning shape on the engine's own IVF
    machinery. nprobe == n_clusters reproduces the unclustered result
    exactly (pinned in tests); smaller nprobe trades recall for scan.

    ``keep_cols``: metadata columns from ``docs`` (e.g. lang, source)
    carried into the store rows, recorded in the meta sidecar, so
    `maxsim_store_search(filter=...)` can push an equality predicate into
    the store scan BEFORE the prefilter — the filtered-search discipline
    (P2: filter before distance, `knn.knn_topk(label=...)`). Upserts into
    a keep_cols store must supply the same columns."""
    from photo_vector_search_spark.operators.store import (
        snapshot_overwrite,
        write_meta,
    )

    toks = with_pooled_column(
        doc_token_embeddings(
            docs, text_col=text_col, id_col=id_col,
            max_tokens=max_tokens, dim=dim,
        ),
        id_col=id_col,
    )
    if keep_cols:
        # one build-time equi-join carries the metadata onto the rows
        toks = toks.join(docs.select(id_col, *keep_cols), id_col)
    spark = docs.sparkSession
    centroids = None
    if n_clusters is not None:
        if n_clusters < 1:
            raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
        from photo_vector_search_spark.operators.ann import (
            assign_clusters,
            train_centroids,
        )

        flat = toks.withColumnRenamed("pooled", "embedding")
        centroids = train_centroids(flat, n_clusters=n_clusters)
        toks = assign_clusters(flat, centroids).withColumnRenamed(
            "embedding", "pooled"
        )
        # per-cluster directories; id-sorted within so the candidate
        # IN-filter still prunes row groups inside each probed cluster
        toks = toks.repartition("cluster_id").sortWithinPartitions(id_col)
        snapshot_overwrite(toks, path, partition_by=["cluster_id"])
    else:
        # range-partition + sort by id: tight per-row-group id stats, so
        # the serving-side candidate IN-filter prunes row groups at rest
        # and the rescore never decodes the whole corpus' token matrices
        toks = toks.repartitionByRange(F.col(id_col)).sortWithinPartitions(
            id_col
        )
        snapshot_overwrite(toks, path)
    n_docs = spark.read.parquet(path).count()
    build_id = _maxsim_build_id(id_col, max_tokens, dim, n_clusters, centroids)
    write_meta(
        spark, path,
        {
            "build_id": build_id,
            "id_col": id_col,
            "max_tokens": max_tokens,
            "dim": dim,
            "n_docs": n_docs,
            "n_clusters": n_clusters or 0,
            "keep_cols": ",".join(keep_cols),
        },
        _META_SCHEMA,
    )
    if centroids is not None:
        snapshot_overwrite(
            spark.createDataFrame(
                [
                    (i, [float(x) for x in c], build_id)
                    for i, c in enumerate(centroids)
                ],
                "centroid_id int, centroid array<double>, build_id string",
            ),
            path + ".centroids",
        )
    return build_id


_META_SCHEMA = (
    "build_id string, store_sig string, id_col string, max_tokens int, "
    "dim int, n_docs long, n_clusters int, keep_cols string"
)


def _maxsim_build_id(id_col, max_tokens, dim, n_clusters, centroids) -> str:
    """STABLE build identity: the parameters a side table must have been
    produced under to be compatible, plus the centroid bytes (the frozen
    geometry) for clustered stores. Deliberately NOT the directory
    signature — compaction rewrites the base without changing what a
    compatible delta looks like."""
    import hashlib

    h = hashlib.md5(
        f"{id_col}:{max_tokens}:{dim}:{n_clusters or 0}".encode()
    )
    if centroids is not None:
        h.update(centroids.tobytes())
    return h.hexdigest()[:16]


def with_pooled_column(doc_toks: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Append the mean-pooled vector as a FLAT ``pooled`` column — computed
    with the exact ``add.reduceat`` arithmetic the serving prefilter kernel
    uses, so stored and recomputed pooled vectors are bit-identical (the
    store-served ≡ in-memory parity contract). At rest this is the
    prefilter's whole read: 64 doubles per doc via parquet column pruning,
    instead of decoding every doc's full token matrix. Empty/NULL token
    matrices pool to NULL."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    schema = StructType(
        list(doc_toks.schema.fields)
        + [StructField("pooled", ArrayType(DoubleType()), True)]
    )

    def _pool(batches):
        for pdf in batches:
            flat, counts, keep = _tok_matrices(pdf["tok_embs"])
            pooled = [None] * len(pdf)
            if flat is not None:
                offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
                means = np.add.reduceat(flat, offsets, axis=0) / counts[:, None]
                for row_pos, vec in zip(np.flatnonzero(keep), means):
                    pooled[row_pos] = [float(v) for v in vec]
            pdf = pdf.copy()
            pdf["pooled"] = pooled
            yield pdf

    return doc_toks.mapInPandas(_pool, schema=schema)


def load_maxsim_store(spark, path: str):
    """(token frame, meta row) for a `build_maxsim_store` store, opened by
    ``store.open_store`` (the base signed by its ``.meta``)."""
    from photo_vector_search_spark.operators.store import open_store

    opened = open_store(
        spark, path, "MaxSim", "build_maxsim_store", meta=True, footer=False
    )
    return opened.tables[0], opened.meta


def _load_maxsim_centroids(spark, path: str, meta):
    """Centroid matrix for a CLUSTERED maxsim store, opened by
    ``store.open_store`` against the build of the store's ``meta`` —
    probing with stale centroids silently collapses recall."""
    import numpy as np

    from photo_vector_search_spark.operators.store import open_store

    rows = open_store(
        spark, path, "MaxSim", "build_maxsim_store", tables=(),
        sidecar=".centroids", build_id=meta["build_id"],
    ).rows
    rows = sorted(rows, key=lambda r: r["centroid_id"])
    return np.vstack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in rows]
    )


def maxsim_store_search(
    spark,
    path: str,
    query: str,
    k: int = 10,
    prefilter_n: int | None = None,
    max_query_tokens: int = MAX_QUERY_TOKENS,
    fast: bool = True,
    nprobe: int | None = None,
    filter=None,
) -> DataFrame:
    """Serve a MaxSim query from a persisted token store: load (torn-pair
    checked), pooled-cosine prefilter, rescore — no corpus re-embedding.
    Store-served results ≡ `maxsim_search` over the same corpus with the
    build's (max_tokens, dim), pinned in tests.

    At-rest read shape (the store's design point): the prefilter scans ONLY
    the flat ``pooled`` column (parquet column pruning — 64 doubles/doc,
    the token matrices are never decoded corpus-wide), and the rescore
    pushes the ≤ prefilter_n candidate ids as an IN filter into the store
    scan, which prunes row groups via the id-sorted layout `build` wrote.
    The candidate ids round-trip the driver (bounded by ``prefilter_n`` —
    the serving knob, the mmr_rerank discipline).

    ``nprobe`` (clustered stores only): rank the build's pooled-vector
    centroids by cosine against the mean query vector DRIVER-side (k tiny
    rows) and restrict every scan to the top-nprobe clusters — whole
    cluster directories are pruned at file-listing time (PartitionFilters;
    asserted on runtime scan metrics in tests). nprobe == n_clusters is
    exactly the unclustered result; smaller trades recall for bytes, the
    PLAID deployment shape.

    ``filter``: a Column predicate (or SQL string) over the store's
    ``keep_cols`` metadata, applied to the scan BEFORE the prefilter —
    candidates are chosen among matching docs only (the filtered-search
    discipline; ≡ serving a store built from the filtered corpus, pinned
    in tests)."""
    toks, meta = load_maxsim_store(spark, path)
    centroids = (
        _load_maxsim_centroids(spark, path, meta)
        if nprobe is not None and meta["n_clusters"] >= 1
        else None
    )
    return _serve_maxsim(
        spark, toks, meta, query, k=k, prefilter_n=prefilter_n,
        max_query_tokens=max_query_tokens, fast=fast, nprobe=nprobe,
        centroids=centroids, filter=filter,
    )


def _probe_clusters(centroids, qmean, nprobe: int) -> list[int]:
    """Top-nprobe cluster ids by centroid cosine vs the mean query vector —
    driver-side over k tiny rows; ties break to the lower cluster id."""
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore"):
        sim = (centroids @ qmean) / np.linalg.norm(centroids, axis=1)
    sim = np.where(np.isfinite(sim), sim, -np.inf)
    order = np.lexsort((np.arange(len(sim)), -sim))
    return [int(c) for c in order[: min(nprobe, len(sim))]]


def _pooled_flat_candidate_ids(
    toks: DataFrame,
    qmean,
    n: int,
    id_col: str,
) -> list:
    """Top-``n`` candidate ids by pooled cosine over the FLAT ``pooled``
    column — the column-pruned serving prefilter (64 doubles/doc; token
    matrices never decoded corpus-wide). Bounded driver round-trip of n
    ids (the mmr_rerank discipline). ``mapInArrow`` over the flat list
    buffer (r12, `functions.arrowkit`): the batch's pooled matrix is one
    reshape, not a per-row vstack — same arithmetic, identical scores."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.arrowkit import fixed_matrix

    bqm = toks.sparkSession.sparkContext.broadcast(qmean)
    id_field = toks.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("_pool", DoubleType(), True),
        ]
    )
    arrow_out = to_arrow_schema(out_schema)
    dim = int(qmean.shape[0])

    def _flat_pool(batches):
        qv = bqm.value
        for batch in batches:
            cols = {nm: i for i, nm in enumerate(batch.schema.names)}
            m, keep = fixed_matrix(batch.column(cols["pooled"]), dim)
            if m is None:
                continue
            norms = np.linalg.norm(m, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (m @ qv) / norms
            ids_np = batch.column(cols[id_col]).to_numpy(
                zero_copy_only=False
            )[keep]
            yield pa.record_batch(
                [
                    pa.array(ids_np, type=arrow_out.field(0).type),
                    pa.array(cos, mask=~np.isfinite(cos)),
                ],
                schema=arrow_out,
            )

    cand = (
        toks.select(id_col, "pooled")  # column-pruned scan: no matrices
        .mapInArrow(_flat_pool, schema=out_schema)
        .orderBy(F.col("_pool").desc_nulls_last(), F.col(id_col).asc())
        .limit(n)
        .collect()
    )
    return [r[id_col] for r in cand]


def maxsim_store_batch_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    prefilter_n: int | None = None,
    max_query_tokens: int = MAX_QUERY_TOKENS,
    nprobe: int | None = None,
    max_queries: int = 4096,
) -> DataFrame:
    """Batched PLAID pipeline over the persisted token store: Q text
    queries share ONE column-pruned pooled pass and ONE bounded rescore —
    (query_id, id, maxsim, rank), ≡ a Python loop of `maxsim_store_search`
    per query (pinned in tests).

    Stages, all shared across queries:
    1. per-query cluster probes (clustered stores, ``nprobe``) rank the
       centroid sidecar driver-side; the store scan filters to the UNION
       of probes (partition pruning preserved) and each query masks to
       ITS probes;
    2. pooled prefilter: one Arrow pass over the flat ``pooled`` column
       scores ALL queries per batch in one matmul and keeps a per-batch
       LOCAL top-``prefilter_n`` per query (``arrowkit.batch_topk``) —
       shuffle O(batches·Q·n), never N·Q — then one bounded per-query
       window picks the global candidates;
    3. rescore: the (query_id, id) candidates join the token store once
       (≤ Q·n matrix rows move) and one Arrow kernel scores each pair
       from its own tokens (``_maxsim_pairs``);
    4. one bounded per-query window emits the top-k.

    ``prefilter_n=None`` rescores the whole (probed) store per query: the
    unprobed case delegates to the single-pass `maxsim_batch_topk` (no
    row duplication); with per-query probes the pairs are materialized
    per (query, doc) because each query reads a DIFFERENT row subset —
    the exact-parity rung, not the scale path (prefilter is)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.arrowkit import (
        batch_topk,
        cosine_screen,
        fixed_matrix,
        local_frame,
        nested_matrix,
        rank_per_query,
        round6,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks, meta = load_maxsim_store(spark, path)
    id_col, dim = meta["id_col"], meta["dim"]
    qrows = bounded_rows(
        queries, ("query_id", "query"), max_queries,
        f">{max_queries} queries — split the batch or raise max_queries",
        duplicate="duplicate query_id in the batch — per-query top-k is "
        "ill-defined; de-duplicate the query frame first",
        empty="empty query frame",
    )
    qids = [r["query_id"] for r in qrows]
    allq, qoff = _query_tokens(qrows, max_query_tokens, dim)
    qmeans = np.vstack([
        allq[a:b].mean(axis=0)
        for a, b in zip(qoff, np.append(qoff[1:], len(allq)))
    ])

    probes = None
    if nprobe is not None:
        if meta["n_clusters"] < 1:
            raise ValueError(
                "nprobe needs a CLUSTERED store — rebuild with "
                "build_maxsim_store(n_clusters=...)"
            )
        if nprobe < 1:
            raise ValueError(f"nprobe must be >= 1, got {nprobe}")
        cents = _load_maxsim_centroids(spark, path, meta)
        probes = {
            qid: _probe_clusters(cents, qm, nprobe)
            for qid, qm in zip(qids, qmeans)
        }
        union = sorted({c for ps in probes.values() for c in ps})
        toks = toks.filter(F.col("cluster_id").isin(union))

    qid_type = queries.schema["query_id"].dataType

    if prefilter_n is not None:
        if prefilter_n < k:
            raise ValueError(f"prefilter_n ({prefilter_n}) must be >= k ({k})")
        b = spark.sparkContext.broadcast(qmeans)

        def _pool_screen(batch):
            qm = b.value
            m, keep = fixed_matrix(batch.column("pooled"), dim)
            if m is None:
                return None
            return cosine_screen(m, keep, qm, np.ones(len(qm)))

        pool_cols = [id_col, "pooled"] + (
            ["cluster_id"] if probes is not None else []
        )
        cand = batch_topk(
            toks.select(*pool_cols), id_col, qids, prefilter_n, _pool_screen,
            value="_pool", query_type=qid_type.simpleString(),
            descending=True, allowed=probes,
        ).select("query_id", id_col)
        pairs = cand.join(toks.select(id_col, "tok_embs"), id_col)
    elif probes is None:
        # unprobed brute force: one shared pass, no row duplication
        return maxsim_batch_topk(
            toks, queries, k=k, id_col=id_col,
            max_query_tokens=max_query_tokens, dim=dim,
            max_queries=max_queries,
        )
    else:
        # probed brute force: each query reads a DIFFERENT row subset, so
        # (query, doc) pairs materialize — bounded by Q × probed rows
        probed = local_frame(
            spark, [(qid, c) for qid in qids for c in probes[qid]],
            StructType([
                StructField("query_id", qid_type), toks.schema["cluster_id"]
            ]),
        )
        pairs = toks.select(id_col, "tok_embs", "cluster_id").join(
            F.broadcast(probed), "cluster_id"
        )

    bq = spark.sparkContext.broadcast((qids, allq, qoff))
    score_schema = StructType(
        [
            StructField("query_id", qid_type, True),
            toks.schema[id_col],
            StructField("maxsim", DoubleType(), True),
        ]
    )
    arrow_out = to_arrow_schema(score_schema)

    def _score_pairs(batches):
        ids, aq, qo = bq.value
        slot = {qid: j for j, qid in enumerate(ids)}
        for batch in batches:
            flat, counts, keep = nested_matrix(batch.column("tok_embs"), dim)
            if flat is None:
                continue
            kept = pa.array(np.flatnonzero(keep))
            qcol = batch.column("query_id").take(kept)
            qi = np.array([slot[q] for q in qcol.to_pylist()], dtype=np.int64)
            raw = _maxsim_pairs(aq, qo, flat, counts)(np.arange(len(qi)), qi)
            yield pa.record_batch(
                [
                    qcol.cast(arrow_out.field(0).type),
                    batch.column(id_col).take(kept).cast(
                        arrow_out.field(1).type
                    ),
                    pa.array(round6(raw)),
                ],
                schema=arrow_out,
            )

    scored = pairs.mapInArrow(_score_pairs, schema=score_schema)
    return rank_per_query(scored, "maxsim", id_col, k, descending=True).select(
        "query_id", id_col, "maxsim", "rank"
    )


def _serve_maxsim(
    spark,
    toks: DataFrame,
    meta,
    query: str,
    k: int = 10,
    prefilter_n: int | None = None,
    max_query_tokens: int = MAX_QUERY_TOKENS,
    fast: bool = True,
    nprobe: int | None = None,
    centroids=None,
    filter=None,
) -> DataFrame:
    """Shared serving tail for store-backed MaxSim (static store and live
    view): optional metadata filter (FIRST — the P2 discipline) → cluster
    probe → pooled prefilter → rescore."""
    import numpy as np

    id_col, dim = meta["id_col"], meta["dim"]
    if filter is not None:
        toks = toks.filter(filter)
    if nprobe is not None:
        if meta["n_clusters"] < 1:
            raise ValueError(
                "nprobe needs a CLUSTERED store — rebuild with "
                "build_maxsim_store(n_clusters=...)"
            )
        if nprobe < 1:
            raise ValueError(f"nprobe must be >= 1, got {nprobe}")
        qvecs = np.asarray(
            _query_token_vecs(query, max_query_tokens, dim), dtype=np.float64
        )
        probes = _probe_clusters(centroids, qvecs.mean(axis=0), nprobe)
        toks = toks.filter(F.col("cluster_id").isin(probes))
    if prefilter_n is not None and fast and "pooled" in toks.columns:
        if prefilter_n < k:
            raise ValueError(f"prefilter_n ({prefilter_n}) must be >= k ({k})")
        qvecs = np.asarray(
            _query_token_vecs(query, max_query_tokens, dim), dtype=np.float64
        )
        cand_ids = _pooled_flat_candidate_ids(
            toks, qvecs.mean(axis=0), prefilter_n, id_col
        )
        # IN filter pushes into the id-sorted store scan -> row-group pruning
        doc_toks = toks.filter(F.col(id_col).isin(cand_ids))
        return maxsim_topk(
            doc_toks, query, k=k, id_col=id_col,
            max_query_tokens=max_query_tokens, dim=dim, fast=True,
        )
    return maxsim_search(
        None, query, k=k, prefilter_n=prefilter_n,
        id_col=id_col, max_tokens=meta["max_tokens"],
        max_query_tokens=max_query_tokens, dim=dim,
        fast=fast, doc_toks=toks,
    )


def maxsim_search(
    docs: DataFrame | None,
    query: str,
    k: int = 10,
    prefilter_n: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = MAX_DOC_TOKENS,
    max_query_tokens: int = MAX_QUERY_TOKENS,
    dim: int = 64,
    fast: bool = True,
    doc_toks: DataFrame | None = None,
) -> DataFrame:
    """One-call text → MaxSim top-k. ``prefilter_n`` turns on the two-stage
    shape: a POOLED single-vector cosine pass picks N candidates
    (`pooled_cosine_candidates` — cheap, map-only into TakeOrdered), and
    MaxSim re-scores only those — the ColBERT-v2/PLAID deployment pattern.
    ``prefilter_n=None`` scores the whole corpus (exact MaxSim; with
    prefilter_n >= corpus size the two-stage result equals it exactly,
    pinned in tests). ``fast`` routes both stages through the Arrow
    kernels (serving default). ``doc_toks`` serves from a precomputed /
    store-loaded token frame (`load_maxsim_store`) instead of re-embedding
    the corpus.

    Two-stage read shape (r12 optimization): the candidate ids round-trip
    the driver (bounded by ``prefilter_n`` — the `_pooled_flat_candidate_ids`
    / mmr_rerank discipline) and the rescore pushes them as an IN filter —
    into the DOCS scan when embedding on the fly, so stage 2 re-embeds only
    the ≤ prefilter_n candidate documents instead of re-deriving the whole
    corpus' token matrices (the old broadcast join re-executed the full
    embed pass: Spark does not reuse the prefilter's subtree), or into the
    precomputed ``doc_toks`` scan, where an id-sorted store prunes row
    groups."""
    embed_on_the_fly = doc_toks is None
    if doc_toks is None and docs is None:
        raise ValueError("pass docs (to embed) or doc_toks (precomputed)")
    if prefilter_n is not None:
        if prefilter_n < k:
            raise ValueError(
                f"prefilter_n ({prefilter_n}) must be >= k ({k})"
            )
        if embed_on_the_fly and fast:
            # fused prefilter: embed + pool in ONE kernel, (id, cos) out —
            # the token matrices never materialize corpus-wide
            cand_df = _pooled_candidates_from_docs(
                docs, query, prefilter_n, text_col, id_col,
                max_tokens, max_query_tokens, dim,
            )
        else:
            if embed_on_the_fly:
                doc_toks = doc_token_embeddings(
                    docs, text_col=text_col, id_col=id_col,
                    max_tokens=max_tokens, dim=dim,
                )
            cand_df = pooled_cosine_candidates(
                doc_toks, query, prefilter_n, id_col=id_col,
                max_query_tokens=max_query_tokens, dim=dim, fast=fast,
            )
        cand = cand_df.collect()  # ≤ prefilter_n ids — the bounded knob
        cand_ids = [r[id_col] for r in cand]
        if embed_on_the_fly:
            # stage 2 embeds ONLY the candidates (IN pushed into the scan)
            doc_toks = doc_token_embeddings(
                docs.filter(F.col(id_col).isin(cand_ids)),
                text_col=text_col, id_col=id_col,
                max_tokens=max_tokens, dim=dim,
            )
        else:
            doc_toks = doc_toks.filter(F.col(id_col).isin(cand_ids))
    elif embed_on_the_fly:
        doc_toks = doc_token_embeddings(
            docs, text_col=text_col, id_col=id_col,
            max_tokens=max_tokens, dim=dim,
        )
    return maxsim_topk(
        doc_toks, query, k=k, id_col=id_col,
        max_query_tokens=max_query_tokens, dim=dim, fast=fast,
    )
