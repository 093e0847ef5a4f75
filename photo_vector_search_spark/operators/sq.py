"""Scalar quantization (SQ8): 8-bit-per-component embedding compression and
asymmetric top-k search over the codes — the FAISS ``IndexScalarQuantizer``
(QT_8bit) rung of the serving ladder, sitting between raw floats (knn
family) and product quantization (pq family): 8× smaller than float64 at
~none of PQ's training cost, with reconstruction error bounded per
component by half a quantization step.

Model: per-COMPONENT min/max over the corpus (one Arrow partial pass, the
same bounded-by-partition-count driver collect as `embeddings.fit_pca_whitening`);
encode: ``c_i = round((x_i - vmin_i) / (vmax_i - vmin_i) * 255)`` clipped to
[0, 255], stored ``array<smallint>`` (the pq code convention — parquet
byte-packs); decode: ``x̂_i = vmin_i + c_i · (vmax_i - vmin_i)/255`` (exact
at both endpoints). Constant components (vmax == vmin) encode to 0 and
decode exactly.

Search (`sq8_topk`) is asymmetric — float query against decoded codes —
via the knn_batch_fast shape: map-side per-batch decode + BLAS matmul +
per-batch top-k, shuffle O(batches·k), then the global TakeOrdered merge.
``rerank`` widens the candidate pool to ``rerank`` by SQ8 distance and
re-scores survivors EXACTLY from the float column — with a pool a few
multiples of k, the result matches exact knn at a fraction of the scan
bytes (100 TB of float64 embeddings is 12.5 TB of codes).

A single read of a persisted IVF,SQ8 store whose probed clusters fit the
driver tier (``operators/store.py`` states the rule and the bound) runs
the same kernel, ``_sq8_topc``, on the driver and returns a local relation.

Cf. reference scope: the reference's ChromaDB/HNSW store
(photo_vector_search.py:17-20) keeps raw float vectors; this extends the
mandated similarity-search family's storage/serving axis.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.arrowkit import (
    batch_topk,
    bounded_rows,
    cosine_screen,
    fixed_matrix,
    local_frame,
    spark_round6,
)
from photo_vector_search_spark.operators.store import (
    OpenStore,
    kind_vectors,
    local_read,
    open_store,
    snapshot_overwrite,
    write_kind_vectors,
)


class SQ8Model(NamedTuple):
    vmin: np.ndarray  # per-component minima, float64 (d,)
    vmax: np.ndarray  # per-component maxima, float64 (d,)

    @property
    def scale(self) -> np.ndarray:
        """Per-component step (vmax-vmin)/255; 0 where the component is
        constant (those components decode exactly to vmin)."""
        return (self.vmax - self.vmin) / 255.0


def fit_sq8(emb: DataFrame, vec_col: str = "embedding") -> SQ8Model:
    """Per-component min/max in ONE map-side Arrow pass (driver collect
    bounded by batch count, 2 d-vectors each). NULL vectors are skipped."""

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = pdf[vec_col].dropna()
            if not len(vals):
                continue
            x = np.vstack(vals.to_numpy()).astype(np.float64)
            yield pd.DataFrame({"lo": [x.min(axis=0)], "hi": [x.max(axis=0)]})

    parts = (
        emb.select(F.col(vec_col).cast("array<double>").alias(vec_col))
        .mapInPandas(_partials, schema="lo array<double>, hi array<double>")
        .collect()
    )
    if not parts:
        raise ValueError("cannot fit SQ8: empty frame or no non-NULL vectors")
    vmin = np.min([np.asarray(r["lo"]) for r in parts], axis=0)
    vmax = np.max([np.asarray(r["hi"]) for r in parts], axis=0)
    return SQ8Model(vmin=vmin, vmax=vmax)


def encode_sq8(
    emb: DataFrame,
    model: SQ8Model,
    vec_col: str = "embedding",
    out_col: str = "sq8",
) -> DataFrame:
    """Map-only encode under the broadcast model; values outside the fitted
    range (vectors added after the fit) clip to the range edges — the FAISS
    convention. NULL vectors → NULL codes."""
    sc = emb.sparkSession.sparkContext
    b = sc.broadcast((model.vmin, model.scale))
    out_fields = emb.schema.fieldNames() + [out_col]
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in emb.schema)
        + f", `{out_col}` array<smallint>"
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vmin, step = b.value
        safe = np.where(step > 0, step, 1.0)
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            mask = pdf[vec_col].notna().to_numpy()
            codes = pd.Series([None] * len(pdf), dtype=object)
            if mask.any():
                x = np.vstack(pdf.loc[mask, vec_col].to_numpy()).astype(np.float64)
                c = np.rint((x - vmin) / safe)
                c[:, step == 0] = 0.0
                c = np.clip(c, 0, 255).astype(np.int16)
                codes[np.flatnonzero(mask)] = list(c)
            pdf = pdf.copy()
            pdf[out_col] = codes
            yield pdf[out_fields]

    return emb.mapInPandas(_encode, schema=out_schema)


def _sq8_topc(vec_id, label, codes, vmin, step, q, qnorm, c):
    """The asymmetric SQ8 cosine kernel of one group of rows: decode
    ``codes`` (float64, one row per vector), score every row against the
    float query ``q`` and keep the ``c`` nearest by (distance, vec_id) —
    (vec_id, label, distance) arrays; zero-norm rows never rank. A row's
    distance is computed from that row alone (``einsum``'s own loop along
    the row, not a BLAS matrix-vector product whose blocking depends on
    the batch), so it is the same double however rows are grouped: the
    Spark tier calls this once per Arrow batch, the driver tier once per
    ``store.local_read`` batch, and both merge the survivors by
    (distance, vec_id)."""
    order = np.argsort(vec_id, kind="stable")
    vec_id, label, codes = vec_id[order], label[order], codes[order]
    x = vmin + codes * step
    nrm = np.linalg.norm(x, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        dist = 1.0 - np.einsum("ij,j->i", x, q) / (nrm * qnorm)
    top = np.argsort(dist, kind="stable")[: min(c, len(dist))]
    top = top[np.isfinite(dist[top])]
    return vec_id[top], label[top], dist[top]


def _local_sq8_topk(spark, batches, model: SQ8Model, q, qn, k) -> DataFrame:
    """The driver tier of an IVF,SQ8 store read (``operators/store.py``):
    ``_sq8_topc`` over each batch of probed rows (``store.local_read``),
    the survivors merged by (distance, vec_id) into the top ``k`` with
    Spark's rounding (``spark_round6``), as a local relation."""
    schema = "vec_id long, label int, dist double, rank int"
    found = []
    for batch in batches:
        codes, keep = fixed_matrix(batch.column("sq8"), len(model.vmin))
        if codes is not None:
            found.append(_sq8_topc(
                batch.column("vec_id").to_numpy()[keep],
                batch.column("label").to_numpy()[keep],
                codes, model.vmin, model.scale, q, qn, k,
            ))
    if not found:
        return local_frame(spark, [], schema)
    vec_id, label, dist = (np.concatenate(c) for c in zip(*found))
    top = np.lexsort((vec_id, dist))[:k]
    return local_frame(
        spark,
        list(zip(
            vec_id[top].tolist(), label[top].tolist(),
            spark_round6(dist[top]).tolist(), range(1, len(top) + 1),
        )),
        schema,
    )


def sq8_topk(
    coded: DataFrame,
    model: SQ8Model,
    query_vec,
    k: int = 5,
    code_col: str = "sq8",
    rerank: int | None = None,
    vec_col: str = "embedding",
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """Cosine top-k of a float query over SQ8 codes: per-batch decode +
    dot product + local top-c, global TakeOrdered merge — (vec_id, label,
    dist, rank), dist = asymmetric SQ8 cosine distance rounded 6dp (or the
    EXACT float distance when ``rerank`` is set). ``rerank`` keeps the top
    ``rerank`` (>= k) candidates by code distance, then re-scores them from
    ``vec_col`` — the standard coarse-then-exact ladder; ``rerank_source``
    points the exact pass at a SEPARATE float frame (id + vec_col + label —
    the source-corpus join a codes-only store uses; default: ``coded``
    itself carries the floats). NULL / zero-norm rows never rank (the knn
    discipline)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    c = rerank if rerank is not None else k
    if c < k:
        raise ValueError(f"rerank pool ({c}) must be >= k ({k})")
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if not qn > 0:
        raise ValueError("query vector must have positive norm")
    sc = coded.sparkSession.sparkContext
    b = sc.broadcast((model.vmin, model.scale, q, qn))

    def _local_topc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vmin, step, qv, qnorm = b.value
        for pdf in batches:
            pdf = pdf.dropna(subset=["_code"])
            if not len(pdf):
                continue
            vec_id, label, dist = _sq8_topc(
                pdf["vec_id"].to_numpy(), pdf["label"].to_numpy(),
                np.vstack(pdf["_code"].to_numpy()).astype(np.float64),
                vmin, step, qv, qnorm, c,
            )
            yield pd.DataFrame({"vec_id": vec_id, "label": label, "_dist": dist})

    survivors = coded.select(
        "vec_id", "label", F.col(code_col).alias("_code")
    ).mapInPandas(_local_topc, schema="vec_id long, label int, _dist double")
    pool = survivors.orderBy(F.col("_dist").asc(), F.col("vec_id").asc()).limit(c)

    if rerank is None:
        return (
            pool.withColumn(
                "rank",
                F.row_number().over(
                    Window.orderBy(F.col("_dist").asc(), F.col("vec_id").asc())
                ),
            )
            .select("vec_id", "label", F.round("_dist", 6).alias("dist"), "rank")
        )

    # exact re-score of the pool from the float column (broadcast-size join)
    from ..functions.vector import cosine_distance
    from ..operators.knn import _valid_dist

    src = rerank_source if rerank_source is not None else coded
    qlit = F.array(*[F.lit(float(v)) for v in q])
    exact = (
        src.join(F.broadcast(pool.select("vec_id")), "vec_id")
        .select(
            "vec_id",
            "label",
            cosine_distance(F.col(vec_col).cast("array<double>"), qlit).alias(
                "_dist"
            ),
        )
        .filter(_valid_dist(F.col("_dist")))
    )
    return (
        exact.orderBy(F.col("_dist").asc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("_dist").asc(), F.col("vec_id").asc())
            ),
        )
        .select("vec_id", "label", F.round("_dist", 6).alias("dist"), "rank")
    )


def build_sq8_store(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("label",),
) -> SQ8Model:
    """Persist an SQ8 index at ``path``: codes-only rows ``(id, keep_cols,
    sq8, build_id)`` — the float vectors deliberately do NOT land in the
    store (codes at rest are the point: 1 byte/component; rerank reads the
    SOURCE embeddings by id via ``rerank_source``) — plus a ``.sqmeta``
    sidecar carrying (vmin, vmax) stamped with the same content-hash
    ``build_id`` as every row. Written and opened by the store protocol
    (``operators/store.py`` module docstring)."""
    import hashlib

    model = fit_sq8(embeddings, vec_col=vec_col)
    build_id = hashlib.md5(
        model.vmin.tobytes() + model.vmax.tobytes()
    ).hexdigest()[:16]
    coded = encode_sq8(embeddings, model, vec_col=vec_col).select(
        id_col, *keep_cols, "sq8", F.lit(build_id).alias("build_id")
    )
    snapshot_overwrite(coded, path)
    spark = embeddings.sparkSession
    write_kind_vectors(
        spark, path + ".sqmeta", {"vmin": model.vmin, "vmax": model.vmax},
        build_id,
    )
    return model


def load_sq8_store(spark, path: str) -> tuple[DataFrame, SQ8Model]:
    """(codes frame, model), opened by ``store.open_store``."""
    opened = open_store(spark, path, "SQ8", "build_sq8_store", sidecar=".sqmeta")
    vecs = kind_vectors(opened.rows, ("vmin", "vmax"))
    return opened.tables[0], SQ8Model(vecs["vmin"][0], vecs["vmax"][0])


def sq8_store_topk(
    spark,
    path: str,
    query_vec,
    k: int = 5,
    rerank: int | None = None,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """One-call serving read path: load the persisted codes + model and
    search. ``rerank`` requires ``rerank_source`` (the store is codes-only —
    there are no floats to re-score from)."""
    if rerank is not None and rerank_source is None:
        raise ValueError(
            "rerank over a persisted SQ8 store needs rerank_source — the "
            "store holds codes only; pass the source embeddings frame"
        )
    coded, model = load_sq8_store(spark, path)
    return sq8_topk(
        coded,
        model,
        query_vec,
        k=k,
        rerank=rerank,
        rerank_source=rerank_source,
    )


def sq8_batch_topk(
    coded: DataFrame,
    model: SQ8Model,
    queries: DataFrame,
    k: int = 5,
    code_col: str = "sq8",
    max_queries: int = 65_536,
    allowed: dict[int, list[int]] | None = None,
    qrows: list | None = None,
) -> DataFrame:
    """Batched asymmetric SQ8 top-k: Q queries share ONE pass over the
    codes — each Arrow batch decodes once and scores ALL queries with a
    single BLAS matmul (codes_batch @ Q_matrix.T), then keeps a per-query
    local top-k (``arrowkit.batch_topk``, which re-scores the survivors
    with ``_sq8_topc``'s row-local form), so the shuffle is
    O(batches · Q · k) survivor rows and the merge is one per-QUERY window
    over ≤ batches·k rows. Result ≡ a Python loop of ``sq8_topk`` per
    query (pinned in tests), distances equal to the bit.

    ``queries``: (query_id, query_vec). ``allowed``: optional per-query
    cluster restriction {query_id: [cluster_id, ...]} — rows outside a
    query's probe set never score for it (the IVF mask; requires a
    ``cluster_id`` column). ``qrows``: pre-collected query rows, handed
    down by ``ivf_sq8_batch_topk`` so the probe dict and the broadcast
    query matrix come from the SAME collected set (the pq batch rule).
    Zero-norm/NULL queries raise; NULL code rows never rank."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    too_many = (
        f"sq8_batch_topk: >{max_queries} queries — split the query set "
        "or raise max_queries"
    )
    if qrows is None:
        qrows = bounded_rows(
            queries, ("query_id", "query_vec"), max_queries, too_many
        )
    elif len(qrows) > max_queries:
        raise ValueError(too_many)
    if not qrows:
        return coded.sparkSession.createDataFrame(
            [], "query_id long, vec_id long, label int, dist double, rank int"
        )
    qids = [int(r["query_id"]) for r in qrows]
    if len(set(qids)) != len(qids):
        raise ValueError(
            "duplicate query_id values in queries — each id must be unique "
            "(a duplicate would double its survivor rows and corrupt ranks)"
        )
    qmat = np.vstack(
        [np.asarray(r["query_vec"], dtype=np.float64) for r in qrows]
    )
    qnorms = np.linalg.norm(qmat, axis=1)
    if not (qnorms > 0).all():
        bad = [q for q, n in zip(qids, qnorms) if not n > 0]
        raise ValueError(f"queries {bad} have non-positive norm")
    if allowed is not None:
        missing = [q for q in qids if q not in allowed]
        if missing:
            raise ValueError(f"allowed lacks probe lists for queries {missing}")
    b = coded.sparkSession.sparkContext.broadcast(
        (model.vmin, model.scale, qmat, qnorms)
    )

    def _screen(batch):  # the distances of _sq8_topc, to the bit
        vmin, step, qm, qn = b.value
        codes, keep = fixed_matrix(batch.column("_code"), len(vmin))
        if codes is None:
            return None
        return cosine_screen(vmin + codes * step, keep, qm, qn, True)

    cols = ["vec_id", "label", F.col(code_col).alias("_code")]
    if allowed is not None:
        cols.append("cluster_id")
    ranked = batch_topk(
        coded.select(*cols), "vec_id", qids, k, _screen, carry=("label",),
        allowed=allowed,
    )
    return ranked.select(
        "query_id", "vec_id", "label", F.round("_dist", 6).alias("dist"), "rank"
    )


def ivf_sq8_batch_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    max_queries: int = 65_536,
) -> DataFrame:
    """Batched one-call IVF,SQ8 serving over the persisted store: Q queries
    share ONE union-pruned scan of the cluster-partitioned codes while each
    keeps exact per-query probe semantics — per-query nearest-``nprobe``
    cluster lists come from the broadcast sidecar centroids (Q·nprobe ints,
    driver-side), the scan prunes to the UNION of all probe sets (IN-list
    over the partition column → file-level pruning), and the batch kernel's
    per-query mask restricts scoring to each query's own probes. Result ≡ a
    Python loop of ``ivf_sq8_topk`` per query (pinned in tests), at one
    scan instead of Q — the `pq.ivf_pq_batch_search` shape on SQ8 codes."""
    coded, centroids, model = load_ivf_sq8_store(spark, path)
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(
            f"nprobe must be in [1, {len(centroids)}], got {nprobe}"
        )
    qrows = bounded_rows(
        queries, ("query_id", "query_vec"), max_queries,
        f"ivf_sq8_batch_topk: >{max_queries} queries — split the query "
        "set or raise max_queries",
    )
    cn = np.linalg.norm(centroids, axis=1)
    allowed: dict[int, list[int]] = {}
    for r in qrows:
        q = np.asarray(r["query_vec"], dtype=np.float64)
        qn = np.linalg.norm(q)
        if not qn > 0:
            raise ValueError(
                f"query {r['query_id']} has non-positive norm"
            )
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (centroids @ q) / (cn * qn)
        allowed[int(r["query_id"])] = [
            int(i) for i in np.argsort(-sims)[:nprobe]
        ]
    union = sorted({c for probes in allowed.values() for c in probes})
    pruned = coded.filter(F.col("cluster_id").isin(union))
    return sq8_batch_topk(
        pruned,
        model,
        queries,
        k=k,
        max_queries=max_queries,
        allowed=allowed,
        qrows=qrows,
    )


def build_ivf_sq8_store(
    embeddings: DataFrame,
    path: str,
    n_clusters: int = 16,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("label",),
) -> tuple[np.ndarray, SQ8Model]:
    """Write-path half of the FAISS ``IVF,SQ8`` composition: train coarse
    centroids, assign every vector to its nearest cluster, SQ8-encode, and
    persist the CODES-ONLY rows ``(id, keep_cols, sq8, build_id)``
    hive-partitioned by ``cluster_id`` — so ``ivf_sq8_topk``'s probe
    IN-filter prunes whole cluster DIRECTORIES at file-listing time over
    rows that are already 8× smaller than the floats (the two scan-byte
    levers composed at rest). Returns ``(centroids, SQ8Model)``.

    One sidecar table at ``path + '.ivfsqmeta'`` carries the centroid
    matrix AND the (vmin, vmax) quantization range, all stamped with one
    content-hash ``build_id`` (md5 over centroid+range bytes) that every
    store row also carries. Written and opened by the store protocol
    (``operators/store.py`` module docstring): served, a torn pair would
    pair NEW cluster assignments with OLD centroids/ranges and collapse
    probe recall (or decode garbage).

    Cf. reference scope: the reference's whole value is a PERSISTENT index
    (photo_vector_search.py:16-20, ChromaDB's on-disk store); this is that
    rung for the IVF,SQ8 composition, which previously had to be hand-rolled
    from build_sq8_store (flat, no cluster_id) + build_ivf_store (floats)."""
    import hashlib

    from photo_vector_search_spark.operators.ann import (
        assign_clusters,
        train_centroids,
    )

    emb = embeddings
    if vec_col != "embedding":  # assign_clusters reads the canonical name
        emb = emb.withColumnRenamed(vec_col, "embedding")
    centroids = train_centroids(emb, n_clusters, sample, iters, seed)
    model = fit_sq8(emb)
    build_id = hashlib.md5(
        centroids.tobytes() + model.vmin.tobytes() + model.vmax.tobytes()
    ).hexdigest()[:16]
    coded = encode_sq8(assign_clusters(emb, centroids), model).select(
        id_col,
        *keep_cols,
        "cluster_id",
        "sq8",
        F.lit(build_id).alias("build_id"),  # constant: dictionary-encoded
    )
    snapshot_overwrite(coded, path, partition_by=["cluster_id"])
    spark = embeddings.sparkSession
    write_kind_vectors(
        spark, path + ".ivfsqmeta",
        {"centroid": centroids, "vmin": model.vmin, "vmax": model.vmax},
        build_id, order="centroid_id",
    )
    return centroids, model


def _open_ivf_sq8(spark, path: str) -> tuple[OpenStore, np.ndarray, SQ8Model]:
    opened = open_store(
        spark, path, "IVF,SQ8", "build_ivf_sq8_store", sidecar=".ivfsqmeta"
    )
    vecs = kind_vectors(opened.rows, ("centroid", "vmin", "vmax"), "centroid_id")
    return opened, vecs["centroid"], SQ8Model(vecs["vmin"][0], vecs["vmax"][0])


def load_ivf_sq8_store(spark, path: str) -> tuple[DataFrame, np.ndarray, SQ8Model]:
    """(codes frame partitioned by cluster_id, centroid matrix, SQ8Model),
    opened by ``store.open_store``."""
    opened, centroids, model = _open_ivf_sq8(spark, path)
    return opened.tables[0], centroids, model


def ivf_sq8_store_topk(
    spark,
    path: str,
    query_vec,
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = None,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """One-call serving read path over a persisted IVF,SQ8 store: load
    (with torn-pair verification) and run the probe-pruned asymmetric
    search. Because the store is hive-partitioned by cluster_id, the probe
    filter prunes Parquet PARTITIONS — the scan reads ~nprobe/n_clusters of
    the already-8×-compressed bytes (both levers audited in
    tests/test_ivf_sq8_store.py on runtime scan metrics). A small probed
    read runs on the driver tier (``ivf_sq8_topk``'s ``footers``).
    ``rerank`` requires ``rerank_source``: the store holds codes only."""
    if rerank is not None and rerank_source is None:
        raise ValueError(
            "rerank over a persisted IVF,SQ8 store needs rerank_source — the "
            "store holds codes only; pass the source embeddings frame"
        )
    opened, centroids, model = _open_ivf_sq8(spark, path)
    return ivf_sq8_topk(
        opened.tables[0],
        centroids,
        model,
        query_vec,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        rerank_source=rerank_source,
        footers=opened.footers[""],
    )


def ivf_sq8_topk(
    coded: DataFrame,
    centroids: np.ndarray,
    model: SQ8Model,
    query_vec,
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = None,
    rerank_source: DataFrame | None = None,
    footers: dict | None = None,
) -> DataFrame:
    """IVF-pruned SQ8 search — the FAISS ``IVF,SQ8`` composition: probe the
    ``nprobe`` nearest coarse clusters (driver argsort over the broadcast
    centroid matrix — the `ann.ivf_topk` rule) and run the asymmetric
    decode-matmul top-k over ONLY those clusters' codes. ``coded`` is
    `encode_sq8` over `ann.assign_clusters` output (columns vec_id, label,
    cluster_id, sq8); over a store written ``partitionBy('cluster_id')`` —
    which ``build_ivf_sq8_store`` writes and ``ivf_sq8_store_topk`` serves —
    the probe filter prunes Parquet PARTITIONS, so the scan reads
    nprobe/n_clusters of the (already 8x-compressed) bytes. Probing all
    clusters degenerates to exactly ``sq8_topk`` (pinned in tests);
    recall at nprobe < n_clusters follows IVF geometry (see
    tools/ivf_recall.py — clustered corpora probe a fraction, uniform is
    the honest worst case).

    ``footers``: the parquet footers of the store table ``coded`` reads
    unchanged (``OpenStore.footers``). With them, a read of the probed
    clusters within ``store.LOCAL_READ_ROWS`` row visits (one per 64 code
    values) and no ``rerank`` runs on the driver tier
    (``_local_sq8_topk``), with the same result."""
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(
            f"nprobe must be in [1, {len(centroids)}], got {nprobe}"
        )
    if rerank is not None and rerank_source is None and "embedding" not in coded.columns:
        raise ValueError(
            "rerank over a codes-only IVF,SQ8 frame needs rerank_source — "
            "the coded frame carries no float column to re-score from; pass "
            "the source embeddings frame (the sq8_store_topk contract)"
        )
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if not qn > 0:
        raise ValueError("query vector must have positive norm")
    cn = np.linalg.norm(centroids, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = (centroids @ q) / (cn * qn)
    probe = [int(i) for i in np.argsort(-sims)[:nprobe]]
    if rerank is None and footers is not None:
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        batches = local_read(
            footers, "cluster_id", probe, ("vec_id", "label", "sq8"),
            row_cost=len(model.vmin) / 64,  # a visit per 64 code values
        )
        if batches is not None:
            return _local_sq8_topk(coded.sparkSession, batches, model, q, qn, k)
    pruned = coded.filter(F.col("cluster_id").isin(probe))
    return sq8_topk(
        pruned,
        model,
        query_vec,
        k=k,
        rerank=rerank,
        rerank_source=rerank_source,
    )
