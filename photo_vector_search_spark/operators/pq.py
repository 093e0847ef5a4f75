"""Product quantization (Jégou, Douze, Schmid 2011) — the memory rung of
the similarity-search ladder.

The IVF family (`operators/ann`) prunes WHICH vectors a query scans; PQ
compresses WHAT is scanned: each vector splits into ``m`` subvectors, each
quantized to its nearest per-subspace centroid, so a d-dim float vector
(4d bytes) becomes ``m`` one-byte codes — 32× smaller at d=64, m=8. Queries
score candidates with ASYMMETRIC DISTANCE COMPUTATION (ADC): one m×k
lookup table of exact query-to-centroid sub-distances per query, then each
candidate's approximate distance is m table lookups — no float vector is
ever read. The standard serving pipeline reranks the ADC top-R with exact
distances (IVF-ADC+R in the paper), restoring near-exact recall at R ≪ N.

Reference parity note: the reference delegates ANN to ChromaDB's HNSW
(vector_store.py:16-36, an in-process library); PQ is the SURVEY §2.10
"ANN at scale" family's compression rung, where HNSW's pointer-chasing
graph doesn't distribute but partition-pruned scans do.

Scale design (100 TB):
- Training mirrors ``ann.train_centroids``: a bounded SAMPLE collects to
  the driver (k-means needs ~k·100 rows per subspace, independent of corpus
  size) and Lloyd runs per-subspace in NumPy — deterministic seed, no
  corpus-sized driver state.
- Encoding is a map-only Arrow pass against the broadcast codebooks
  (vectorized argmin per subspace); codes live next to the row as
  ``array<smallint>`` — at rest a 100 TB float corpus becomes ~3 TB of
  codes, the difference between spilling and RAM-resident scans.
- ADC scoring is map-only (broadcast LUT, per-batch NumPy gather-sum) into
  a TakeOrderedAndProject top-k — no shuffle, no N×N anything. Rerank
  joins the R winners back to the float table by id: R-row broadcast
  semi-join against the partition-pruned store.
- Cosine space: inputs are L2-normalized before training/encoding, so
  squared-L2 ADC ordering equals cosine ordering (‖a−b‖² = 2−2·cos on the
  unit sphere) — the same convention the IVF family pins.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.arrowkit import (
    batch_topk,
    bounded_rows,
    fixed_matrix,
)
from photo_vector_search_spark.operators.store import (
    kind_vectors,
    open_store,
    snapshot_overwrite,
)


def _normalize(x: np.ndarray) -> np.ndarray:
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)


def train_pq(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 256,
    sample: int = 4096,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Per-subspace Lloyd k-means on a bounded driver sample → codebooks of
    shape ``(m, k_eff, d/m)`` (k_eff ≤ k when the sample is small).
    Deterministic: seeded init, argmin ties break to the lowest centroid id
    (NumPy argmin), empty clusters keep their previous centroid."""
    x = _collect_sample(embeddings, vec_col, sample, m)
    return _train_books(x, m, k, iters, np.random.RandomState(seed))


def _collect_sample(
    embeddings: DataFrame, vec_col: str, sample: int, m: int
) -> np.ndarray:
    rows = embeddings.select(vec_col).limit(sample).collect()
    if not rows:
        raise ValueError("train_pq: empty embeddings")
    x = _normalize(
        np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    )
    if x.shape[1] % m != 0:
        raise ValueError(
            f"train_pq: dim {x.shape[1]} not divisible by m={m}"
        )
    return x


def _train_books(
    x: np.ndarray,
    m: int,
    k: int,
    iters: int,
    rng: np.random.RandomState,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """Per-subspace Lloyd; ``init`` warm-starts from existing codebooks
    (OPQ's alternating rounds) — Lloyd from a given init never increases
    quantization error, which is what makes the alternation monotone."""
    sub = x.shape[1] // m
    k_eff = min(k, len(x))
    books = np.empty((m, k_eff, sub), dtype=np.float64)
    for j in range(m):
        xj = x[:, j * sub : (j + 1) * sub]
        if init is not None:
            cent = init[j].copy()
        else:
            cent = xj[rng.choice(len(xj), size=k_eff, replace=False)].copy()
        for _ in range(iters):
            d2 = (
                (xj**2).sum(1)[:, None]
                + (cent**2).sum(1)[None, :]
                - 2.0 * xj @ cent.T
            )
            assign = np.argmin(d2, axis=1)
            for c in range(k_eff):
                members = xj[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def train_opq(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 256,
    sample: int = 4096,
    iters: int = 10,
    opq_iters: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Optimized Product Quantization (Ge, He, Ke, Sun 2013): learn an
    ORTHOGONAL rotation R jointly with the codebooks so the subspace split
    aligns with the data's correlation structure — plain PQ quantizes each
    fixed coordinate block independently and wastes its code budget when
    variance concentrates across blocks. Alternating minimization on the
    driver sample: (1) fix R, retrain codebooks on the rotated sample;
    (2) fix codes, solve the orthogonal Procrustes problem
    min_R ‖XR − recon‖² via one SVD (R = UVᵀ of Xᵀ·recon). Quantization
    error is non-increasing per half-step by construction; the tests pin
    that plus R's orthogonality.

    Returns ``(R, codebooks)`` — pass both to ``encode_pq``/``pq_topk``
    via their ``rotation=`` parameter (distances are rotation-invariant, so
    IVF coarse assignment stays in the original space)."""
    x = _collect_sample(embeddings, vec_col, sample, m)
    d = x.shape[1]
    rng = np.random.RandomState(seed)
    rot = np.eye(d)
    books = None
    for _ in range(max(opq_iters, 1)):
        xr = x @ rot
        # warm-start from the previous round's books (round 1: random init
        # == plain PQ): Lloyd from a given init never increases error, and
        # the Procrustes step minimizes over R with books fixed — together
        # the alternation is monotone non-increasing, the docstring's claim.
        # (A fresh random init per round could land in a WORSE local minimum
        # than the previous round — review finding.)
        books = _train_books(xr, m, k, iters, rng, init=books)
        codes = _encode_rows(xr, books)
        sub = d // m
        recon = np.hstack(
            [books[j][codes[:, j]] for j in range(m)]
        )
        u, _s, vt = np.linalg.svd(x.T @ recon)
        rot = u @ vt
    return rot, books


def _encode_rows(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, d) float rows → (n, m) int16 codes; vectorized per subspace."""
    m, _, sub = books.shape
    codes = np.empty((len(x), m), dtype=np.int16)
    for j in range(m):
        xj = x[:, j * sub : (j + 1) * sub]
        cent = books[j]
        d2 = (
            (xj**2).sum(1)[:, None]
            + (cent**2).sum(1)[None, :]
            - 2.0 * xj @ cent.T
        )
        codes[:, j] = np.argmin(d2, axis=1).astype(np.int16)
    return codes


def encode_pq(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Add ``out_col`` = the vector's m one-byte codes (``array<smallint>``
    — 256 ≤ k ≤ 32767 supported; parquet stores them in one byte each after
    dictionary/bit-packing). Map-only Arrow pass, broadcast codebooks;
    NULL vectors → NULL codes."""
    from pyspark.sql.types import ArrayType, ShortType, StructField, StructType

    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    rot_bc = spark.sparkContext.broadcast(rotation)
    out_schema = StructType(
        [f for f in embeddings.schema.fields if f.name != out_col]
        + [StructField(out_col, ArrayType(ShortType()), True)]
    )
    in_cols = [f.name for f in embeddings.schema.fields if f.name != out_col]

    def run(batches):
        books, rot = bc.value, rot_bc.value
        for pdf in batches:
            pdf = pdf[in_cols].copy()
            mask = pdf[vec_col].notna()
            codes = [None] * len(pdf)
            if mask.any():
                x = _normalize(
                    np.vstack(pdf.loc[mask, vec_col].to_numpy()).astype(
                        np.float64, copy=False
                    )
                )
                if rot is not None:
                    x = x @ rot
                enc = _encode_rows(x, books)
                it = iter(enc)
                codes = [
                    next(it).tolist() if ok else None for ok in mask.to_numpy()
                ]
            pdf[out_col] = codes
            yield pdf

    return embeddings.mapInPandas(run, schema=out_schema)


def adc_table(
    query_vec: np.ndarray,
    codebooks: np.ndarray,
    rotation: np.ndarray | None = None,
) -> np.ndarray:
    """The (m, k) table of exact squared-L2 sub-distances from the
    normalized query to every centroid — ONE table per query; every
    candidate then costs m lookups."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-300)
    if rotation is not None:
        q = q @ rotation
    m, _, sub = codebooks.shape
    return np.stack(
        [
            ((codebooks[j] - q[j * sub : (j + 1) * sub]) ** 2).sum(axis=1)
            for j in range(m)
        ]
    )


def pq_topk(
    coded: DataFrame,
    codebooks: np.ndarray,
    query_vec,
    k: int = 5,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    rerank: int | None = None,
    embeddings: DataFrame | None = None,
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """ADC top-k: map-only LUT scoring into a TakeOrderedAndProject.

    Without ``rerank``: returns (id, adc_dist) — approximate ordering,
    ranked by the quantized distance. With ``rerank=R`` (requires
    ``embeddings``): the ADC top-R candidates are re-scored with EXACT
    cosine against the float table (R-row broadcast join — the IVF-ADC+R
    serving shape) and the exact top-k returned as (id, sim): identical
    schema/values to exact search whenever the true top-k survive the
    R-candidate prune (recall pinned in tests)."""
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
    )

    spark = coded.sparkSession
    lut_bc = spark.sparkContext.broadcast(
        adc_table(query_vec, codebooks, rotation=rotation)
    )
    id_field = [f for f in coded.schema.fields if f.name == id_col][0]
    out_schema = StructType([id_field, StructField("adc_dist", DoubleType(), True)])

    def score(batches):
        lut = lut_bc.value
        cols = np.arange(lut.shape[0])
        import pandas as pd

        for pdf in batches:
            pdf = pdf[pdf[code_col].notna()]
            if not len(pdf):
                continue
            codes = np.vstack(pdf[code_col].to_numpy()).astype(np.int64)
            dist = lut[cols[None, :], codes].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "adc_dist": dist})

    scored = coded.mapInPandas(score, schema=out_schema)
    n_cand = k if rerank is None else max(rerank, k)
    top = scored.orderBy(F.col("adc_dist").asc(), F.col(id_col).asc()).limit(
        n_cand
    )
    if rerank is None:
        return top.select(id_col, F.round("adc_dist", 6).alias("adc_dist"))
    if embeddings is None:
        raise ValueError("pq_topk: rerank requires the float embeddings table")
    from photo_vector_search_spark.functions.vector import (
        cosine_similarity,
        query_vector_literal,
    )

    q = np.asarray(query_vec, dtype=np.float64)
    exact = (
        embeddings.join(F.broadcast(top.select(id_col)), id_col)
        .select(
            id_col,
            F.round(
                cosine_similarity(
                    F.col(vec_col).cast("array<double>"),
                    query_vector_literal(q.tolist()),
                ),
                6,
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )
    return exact


def pq_batch_topk(
    coded: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    rotation: np.ndarray | None = None,
    max_queries: int = 65_536,
    cluster_col: str | None = None,
    allowed: dict | None = None,
    n_assign: int = 1,
    qrows: list | None = None,
) -> DataFrame:
    """Batched ADC top-k — the ``knn_batch_fast`` shape over codes: ALL Q
    query LUTs broadcast together (Q·m·k doubles, guarded), one gather-sum
    per Arrow batch scores every query against every candidate without
    reading a float vector, per-batch per-query top-k caps the shuffle at
    O(batches·Q·k), and a final window ranks survivors. ``queries`` is
    ``(query_id, query_vec)``; returns (query_id, id, adc_dist, rank) —
    approximate ADC ordering (compose with an exact rerank downstream when
    serving needs it, as ``pq_topk(rerank=)`` does for one query).

    ``allowed`` (with ``cluster_col``) adds PER-QUERY IVF probe masking:
    ``{query_id: iterable-of-cluster-ids}``. Each query only scores rows
    whose cluster is in its own probe set — the kernel gathers a broadcast
    (Q, n_clusters) bool matrix by the row's cluster column, so a batch of
    queries shares ONE union-pruned scan instead of Q per-query scans while
    keeping exact per-query IVF-PQ semantics (`ivf_pq_batch_search` is the
    one-call wrapper). Multi-assign stores (``n_assign > 1``) keep their
    duplicate (id, cluster) rows through the scan — a copy in an unprobed
    cluster must not hide the copy in a probed one — so the per-batch cap
    over-fetches ``k*n_assign`` and the final window dedups, the
    ``ann.ivf_topk`` discipline. ``arrowkit.batch_topk`` states the cut
    and the tie order."""
    too_many = (
        f"pq_batch_topk: >{max_queries} queries — the LUT broadcast is "
        "Q·m·k doubles; split the query set or raise max_queries"
    )
    if qrows is None:
        # ``qrows`` lets a caller that already collected the query set (the
        # ivf_pq_batch_search probe pass) hand it down — re-collecting here
        # would run a second driver job AND could disagree with the first
        # collect on a nondeterministic source, leaving query_ids with an
        # empty probe mask that silently return zero rows (review finding)
        qrows = bounded_rows(
            queries, ("query_id", "query_vec"), max_queries, too_many
        )
    elif len(qrows) > max_queries:
        raise ValueError(too_many)
    if (allowed is None) != (cluster_col is None):
        raise ValueError(
            "pq_batch_topk: allowed and cluster_col must be given together"
        )
    qids = [r["query_id"] for r in qrows]
    luts = np.stack(
        [
            adc_table(np.asarray(r["query_vec"], dtype=np.float64),
                      codebooks, rotation=rotation)
            for r in qrows
        ]
    )  # (Q, m, k)
    bq = coded.sparkSession.sparkContext.broadcast(luts)

    def _screen(batch):
        tabs = bq.value
        codes, keep = fixed_matrix(batch.column(code_col), tabs.shape[1], np.int64)
        if codes is None:
            return None
        # (Q, rows): gather each query's m sub-distances, sum — one
        # vectorized pass, no per-row Python; the sum is row-local
        dist = tabs[:, np.arange(tabs.shape[1])[None, :], codes].sum(axis=2)
        return np.flatnonzero(keep), dist.T, None

    proj = [id_col, code_col] + ([cluster_col] if cluster_col else [])
    ranked = batch_topk(
        coded.select(*proj), id_col, qids, k, _screen, value="adc_dist",
        allowed=allowed, cluster_col=cluster_col, copies=max(1, n_assign),
    )
    return ranked.select(
        "query_id", id_col, F.round("adc_dist", 6).alias("adc_dist"), "rank"
    )


def build_ivfpq_store(
    embeddings: DataFrame,
    path: str,
    n_clusters: int = 16,
    m: int = 8,
    k: int = 256,
    sample: int = 4096,
    seed: int = 42,
    n_assign: int = 1,
    opq: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Write-path half of IVF-PQ: train centroids + codebooks, persist ONLY
    ``(id, cluster_id, pq_code, build_id)`` hive-partitioned by cluster — the
    float vectors deliberately do NOT land in the index (codes at rest are
    the operator's point: the scan path reads m bytes/row; rerank reads the
    SOURCE embeddings table by id). One ``.pqmeta`` sidecar carries both the
    coarse centroids and the sub-codebooks, stamped with the same
    ``build_id`` as every store row — written and opened by the store
    protocol (``operators/store.py`` module docstring)."""
    import hashlib

    from photo_vector_search_spark.operators.ann import (
        assign_clusters,
        train_centroids,
    )

    centroids = train_centroids(embeddings, n_clusters, sample, seed=seed)
    if opq:
        rot, books = train_opq(
            embeddings, m=m, k=k, sample=sample, seed=seed, vec_col=vec_col
        )
    else:
        rot = None
        books = train_pq(
            embeddings, m=m, k=k, sample=sample, seed=seed, vec_col=vec_col
        )
    build_id = hashlib.md5(
        centroids.tobytes()
        + books.tobytes()
        + (rot.tobytes() if rot is not None else b"")
    ).hexdigest()[:16]
    indexed = encode_pq(
        assign_clusters(embeddings, centroids, n_assign=n_assign),
        books,
        vec_col=vec_col,
        rotation=rot,
    ).select(
        id_col,
        "cluster_id",
        "pq_code",
        F.lit(build_id).alias("build_id"),
    )
    snapshot_overwrite(indexed, path, partition_by=["cluster_id"])
    spark = embeddings.sparkSession
    meta = [
        ("cent", int(i), 0, [float(x) for x in c], build_id, n_assign)
        for i, c in enumerate(centroids)
    ] + [
        ("code", int(j), int(c), [float(x) for x in books[j, c]], build_id, n_assign)
        for j in range(books.shape[0])
        for c in range(books.shape[1])
    ] + (
        [
            ("rot", int(i), 0, [float(x) for x in rot[i]], build_id, n_assign)
            for i in range(rot.shape[0])
        ]
        if rot is not None
        else []
    )
    snapshot_overwrite(
        spark.createDataFrame(
            meta,
            "kind string, i int, j int, vec array<double>, "
            "build_id string, n_assign int",
        ),
        path + ".pqmeta",
    )
    return centroids, books, rot


def load_ivfpq_store(
    spark, path: str
) -> tuple[DataFrame, np.ndarray, np.ndarray, np.ndarray | None]:
    """(codes store, centroids, codebooks, rotation-or-None), opened by
    ``store.open_store``. ``rotation`` is None for stores built without
    ``opq=True``; pass it straight to ``ivf_pq_topk(rotation=...)``."""
    opened = open_store(
        spark, path, "IVF-PQ", "build_ivfpq_store",
        sidecar=".pqmeta", order_by=("kind", "i", "j"),
    )
    vecs = kind_vectors(opened.rows, ("cent", "code"))
    # code rows arrive in (subspace i, codeword j) order
    m = 1 + max(r["i"] for r in opened.rows if r["kind"] == "code")
    books = vecs["code"].reshape(m, -1, vecs["code"].shape[1])
    return opened.tables[0], vecs["cent"], books, vecs.get("rot")


def ivf_pq_topk(
    indexed_coded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_vec,
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = None,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    cluster_col: str = "cluster_id",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """The composed serving path — IVF partition pruning THEN ADC scoring
    (+ optional exact rerank): ``indexed_coded`` is ``assign_clusters``
    output with ``encode_pq`` codes (at rest: partitioned by cluster, codes
    instead of floats). The probe filter prunes file partitions; the
    scanned bytes per probe are m code bytes per row."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-300)
    order = np.argsort(-(centroids @ qn))[: min(nprobe, len(centroids))]
    probed = indexed_coded.filter(
        F.col(cluster_col).isin([int(c) for c in order])
    ).dropDuplicates([id_col])
    # the dedup is UNCONDITIONAL: a multi-assign store (n_assign > 1) scores
    # a vector once per probed home cluster with identical codes, so without
    # it the no-rerank top-k returns duplicate rows and fewer than k
    # distinct neighbors (review finding; ann.ivf_topk handles the same case
    # with an over-fetch + dropDuplicates). Codes are identical across a
    # vector's copies, so dropping before scoring changes nothing else.
    return pq_topk(
        probed,
        codebooks,
        query_vec,
        k=k,
        id_col=id_col,
        code_col=code_col,
        rerank=rerank,
        embeddings=embeddings,
        rotation=rotation,
    )


def stored_pq_n_assign(spark, path: str) -> int:
    """The ``n_assign`` the IVF-PQ build recorded in its ``.pqmeta``
    sidecar — the `ann.stored_n_assign` contract: serving must dedup with
    the window the BUILD used, not whatever the caller guesses."""
    row = spark.read.parquet(path + ".pqmeta").select("n_assign").first()
    return int(row["n_assign"])


def ivf_pq_search(
    spark,
    path: str,
    query_vec,
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = None,
    embeddings: DataFrame | None = None,
    mmr_lambda: float | None = None,
    mmr_candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-call serving over a persisted IVF-PQ store — the full ladder in
    one call, mirroring ``ann.ivf_search`` for the codes-at-rest store:
    load + torn-build check, probe-pruned ADC scan (``ivf_pq_topk``),
    optional exact rerank of the ADC top-R against the float source table
    (``rerank=R`` requires ``embeddings``), optional MMR diversity tail
    (``mmr_lambda`` requires ``embeddings`` too — MMR needs floats, and the
    store deliberately holds none). With MMR the candidate budget is
    ``mmr_candidates`` (default ``4*k``) and the output switches to
    (id, sim, rank) in MMR pick order.

    Per-call cost beyond the search itself is one ``load_ivfpq_store``
    consistency check; at scale hold the loaded pieces and call the
    lower-level operators per query."""
    store, cents, books, rot = load_ivfpq_store(spark, path)
    if mmr_lambda is None:
        return ivf_pq_topk(
            store,
            cents,
            books,
            query_vec,
            k=k,
            nprobe=nprobe,
            rerank=rerank,
            embeddings=embeddings,
            id_col=id_col,
            rotation=rot,
        )
    if embeddings is None:
        raise ValueError(
            "ivf_pq_search: mmr_lambda requires the float embeddings table "
            "— the IVF-PQ store holds codes only"
        )
    fetch_k = mmr_candidates if mmr_candidates is not None else 4 * k
    if fetch_k < k:
        raise ValueError(
            f"ivf_pq_search: mmr_candidates={fetch_k} must be >= k={k}"
        )
    # with rerank=R: the ADC pool widens to max(R, fetch_k) and the exact
    # rerank narrows it back to the fetch_k MMR candidates — R < fetch_k
    # would make the rerank a set-level no-op (review finding), so it is
    # clamped up rather than silently dropped
    candidates = ivf_pq_topk(
        store,
        cents,
        books,
        query_vec,
        k=fetch_k,
        nprobe=nprobe,
        rerank=max(rerank, fetch_k) if rerank is not None else None,
        embeddings=embeddings if rerank is not None else None,
        id_col=id_col,
        rotation=rot,
    )
    from photo_vector_search_spark.operators.knn import mmr_rerank

    return mmr_rerank(
        candidates.select(id_col),
        embeddings,
        query_vec,
        k=k,
        lambda_=mmr_lambda,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivf_pq_batch_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    max_queries: int = 65_536,
) -> DataFrame:
    """Batched one-call IVF-PQ serving: Q queries share ONE union-pruned
    scan of the codes store while each keeps exact per-query probe
    semantics — per-query nearest-``nprobe`` cluster lists are computed
    driver-side from the sidecar centroids (Q·nprobe ints), the scan is
    pruned to the UNION of all probe sets (an IN-list over the cluster
    partition column → file-level pruning), and ``pq_batch_topk``'s
    broadcast (Q, n_clusters) mask restricts each query's scoring to its
    own probes. Result ≡ a Python loop of ``ivf_pq_topk`` per query
    (pinned in tests), at one scan instead of Q.

    Returns (query_id, id, adc_dist, rank) — approximate ADC ordering,
    same contract as ``pq_batch_topk``."""
    store, cents, books, rot = load_ivfpq_store(spark, path)
    n_assign = stored_pq_n_assign(spark, path)
    qrows = bounded_rows(
        queries, ("query_id", "query_vec"), max_queries,
        f"ivf_pq_batch_search: >{max_queries} queries — split the "
        "query set or raise max_queries",
    )
    np_probe = min(nprobe, len(cents))
    allowed: dict[int, list[int]] = {}
    for r in qrows:
        q = np.asarray(r["query_vec"], dtype=np.float64)
        qn = q / max(np.linalg.norm(q), 1e-300)
        order = np.argsort(-(cents @ qn))[:np_probe]
        allowed[int(r["query_id"])] = [int(c) for c in order]
    union = sorted({c for probes in allowed.values() for c in probes})
    pruned = store.filter(F.col("cluster_id").isin(union))
    # qrows handed down: the probe dict above and the LUT broadcast below
    # must come from the SAME collected query set (one driver job, no
    # re-collect divergence on a nondeterministic source)
    return pq_batch_topk(
        pruned,
        books,
        queries,
        k=k,
        id_col=id_col,
        rotation=rot,
        max_queries=max_queries,
        cluster_col="cluster_id",
        allowed=allowed,
        n_assign=n_assign,
        qrows=qrows,
    )
