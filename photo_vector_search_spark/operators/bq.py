"""Binary quantization (BQ / 1-bit sign codes) and Hamming top-k search —
the most compressed rung of the serving ladder, below SQ8 (`operators/sq`)
and PQ (`operators/pq`): one BIT per component (64× smaller than float64,
8× smaller than SQ8), with search distance computed entirely in JVM codegen
(``bit_count(code XOR query)``) — no Python, no decode, no shuffle before
the final top-k merge.

Model: per-component threshold = the corpus mean, rounded to 6dp so both
engines (Spark driver / DuckDB oracle) agree bit-for-bit; bit_i = 1 iff
``x_i > thr_i``. Centering on the mean before taking signs maximizes
per-bit entropy — the standard sign-binarization baseline (Charikar SRP
hyperplanes through the centroid; ITQ [Gong & Lazebnik, CVPR'11] without
the learned rotation). Codes pack little-endian into ``ceil(d/64)`` int64
words (``array<bigint>`` — parquet-friendly, XOR-able in codegen).

Search (`hamming_topk`): distance = Σ_w popcount(code_w XOR q_w), an
UNROLLED pure-codegen expression (W = d/64 terms, 1 for d=64) feeding
``TakeOrderedAndProject`` — zero exchanges, zero Python on the scan path.
For sign codes, Hamming distance is a monotone estimate of angular
distance (collision probability of one SRP hyperplane is 1 − θ/π), so the
standard serving shape is coarse Hamming → exact rerank: ``rerank`` keeps
the top-c candidates by Hamming and re-scores them exactly from the float
source (broadcast-size join), mirroring `sq8_topk`/`pq_topk`.

At 100 TB of float64 embeddings the codes are 1.56 TB; the scan path reads
codes only and runs entirely inside whole-stage codegen — the cheapest
first-pass filter the ladder has.

Cf. reference scope: the reference's ChromaDB/HNSW store
(photo_vector_search.py:17-20) keeps raw float vectors; this extends the
mandated similarity-search family's storage/serving axis (SURVEY §2.10).
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
    fixed_matrix,
)
from photo_vector_search_spark.operators.store import (
    kind_vectors,
    open_store,
    snapshot_overwrite,
    write_kind_vectors,
)

# byte-wise popcount lookup (numpy < 2.0 has no bitwise_count)
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


class BQModel(NamedTuple):
    thresholds: np.ndarray  # per-component sign thresholds, float64 (d,)

    @property
    def dim(self) -> int:
        return int(self.thresholds.shape[0])

    @property
    def n_words(self) -> int:
        return (self.dim + 63) // 64


def _round_half_away(x: np.ndarray, ndigits: int = 6) -> np.ndarray:
    """SQL-round semantics (half away from zero) — np.round is banker's,
    which would disagree with the DuckDB oracle at exact .5 boundaries."""
    p = 10.0**ndigits
    return np.sign(x) * np.floor(np.abs(x) * p + 0.5) / p


def fit_bq(emb: DataFrame, vec_col: str = "embedding") -> BQModel:
    """Per-component mean in ONE map-side Arrow pass (sum+count partials;
    driver collect bounded by batch count), rounded 6dp for engine-portable
    sign decisions. NULL vectors are skipped."""

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = pdf[vec_col].dropna()
            if not len(vals):
                continue
            x = np.vstack(vals.to_numpy()).astype(np.float64)
            yield pd.DataFrame({"s": [x.sum(axis=0)], "n": [len(x)]})

    parts = (
        emb.select(F.col(vec_col).cast("array<double>").alias(vec_col))
        .mapInPandas(_partials, schema="s array<double>, n long")
        .collect()
    )
    if not parts:
        raise ValueError("cannot fit BQ: empty frame or no non-NULL vectors")
    total = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    n = sum(r["n"] for r in parts)
    return BQModel(thresholds=_round_half_away(total / n))


def _pack_rows(bits: np.ndarray) -> list[np.ndarray]:
    """(N, d) boolean → list of (n_words,) int64 rows, little-endian bit
    order (bit j of word w = component w*64+j)."""
    n, d = bits.shape
    pad = (-d) % 64
    if pad:
        bits = np.concatenate(
            [bits, np.zeros((n, pad), dtype=bool)], axis=1
        )
    packed = np.packbits(bits, axis=1, bitorder="little")
    words = packed.view(np.int64).reshape(n, -1)
    return list(words)


def encode_query(model: BQModel, query_vec) -> list[int]:
    """Driver-side query encode → signed int64 words (the F.lit-able form)."""
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape != model.thresholds.shape:
        raise ValueError(
            f"query dim {q.shape} != model dim {model.thresholds.shape}"
        )
    return [int(w) for w in _pack_rows((q > model.thresholds)[None, :])[0]]


def encode_bq(
    emb: DataFrame,
    model: BQModel,
    vec_col: str = "embedding",
    out_col: str = "bq",
) -> DataFrame:
    """Map-only encode under the broadcast model: sign bits packed into
    ``array<bigint>`` (``n_words`` = ceil(d/64)). NULL vectors → NULL codes
    (the sq8/pq convention)."""
    sc = emb.sparkSession.sparkContext
    b = sc.broadcast(model.thresholds)
    out_fields = emb.schema.fieldNames() + [out_col]
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in emb.schema)
        + f", `{out_col}` array<bigint>"
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        thr = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            mask = pdf[vec_col].notna().to_numpy()
            codes = pd.Series([None] * len(pdf), dtype=object)
            if mask.any():
                x = np.vstack(pdf.loc[mask, vec_col].to_numpy()).astype(
                    np.float64
                )
                codes[np.flatnonzero(mask)] = _pack_rows(x > thr)
            pdf = pdf.copy()
            pdf[out_col] = codes
            yield pdf[out_fields]

    return emb.mapInPandas(_encode, schema=out_schema)


def hamming_expr(code_col, qwords: list[int]):
    """Σ_w bit_count(code[w] XOR q_w) as one unrolled codegen expression."""
    col = F.col(code_col) if isinstance(code_col, str) else code_col
    terms = [
        F.bit_count(col.getItem(w).bitwiseXOR(F.lit(qw)))
        for w, qw in enumerate(qwords)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("int")


def hamming_topk(
    coded: DataFrame,
    model: BQModel,
    query_vec,
    k: int = 5,
    code_col: str = "bq",
    rerank: int | None = None,
    vec_col: str = "embedding",
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """Hamming top-k of a float query over 1-bit codes — (vec_id, label,
    hamming, rank), pure codegen into TakeOrderedAndProject (zero
    exchanges). Ties break by vec_id (Hamming is integer-valued, so ties
    are structural, not incidental). ``rerank`` keeps the top ``rerank``
    (>= k) by Hamming then re-scores EXACTLY from ``vec_col`` — output
    becomes (vec_id, label, dist, rank) with the exact cosine distance,
    the sq8_topk ladder contract; ``rerank_source`` points the exact pass
    at a separate float frame (codes-only stores carry no floats)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    c = rerank if rerank is not None else k
    if c < k:
        raise ValueError(f"rerank pool ({c}) must be >= k ({k})")
    if (
        rerank is not None
        and rerank_source is None
        and vec_col not in coded.columns
    ):
        raise ValueError(
            "rerank over a codes-only BQ frame needs rerank_source — the "
            "coded frame carries no float column to re-score from; pass "
            "the source embeddings frame"
        )
    qwords = encode_query(model, query_vec)
    scored = (
        coded.filter(F.col(code_col).isNotNull())
        .select(
            "vec_id", "label", hamming_expr(code_col, qwords).alias("_h")
        )
    )
    pool = scored.orderBy(F.col("_h").asc(), F.col("vec_id").asc()).limit(c)

    if rerank is None:
        return pool.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("_h").asc(), F.col("vec_id").asc())
            ),
        ).select("vec_id", "label", F.col("_h").alias("hamming"), "rank")

    from ..functions.vector import cosine_distance
    from ..operators.knn import _valid_dist

    src = rerank_source if rerank_source is not None else coded
    q = np.asarray(query_vec, dtype=np.float64)
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


def _popcount64(words: np.ndarray) -> np.ndarray:
    """Element-wise popcount of an int64/uint64 array via the byte table
    (numpy < 2.0 portable)."""
    by = np.ascontiguousarray(words).view(np.uint8)
    return (
        _POPCOUNT8[by]
        .reshape(*words.shape, 8)
        .sum(axis=-1, dtype=np.int32)
    )


def hamming_batch_topk(
    coded: DataFrame,
    model: BQModel,
    queries: DataFrame,
    k: int = 5,
    code_col: str = "bq",
    max_queries: int = 65_536,
    qrows: list | None = None,
) -> DataFrame:
    """Batched Hamming top-k: Q queries share ONE pass over the codes —
    each Arrow batch XORs against the whole broadcast query-code matrix and
    popcounts byte-wise, keeping a per-query local top-k, so the shuffle is
    O(batches · Q · k) survivor rows and the merge one per-QUERY window —
    the knn_batch/sq8_batch two-phase shape on the 64×-compressed codes.
    Result ≡ a Python loop of ``hamming_topk`` per query (pinned in tests);
    ``arrowkit.batch_topk`` states the cut and the tie order.
    ``queries``: (query_id, query_vec); duplicate query ids are rejected
    (the batched-serving contract, `sq8_batch_topk`). ``qrows``: the query
    rows a caller already read (`cascade_batch_topk`), checked the same
    way and not read again."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # limit BEFORE collect (ADVICE r11): an oversized query frame must trip
    # the guard without first landing whole on the driver (the
    # cascade_batch_topk discipline)
    qrows = bounded_rows(
        queries, ("query_id", "query_vec"), max_queries,
        f">{max_queries} queries exceed max_queries={max_queries}; "
        "split the batch or raise the cap",
        duplicate="duplicate query_id in the batch — per-query top-k is "
        "ill-defined; de-duplicate the query frame first",
        empty="empty query frame",
        rows=qrows,
    )
    qmat = np.vstack(
        [np.asarray(r["query_vec"], dtype=np.float64) for r in qrows]
    )
    qcodes = np.vstack(_pack_rows(qmat > model.thresholds))  # (Q, W) int64
    b = coded.sparkSession.sparkContext.broadcast(qcodes)

    def _screen(batch):
        qc = b.value
        codes, keep = fixed_matrix(batch.column("_code"), qc.shape[1], np.int64)
        if codes is None:
            return None
        # (N, Q) Hamming: accumulate per word to bound the XOR temp
        dist = np.zeros((len(codes), len(qc)), dtype=np.int32)
        for j in range(qc.shape[1]):
            dist += _popcount64(codes[:, j : j + 1] ^ qc[:, j][None, :])
        return np.flatnonzero(keep), dist, None  # integer: row-local

    ranked = batch_topk(
        coded.select("vec_id", "label", F.col(code_col).alias("_code")),
        "vec_id", [r["query_id"] for r in qrows], k, _screen,
        value="hamming", value_type="int", carry=("label",),
    )
    return ranked.select("query_id", "vec_id", "label", "hamming", "rank")


# ---------------------------------------------------------------------------
# persisted store (the store protocol of operators/store.py)


def build_bq_store(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("label",),
) -> BQModel:
    """Persist a BQ index at ``path``: codes-only rows ``(id, keep_cols,
    bq, build_id)`` — floats deliberately do NOT land in the store (1
    bit/component at rest is the point; rerank reads the SOURCE embeddings
    via ``rerank_source``) — plus a ``.bqmeta`` sidecar carrying the
    thresholds stamped with the same content-hash ``build_id`` as every
    row. Written and opened by the store protocol (``operators/store.py``
    module docstring)."""
    import hashlib

    model = fit_bq(embeddings, vec_col=vec_col)
    build_id = hashlib.md5(model.thresholds.tobytes()).hexdigest()[:16]
    coded = encode_bq(embeddings, model, vec_col=vec_col).select(
        id_col, *keep_cols, "bq", F.lit(build_id).alias("build_id")
    )
    snapshot_overwrite(coded, path)
    spark = embeddings.sparkSession
    write_kind_vectors(
        spark, path + ".bqmeta", {"thresholds": model.thresholds}, build_id
    )
    return model


def load_bq_store(spark, path: str) -> tuple[DataFrame, BQModel]:
    """(codes frame, model), opened by ``store.open_store``."""
    opened = open_store(spark, path, "BQ", "build_bq_store", sidecar=".bqmeta")
    vecs = kind_vectors(opened.rows, ("thresholds",))
    return opened.tables[0], BQModel(vecs["thresholds"][0])


def bq_store_topk(
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
            "rerank over a persisted BQ store needs rerank_source — the "
            "store holds codes only; pass the source embeddings frame"
        )
    coded, model = load_bq_store(spark, path)
    return hamming_topk(
        coded,
        model,
        query_vec,
        k=k,
        rerank=rerank,
        rerank_source=rerank_source,
    )
