"""Declared queries for dedup + text-analysis operators (SURVEY §2.10) over
`documents` and `embeddings`.

The MinHash/SimHash oracles run the SAME algorithm in DuckDB (portable md5-prefix
hashing, shared permutation constants generated from one Python function), so even
the LSH candidate-pruning stage is verified bit-for-bit — not just the final
filter against a brute-force stand-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.text import (
    BPE_ISH_PATTERN,
    STOPWORDS,
    avg_token_len,
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
    word_shingles,
)
from photo_vector_search_spark.operators.dedup import (
    MINHASH_P,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_perms,
    simhash_pairs,
)
from photo_vector_search_spark.sources.tables import load_table

# ----------------------------------------------------------------- shared SQL CTEs

_SQL_TOKS = r"SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents"
_SQL_SHINGLES = """
SELECT doc_id, unnest(list_distinct(list_transform(
         generate_series(1, greatest(0, len(t) - 2)),
         i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
FROM toks
"""
_SQL_JACCARD_TAIL = """
cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
withc AS (
  SELECT doc_a, doc_b, common,
         common * 1.0 / (ca.n_sh + cb.n_sh - common) AS j
  FROM common
  JOIN cnt ca ON ca.doc_id = doc_a
  JOIN cnt cb ON cb.doc_id = doc_b
)
SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM withc WHERE j >= 0.5
"""


# ------------------------------------------------------------------------ queries


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents ∪ a simulated re-crawl of the first 100 docs
    (same text, shifted ids) — the canonical-id mapping every batch ingest needs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return exact_dedup(docs.unionByName(recrawl))


_ORACLE_DEDUP_EXACT = r"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 100
),
fp AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM all_docs
)
SELECT doc_id, fp,
       min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS group_size
FROM fp
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs, τ=0.5, via inverted index."""
    return jaccard_pairs(load_table(spark, sf_dir, "documents"), n=3, tau=0.5)


_ORACLE_DEDUP_JACCARD = f"""
WITH toks AS ({_SQL_TOKS}),
sh AS ({_SQL_SHINGLES}),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
{_SQL_JACCARD_TAIL}
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + 16-band LSH candidates, exact-Jaccard verified at τ=0.5."""
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), n=3, tau=0.5)


def _minhash_oracle() -> str:
    perm_values = ", ".join(f"({i}, {a}, {b})" for i, a, b in minhash_perms())
    return f"""
WITH toks AS ({_SQL_TOKS}),
sh AS ({_SQL_SHINGLES}),
hashed AS (
  SELECT doc_id, shingle,
         CAST(concat('0x', substring(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM sh
),
perms(i, a, b) AS (VALUES {perm_values}),
sig AS (
  SELECT doc_id, i, min((a * h + b) % {MINHASH_P}) AS mh
  FROM hashed CROSS JOIN perms GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, CAST(i // 2 AS INT) AS band,
         md5(array_to_string(list(CAST(mh AS VARCHAR) ORDER BY i ASC), ',')) AS band_key
  FROM sig GROUP BY doc_id, CAST(i // 2 AS INT)
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
{_SQL_JACCARD_TAIL}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32) byte-band candidate pairs at hamming ≤ 6."""
    return simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=6)


_ORACLE_DEDUP_SIMHASH = r"""
WITH toks AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
              FROM documents),
tok AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(unnest(t)), 1, 8)) AS BIGINT) AS h
  FROM toks
),
bits AS (
  SELECT doc_id, b, CAST(((h >> b) & 1) * 2 - 1 AS BIGINT) AS c
  FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)
),
sums AS (SELECT doc_id, b, sum(c) AS s FROM bits GROUP BY doc_id, b),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM sums GROUP BY doc_id
),
banded AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS bkey
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.simhash AS sh_a, r.simhash AS sh_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 6
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup pairs over embeddings, τ=0.45 — declared through the
    broadcast-matmul rung (guarded; identical rounded values to the exact pair
    join, HALF_UP parity pytest-enforced) so the declared query itself carries
    no O(N²) BroadcastNestedLoopJoin row explosion: the quadratic work stays
    columnar in BLAS. ``embedding_near_dup_pairs`` remains the exact anchor in
    tests; past the broadcast guard the linear path is SRP-LSH."""
    from photo_vector_search_spark.operators.dedup import embedding_near_dup_fast

    return embedding_near_dup_fast(load_table(spark, sf_dir, "embeddings"), tau=0.45)


_ORACLE_EMBEDDING_NEAR_DUP = """
WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS s
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(s, 6) AS sim FROM pairs WHERE s >= 0.45
"""


_BM25_QUERY = "the quick brown fox"


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-10 (Robertson & Zaragoza 2009, Lucene idf variant) —
    the keyword half of the retrieval family (promoted to the declared
    window r12). One stats agg + query-term-filtered postings explode +
    per-(doc, term) tf agg + broadcast idf join + TakeOrdered; the full
    formula is recomputed end-to-end by the DuckDB oracle."""
    from photo_vector_search_spark.operators.bm25 import bm25_topk

    return bm25_topk(load_table(spark, sf_dir, "documents"), _BM25_QUERY, k=10)


def _bm25_oracle(query: str, k: int, k1: float = 1.2, b: float = 0.75) -> str:
    from photo_vector_search_spark.operators.bm25 import query_terms

    terms = ", ".join(f"'{t}'" for t in query_terms(query))
    return rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM base),
tf AS (
  SELECT doc_id, len(toks) AS dl, t.term, count(*) AS tf
  FROM base, LATERAL unnest(toks) AS t(term)
  WHERE t.term IN ({terms})
  GROUP BY doc_id, len(toks), t.term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scores AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({k1} + 1.0)
                   / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / s.avgdl))), 6)
           AS bm25,
         count(*) AS n_terms
  FROM tf JOIN df USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id
),
ranked AS (
  SELECT doc_id, bm25, n_terms,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT doc_id, bm25, n_terms, rank FROM ranked WHERE rank <= {k}
"""


def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact dedup (promoted r12): a simulated snapshot-N crawl
    — every document re-fetched with shifted ids, half as whitespace/case
    MIRRORS (normalized duplicates: must drop), half with novel suffixes
    (must survive) — anti-joined on normalized-text fingerprints against
    the snapshot-N-1 reference (the documents table itself). Nothing
    broadcasts: both sides are corpus-scale by design; only distinct
    16-byte fingerprints shuffle."""
    from photo_vector_search_spark.operators.cross_dedup import (
        exact_dedup_against,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("  "), F.upper("text"), F.lit("   ")),
        )
        .otherwise(F.concat(F.col("text"), F.lit(" novel-"), F.col("doc_id")))
        .alias("text"),
    )
    return exact_dedup_against(new, docs).select("doc_id", "text")


_ORACLE_CROSS_DEDUP = r"""
WITH newdocs AS (
  SELECT old_id + 100000 AS doc_id,
         CASE WHEN old_id % 2 = 0 THEN '  ' || upper(text) || '   '
              ELSE text || ' novel-' || old_id END AS text
  FROM (SELECT doc_id AS old_id, text FROM documents)
),
ref_fp AS (
  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM documents WHERE text IS NOT NULL
),
new_fp AS (
  SELECT doc_id, text,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM newdocs
)
SELECT n.doc_id, n.text
FROM new_fp n LEFT JOIN ref_fp r ON n.fp = r.fp
WHERE r.fp IS NULL
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text analysis: token counts (whitespace + BPE-ish), avg token
    length, stopword ratio, quality score, heuristic lang id, fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.round(avg_token_len(toks), 6).alias("avg_tok_len"),
        F.round(stopword_ratio(toks), 6).alias("stopword_ratio"),
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_pred"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)
_ORACLE_TEXT_STATS = rf"""
WITH base AS (
  SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
),
m AS (
  SELECT doc_id, text, t,
         len(t) AS n_tokens,
         len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}')) AS n_bpe_tokens,
         list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE)))
           / greatest(len(t), 1) AS atl,
         len(list_filter(t, x -> list_contains([{_SW_LIST}], x))) * 1.0
           / greatest(len(t), 1) AS swr,
         length(regexp_replace(text, '[ -~\t\n\r]', '', 'g')) AS non_ascii
  FROM base
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_bpe_tokens AS INT) AS n_bpe_tokens,
       round(atl, 6) AS avg_tok_len,
       round(swr, 6) AS stopword_ratio,
       round(((CASE WHEN n_tokens BETWEEN 20 AND 400 THEN 1.0 ELSE 0.5 END)
            + (CASE WHEN swr > 0.01 AND swr < 0.6 THEN 1.0 ELSE 0.5 END)
            + (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0, 6)
         AS quality,
       CASE WHEN non_ascii > length(text) * 0.3 THEN 'non_latin'
            WHEN swr >= 0.05 THEN 'en'
            ELSE 'unknown' END AS lang_pred,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM m
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥ 5 distinct
    trigrams with a held-out "benchmark" set (docs 0-19 stand in). The classic
    pre-training hygiene op: inverted-index semi-join on shingles, overlap count,
    threshold — no O(N·M) pair scan."""
    from photo_vector_search_spark.operators.dedup import shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    # filter each slice BEFORE shingling (r7): a join cannot push below a
    # Generate, so `shingle_sets(docs).join(bench_ids)` would run the full
    # corpus explode on the bench side and AGAIN on the train side — the
    # slices are disjoint, so sliced explodes cover the corpus exactly once
    bench_sh = (
        shingle_sets(docs.filter(F.col("doc_id") < 20), n=3)
        .select("shingle")
        .distinct()
    )
    train_sh = shingle_sets(docs.filter(F.col("doc_id") >= 20), n=3)
    overlap = (
        train_sh.join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= 5)
    )
    return overlap.select("doc_id", "n_overlap")


_ORACLE_DECONTAMINATE = f"""
WITH toks AS ({_SQL_TOKS}),
sh AS ({_SQL_SHINGLES}),
bench_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
train_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 20)
SELECT t.doc_id, count(*) AS n_overlap
FROM train_sh t JOIN bench_sh b ON t.shingle = b.shingle
GROUP BY t.doc_id HAVING count(*) >= 5
"""


def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary stats: top-25 tokens by document frequency (the
    at-scale word count: explode → two-level agg, map-side combinable)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    )
    return (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("tok").asc())
        .limit(25)
    )


_ORACLE_VOCAB_TOP = r"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS tok
  FROM documents
)
SELECT tok, count(*) AS df FROM tok GROUP BY tok
ORDER BY df DESC, tok ASC LIMIT 25
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (quality filter): 1 − distinct/total trigram
    ratio; high values mark degenerate/looping text. Top-50 most repetitive."""
    from photo_vector_search_spark.functions.text import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    toks_df = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    g = toks_df.select("doc_id", word_ngrams(F.col("toks"), 3).alias("g"))
    rep = (
        F.lit(1.0)
        - F.size(F.array_distinct(F.col("g"))) / F.greatest(F.size(F.col("g")), F.lit(1))
    )
    return (
        g.select("doc_id", F.round(rep, 6).alias("repetition"))
        .orderBy(F.col("repetition").desc(), F.col("doc_id").asc())
        .limit(50)
    )


_ORACLE_DOC_REPETITION = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(0, len(t) - 2)),
                        i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS g
  FROM toks
)
SELECT doc_id,
       round(1.0 - len(list_distinct(g)) * 1.0 / greatest(len(g), 1), 6) AS repetition
FROM g
ORDER BY repetition DESC, doc_id ASC LIMIT 50
"""


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty score (the inverse of contamination): share of the
    doc's distinct bigrams found in NO other document. High-novelty docs carry
    unique content; near-zero novelty means boilerplate/template text. Log-free
    (count ratios only) so the oracle is exact.

    Shuffle shape: explode distinct bigrams → df agg keyed by bigram → join back
    keyed by bigram → per-doc agg. All partial-agg combinable; same inverted-
    index skeleton as decontamination, linear in corpus size. The bigram frame
    fans out to the df agg and the join probe, so the explode executes twice
    from the bare scan — the measured-cheaper choice here (r7: staging the
    string-valued bigram frame costs more to write than the split recomputes;
    the jaccard/fuzzy operators' `stage=` auto mode applies the same rule, and
    a window-over-bigram alternative would straggle on mega-hot bigrams)."""
    docs = load_table(spark, sf_dir, "documents")
    toks_df = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    # word_shingles carries the short-input guard (Spark's sequence(1,0) is
    # DESCENDING, not empty) — same helper the other gram operators use
    bg = toks_df.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), 2)).alias("bigram")
    )
    dfreq = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        bg.join(dfreq, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_unique",
        F.round(F.col("n_unique") / F.col("n_bigrams"), 6).alias("novelty"),
    )


def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level benchmark decontamination (r8 — the GPT-3 appendix-C
    policy, the surgical sibling of ``q_decontaminate``'s doc-level drop):
    remove every 5-gram window of a training doc that appears in the
    benchmark slice (docs 0-19 stand in), keep clean fragments of ≥ 5
    tokens as separate rows. Exercises all three output paths on the
    synthetic corpus: untouched docs (verbatim text), split docs (multiple
    fragments), and fully-contaminated docs (dropped).

    Scale shape (`operators/decontamination`): broadcast benchmark gram
    dictionary, map-only hit detection over the corpus gram explode, sparse
    (doc_id, pos) hit shuffle, closed-form clean-fragment complement —
    equal-length windows make interval merging unnecessary."""
    from photo_vector_search_spark.operators.decontamination import (
        decontaminate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    train = docs.filter(F.col("doc_id") >= 20)
    return decontaminate_spans(train, bench, n=5, min_fragment_tokens=5)


_ORACLE_DECONTAMINATE_SPANS = r"""
WITH btoks AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents WHERE doc_id < 20
),
bgrams AS (
  SELECT DISTINCT unnest(list_transform(
           generate_series(1, greatest(0, len(t) - 4)),
           i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS gram
  FROM btoks
),
dtoks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks, text
  FROM documents WHERE doc_id >= 20
),
dgrams AS (
  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
    SELECT doc_id, unnest(list_transform(
             generate_series(1, greatest(0, len(toks) - 4)),
             i -> struct_pack(pos := i - 1,
                    gram := array_to_string(
                      list_transform(list_slice(toks, i, i + 4),
                                     x -> lower(x)), ' ')))) AS u
    FROM dtoks)
),
hits AS (
  SELECT doc_id, list_sort(list(pos)) AS starts
  FROM dgrams JOIN bgrams USING (gram) GROUP BY doc_id
),
marked AS (
  SELECT d.doc_id, d.toks, d.text, h.starts FROM dtoks d
  LEFT JOIN hits h USING (doc_id)
),
gaps AS (
  SELECT doc_id, toks,
         list_filter(
           list_transform(
             generate_series(0, len(starts)),
             i -> struct_pack(
               lo := CASE WHEN i = 0 THEN 0 ELSE starts[i] + 5 END,
               hi := CASE WHEN i = len(starts) THEN len(toks)
                          ELSE starts[i + 1] END)),
           g -> g.hi - g.lo >= 5) AS frags
  FROM marked WHERE starts IS NOT NULL
),
split_rows AS (
  SELECT doc_id, u.frag_idx AS frag_idx, u.n_tokens AS n_tokens,
         u.text AS text FROM (
    SELECT doc_id, unnest(list_transform(
             generate_series(1, len(frags)),
             i -> struct_pack(frag_idx := i - 1,
                    n_tokens := frags[i].hi - frags[i].lo,
                    text := array_to_string(
                      list_slice(toks, frags[i].lo + 1, frags[i].hi),
                      ' ')))) AS u
    FROM gaps)
)
SELECT doc_id, 0 AS frag_idx, len(toks) AS n_tokens, text
FROM marked WHERE starts IS NULL
UNION ALL
SELECT doc_id, frag_idx, n_tokens, text FROM split_rows
"""


_ORACLE_DOC_NOVELTY = f"""
WITH toks AS ({_SQL_TOKS}),
bg0 AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
  FROM toks
),
bg AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + 1), ' ') AS bigram
  FROM bg0
  WHERE len(list_slice(t, i, i + 1)) = 2
),
dfreq AS (SELECT bigram, count(*) AS df FROM bg GROUP BY bigram)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       round(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
         AS novelty
FROM bg b JOIN dfreq f USING (bigram)
GROUP BY b.doc_id
"""


CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # 16-token overlap


def chunk_tokens(
    docs: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Sliding token windows over (doc_id, text): one row per chunk with its
    token array. Pure explode — map-only, no shuffle. Tail partial chunks
    included; empty/whitespace-only text yields one chunk (its single empty
    token), mirroring ``tokens``'s split semantics. Property-tested against a
    sequential Python fold (tests/test_properties.py)."""
    toks_df = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(stride)
    )
    ex = toks_df.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_id", "start")
    )
    chunk = F.slice(F.col("toks"), F.col("start"), size)
    return ex.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).alias("n_tok"),
        chunk.alias("chunk_toks"),
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (context-window preparation): token
    windows of CHUNK_SIZE at CHUNK_STRIDE, tail partial chunks included. Output
    fingerprints the chunk text so values (not just counts) are checked."""
    c = chunk_tokens(load_table(spark, sf_dir, "documents"))
    return c.select(
        "doc_id",
        "chunk_id",
        "n_tok",
        F.md5(F.concat_ws(" ", "chunk_toks").cast("binary")).alias("chunk_fp"),
    )


_ORACLE_CHUNK_DOCUMENTS = f"""
WITH toks AS ({_SQL_TOKS}),
st AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t), 1), {CHUNK_STRIDE})) AS start
  FROM toks
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(list_slice(t, start, start + {CHUNK_SIZE} - 1)) AS INT) AS n_tok,
       md5(array_to_string(list_slice(t, start, start + {CHUNK_SIZE} - 1), ' ')) AS chunk_fp
FROM st
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction (corpus indexing/feature op): top-3 terms per
    doc by tf·idf, stopwords excluded; df/idf computed over the FULL corpus,
    output restricted to doc_id < 50 to keep the declared result bounded.

    Shuffle shape: explode → two keyed aggs (doc term counts, corpus df) → two
    joins keyed on doc_id/term → per-doc window. All partial-agg combinable;
    the df table is vocabulary-sized (broadcastable at any corpus scale).
    Ranking uses the ROUNDED score so cross-engine libm ULP differences in ln()
    cannot flip an ordering; ties break on the term string.

    Fan-out economics (measured r7): the token explode feeds three branches
    and re-executes per branch (no cross-branch subtree reuse). Staging or
    caching the token/counts frame was MEASURED SLOWER at sf0.1 (0.98-1.8 s
    vs 0.67 s re-derived; a counts-derived doclen times identically — the
    lineage still re-runs the explode), so the bare-scan re-derive stands,
    the same rule the jaccard/fuzzy `stage=` auto mode applies."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter((~F.col("term").isin(*STOPWORDS)) & (F.length("term") > 0))
    )
    counts = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf_count"))
    doclen = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_terms"))
    dfreq = counts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        counts.join(doclen, "doc_id")
        .join(dfreq, "term")
        .withColumn(
            "tfidf",
            F.round(
                (F.col("tf_count") / F.col("n_terms"))
                * F.log(F.lit(float(n_docs)) / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.filter(F.col("doc_id") < 50)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


_ORACLE_TFIDF = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
tok_f AS (
  SELECT doc_id, term FROM tok
  WHERE NOT list_contains({list(STOPWORDS)!r}, term) AND length(term) > 0
),
counts AS (SELECT doc_id, term, count(*) AS tf_count FROM tok_f GROUP BY 1, 2),
doclen AS (SELECT doc_id, count(*) AS n_terms FROM tok_f GROUP BY 1),
dfreq AS (SELECT term, count(*) AS df FROM counts GROUP BY 1),
scored AS (
  SELECT c.doc_id, c.term,
         round((c.tf_count / d.n_terms)
               * ln((SELECT count(*) FROM documents) / CAST(f.df AS DOUBLE)), 6)
           AS tfidf
  FROM counts c JOIN doclen d USING (doc_id) JOIN dfreq f USING (term)
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored WHERE doc_id < 50
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""


FUZZY_MAX_DF = 0.02  # grams present in > 2% of docs are boilerplate, pruned


def q_fuzzy_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching, declared through the BLOCKED (scale-safe)
    form: character-8-gram inverted-index candidates with df-pruning
    (``max_df=FUZZY_MAX_DF`` — the declared query carries its own skew guard,
    measured 3.6× candidate cut at sf0.1 where unpruned candidates grow ~N²
    in hot boilerplate grams), Levenshtein ≤ 16 verified inside blocks only —
    no unblocked self-join anywhere in the plan. Runs over the FULL documents
    table. The oracle runs the IDENTICAL blocking + df pruning + verify (df
    counts are exact, so pruning is cross-engine-deterministic); recall vs the
    unblocked form is property-tested in tests/test_round3.py."""
    from photo_vector_search_spark.operators.dedup import fuzzy_pairs_blocked

    return fuzzy_pairs_blocked(
        load_table(spark, sf_dir, "documents"),
        prefix_len=40,
        q=8,
        max_dist=16,
        max_df=FUZZY_MAX_DF,
    )


_ORACLE_FUZZY_BLOCKED = f"""
WITH p AS (SELECT doc_id, substring(lower(text), 1, 40) AS p FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(length(p) - 7, 1)),
           s -> substring(p, s, 8)))) AS gram
  FROM p
),
keep AS (
  SELECT gram FROM (SELECT gram, count(*) AS df FROM g GROUP BY gram)
  WHERE df <= {FUZZY_MAX_DF} * (SELECT count(*) FROM documents)
),
gk AS (SELECT g.doc_id, g.gram FROM g JOIN keep USING (gram)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, levenshtein(pa.p, pb.p) AS lev
FROM cand c
JOIN p pa ON pa.doc_id = c.doc_a
JOIN p pb ON pb.doc_id = c.doc_b
WHERE levenshtein(pa.p, pb.p) <= 16
"""


def q_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETIRED from the declared surface (round 3): the unblocked pairwise form —
    a bounded cartesian over a 40-doc slice — is the correctness anchor the
    blocked form (`fuzzy_levenshtein_blocked`, declared) is property-tested
    against. Still oracle-verified locally via tests/test_retired_surface.py."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", F.substring(F.lower(F.col("text")), 1, 40).alias("p"))
    )
    a, b = docs.alias("a"), docs.alias("b")
    lev = F.levenshtein(F.col("a.p"), F.col("b.p"))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.alias("lev"),
        )
        .filter(F.col("lev") <= 20)
    )


_ORACLE_FUZZY_LEV = """
WITH p AS (
  SELECT doc_id, substring(lower(text), 1, 40) AS p FROM documents WHERE doc_id < 40
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, levenshtein(a.p, b.p) AS lev
FROM p a JOIN p b ON a.doc_id < b.doc_id
WHERE levenshtein(a.p, b.p) <= 20
"""


# ---------------------------------------------------------------------------
# r7 promotions: the two round-6 operators, declared with full DuckDB twins
# (VERDICT r6 action #1). Constants are shared by the Spark query and the
# generated oracle SQL so both sides provably compute the same rule.

_SUBSTR_PASSAGE = " the quick brown fox jumps over the lazy dog again and again"
_SUBSTR_N = 5

# pinned BPE merges: learned once via train_bpe(documents@sf0.01, n_merges=24,
# min_count=2) and frozen so the oracle can mirror the encode as rank-order
# exhaustive replaces (for a LEARNED merge list, applying merges in rank
# order to exhaustion is equivalent to the GPT-2 greedy lowest-rank loop —
# a later merge cannot re-create an earlier merge's input pair). All 24
# joined symbols are distinct (asserted below) so the SQL vocab layout
# matches bpe_vocab's dedup-skipping layout exactly.
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"), ("o", "w"),
    ("ow", "</w>"), ("o", "r"), ("s", "t"), ("h", "</w>"), ("a", "t"),
    ("l", "u"), ("i", "n"), ("a", "</w>"), ("g", "</w>"), ("y", "</w>"),
    ("a", "r"), ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"),
]
assert len({a + b for a, b in _BPE_MERGES}) == len(_BPE_MERGES)


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 exact substring dedup (Lee et al. n-gram spans) — the r6
    operator promoted to the checked surface. A shared passage is grafted
    onto every 7th doc (mirrored in the oracle) so cross-doc spans exist at
    n=5 regardless of the fixture's natural repetition; ~100 docs lose
    tokens at sf0.01. Reference scope: the reference has no text dedup at
    all (SURVEY §2.10 extension)."""
    from photo_vector_search_spark.operators.substring import remove_repeated_ngrams

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(_SUBSTR_PASSAGE))
        ).otherwise(F.col("text")),
    )
    return remove_repeated_ngrams(docs, n=_SUBSTR_N, min_dup=2).select(
        "doc_id", "text_deduped", "n_removed_tokens"
    )


def q_encode_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 BPE tokenization to ids — the r6 trainer's encode path promoted
    to the checked surface: corpus-derived charset (``corpus_charset``) →
    ``bpe_vocab`` id layout → Arrow-batched ``encode_bpe`` with the pinned
    merge ranks. Ids are rendered CSV (FIXTURES.md array convention); NULL
    text stays NULL, empty text encodes to ''."""
    from photo_vector_search_spark.operators.bpe import (
        bpe_vocab,
        corpus_charset,
        encode_bpe,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = bpe_vocab(_BPE_MERGES, corpus_charset(docs))
    enc = encode_bpe(docs, _BPE_MERGES, vocab)
    return enc.select(
        "doc_id",
        F.when(F.col("input_ids").isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(",", F.col("input_ids").cast("array<string>")))
        .alias("input_ids_csv"),
    )


_ORACLE_SUBSTRING_DEDUP = rf"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || '{_SUBSTR_PASSAGE}'
              ELSE text END AS text
  FROM documents
),
toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
  FROM docs WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+{_SUBSTR_N - 1}], ' ') AS g
  FROM toked, LATERAL unnest(generate_series(1, len(toks) - {_SUBSTR_N - 1})) AS t(i)
  WHERE len(toks) >= {_SUBSTR_N}
),
marked AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY g) AS n_occ,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM grams
),
hot AS (SELECT doc_id, pos, rn = 1 AS is_keeper FROM marked WHERE n_occ >= 2),
tok_idx AS (
  SELECT doc_id, i - 1 AS j, toks[i] AS w
  FROM toked, LATERAL unnest(generate_series(1, len(toks))) AS t(i)
),
tok_flags AS (
  SELECT t.doc_id, t.j, t.w,
         coalesce(bool_or(NOT h.is_keeper), false) AS dropped,
         coalesce(bool_or(h.is_keeper), false) AS protected
  FROM tok_idx t
  LEFT JOIN hot h ON h.doc_id = t.doc_id AND t.j BETWEEN h.pos AND h.pos + {_SUBSTR_N - 1}
  GROUP BY t.doc_id, t.j, t.w
),
kept AS (
  SELECT doc_id,
         string_agg(w, ' ' ORDER BY j) FILTER (WHERE NOT dropped OR protected) AS text_deduped,
         count(*) FILTER (WHERE dropped AND NOT protected) AS n_removed
  FROM tok_flags GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(k.text_deduped, '') END AS text_deduped,
       CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(k.n_removed, 0) END AS n_removed_tokens
FROM docs d LEFT JOIN kept k USING (doc_id)
"""


def _bpe_oracle() -> str:
    """Generate the encode-BPE twin: each word becomes a marker-wrapped
    symbol string (\\x02 sym \\x03 per symbol — control chars, absent from
    the corpus by the fixture's printable-ASCII contract), each pinned merge
    one exhaustive left-to-right ``replace`` in rank order (equivalent to
    the greedy lowest-rank loop for a learned merge list), then symbols map
    to ids through the same charset-sorted ++ EOW ++ merge-order vocab
    layout as ``bpe_vocab`` (unknown symbol → OOV id = len(vocab))."""
    so, sc = chr(2), chr(3)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    sym = (
        f"{q(so)} || array_to_string(string_split(w, ''), {q(sc + so)}) "
        f"|| {q(sc)} || {q(so + '</w>' + sc)}"
    )
    for a, b in _BPE_MERGES:
        sym = f"replace({sym}, {q(so + a + sc + so + b + sc)}, {q(so + a + b + sc)})"
    merged_syms = ", ".join(q(a + b) for a, b in _BPE_MERGES)
    return f"""
WITH toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS words
  FROM documents WHERE text IS NOT NULL
),
chars AS (
  SELECT DISTINCT c
  FROM toked, LATERAL unnest(words) AS uw(w), LATERAL unnest(string_split(w, '')) AS uc(c)
  WHERE c <> ''
),
vocab AS (
  SELECT list(c ORDER BY c) || ['</w>', {merged_syms}] AS vlist FROM chars
),
enc AS (
  SELECT doc_id,
         flatten(list_transform(words, w ->
           string_split(substr({sym}, 2, len({sym}) - 2), {q(sc + so)})
         )) AS syms
  FROM toked
),
ids AS (
  SELECT e.doc_id,
         array_to_string(list_transform(e.syms, s ->
           CASE WHEN list_position(v.vlist, s) = 0 THEN len(v.vlist)
                ELSE list_position(v.vlist, s) - 1 END), ',') AS csv
  FROM enc e CROSS JOIN vocab v
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(i.csv, '') END AS input_ids_csv
FROM documents d LEFT JOIN ids i USING (doc_id)
"""


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style paragraph keep-first dedup (`operators/dedup.dedup_paragraphs`):
    repeated non-blank paragraphs keep exactly their earliest (doc_id, pos)
    occurrence; each doc rebuilds from its survivors in order. The fixture
    docs are single-line, so the query synthesizes repeated paragraphs the
    same way the bench/plan-audit cases do (ONE shared synthesis rule):
    every 10th doc is prefixed with a shared quote paragraph — the quote
    must survive only in the lowest carrier doc."""
    from photo_vector_search_spark.operators.dedup import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(F.col("doc_id") % 10 == 0, F.lit("A widely reblogged quote.")),
            F.col("text"),
        ).alias("text"),
    )
    return dedup_paragraphs(docs, min_chars=5)


# the tests/test_paragraph_dedup.py twin, re-pointed at the synthesized corpus
_ORACLE_DEDUP_PARAGRAPHS = """
WITH docs2 AS (
  SELECT doc_id,
         concat_ws(chr(10),
                   CASE WHEN doc_id % 10 = 0 THEN 'A widely reblogged quote.' END,
                   text) AS text
  FROM documents
),
arr AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs2),
lines AS (
  SELECT doc_id, ls[pos] AS line, pos
  FROM arr, LATERAL unnest(generate_series(1, len(ls))) AS g(pos)
),
winners AS (
  SELECT line, doc_id AS w_doc, pos AS w_pos
  FROM (SELECT line, doc_id, pos,
               row_number() OVER (PARTITION BY line
                                  ORDER BY doc_id, pos) AS rn
        FROM lines WHERE length(trim(line)) >= 5)
  WHERE rn = 1
),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l LEFT JOIN winners w ON l.line = w.line
  WHERE w.w_doc IS NULL
     OR (l.doc_id = w.w_doc AND l.pos = w.w_pos)
)
SELECT doc_id,
       array_to_string(list(line ORDER BY pos), chr(10)) AS clean
FROM kept GROUP BY doc_id
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_paragraphs": q_dedup_paragraphs,
    "substring_dedup": q_substring_dedup,
    "encode_bpe": q_encode_bpe,
    "fuzzy_levenshtein_blocked": q_fuzzy_levenshtein_blocked,
    "tfidf_top_terms": q_tfidf_top_terms,
    "bm25_topk": q_bm25_topk,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "cross_dedup": q_cross_dedup,
    "text_stats": q_text_stats,
    "decontaminate": q_decontaminate,
    "doc_repetition": q_doc_repetition,
    "decontaminate_spans": q_decontaminate_spans,
    "chunk_documents": q_chunk_documents,
}

ORACLES = {
    "substring_dedup": _ORACLE_SUBSTRING_DEDUP,
    "encode_bpe": _bpe_oracle(),
    "chunk_documents": _ORACLE_CHUNK_DOCUMENTS,
    "fuzzy_levenshtein_blocked": _ORACLE_FUZZY_BLOCKED,
    "tfidf_top_terms": _ORACLE_TFIDF,
    "decontaminate": _ORACLE_DECONTAMINATE,
    "doc_repetition": _ORACLE_DOC_REPETITION,
    "decontaminate_spans": _ORACLE_DECONTAMINATE_SPANS,
    "dedup_exact": _ORACLE_DEDUP_EXACT,
    "dedup_paragraphs": _ORACLE_DEDUP_PARAGRAPHS,
    "bm25_topk": _bm25_oracle(_BM25_QUERY, 10),
    "dedup_minhash_lsh": _minhash_oracle(),
    "dedup_simhash": _ORACLE_DEDUP_SIMHASH,
    "cross_dedup": _ORACLE_CROSS_DEDUP,
    "text_stats": _ORACLE_TEXT_STATS,
}

# Retired from the 50-slot declared surface (the driver checks exactly 50
# queries; r02 proved entries past 50 get NO correctness row). Still fully
# implemented and oracle-verified locally — tests/test_retired_surface.py runs
# these pairs through the same DuckDB compare the driver uses.
RETIRED_QUERIES = {
    "fuzzy_levenshtein": q_fuzzy_levenshtein,
    # r12 rotation: dedup_jaccard's slot went to bm25_topk — exact trigram
    # Jaccard is the verify stage INSIDE dedup_minhash_lsh (declared), so
    # the semantics stay in the checked window; the standalone inverted-
    # index pair query stays DuckDB-verified here
    "dedup_jaccard": q_dedup_jaccard,
    # r12 rotation: embedding_near_dup's slot went to cross_dedup — the
    # embedding near-dup family keeps TWO declared rows (srp_lsh_near_dup:
    # the linear scale path; semdedup: the cluster-pruning form), and the
    # quadratic guarded broadcast-matmul rung stays verified here
    "embedding_near_dup": q_embedding_near_dup,
    # r11 rotation: vocab_top_tokens' slot went to hamming_topk (the 1-bit
    # serving rung) — the token-frequency aggregation is double-covered by
    # tfidf_top_terms' DF machinery; the vocab count stays verified here
    "vocab_top_tokens": q_vocab_top_tokens,
    # r8 rotation: doc_novelty's slot went to decontaminate_spans — the
    # contamination family's surgical rung supersedes its inverse-metric
    # sibling in the checked window; novelty stays verified here
    "doc_novelty": q_doc_novelty,
}

RETIRED_ORACLES = {
    "fuzzy_levenshtein": _ORACLE_FUZZY_LEV,
    "dedup_jaccard": _ORACLE_DEDUP_JACCARD,
    "embedding_near_dup": _ORACLE_EMBEDDING_NEAR_DUP,
    "vocab_top_tokens": _ORACLE_VOCAB_TOP,
    "doc_novelty": _ORACLE_DOC_NOVELTY,
}


def build_vocab(docs: DataFrame, max_size: int = 32_768) -> DataFrame:
    """Deterministic rank vocabulary: (token, id) with id = dense rank by
    (-term frequency, token) — the corpus-derived id table a tokenization
    pass joins against. Ties break lexicographically so the mapping is
    byte-stable across runs/engines. Ids start at 0; id ``max_size`` is
    reserved by ``tokenize_documents`` for OOV.

    One explode + one groupBy(token) (map-side combinable), then a
    DISTRIBUTED top-max_size (``orderBy().limit()`` plans as
    TakeOrderedAndProject — per-partition heaps, no global sort), and only
    the ≤max_size survivors enter the single-partition rank window. The
    unbounded distinct-token universe (billions of rows on a web corpus)
    never lands in one task; the window's partition holds vocab entries
    only, bounded by construction.

    Empty/whitespace-only documents contribute NO tokens: ``tokens('')``
    splits to ``['']``, so the empty-string token is removed before counting
    — otherwise it could enter the vocab and empty docs would tokenize to a
    phantom id (ADVICE r5; the DuckDB twins filter identically)."""
    tf = (
        docs.select(
            F.explode(F.array_remove(tokens(F.col("text")), "")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    top = tf.orderBy(F.col("tf").desc(), F.col("tok").asc()).limit(max_size)
    w = Window.orderBy(F.col("tf").desc(), F.col("tok").asc())
    return top.withColumn("id", F.row_number().over(w) - 1).select("tok", "id", "tf")


def tokenize_documents(
    docs: DataFrame, vocab: DataFrame, oov_id: int | None = None
) -> DataFrame:
    """Map each document to its token-id sequence (doc_id, ids array<int>,
    n_oov) using a ``build_vocab`` table — the step between curation and
    packing that turns text into trainable input.

    Scale shape: posexplode tokens (map-only), LEFT join the vocab on the
    token (the vocab is ≤32k rows — Catalyst broadcasts it; an unbounded
    vocab would degrade to a keyed shuffle join, still never a collect),
    then ONE groupBy(doc) reassembling ``array_sort(collect_list(struct(pos,
    id)))`` — per-doc sort, bounded by document length. Unknown tokens map
    to ``oov_id`` (default: one past the largest vocab id) and are counted
    per document so a corpus-level OOV-rate audit is one sum away.

    Empty/whitespace-only documents emit ``ids=[] , n_oov=0`` (the
    empty-string token from splitting '' is removed before the explode —
    mirrors ``build_vocab``); position order is preserved by the removal
    because '' can only arise from an all-whitespace text, which yields no
    other tokens."""
    if oov_id is None:
        oov_row = vocab.agg(F.max("id").alias("m")).first()
        oov_id = (oov_row["m"] if oov_row["m"] is not None else -1) + 1
    tok = docs.select(
        "doc_id",
        # posexplode_OUTER keeps a (null, null) row for token-less docs so
        # they surface as (ids=[], n_oov=0) instead of vanishing
        F.posexplode_outer(F.array_remove(tokens(F.col("text")), "")).alias(
            "pos", "tok"
        ),
    )
    joined = tok.join(vocab.select("tok", "id"), "tok", "left").select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos").isNotNull(),
            F.coalesce(F.col("id"), F.lit(oov_id)).cast("int"),
        ).alias("id"),
    )
    return joined.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                # when() nulls (the empty-doc placeholder rows) are skipped by
                # collect_list, leaving a genuinely empty ids array
                F.collect_list(F.when(F.col("pos").isNotNull(), F.struct("pos", "id")))
            ),
            lambda x: x["id"],
        ).alias("ids"),
        F.sum(F.when(F.col("id") == oov_id, 1).otherwise(0)).alias("n_oov"),
    )


BIGRAM_SMOOTH_K = 0.5  # add-k smoothing constant, shared with the SQL twin


def train_bigram_lm(docs: DataFrame, stage: bool = True) -> tuple[DataFrame, int]:
    """Corpus bigram language model — the engine-native form of CCNet's
    LM-perplexity quality filter (Wenzek et al. 2020 score corpora with a
    pretrained KenLM; a corpus-trained bigram model is the dependency-free
    analogue, and a real KenLM slots in behind the same column contract as a
    pandas UDF).

    Returns ``(lm, vocab_size)``: ``lm`` has one row per observed bigram —
    (w1, w2, c12, c1) with the unigram count pre-attached so scoring needs a
    single lookup join — and ``vocab_size`` is |distinct tokens| for the
    smoothing denominator. Corpus-sized work is exactly ONE pass (r12
    optimization — previously the vocab count re-tokenized the whole corpus
    a second time): every token position emits one (w1 = token,
    w2 = successor-or-NULL) row, so the grouped table holds the bigram
    counts (w2 non-NULL rows — a doc's last token and 1-token docs pair
    with NULL, never with a phantom successor) AND the full unigram
    vocabulary (distinct w1 — every token of every doc appears as a w1,
    including tokens of docs too short to form a bigram). c1 is NOT a
    second corpus aggregation — c1(w1) = Σ_{w2 non-NULL} c12(w1, w2)
    exactly (integer counts), a window sum over the
    bigram-vocabulary-sized aggregate; the NULL-successor rows are
    excluded from it, exactly matching the old bigrams-only frame.

    ``stage=True`` (default) materializes the grouped (w1, w2, c12) table
    to session parquet scratch at call time (``operators/staging``): the
    vocab count reads the staged copy (a vocabulary-sized scan, not a
    corpus pass), and ``doc_log_perplexity`` consumes the LM in TWO
    subtrees (the (w1,w2) probability probe and the distinct (w1,c1)
    backoff table), and Spark re-executes unstaged common subtrees per
    consumer — unstaged, every scoring run would re-derive the
    corpus-sized aggregation twice. ``stage=False`` keeps the frame fully
    lazy (tests / composition into a larger staged plan) — the vocab count
    then re-derives the corpus pass, the pre-r12 cost shape."""
    toks = docs.select(tokens(F.col("text")).alias("ts")).filter(
        F.size("ts") >= 1
    )
    # w1 = every token occurrence; w2 = its successor, NULL at the doc's end
    # (and for 1-token docs) — one explode covers bigram counts AND vocab
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.col("ts").alias("w1"),
                F.concat(
                    F.slice(
                        F.col("ts"), 2, F.greatest(F.size("ts") - 1, F.lit(0))
                    ),
                    F.array(F.lit(None).cast("string")),
                ).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # c1 sums ONLY the true-bigram rows of the w1 partition (a NULL-successor
    # row is not a bigram start), so the post-filter lm rows are value-
    # identical to the old bigrams-only formulation; computing it BEFORE
    # staging keeps the staged scan window-free for both scoring consumers
    grouped = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn(
            "c1",
            F.sum(
                F.when(F.col("w2").isNotNull(), F.col("c12")).otherwise(0)
            ).over(Window.partitionBy("w1")),
        )
    )
    if stage:
        from photo_vector_search_spark.operators.staging import stage_frame

        grouped = stage_frame(grouped, "pvs_bigram_lm")
    lm = grouped.filter(F.col("w2").isNotNull())
    vocab_size = grouped.agg(F.count_distinct("w1")).first()[0]
    return lm, int(vocab_size)


def doc_log_perplexity(
    docs: DataFrame,
    lm: DataFrame,
    vocab_size: int,
    k: float = BIGRAM_SMOOTH_K,
) -> DataFrame:
    """Per-document mean negative log2 bigram probability under ``lm`` with
    add-k smoothing — low = fluent-under-the-corpus-distribution, high =
    outlier/garbage (the CCNet head/middle/tail signal). Output:
    (doc_id, n_bigrams, nll) with nll rounded 6dp; docs with < 2 tokens get
    no row (no bigram evidence — filter or coalesce downstream).

    P(w2|w1) = (c12 + k) / (c1 + k·V); unseen w1 ⇒ k/(k·V) = 1/V. One
    explode + one broadcastable lookup join + one per-doc agg."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("ts")).filter(
        F.size("ts") >= 2
    )
    big = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("ts"), 1, F.size("ts") - 1),
                F.slice(F.col("ts"), 2, F.size("ts") - 1),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
    # c1 must join by w1 ALONE: joining the pre-joined lm on (w1, w2) would
    # null c1 for any held-out bigram of a SEEN w1, scoring it 1/V instead of
    # the documented k/(c1+kV) — under-penalizing garbage continuations of
    # common words (r5 second-review finding; held-out case now tested).
    # Every trained w1 has >=1 bigram row, so (w1, c1) pairs are recoverable
    # from lm exactly.
    c1_tbl = lm.select("w1", "c1").distinct()
    scored = (
        big.join(lm.select("w1", "w2", "c12"), ["w1", "w2"], "left")
        .join(c1_tbl, "w1", "left")
        .select(
            "doc_id",
            (
                -F.log2(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(k))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k) * vocab_size)
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 6).alias("nll"),
    )


def perplexity_buckets(
    docs: DataFrame,
    lm: DataFrame,
    vocab_size: int,
    by: str | None = "lang",
    bounds: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    exact: bool = True,
    accuracy: int = 10_000,
    k: float = BIGRAM_SMOOTH_K,
    stage: bool = True,
) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3): score every
    document's LM perplexity, cut each ``by``-group (per-language, like CCNet;
    ``by=None`` = one global set of cutoffs) at the ``bounds`` quantiles of the
    score distribution, and label rows ``head`` (most fluent third), ``middle``,
    or ``tail``. Docs with < 2 tokens have no bigram evidence and get bucket
    ``unscored`` (CCNet drops them; ``ccnet_keep`` exposes the choice).

    Output: every input column + ``nll`` (6dp, NULL for unscored) + ``bucket``.

    Shape: the scoring pass is ``doc_log_perplexity`` (one explode + one
    broadcastable LM lookup join + per-doc agg — corpus-linear); the cutoffs
    are ONE aggregate producing |groups| rows (a handful of languages) that
    broadcast-joins back for a map-only bucket label. No global sort, no
    window over the corpus — this is deliberately NOT an ntile(): ranking the
    whole corpus would shuffle every row into a single global (or per-language)
    ordering, while quantile CUTOFFS need only an aggregate.

    ``stage=True`` (default, r7b) materializes the doc-sized (doc_id, nll)
    score frame to session parquet scratch before use: the cutoff aggregate
    and the final label join BOTH consume it, and Spark re-executes
    unstaged common subtrees per consumer — unstaged, the corpus-token-
    sized scoring explode would run twice. The staged frame is one narrow
    row per scored doc (linear, tiny next to the corpus).

    ``exact=True`` uses Spark's exact ``percentile`` — its aggregation buffer
    holds each group's values, fine up to ~10^7 scored docs per group. At
    100 TB set ``exact=False``: ``percentile_approx`` is a fixed-size
    map-side-combinable sketch (``accuracy`` trades memory for rank error),
    and a quantile ESTIMATE only moves docs whose score sits within the rank
    error of a cutoff — the CCNet rule is itself a heuristic band, so the
    approximation changes which borderline docs land head vs middle, never
    the semantics. Cutoffs and scores are both rounded to 6dp before the
    ``<=`` comparisons, so bucket labels are stable across partitionings.
    """
    if not (0.0 < bounds[0] < bounds[1] < 1.0):
        raise ValueError(f"bounds must be 0 < lo < hi < 1, got {bounds}")
    scored = doc_log_perplexity(docs, lm, vocab_size, k=k).select(
        "doc_id", "nll"
    )
    if stage:
        from photo_vector_search_spark.operators.staging import stage_frame

        scored = stage_frame(scored, "pvs_ppl_scores")
    base = docs.join(scored, "doc_id", "left")
    grp = [by] if by is not None else []
    pcts = F.array(F.lit(float(bounds[0])), F.lit(float(bounds[1])))
    cut_expr = (
        F.percentile("nll", pcts)
        if exact
        else F.percentile_approx("nll", pcts, F.lit(int(accuracy)))
    )
    cuts = (
        base.filter(F.col("nll").isNotNull())
        .groupBy(*grp)
        .agg(cut_expr.alias("_cuts"))
        .select(
            *grp,
            F.round(F.col("_cuts")[0], 6).alias("_c_head"),
            F.round(F.col("_cuts")[1], 6).alias("_c_mid"),
        )
    )
    if grp:
        # null-safe equi-join: groupBy keeps a NULL group (so its cutoffs DO
        # exist), but a plain equi-join would never match it back (NULL !=
        # NULL) and silently 'tail'-label the whole NULL-key slice. <=> keeps
        # the BroadcastHashJoin — null-safe equality is a hashable key.
        cuts_k = cuts.select(
            *[F.col(c).alias(f"_cutkey_{c}") for c in grp], "_c_head", "_c_mid"
        )
        cond = None
        for c in grp:
            t = F.col(c).eqNullSafe(F.col(f"_cutkey_{c}"))
            cond = t if cond is None else (cond & t)
        joined = base.join(F.broadcast(cuts_k), cond, "left").drop(
            *[f"_cutkey_{c}" for c in grp]
        )
    else:
        joined = base.crossJoin(F.broadcast(cuts))
    return joined.withColumn(
        "bucket",
        F.when(F.col("nll").isNull(), F.lit("unscored"))
        .when(F.col("nll") <= F.col("_c_head"), F.lit("head"))
        .when(F.col("nll") <= F.col("_c_mid"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    ).drop("_c_head", "_c_mid")


def ccnet_keep(
    bucketed: DataFrame,
    keep: tuple[str, ...] = ("head", "middle"),
    keep_unscored: bool = False,
) -> DataFrame:
    """The CCNet keep rule over ``perplexity_buckets`` output: retain the
    ``keep`` buckets (paper default: head + middle — the tail is the
    least-fluent-under-the-LM third), dropping the transient ``nll``/``bucket``
    columns. ``keep_unscored=True`` also retains < 2-token docs (no LM
    evidence either way); the default drops them, matching the
    every-kept-doc-was-scored invariant downstream stats rely on."""
    labels = sorted(set(keep) | ({"unscored"} if keep_unscored else set()))
    return bucketed.filter(F.col("bucket").isin(*labels)).drop("nll", "bucket")


def q_ppl_filter(spark, sf_dir: str) -> DataFrame:
    """§2.10 text quality, CCNet rung (declared r7b) — the full LM-perplexity
    filter as one declared surface: train the corpus bigram LM, bucket every
    document against its language's head/middle/tail cutoffs, keep
    head+middle (Wenzek et al. 2020's rule). Self-scoring (train == score
    corpus) keeps the oracle exact: every bigram is in-vocabulary, so the
    smoothed probability never hits the unseen-w1 branch."""
    from photo_vector_search_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    lm, vocab = train_bigram_lm(docs)
    return ccnet_keep(perplexity_buckets(docs, lm, vocab, by="lang"))


# DuckDB twin of the whole train->score->cut->keep pipeline. Mirrors the
# engine's rounding discipline exactly: per-doc nll rounded 6dp BEFORE the
# quantile, cutoffs rounded 6dp before the <= comparison (quantile_cont is
# the same linear-interpolation definition as Spark's exact `percentile`).
_ORACLE_PPL_FILTER = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents
),
pos AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS g
  FROM toks WHERE len(ts) >= 2
),
big AS (SELECT doc_id, ts[g] AS w1, ts[g + 1] AS w2 FROM pos),
c12 AS (SELECT w1, w2, count(*) AS n12 FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS n1 FROM big GROUP BY 1),
v AS (SELECT count(DISTINCT tok) AS vs FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents)),
scored AS (
  SELECT b.doc_id,
         round(avg(-log2((c12.n12 + 0.5) / (c1.n1 + 0.5 * (SELECT vs FROM v)))), 6) AS nll
  FROM big b JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
             JOIN c1 ON b.w1 = c1.w1
  GROUP BY b.doc_id
),
cuts AS (
  SELECT d.lang, round(quantile_cont(s.nll, 2.0/3), 6) AS c_mid
  FROM scored s JOIN documents d USING (doc_id) GROUP BY d.lang
)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d
JOIN scored s USING (doc_id)
JOIN cuts c ON d.lang IS NOT DISTINCT FROM c.lang
WHERE s.nll <= c.c_mid
"""

QUERIES["ppl_filter"] = q_ppl_filter
ORACLES["ppl_filter"] = _ORACLE_PPL_FILTER


def q_kn_score(spark, sf_dir: str) -> DataFrame:
    """§2.10 text quality, Kneser-Ney rung (declared r10, promoted from
    pytest-only — the full DuckDB twin already existed in
    tests/test_kneser_ney.py): train the interpolated-KN bigram LM on the
    even-doc half and score EVERY document — the held-out split exercises
    both backoff branches (unseen context → continuation-only, unseen
    continuation of a seen context → discount + interpolation), unlike a
    self-scored corpus where every bigram is in-vocabulary. Output
    (doc_id, n_bigrams, nll) with nll rounded 6dp; verified bit-exact
    against the SQL twin at sf0.01 before promotion."""
    from photo_vector_search_spark.operators.kneser_ney import (
        doc_log_perplexity_kn,
        train_kn_lm,
    )
    from photo_vector_search_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    lm, consts = train_kn_lm(train)
    return doc_log_perplexity_kn(docs, lm, consts)


def _kn_score_oracle() -> str:
    """The KN twin as a self-contained oracle: re-derives every model
    statistic (bigram types, both N1+ marginals, counts-of-counts, the
    Chen-Goodman discount, vocabulary size) in SQL from the same even-doc
    training half, then replays the interpolated probability per scored
    bigram. The continuation epsilon is formatted from the engine's own
    constant so the two can never drift."""
    from photo_vector_search_spark.operators.kneser_ney import KN_CONT_K

    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
  FROM documents
),
pos AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS g
  FROM toks WHERE len(ts) >= 2
),
big AS (SELECT doc_id, ts[g] AS w1, ts[g + 1] AS w2 FROM pos),
c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM big
  WHERE doc_id % 2 = 0 GROUP BY 1, 2
),
w1t AS (SELECT w1, sum(c12) AS c1, count(*) AS ncont1 FROM c12 GROUP BY 1),
w2t AS (SELECT w2, count(*) AS npred2 FROM c12 GROUP BY 1),
nt AS (
  SELECT count(*) AS n_types,
         sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS n2
  FROM c12
),
v AS (
  SELECT count(DISTINCT tok) AS vs FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents WHERE doc_id % 2 = 0)
),
d AS (
  SELECT CASE WHEN n1 + 2 * n2 > 0
              THEN least(0.95, greatest(0.05, n1 / (n1 + 2.0 * n2)))
              ELSE 0.75 END AS dd,
         n_types
  FROM nt
)
SELECT b.doc_id, count(*) AS n_bigrams,
       round(avg(-log2(
         CASE WHEN w1t.c1 IS NOT NULL
           THEN greatest(coalesce(c12.c12, 0) - (SELECT dd FROM d), 0)
                  / w1t.c1
                + (SELECT dd FROM d) * w1t.ncont1 / w1t.c1
                  * ((coalesce(w2t.npred2, 0) + {KN_CONT_K})
                     / ((SELECT n_types FROM d)
                        + {KN_CONT_K} * (SELECT vs FROM v)))
           ELSE (coalesce(w2t.npred2, 0) + {KN_CONT_K})
                / ((SELECT n_types FROM d) + {KN_CONT_K} * (SELECT vs FROM v))
         END)), 6) AS nll
FROM big b
LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
LEFT JOIN w1t ON b.w1 = w1t.w1
LEFT JOIN w2t ON b.w2 = w2t.w2
GROUP BY b.doc_id
"""


QUERIES["kn_score"] = q_kn_score
ORACLES["kn_score"] = _kn_score_oracle()
