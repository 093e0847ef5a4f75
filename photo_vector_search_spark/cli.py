"""CLI mirroring the reference's command surface (cli.py:18-187) on the Spark
engine: a user of photo-vector-search can run the same workflows against a
Parquet-backed store.

    python -m photo_vector_search_spark.cli index-photos --photo-dir D --store S
    python -m photo_vector_search_spark.cli search-photos-by-text --query "tractor" --store S -k 5
    python -m photo_vector_search_spark.cli search-photos --photo P.jpg --store S
    python -m photo_vector_search_spark.cli examine-image --photo P.jpg --store S
    python -m photo_vector_search_spark.cli list-photos --store S
    python -m photo_vector_search_spark.cli delete-photo --photo P.jpg --store S [--aspect A]
    python -m photo_vector_search_spark.cli clear-store --store S
    python -m photo_vector_search_spark.cli delete-store --store S --yes
    python -m photo_vector_search_spark.cli list-models
    python -m photo_vector_search_spark.cli curate-corpus --docs D.parquet --out shards/
    python -m photo_vector_search_spark.cli vector-index build/upsert/delete/compact/search --index I

Differences from the reference, by design: the store is a Parquet snapshot
(ChromaDB replaced), models default to the deterministic stubs (CLIP/Ollama plug
into the same interfaces), and `--viewer` launching (reference cli.py:86-98 /
utils.py:5-12) is PERMANENTLY out of scope (SC9): spawning a desktop image
viewer is presentation on the client machine, not engine work — results carry
`photo_path`, which is the full contract a viewer needs. `describe-store`
covers the reference UI's browse/manage summaries (app.py:24-46)."""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F


def _spark():
    from photo_vector_search_spark.session import get_spark

    return get_spark("pvs-cli")


def _load_store(spark, store: str):
    from photo_vector_search_spark.operators.store import recover_store

    recover_store(store)  # restore from .old if a prior swap crashed
    if not os.path.exists(store):
        print(f"store not found: {store}", file=sys.stderr)
        raise SystemExit(2)
    return spark.read.parquet(store)


def _read_store_if_exists(spark, store: str):
    """Optional-existing read for write paths — MUST recover first: skipping it
    after a crashed swap would treat the store as empty and the following write
    would destroy the .old backup."""
    from photo_vector_search_spark.operators.store import recover_store

    recover_store(store)
    return spark.read.parquet(store) if os.path.exists(store) else None


def _print_results(rows, verbose: bool = True) -> None:
    # the reference's result block shape: path, aspect, distance, with the
    # description gated behind --verbose (cli.py:85-99, 107-133)
    for i, r in enumerate(rows, 1):
        print(f"{i}. {r['photo_path']}  [aspect={r['aspect_name']}]  distance={r['dist']:.4f}")
        if not verbose:
            continue
        desc = (r["description"] or "")[:200]
        if desc:
            print(f"   {desc}")


DEFAULT_PROMPT = "Describe this image in detail"
DEFAULT_MODEL = "stub-hash-projection"


def _resolve_embedder(name: str):
    """--model parity with the reference (cli.py:20): pick a registered embedder
    by name; unknown/unavailable names fail with the registry listed."""
    from photo_vector_search_spark.pipelines.embed import available_models, stub_embedder

    models = available_models()
    if name not in models or models[name]["kind"] != "embedder":
        options = [k for k, v in models.items() if v["kind"] == "embedder"]
        print(f"unknown embedder {name!r}; available: {options}", file=sys.stderr)
        raise SystemExit(2)
    if name == "stub-hash-projection":
        return stub_embedder()
    from photo_vector_search_spark.pipelines.models import clip_embedder

    return clip_embedder()  # registry only lists it when torch/clip exist


def cmd_index_photos(args) -> int:
    from photo_vector_search_spark.operators.store import snapshot_overwrite
    from photo_vector_search_spark.pipelines.embed import index_photos
    from photo_vector_search_spark.sources.binary_files import scan_images

    spark = _spark()
    files = scan_images(spark, args.photo_dir)
    n_files = files.count()
    if args.dedup or args.dedup_tau is not None:
        from photo_vector_search_spark.pipelines.photo_curation import (
            curate_photos,
        )

        files, dstats = curate_photos(
            files,
            tau=args.dedup_tau,
            # `is not None`, NOT truthiness: --dedup-tau 0.0 must still use
            # the requested model, not fall back to the stub (review finding)
            embedder=_resolve_embedder(args.model)
            if args.dedup_tau is not None
            else None,
            # reference behavior: every scannable file indexes (undecodable
            # rows embed via the stub and tally as describe failures)
            decode_gate=False,
        )
        print("dedup: " + " -> ".join(f"{k}={v}" for k, v in dstats.items()))
        n_files = list(dstats.values())[-1]  # last-stage survivor count
    existing = _read_store_if_exists(spark, args.store)
    state = index_photos(
        files,
        existing=existing,
        aspect_name=args.aspect_name,
        prompt=args.prompt,
        embedder=_resolve_embedder(args.model),
    )
    snapshot_overwrite(state, args.store)
    total = spark.read.parquet(args.store).count()
    print(f"indexed {n_files} files into {args.store} (store now {total} rows)")
    return 0


def cmd_add_aspect(args) -> int:
    """Reference `add-aspect` (cli.py:68-77): index ONE photo under a new aspect
    with a custom description prompt — an upsert of a single (photo, aspect) row."""
    from photo_vector_search_spark.operators.store import snapshot_overwrite
    from photo_vector_search_spark.pipelines.embed import index_photos

    spark = _spark()
    with open(args.photo, "rb") as f:
        content = f.read()
    files = spark.createDataFrame(
        [(os.path.abspath(args.photo), content)], "path string, content binary"
    )
    existing = _read_store_if_exists(spark, args.store)
    state = index_photos(
        files,
        existing=existing,
        aspect_name=args.aspect,
        prompt=args.prompt,
        embedder=_resolve_embedder(args.model),
    )
    snapshot_overwrite(state, args.store)
    print(f"added aspect {args.aspect!r} for {args.photo}")
    return 0


def _embed_query(embedder, value, model_name: str) -> list[float]:
    """Embed ONE query value driver-side through the same Embedder the store was
    indexed with (reference embeds the query through the same CLIP model,
    photo_vector_search.py:36-40; text queries go through its text tower)."""
    import pandas as pd

    out = embedder.make_fn()(pd.Series([value]))[0]
    if out is None:  # an Embedder signals per-row failure with None
        kind = "text" if isinstance(value, str) else "image"
        print(
            f"model {model_name!r} could not embed the {kind} query", file=sys.stderr
        )
        raise SystemExit(2)
    return list(out)


def _search(args, query_value, show_descriptions: bool) -> int:
    from photo_vector_search_spark.functions.vector import cosine_distance_to_query

    from photo_vector_search_spark.operators.knn import _valid_dist

    spark = _spark()
    store = _load_store(spark, args.store)
    query_vec = _embed_query(_resolve_embedder(args.model), query_value, args.model)
    # Fail loudly on store/query dim mismatch: zip_with would pad with NULLs,
    # every distance would be NULL, and the search would silently print nothing.
    # min AND max: a mixed-dim store (indexed under two models) must error too —
    # checking one row would silently drop every other-dim row from results.
    dims = store.agg(
        F.min(F.size("embedding")).alias("lo"), F.max(F.size("embedding")).alias("hi")
    ).first()
    if dims["lo"] is not None and not (dims["lo"] == dims["hi"] == len(query_vec)):
        stored = dims["lo"] if dims["lo"] == dims["hi"] else f"{dims['lo']}-{dims['hi']}"
        print(
            f"embedding dimension mismatch: store has {stored}-d vectors but "
            f"model {args.model!r} produces {len(query_vec)}-d queries; pass the "
            "--model the store was indexed with (mixed-dim stores need a "
            "re-index under one model)",
            file=sys.stderr,
        )
        raise SystemExit(2)
    if args.aspect:
        store = store.filter(F.col("aspect_name") == args.aspect)
    dist = cosine_distance_to_query(F.col("embedding"), query_vec)
    out = (
        store.select("photo_path", "aspect_name", "description", dist.alias("_d"))
        .filter(_valid_dist(F.col("_d")))  # zero-norm rows never rank (any path)
        # aspect_name in the sort: same-photo aspects share the stub embedding, so
        # (_d, photo_path) alone ties and the k-cutoff row would be run-dependent
        .orderBy(F.col("_d").asc(), F.col("photo_path").asc(), F.col("aspect_name").asc())
        .limit(args.k)
        .select("photo_path", "aspect_name", "description", F.col("_d").alias("dist"))
    )
    _print_results([r.asDict() for r in out.collect()], verbose=show_descriptions)
    return 0


def cmd_search_by_text(args) -> int:
    # Reference parity (cli.py:107-133): text search ALWAYS prints the
    # description; its --verbose is a COUNT option that raises the logging
    # level (-v/-vv), not an output gate.
    import logging

    log_levels = [logging.WARNING, logging.INFO, logging.DEBUG]
    logging.basicConfig(level=log_levels[min(args.verbose, len(log_levels) - 1)])
    return _search(args, args.query, show_descriptions=True)


def cmd_search_by_photo(args) -> int:
    with open(args.photo, "rb") as f:
        content = f.read()
    # raw bytes, same as the pipeline's content column: the stub hashes the byte
    # repr; a real CLIP embedder decodes them — either way index and query agree
    # Reference parity (cli.py:85-99): image search gates descriptions behind
    # --verbose (a boolean flag).
    return _search(args, content, show_descriptions=args.verbose)


def cmd_examine_image(args) -> int:
    spark = _spark()
    store = _load_store(spark, args.store)
    rows = (
        store.filter(F.col("photo_path") == args.photo)
        .select("aspect_name", "description")
        .orderBy("aspect_name")
        .collect()
    )
    if not rows:
        print(f"no entries for {args.photo}")
        return 1
    print(f"{args.photo}: {len(rows)} aspect(s)")
    for r in rows:
        print(f"  [{r.aspect_name}] {(r.description or '')[:200]}")
    return 0


def cmd_list_photos(args) -> int:
    spark = _spark()
    store = _load_store(spark, args.store)
    for r in store.select("photo_path").distinct().orderBy("photo_path").collect():
        print(r.photo_path)
    return 0


def cmd_delete_photo(args) -> int:
    from photo_vector_search_spark.operators.store import (
        delete_by_key,
        delete_where,
        snapshot_overwrite,
    )

    spark = _spark()
    store = _load_store(spark, args.store).cache()  # one scan feeds both counts + write
    if args.aspect:
        new_state = delete_by_key(store, args.photo, args.aspect)
    else:
        new_state = delete_where(store, F.col("photo_path") == args.photo)
    removed = store.count() - new_state.count()
    snapshot_overwrite(new_state, args.store)
    store.unpersist()
    print(f"deleted {removed} row(s) for {args.photo}")
    return 0


def cmd_clear_store(args) -> int:
    from photo_vector_search_spark.operators.store import snapshot_overwrite, truncate

    spark = _spark()
    store = _load_store(spark, args.store)
    snapshot_overwrite(truncate(store), args.store)
    print(f"cleared {args.store}")
    return 0


def cmd_delete_store(args) -> int:
    from photo_vector_search_spark.operators.store import drop_store

    if not args.yes:
        print("refusing to delete without --yes (the reference prompts interactively)")
        return 2
    drop_store(args.store)
    print(f"deleted {args.store}")
    return 0


def cmd_describe_store(args) -> int:
    from photo_vector_search_spark.operators.store import describe_store

    spark = _spark()
    store = _load_store(spark, args.store)
    rows = describe_store(store).orderBy("aspect_name").collect()
    total = sum(r.n_rows for r in rows)
    print(f"{args.store}: {total} row(s), {len(rows)} aspect(s)")
    for r in rows:
        dim = r.dim_min if r.dim_min == r.dim_max else f"{r.dim_min}-{r.dim_max}"
        print(
            f"  [{r.aspect_name}] rows={r.n_rows} photos={r.n_photos} "
            f"described={r.n_described} dim={dim}"
        )
    return 0


def cmd_curate_corpus(args) -> int:
    """Text-corpus curation end-to-end from the CLI: documents parquet in
    (doc_id, text, ...) — or raw CommonCrawl WET files via ``--wet`` —
    per-stage survivor counts on stdout, JSONL shards out: the library
    pipeline (`pipelines/curation.curate_corpus`) with its defaults, plus
    the common opt-ins as flags."""
    from photo_vector_search_spark.pipelines.curation import curate_corpus

    if (args.docs is None) == (args.wet is None):
        print("pass exactly one of --docs or --wet", file=sys.stderr)
        return 2
    spark = _spark()
    if args.wet is not None:
        from photo_vector_search_spark.sources.warc import (
            read_wet,
            wet_id_collisions,
            wet_to_documents,
        )

        wet = read_wet(spark, args.wet)
        audit = wet_id_collisions(wet)
        print(
            f"wet ingest: {audit['record_ids']} record id(s) -> "
            f"{audit['doc_ids']} doc id(s), {audit['collisions']} collision(s)"
        )
        if audit["collisions"]:
            print(
                "WARNING: doc_id hash collisions — colliding records will "
                "merge downstream; consider keeping record_id alongside",
                file=sys.stderr,
            )
        docs = wet_to_documents(wet)
    else:
        docs = spark.read.parquet(args.docs)
    if "doc_id" not in docs.columns or "text" not in docs.columns:
        print(
            f"--docs must have doc_id and text columns, got {docs.columns}",
            file=sys.stderr,
        )
        return 2
    # validate BEFORE the expensive KN training pass: a bad fraction must be
    # a usage error (stderr + exit 2), not a post-training traceback
    for flag, val in (
        ("--kn-keep-frac", args.kn_keep_frac),
        ("--prototype-keep-frac", args.prototype_keep_frac),
    ):
        if val is not None and not 0.0 < val <= 1.0:
            print(f"{flag} must be in (0, 1], got {val}", file=sys.stderr)
            return 2
    if args.prototype_clusters < 1:
        print(
            f"--prototype-clusters must be >= 1, got "
            f"{args.prototype_clusters}",
            file=sys.stderr,
        )
        return 2
    if args.budget_tokens is not None and args.budget_tokens < 0:
        print(
            f"--budget-tokens must be >= 0, got {args.budget_tokens}",
            file=sys.stderr,
        )
        return 2
    kn_lm = None
    if args.kn_keep_frac is not None or args.budget_tokens is not None:
        # CCNet setup wants a clean-corpus LM; self-trained still ranks
        # outliers last, which is what the keep-fraction rule consumes
        from photo_vector_search_spark.operators.kneser_ney import train_kn_lm

        kn_lm = train_kn_lm(docs.select("doc_id", "text"))
    _, stats = curate_corpus(
        docs,
        quality_gate=not args.no_quality_gate,
        compression_bounds=(
            tuple(args.compression_bounds)
            if args.compression_bounds
            else None
        ),
        near_dedup=args.near_dedup,
        lsh_tau=args.tau,
        substring_ngram=args.substring_ngram,
        kn_lm=kn_lm,
        kn_keep_frac=args.kn_keep_frac,  # None = budget-only: no KN filter
        budget_tokens=args.budget_tokens,
        prototype_keep_frac=args.prototype_keep_frac,
        prototype_clusters=args.prototype_clusters,
        shuffle_seed=args.seed,
        export_path=args.out,
        n_shards=args.shards,
    )
    for key, val in stats.items():
        print(f"{key}: {val}")
    print(f"shards written to {args.out}")
    return 0


def cmd_search_text(args) -> int:
    """BM25 lexical search over a documents parquet — the keyword sibling of
    search-photos-by-text (`operators/bm25`). Prints rank, id, score and a
    text snippet per hit. ``--expand rm3`` turns on pseudo-relevance
    feedback (RM3: feedback top --fb-docs, --fb-terms expansion terms,
    --alpha original-query weight)."""
    from photo_vector_search_spark.operators.bm25 import bm25_topk, rm3_topk

    spark = _spark()
    docs = spark.read.parquet(args.docs)
    if "doc_id" not in docs.columns or "text" not in docs.columns:
        print(
            f"--docs must have doc_id and text columns, got {docs.columns}",
            file=sys.stderr,
        )
        return 2
    try:
        if args.expand == "rm3":
            top = rm3_topk(
                docs,
                args.query,
                k=args.k,
                fb_docs=args.fb_docs,
                fb_terms=args.fb_terms,
                alpha=args.alpha,
            ).withColumnRenamed("score", "bm25")
        else:
            top = bm25_topk(docs, args.query, k=args.k)
        top = top.join(docs.select("doc_id", "text"), "doc_id")
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    rows = top.orderBy("rank").collect()
    if not rows:
        print("no matches")
        return 1
    for r in rows:
        snippet = (r["text"] or "").replace("\n", " ")[:120]
        print(f"{r['rank']:>3}. doc {r['doc_id']}  bm25={r['bm25']:.6f}  {snippet}")
    return 0


def cmd_search_hybrid(args) -> int:
    """Hybrid text search: in-engine embedding cosine + BM25, RRF-fused
    (`operators/fusion.hybrid_text_search`). --embeddings rows join the
    result by vec_id == doc_id."""
    from photo_vector_search_spark.operators.fusion import hybrid_text_search

    spark = _spark()
    docs = spark.read.parquet(args.docs)
    emb = spark.read.parquet(args.embeddings)
    try:
        fused = hybrid_text_search(
            docs,
            emb,
            args.query,
            k=args.k,
            weights=(args.vector_weight, args.lexical_weight),
        )
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    rows = (
        fused.join(docs.select("doc_id", "text"), "doc_id", "left")
        .orderBy("rank")
        .collect()
    )
    if not rows:
        print("no matches")
        return 1
    for r in rows:
        snippet = (r["text"] or "").replace("\n", " ")[:120]
        print(
            f"{r['rank']:>3}. doc {r['doc_id']}  rrf={r['rrf_score']:.6f}  {snippet}"
        )
    return 0


def cmd_vector_index(args) -> int:
    """IVF,SQ8 vector-index lifecycle over an embeddings parquet — the
    engine-native form of the reference's index-photos/delete-photo loop
    (photo_vector_search.py:84-117), with incremental delta upserts,
    tombstone deletes, live serving, and offline compaction
    (`operators/sq`, `operators/index_maintenance`)."""
    from photo_vector_search_spark.operators.index_maintenance import (
        compact_ivf_sq8_store,
        delete_from_ivf_sq8_store,
        live_ivf_sq8_topk,
        upsert_ivf_sq8_store,
    )
    from photo_vector_search_spark.operators.sq import build_ivf_sq8_store

    spark = _spark()
    try:
        if args.index_cmd == "build":
            emb = spark.read.parquet(args.embeddings)
            build_ivf_sq8_store(emb, args.index, n_clusters=args.clusters)
            print(f"built IVF,SQ8 index at {args.index} "
                  f"({emb.count()} vectors, {args.clusters} clusters)")
        elif args.index_cmd == "upsert":
            emb = spark.read.parquet(args.embeddings)
            n = upsert_ivf_sq8_store(spark, args.index, emb)
            print(f"upserted {n} vectors into the delta segment")
        elif args.index_cmd == "delete":
            n = delete_from_ivf_sq8_store(spark, args.index, args.ids)
            print(f"tombstoned {n} ids")
        elif args.index_cmd == "compact":
            n = compact_ivf_sq8_store(spark, args.index)
            print(f"compacted to {n} live rows (delta and tombstones cleared)")
        elif args.index_cmd == "search":
            emb = spark.read.parquet(args.embeddings)
            row = emb.filter(F.col("vec_id") == args.query_id).first()
            if row is None:
                print(f"query vec_id {args.query_id} not in --embeddings",
                      file=sys.stderr)
                return 2
            hits = live_ivf_sq8_topk(
                spark, args.index, row["embedding"], k=args.k,
                nprobe=args.nprobe,
            ).collect()
            for r in hits:
                print(f"{r['rank']:>3}. vec {r['vec_id']}  label={r['label']}"
                      f"  dist={r['dist']:.6f}")
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    return 0


def _check_docs(docs) -> bool:
    """The --docs parquet must carry doc_id and text; prints why not."""
    if "doc_id" not in docs.columns or "text" not in docs.columns:
        print(
            f"--docs must have doc_id and text columns, got {docs.columns}",
            file=sys.stderr,
        )
        return False
    return True


def cmd_colbert_index(args) -> int:
    """Late-interaction (ColBERT MaxSim) index lifecycle over a documents
    parquet — build persists the per-token embedding matrices once
    (`operators/late_interaction.build_maxsim_store`); upsert/delete grow
    it incrementally through the delta segment
    (`operators/maxsim_maintenance`); search serves from the store (or the
    live base+delta−tombstones view with --live) without re-embedding the
    corpus; compact folds the delta back into the base offline."""
    from photo_vector_search_spark.operators.late_interaction import (
        build_maxsim_store,
        maxsim_store_search,
    )
    from photo_vector_search_spark.operators.maxsim_maintenance import (
        compact_maxsim_store,
        delete_from_maxsim_store,
        live_maxsim_search,
        upsert_maxsim_store,
    )

    spark = _spark()
    try:
        if args.index_cmd == "build":
            docs = spark.read.parquet(args.docs)
            if not _check_docs(docs):
                return 2
            build_id = build_maxsim_store(
                docs, args.index, max_tokens=args.max_tokens,
                n_clusters=args.clusters,
            )
            print(f"built MaxSim token store at {args.index} (build {build_id})")
        elif args.index_cmd == "upsert":
            docs = spark.read.parquet(args.docs)
            if not _check_docs(docs):
                return 2
            n = upsert_maxsim_store(spark, args.index, docs)
            print(f"upserted {n} docs into the delta segment")
        elif args.index_cmd == "delete":
            n = delete_from_maxsim_store(spark, args.index, args.ids)
            print(f"tombstoned {n} ids")
        elif args.index_cmd == "compact":
            n = compact_maxsim_store(spark, args.index)
            print(f"compacted to {n} live docs (delta and tombstones cleared)")
        elif args.index_cmd == "search":
            fn = live_maxsim_search if args.live else maxsim_store_search
            hits = fn(
                spark, args.index, args.query, k=args.k,
                prefilter_n=args.prefilter, nprobe=args.nprobe,
            ).collect()
            if not hits:
                print("no matches")
                return 1
            for r in hits:
                print(f"{r['rank']:>3}. doc {r['doc_id']}  "
                      f"maxsim={r['maxsim']:.6f}")
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    return 0


def cmd_bm25_index(args) -> int:
    """BM25 postings-store lifecycle over a documents parquet — build
    tokenizes the corpus ONCE into bucket-partitioned postings
    (`operators/bm25_store`); upsert/delete grow it through the delta
    segments; search serves from the base snapshot (or the live view with
    --live) reading only the query terms' bucket partitions; compact folds
    the deltas back offline."""
    from photo_vector_search_spark.operators.bm25_store import (
        bm25_store_topk,
        build_bm25_store,
        compact_bm25_store,
        delete_from_bm25_store,
        live_bm25_topk,
        upsert_bm25_store,
    )

    spark = _spark()
    try:
        if args.index_cmd == "build":
            docs = spark.read.parquet(args.docs)
            if not _check_docs(docs):
                return 2
            meta = build_bm25_store(docs, args.index, n_buckets=args.buckets)
            print(
                f"built BM25 postings store at {args.index} "
                f"(build {meta['build_id']}, {meta['n_docs']} docs, "
                f"{meta['n_buckets']} buckets)"
            )
        elif args.index_cmd == "upsert":
            docs = spark.read.parquet(args.docs)
            if not _check_docs(docs):
                return 2
            n = upsert_bm25_store(spark, args.index, docs)
            print(f"upserted {n} docs into the delta segments")
        elif args.index_cmd == "delete":
            n = delete_from_bm25_store(spark, args.index, args.ids)
            print(f"tombstoned {n} ids")
        elif args.index_cmd == "compact":
            n = compact_bm25_store(spark, args.index)
            print(f"compacted to {n} live docs (deltas and tombstones cleared)")
        elif args.index_cmd == "search":
            fn = live_bm25_topk if args.live else bm25_store_topk
            hits = fn(
                spark, args.index, args.query, k=args.k, k1=args.k1, b=args.b
            ).collect()
            if not hits:
                print("no matches")
                return 1
            for r in hits:
                print(
                    f"{r['rank']:>3}. doc {r['doc_id']}  "
                    f"bm25={r['bm25']:.6f}  ({r['n_terms']} terms)"
                )
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    return 0


def cmd_cv2_index(args) -> int:
    """ColBERTv2-style residual-compressed token store — build embeds the
    corpus, fits the token-centroid + SQ8-residual quantizer, and persists
    codes-only rows (`operators/token_compression`); upsert/delete grow it
    incrementally through the delta segment against the FROZEN quantizer
    (`operators/cv2_maintenance`); search decodes asymmetrically inside the
    scoring kernel (optionally prefiltered by the exact pooled column, or
    over the live base+delta−tombstones view with --live); compact folds
    the delta back into the base offline."""
    from photo_vector_search_spark.operators.cv2_maintenance import (
        compact_colbertv2_store,
        delete_from_colbertv2_store,
        live_colbertv2_search,
        upsert_colbertv2_store,
    )
    from photo_vector_search_spark.operators.token_compression import (
        build_colbertv2_store,
        colbertv2_store_search,
    )

    spark = _spark()
    try:
        if args.index_cmd == "build":
            docs = spark.read.parquet(args.docs)
            if not _check_docs(docs):
                return 2
            build_id = build_colbertv2_store(
                docs, args.index, max_tokens=args.max_tokens,
                n_centroids=args.centroids,
            )
            print(
                f"built ColBERTv2 compressed token store at {args.index} "
                f"(build {build_id})"
            )
        elif args.index_cmd == "upsert":
            docs = spark.read.parquet(args.docs)
            if not _check_docs(docs):
                return 2
            n = upsert_colbertv2_store(spark, args.index, docs)
            print(f"upserted {n} docs into the delta segment")
        elif args.index_cmd == "delete":
            n = delete_from_colbertv2_store(spark, args.index, args.ids)
            print(f"tombstoned {n} ids")
        elif args.index_cmd == "compact":
            n = compact_colbertv2_store(spark, args.index)
            print(f"compacted to {n} live docs (delta and tombstones cleared)")
        elif args.index_cmd == "search":
            fn = live_colbertv2_search if args.live else colbertv2_store_search
            hits = fn(
                spark, args.index, args.query, k=args.k,
                prefilter_n=args.prefilter,
            ).collect()
            if not hits:
                print("no matches")
                return 1
            for r in hits:
                print(f"{r['rank']:>3}. doc {r['doc_id']}  "
                      f"maxsim={r['maxsim']:.6f}")
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    return 0


def cmd_list_models(args) -> int:
    from photo_vector_search_spark.pipelines.embed import available_models

    for name, meta in available_models().items():
        print(f"{name}  ({', '.join(f'{k}={v}' for k, v in sorted(meta.items()))})")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="photo-vector-search-spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, store=True):
        if store:
            sp.add_argument("--store", required=True, help="parquet store directory")

    sp = sub.add_parser("index-photos")
    sp.add_argument("--photo-dir", required=True)
    sp.add_argument("--aspect-name", default="default")
    sp.add_argument("--prompt", default=DEFAULT_PROMPT)
    sp.add_argument("--model", default=DEFAULT_MODEL)
    sp.add_argument(
        "--dedup",
        action="store_true",
        help="curate before indexing: drop exact/undecodable/perceptual "
        "duplicates (pipelines.photo_curation), printing per-stage counts",
    )
    sp.add_argument(
        "--dedup-tau",
        type=float,
        default=None,
        help="also drop semantic duplicates at this cosine threshold "
        "(embeds with --model; implies --dedup's ladder first)",
    )
    common(sp)
    sp.set_defaults(fn=cmd_index_photos)

    sp = sub.add_parser("add-aspect")
    sp.add_argument("--photo", required=True)
    sp.add_argument("--aspect", required=True)
    sp.add_argument("--prompt", required=True)
    sp.add_argument("--model", default=DEFAULT_MODEL)
    common(sp)
    sp.set_defaults(fn=cmd_add_aspect)

    for name, fn, extra in [
        ("search-photos-by-text", cmd_search_by_text, ("--query",)),
        ("search-photos", cmd_search_by_photo, ("--photo",)),
    ]:
        sp = sub.add_parser(name)
        sp.add_argument(extra[0], required=True)
        sp.add_argument("-k", type=int, default=5)
        sp.add_argument("--aspect", default=None)
        sp.add_argument("--model", default=DEFAULT_MODEL)
        if name == "search-photos-by-text":
            # count option raising log verbosity; descriptions always print
            # (reference cli.py:107: count=True)
            sp.add_argument("-v", "--verbose", action="count", default=0,
                            help="increase log verbosity (-v, -vv)")
        else:
            # boolean gate on descriptions (reference cli.py:85: is_flag=True)
            sp.add_argument("--verbose", action="store_true",
                            help="include descriptions in results")
        common(sp)
        sp.set_defaults(fn=fn)

    sp = sub.add_parser("examine-image")
    sp.add_argument("--photo", required=True)
    common(sp)
    sp.set_defaults(fn=cmd_examine_image)

    sp = sub.add_parser("list-photos")
    common(sp)
    sp.set_defaults(fn=cmd_list_photos)

    sp = sub.add_parser("delete-photo")
    sp.add_argument("--photo", required=True)
    sp.add_argument("--aspect", default=None)
    common(sp)
    sp.set_defaults(fn=cmd_delete_photo)

    sp = sub.add_parser("clear-store")
    common(sp)
    sp.set_defaults(fn=cmd_clear_store)

    sp = sub.add_parser("delete-store")
    sp.add_argument("--yes", action="store_true")
    common(sp)
    sp.set_defaults(fn=cmd_delete_store)

    sp = sub.add_parser("describe-store")
    common(sp)
    sp.set_defaults(fn=cmd_describe_store)

    sp = sub.add_parser(
        "curate-corpus",
        help="curate a documents parquet into shuffled JSONL shards",
    )
    sp.add_argument("--docs", default=None, help="documents parquet path")
    sp.add_argument(
        "--wet", default=None,
        help="CommonCrawl WET directory (*.warc.wet[.gz]) to curate instead "
        "of a documents parquet",
    )
    sp.add_argument("--out", required=True, help="output JSONL shard dir")
    sp.add_argument("--shards", type=int, default=8)
    sp.add_argument("--tau", type=float, default=0.5, help="near-dup LSH tau")
    sp.add_argument(
        "--near-dedup", choices=("greedy", "cluster"), default="greedy"
    )
    sp.add_argument(
        "--substring-ngram", type=int, default=None,
        help="also remove exact repeated n-gram spans at this length",
    )
    sp.add_argument(
        "--no-quality-gate", action="store_true",
        help="skip the Gopher rule gate (pre-filtered corpora)",
    )
    sp.add_argument(
        "--compression-bounds", type=float, nargs=2, default=None,
        metavar=("LO", "HI"),
        help="also drop docs whose zlib ratio falls outside [LO, HI]",
    )
    sp.add_argument(
        "--kn-keep-frac", type=float, default=None,
        help="also run the Kneser-Ney perplexity tier, keeping this "
        "fraction of the most fluent docs (LM trained on the corpus)",
    )
    sp.add_argument(
        "--prototype-keep-frac", type=float, default=None,
        help="also run prototype-difficulty pruning after dedup, keeping "
        "this fraction of the hardest docs per cluster",
    )
    sp.add_argument(
        "--budget-tokens", type=int, default=None,
        help="terminal cut: keep only the most-fluent prefix (KN-ranked) "
        "whose cumulative token count fits this budget",
    )
    sp.add_argument("--prototype-clusters", type=int, default=16)
    sp.add_argument("--seed", type=int, default=0, help="shuffle seed")
    sp.set_defaults(fn=cmd_curate_corpus)

    sp = sub.add_parser(
        "search-text", help="BM25 lexical search over a documents parquet"
    )
    sp.add_argument("--docs", required=True, help="documents parquet path")
    sp.add_argument("query")
    sp.add_argument("-k", type=int, default=10)
    sp.add_argument(
        "--expand",
        choices=["rm3"],
        default=None,
        help="query expansion: rm3 = pseudo-relevance feedback",
    )
    sp.add_argument("--fb-docs", type=int, default=10)
    sp.add_argument("--fb-terms", type=int, default=10)
    sp.add_argument("--alpha", type=float, default=0.5)
    sp.set_defaults(fn=cmd_search_text)

    sp = sub.add_parser(
        "search-hybrid",
        help="hybrid text search: embedding cosine + BM25, RRF-fused",
    )
    sp.add_argument("--docs", required=True, help="documents parquet path")
    sp.add_argument(
        "--embeddings", required=True, help="embeddings parquet path"
    )
    sp.add_argument("query")
    sp.add_argument("-k", type=int, default=10)
    sp.add_argument("--vector-weight", type=float, default=1.0)
    sp.add_argument("--lexical-weight", type=float, default=1.0)
    sp.set_defaults(fn=cmd_search_hybrid)

    sp = sub.add_parser(
        "vector-index",
        help="IVF,SQ8 index lifecycle: build/upsert/delete/compact/search",
    )
    isub = sp.add_subparsers(dest="index_cmd", required=True)
    for name in ("build", "upsert", "delete", "compact", "search"):
        ip = isub.add_parser(name)
        ip.add_argument("--index", required=True, help="index store path")
        if name in ("build", "upsert", "search"):
            ip.add_argument("--embeddings", required=True,
                            help="embeddings parquet (vec_id, embedding, label)")
        if name == "build":
            ip.add_argument("--clusters", type=int, default=16)
        if name == "delete":
            ip.add_argument("--ids", type=int, nargs="+", required=True)
        if name == "search":
            ip.add_argument("--query-id", type=int, required=True)
            ip.add_argument("-k", type=int, default=5)
            ip.add_argument("--nprobe", type=int, default=4)
        ip.set_defaults(fn=cmd_vector_index)

    sp = sub.add_parser(
        "colbert-index",
        help="late-interaction (MaxSim) token store: "
        "build/upsert/delete/compact/search",
    )
    csub = sp.add_subparsers(dest="index_cmd", required=True)
    for name in ("build", "upsert", "delete", "compact", "search"):
        cp = csub.add_parser(name)
        cp.add_argument("--index", required=True, help="token store path")
        if name in ("build", "upsert"):
            cp.add_argument("--docs", required=True,
                            help="documents parquet (doc_id, text)")
        if name == "build":
            cp.add_argument("--max-tokens", type=int, default=16,
                            help="per-document token budget")
            cp.add_argument("--clusters", type=int, default=None,
                            help="PLAID-style clustered layout (pooled-vector "
                            "k-means; enables search --nprobe)")
        if name == "delete":
            cp.add_argument("--ids", type=int, nargs="+", required=True)
        if name == "search":
            cp.add_argument("query")
            cp.add_argument("-k", type=int, default=10)
            cp.add_argument("--prefilter", type=int, default=None,
                            help="pooled-cosine candidate pool (None = exact)")
            cp.add_argument("--nprobe", type=int, default=None,
                            help="clustered stores: probe top-n clusters")
            cp.add_argument("--live", action="store_true",
                            help="serve base + delta - tombstones")
        cp.set_defaults(fn=cmd_colbert_index)

    sp = sub.add_parser(
        "bm25-index",
        help="persisted BM25 postings store: "
        "build/upsert/delete/compact/search",
    )
    bsub = sp.add_subparsers(dest="index_cmd", required=True)
    for name in ("build", "upsert", "delete", "compact", "search"):
        bp = bsub.add_parser(name)
        bp.add_argument("--index", required=True, help="postings store path")
        if name in ("build", "upsert"):
            bp.add_argument("--docs", required=True,
                            help="documents parquet (doc_id, text)")
        if name == "build":
            bp.add_argument("--buckets", type=int, default=64,
                            help="term-hash partition count")
        if name == "delete":
            bp.add_argument("--ids", type=int, nargs="+", required=True)
        if name == "search":
            bp.add_argument("query")
            bp.add_argument("-k", type=int, default=10)
            bp.add_argument("--k1", type=float, default=1.2)
            bp.add_argument("--b", type=float, default=0.75)
            bp.add_argument("--live", action="store_true",
                            help="serve base + deltas - tombstones")
        bp.set_defaults(fn=cmd_bm25_index)

    sp = sub.add_parser(
        "cv2-index",
        help="ColBERTv2-style residual-compressed token store: "
        "build/upsert/delete/compact/search",
    )
    vsub = sp.add_subparsers(dest="index_cmd", required=True)
    for name in ("build", "upsert", "delete", "compact", "search"):
        vp = vsub.add_parser(name)
        vp.add_argument("--index", required=True, help="compressed store path")
        if name in ("build", "upsert"):
            vp.add_argument("--docs", required=True,
                            help="documents parquet (doc_id, text)")
        if name == "build":
            vp.add_argument("--max-tokens", type=int, default=16)
            vp.add_argument("--centroids", type=int, default=256,
                            help="token-codebook size")
        if name == "delete":
            vp.add_argument("--ids", type=int, nargs="+", required=True)
        if name == "search":
            vp.add_argument("query")
            vp.add_argument("-k", type=int, default=10)
            vp.add_argument("--prefilter", type=int, default=None,
                            help="pooled-cosine candidate pool (None = full)")
            vp.add_argument("--live", action="store_true",
                            help="serve base + delta - tombstones")
        vp.set_defaults(fn=cmd_cv2_index)

    sp = sub.add_parser("list-models")
    sp.set_defaults(fn=cmd_list_models)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
