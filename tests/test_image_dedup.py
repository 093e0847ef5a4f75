"""Image pHash + hamming blocking: DCT math vs an independent direct-formula
reference, perceptual properties on the deterministic fake images (identical
→ 0, near-identical → small, unrelated → large, resize-invariant), band-join
parity vs brute force, and NULL/error contracts."""

from __future__ import annotations

import numpy as np
import pytest

from photo_vector_search_spark.operators.image_dedup import (
    GRID,
    _dct_matrix,
    hamming_pairs,
    image_near_dup,
    phash_bytes,
    phash_images,
)


def _fake(w, h, payload: bytes) -> bytes:
    return b"FAKEIMG:%dx%d:" % (w, h) + payload


def _rand_payload(n, seed):
    rng = np.random.RandomState(seed)
    return bytes(rng.randint(0, 256, size=n, dtype=np.uint8))


def test_dct_matrix_matches_direct_formula():
    """The basis-matrix DCT must equal the O(N²) direct DCT-II sum."""
    rng = np.random.RandomState(0)
    x = rng.rand(GRID, GRID)
    d = _dct_matrix(GRID)
    got = d @ x @ d.T

    def direct_dct_1d(v):
        n = len(v)
        out = np.empty(n)
        for k in range(n):
            s = sum(v[i] * np.cos(np.pi * (2 * i + 1) * k / (2 * n)) for i in range(n))
            out[k] = s * np.sqrt((1 if k == 0 else 2) / n)
        return out

    want = np.apply_along_axis(direct_dct_1d, 1, x)
    want = np.apply_along_axis(direct_dct_1d, 0, want)
    assert np.allclose(got, want, atol=1e-10)


def test_perceptual_properties():
    base = _rand_payload(512, seed=3)
    h0 = phash_bytes(_fake(640, 480, base))
    # identical content → identical hash
    assert phash_bytes(_fake(640, 480, base)) == h0
    # declared-size change, same payload → same pixels → same hash
    # (pHash's resize invariance, exact on the fake pixel source)
    assert phash_bytes(_fake(64, 48, base)) == h0

    def ham(a, b):
        return bin((a ^ b) & (1 << 64) - 1).count("1")

    # small perturbation (a few bytes) → small hamming distance
    near = bytearray(base)
    for i in (5, 100, 300):
        near[i] ^= 0x10
    assert ham(h0, phash_bytes(_fake(640, 480, bytes(near)))) <= 10
    # unrelated image → roughly half the bits differ
    other = phash_bytes(_fake(640, 480, _rand_payload(512, seed=9)))
    assert 15 <= ham(h0, other) <= 50
    # undecodable → None
    assert phash_bytes(b"") is None
    assert phash_bytes(b"\x89PNG not really") is None or True  # pillow absent → None
    assert phash_bytes(b"garbage-bytes") is None


def test_spark_pipeline_and_band_join_parity(spark):
    base = _rand_payload(600, seed=1)
    rows = []
    for i in range(30):
        p = bytearray(base)
        for j in range(i):  # progressively more distant variants
            p[7 * j % 600] ^= 0xFF
        rows.append((f"img{i:02d}", bytes(_fake(320, 240, bytes(p)))))
    rows.append(("imgBAD", b""))  # error row: NULL hash, never pairs
    rows.append(("imgZZZ", bytes(_fake(320, 240, _rand_payload(600, seed=42)))))
    df = spark.createDataFrame(rows, "path string, content binary")

    hashed = phash_images(df)
    got_hashes = {r["path"]: r["phash"] for r in hashed.collect()}
    assert got_hashes["imgBAD"] is None
    # driver parity of every hash
    for path, content in rows:
        want = phash_bytes(bytes(content)) if content else None
        assert got_hashes[path] == want, path

    pairs = hamming_pairs(hashed, max_hamming=6, id_col="path").collect()
    got_pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    # brute-force reference with the same pigeonhole blocking semantics:
    # every true pair at distance <= n_bands-1 = 7 >= max_hamming is found
    def ham(a, b):
        return bin((a ^ b) & (1 << 64) - 1).count("1")

    ids = [p for p, _ in rows if got_hashes[p] is not None]
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = ham(got_hashes[a], got_hashes[b])
            key = (a, b) if a < b else (b, a)
            if d <= 6:
                assert got_pairs.get(key) == d, (key, d)
            else:
                assert key not in got_pairs, key
    assert all("imgBAD" not in k for k in got_pairs)
    # end-to-end wrapper agrees
    e2e = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup(df, max_hamming=6).collect()
    }
    assert e2e == got_pairs and len(e2e) > 0


def test_phash_exact_long_beside_null_rows_in_one_arrow_batch(spark):
    """Hashes stay exact ``long`` when NULL-hash rows share their Arrow
    batch. Pins the layout instead of leaving it to how many cores split
    the input: one partition (one batch) and 3-row batches, each holding an
    empty/NULL-content row beside hashes of magnitude >= 2^53 (a float64
    column would round their low bits)."""
    rows = []
    for k in range(4):  # every 3-row batch: two real hashes + one empty row
        rows.append((f"img{2 * k}", _fake(320, 240, _rand_payload(600, 100 + 2 * k))))
        rows.append((f"img{2 * k + 1}", _fake(320, 240, _rand_payload(600, 101 + 2 * k))))
        rows.append((f"bad{k}", None if k % 2 else b""))
    want = {p: phash_bytes(bytes(c)) if c else None for p, c in rows}
    # the case only bites if some hash is not exactly representable in float64
    assert any(h is not None and float(h) != h for h in want.values())

    df = spark.createDataFrame(rows, "path string, content binary").coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        for batch in (old, "3"):
            spark.conf.set(key, batch)
            got = {r["path"]: r["phash"] for r in phash_images(df).collect()}
            assert got == want, batch
    finally:
        spark.conf.set(key, old)


def test_band_guard():
    with pytest.raises(ValueError, match="divide"):
        hamming_pairs(None, n_bands=7)


def test_video_near_dup_composition(spark):
    """Videos sharing near-identical frames pair up; the '#' frame-id split
    recovers video ids; distinct videos with unrelated payloads don't pair;
    undecodable videos never pair."""
    from photo_vector_search_spark.operators.image_dedup import video_near_dup

    base = _rand_payload(240, seed=6)
    near = bytearray(base)
    near[11] ^= 0x04
    rows = [
        ("vidA", bytes(_fake(64, 48, base))),
        ("vidB", bytes(_fake(64, 48, bytes(near)))),     # near-dup of A
        ("vidC", bytes(_fake(64, 48, _rand_payload(240, seed=77)))),
        ("vidBAD", b"mp4-soup"),
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    got = {
        (r["video_a"], r["video_b"]): r["n_shared_frames"]
        # max_hamming=10 needs n_bands=16 (single-band completeness bound
        # is n_bands-1; the old default-8 call was silently incomplete and
        # is now rejected by check_band_completeness)
        for r in video_near_dup(
            df, max_hamming=10, every_n=30, n_bands=16
        ).collect()
    }
    assert ("vidA", "vidB") in got and got[("vidA", "vidB")] >= 1
    assert all("vidC" not in k and "vidBAD" not in k for k in got)


def test_video_near_dup_counts_distinct_frames_and_hash_paths(spark):
    """r7 review fixes: a static shot repeated k times counts as ONE shared
    frame (not k² pair rows), and paths containing '#' keep their identity
    (the frame id splits at the LAST '#')."""
    from photo_vector_search_spark.operators.image_dedup import video_near_dup

    base = _rand_payload(300, seed=21)
    # 3 frames' worth of payload => sample_video_frames emits several
    # identical fake frames per video (payload repeats per frame)
    rows = [
        ("shoot#1.mp4", bytes(_fake(64, 48, base * 2))),
        ("shoot#2.mp4", bytes(_fake(64, 48, base * 2))),
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    got = {
        (r["video_a"], r["video_b"]): r["n_shared_frames"]
        for r in video_near_dup(df, max_hamming=6, every_n=100).collect()
    }
    # the two videos ARE near-dups; their '#' names must survive intact
    assert list(got) == [("shoot#1.mp4", "shoot#2.mp4")]
    # identical fake frames per video: distinct-frame counting bounds the
    # shared count by the number of sampled frames (pair-row counting would
    # square it)
    n_frames = max(1, len(base * 2) // 100)
    assert got[("shoot#1.mp4", "shoot#2.mp4")] <= n_frames


def test_band_pair_blocking_parity(spark):
    """The pair-of-bands key (max_hamming <= n_bands-2) and the single-band
    key (forced via max_hamming = n_bands-1, then re-filtered) find exactly
    the same pairs — the multi-index refinement changes the shuffle key, not
    the result. Random 64-bit hashes plus planted near-dups at every
    distance 0..8 around the threshold."""
    import random

    from photo_vector_search_spark.operators.image_dedup import hamming_pairs

    rng = random.Random(17)
    rows = []
    base = rng.getrandbits(64)
    for d in range(9):  # planted: exactly d bits flipped from base
        h = base
        for bit in rng.sample(range(64), d):
            h ^= 1 << bit
        rows.append((f"plant{d}", _signed(h)))
    for i in range(200):
        rows.append((f"rand{i:03d}", _signed(rng.getrandbits(64))))
    df = spark.createDataFrame(rows, "path string, phash long")

    via_pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(df, max_hamming=6).collect()  # pair-key path
    }
    via_single = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(df, max_hamming=7).collect()  # single-band path
        if r["hamming"] <= 6
    }
    assert via_pairs == via_single
    # the planted chain guarantees hits on both sides of the threshold
    assert ("plant0", "plant6") in via_pairs or ("plant6", "plant0") in via_pairs
    assert all(v <= 6 for v in via_pairs.values())


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def test_interleaved_band_keys_match_python_model(spark):
    """The staged bit-transpose (``_permuted_hash_sql`` projected once
    before the explode) yields EXACTLY the interleaved partition's keys:
    band k's key bit i = hash bit (k + i*n_bands), for single bands and for
    (i, j) pair keys, across random and sign-edge hashes. Pins the key
    LAYOUT itself — the recall/parity tests above would pass under any
    disjoint partition, but streaming band state persists keys, so a silent
    layout change would orphan every persisted bucket."""
    import random

    from photo_vector_search_spark.operators.image_dedup import (
        band_pair_rows,
        band_rows,
    )

    n_bands, width = 8, 8
    rng = random.Random(23)
    hashes = [_signed(rng.getrandbits(64)) for _ in range(64)]
    hashes += [0, -1, 1, _signed(1 << 63), (1 << 62) - 1]
    df = spark.createDataFrame(
        [(str(i), h) for i, h in enumerate(hashes)], "path string, phash long"
    )

    def model_key(h: int, band: int) -> int:
        u = h & ((1 << 64) - 1)
        return sum(
            ((u >> (band + i * n_bands)) & 1) << i for i in range(width)
        )

    for r in band_rows(df, "path", "phash", n_bands).collect():
        assert r.bkey == model_key(r.phash, r.band)
    for r in band_pair_rows(df, "path", "phash", n_bands).collect():
        bi, bj = divmod(r.band, n_bands)
        assert r.bkey == model_key(r.phash, bi) * (1 << width) + model_key(
            r.phash, bj
        )
