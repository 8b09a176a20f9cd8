"""Unit tests for the numpy signature core and codecs
(SURVEY.md §5 item 1: operator-level invariants)."""

import numpy as np
import pytest

from mfdedup_spark.config import SignatureConfig, derive_seed
from mfdedup_spark.core import codecs
from mfdedup_spark.core.hashes import (
    SignatureTables,
    byte_shingles,
    gram_hash,
    hamming64,
    lsh_band_buckets,
    minhash_signature,
    phash64,
    sha1_hex,
    simhash64,
    simhash_bands,
    splitmix64,
)

CFG = SignatureConfig()
T = SignatureTables.get(CFG)


def test_seeds_deterministic():
    assert derive_seed("x") == derive_seed("x")
    assert derive_seed("x") != derive_seed("y")
    t2 = SignatureTables(CFG)
    assert np.array_equal(T.minhash_a, t2.minhash_a)


def test_splitmix_bijective_ish():
    x = np.arange(1000, dtype=np.uint64)
    y = splitmix64(x)
    assert len(np.unique(y)) == 1000


def test_shingles_position_independent():
    rng = np.random.default_rng(0)
    a = rng.integers(0, 256, 500, dtype=np.uint8).tobytes()
    s1 = byte_shingles(a, 8, T.shingle_seed)
    s2 = byte_shingles(b"\xff" * 16 + a, 8, T.shingle_seed)
    # all original shingles still present after a prefix shift
    assert np.isin(s1, s2).mean() > 0.97


def test_minhash_jaccard_estimate():
    rng = np.random.default_rng(1)
    base = rng.integers(0, 2**63, 2000).astype(np.uint64)
    half = np.concatenate([base[:1000], rng.integers(0, 2**63, 1000).astype(np.uint64)])
    mh1 = minhash_signature(np.unique(base), T)
    mh2 = minhash_signature(np.unique(half), T)
    est = (mh1 == mh2).mean()
    true_j = len(np.intersect1d(base, half)) / len(np.union1d(base, half))
    assert abs(est - true_j) < 0.15
    # identical sets → identical signature
    assert np.array_equal(minhash_signature(base, T), minhash_signature(base.copy(), T))


def test_lsh_bands_shape_and_determinism():
    mh = minhash_signature(np.arange(100, dtype=np.uint64), T)
    b1 = lsh_band_buckets(mh, T)
    b2 = lsh_band_buckets(mh.copy(), T)
    assert b1.shape == (CFG.lsh_bands,)
    assert np.array_equal(b1, b2)


def test_simhash_similar_inputs_close():
    rng = np.random.default_rng(2)
    s = np.unique(rng.integers(0, 2**63, 3000).astype(np.uint64))
    s2 = s.copy()
    s2[:30] = rng.integers(0, 2**63, 30).astype(np.uint64)  # 1% churn
    h1 = simhash64(s, 1234, T)
    h2 = simhash64(np.unique(s2), 1234, T)
    assert hamming64(h1, h2) <= 6
    # different phash seed → different hash space
    h3 = simhash64(s, 9999, T)
    assert hamming64(h1, h3) > 10


def test_simhash_bands_pigeonhole():
    h = simhash64(np.arange(500, dtype=np.uint64), 7, T)
    b = simhash_bands(h, 4)
    assert len(b) == 4
    # flipping ≤3 bits leaves at least one band intact
    h2 = h ^ 0b111
    b2 = simhash_bands(h2, 4)
    assert any(x == y for x, y in zip(b, b2))


def test_codecs_roundtrip_and_psnr():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (64, 48), dtype=np.uint8)
    for fmt in ("raw", "png"):
        assert np.array_equal(codecs.decode(codecs.encode(px, fmt), 48, 64, fmt), px)
    dec = codecs.decode(codecs.encode(px, "jpeg"), 48, 64, "jpeg")
    assert codecs.psnr(px, dec) >= 40.0


def test_phash_stability_under_noise():
    rng = np.random.default_rng(4)
    px = rng.integers(0, 256, (64, 64), dtype=np.uint8)
    noisy = px.copy()
    noisy[0, 0] ^= 1
    assert hamming64(phash64(px), phash64(noisy)) <= 4


def test_sha1_matches_hashlib_and_gram_hash_portable():
    assert sha1_hex(b"abc") == "a9993e364706816aba3e25717850c26c9cd0d89d"
    import duckdb

    g = "hello world gram"
    want = gram_hash(g)
    got = duckdb.sql(
        f"select ('0x' || substr(md5('{g}'),1,15))::bigint"
    ).fetchone()[0]
    assert got == want


def test_shingle_methods_properties():
    """T2 gear / T3 fixed schemes: locality + stride properties, and the
    three methods are genuinely different hash families."""
    import numpy as np

    from mfdedup_spark.core.hashes import (
        byte_shingles,
        byte_shingles_fixed,
        byte_shingles_gear,
    )

    rng = np.random.default_rng(2)
    data = bytes(rng.integers(0, 256, 4096, dtype=np.uint8))
    seed = np.uint64(12345)
    k = 8

    cdc = byte_shingles(data, k, seed, sample_bits=0)
    gear = byte_shingles_gear(data, k, seed, sample_bits=0)
    fixed = byte_shingles_fixed(data, k, seed, sample_bits=0)

    # gear is a genuinely different hash family (table lookups + shifts):
    # negligible overlap with the word-read scheme
    assert len(np.intersect1d(cdc, gear)) < 3
    # fixed is the degenerate stride-k case of cdc: its windows are a
    # strict subset of the sliding windows
    assert len(np.intersect1d(cdc, fixed)) == len(fixed)
    assert len(fixed) < len(cdc)

    # gear is window-limited: flipping one byte changes at most k window
    # hashes (content-defined locality — the CDC property)
    mutated = bytearray(data)
    mutated[2000] ^= 0xFF
    gear2 = byte_shingles_gear(bytes(mutated), k, seed, sample_bits=0)
    assert len(np.setxor1d(gear, gear2)) <= 2 * k

    # fixed stride: exactly n/k windows, flipping one byte changes exactly
    # one window hash
    assert len(fixed) <= len(data) // k
    fixed2 = byte_shingles_fixed(bytes(mutated), k, seed, sample_bits=0)
    assert len(np.setxor1d(fixed, fixed2)) == 2


def test_shingle_method_dispatch():
    """shingles_for honors SignatureConfig.shingle_method; unknown method
    rejected at config construction."""
    import numpy as np
    import pytest as _pytest

    from mfdedup_spark.config import SignatureConfig
    from mfdedup_spark.core.hashes import (
        SignatureTables,
        byte_shingles_gear,
        shingles_for,
    )

    data = bytes(np.random.default_rng(3).integers(0, 256, 1024, dtype=np.uint8))
    cfg = SignatureConfig(shingle_method="gear")
    t = SignatureTables.get(cfg)
    want = byte_shingles_gear(
        data, cfg.shingle_k, t.shingle_seed,
        cfg.shingle_sample_bits, cfg.shingle_sample_min,
    )
    assert np.array_equal(shingles_for(data, cfg, t), want)
    with _pytest.raises(ValueError, match="shingle_method"):
        SignatureConfig(shingle_method="nope")


def test_rabin_table_matches_bit_serial():
    """The vectorized per-position-table Rabin (XOR of k lookups) equals
    the textbook bit-serial GF(2) fingerprint on random windows — the
    linearity the table construction relies on — and reduction really
    uses the reference polynomial."""
    import numpy as np

    from mfdedup_spark.core.hashes import (
        RABIN_POLY,
        _rabin_slow,
        _rabin_tables,
    )

    assert RABIN_POLY == 0xBFE6B8A5BF378D83
    rng = np.random.default_rng(31)
    k = 8
    t = _rabin_tables(k)
    for _ in range(50):
        win = bytes(rng.integers(0, 256, k, dtype=np.uint8))
        table_fp = 0
        for j in range(k):
            table_fp ^= int(t[j][win[j]])
        assert table_fp == _rabin_slow(win), win.hex()
    # degree-64 reduction actually fires: a window whose leading bits are
    # set must differ from its unreduced polynomial value
    hot = bytes([0xFF] * k)
    assert _rabin_slow(hot) != int.from_bytes(hot, "big")


def test_rabin_shingle_properties():
    """rabin is a genuinely distinct family (≈0 overlap with cdc/gear),
    window-limited (flip one byte → ≤ 2k changed hashes), and unseeded
    (the polynomial is the family — rabin_chunking.h fixes it)."""
    import numpy as np

    from mfdedup_spark.core.hashes import (
        byte_shingles,
        byte_shingles_gear,
        byte_shingles_rabin,
    )

    rng = np.random.default_rng(4)
    data = bytes(rng.integers(0, 256, 4096, dtype=np.uint8))
    k = 8
    rab = byte_shingles_rabin(data, k, np.uint64(1), sample_bits=0)
    assert len(np.intersect1d(rab, byte_shingles(data, k, np.uint64(1), sample_bits=0))) < 3
    assert len(np.intersect1d(rab, byte_shingles_gear(data, k, np.uint64(1), sample_bits=0))) < 3
    mutated = bytearray(data)
    mutated[1000] ^= 0x5A
    rab2 = byte_shingles_rabin(bytes(mutated), k, np.uint64(1), sample_bits=0)
    assert len(np.setxor1d(rab, rab2)) <= 2 * k
    # seed-independence: same fingerprints under any seed
    assert np.array_equal(
        rab, byte_shingles_rabin(data, k, np.uint64(999), sample_bits=0)
    )
