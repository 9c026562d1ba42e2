"""Property-based tests (hypothesis) for the URL/hash/signature invariants."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from crawl4ai_llm_spark.frontier.hashing import murmur3_32
from crawl4ai_llm_spark.functions.urls import _canonicalize_one

hosts = st.from_regex(r"[A-Za-z][A-Za-z0-9\-]{0,10}(\.[A-Za-z]{2,5}){1,2}", fullmatch=True)
paths = st.from_regex(r"(/[A-Za-z0-9._\-]{0,8}){0,4}/?", fullmatch=True)
queries = st.from_regex(r"([a-z]{1,4}=[a-z0-9]{0,4}(&[a-z]{1,4}=[a-z0-9]{0,4}){0,3})?", fullmatch=True)


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "Https"]))
    host = draw(hosts)
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = draw(paths)
    query = draw(queries)
    frag = draw(st.sampled_from(["", "#x", "#frag"]))
    q = f"?{query}" if query else ""
    return f"{scheme}://{host}{port}{path}{q}{frag}"


@given(urls())
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent(u):
    once = _canonicalize_one(u)
    if once is not None:
        assert _canonicalize_one(once) == once


@given(urls())
@settings(max_examples=300, deadline=None)
def test_canonicalize_invariants(u):
    c = _canonicalize_one(u)
    if c is None:
        return
    assert c.startswith(("http://", "https://"))
    assert "#" not in c  # fragment stripped
    assert ":80/" not in c.replace("http://", "", 1) or not c.startswith("http://")
    host = c.split("//")[1].split("/")[0]
    assert host == host.lower()
    if "?" in c:
        params = c.split("?", 1)[1].split("&")
        assert params == sorted(params)  # query canonicalized


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=500, deadline=None)
def test_murmur3_range_and_determinism(b):
    h = murmur3_32(b)
    assert -(2**31) <= h < 2**31
    assert murmur3_32(b) == h


@given(
    st.integers(min_value=0, max_value=2**64 - 1),
    st.sets(st.integers(min_value=0, max_value=63), min_size=0, max_size=3),
)
@settings(max_examples=500, deadline=None)
def test_simhash_pigeonhole_banding(fp64, flip_bits):
    """For ANY 64-bit fingerprint and ANY ≤3 flipped bits, at least one of
    the 4 16-bit bands is untouched — the exactness proof behind
    q_dedup_simhash's banded candidate generation (dedup.py)."""
    other = fp64
    for b in flip_bits:
        other ^= 1 << b
    bands_a = [(fp64 >> (16 * k)) & 0xFFFF for k in range(4)]
    bands_b = [(other >> (16 * k)) & 0xFFFF for k in range(4)]
    assert any(a == b for a, b in zip(bands_a, bands_b))


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=40),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=100, deadline=None)
def test_minhash_vectorized_signature_matches_reference(gram_hash_lists):
    """The uint64 reduceat signature pass (operators/dedup.py) equals the
    obvious per-doc min loop, for arbitrary gram-hash lists — guards the
    platform-driven uint64/reduceat machinery against silent regressions."""
    from crawl4ai_llm_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        N_HASHES,
        SIG_SHIFT,
    )

    # vectorized pass, exactly as the pandas UDF computes it (multiply-
    # shift over wrap-around uint64, in-place)
    A = np.array(MINHASH_A, dtype=np.uint64)[:, None]
    B = np.array(MINHASH_B, dtype=np.uint64)[:, None]
    lens = np.array([len(g) for g in gram_hash_lists])
    flat = np.concatenate([np.asarray(g, dtype=np.int64) for g in gram_hash_lists]).astype(np.uint64)
    m = A * flat[None, :]
    m += B
    m >>= np.uint64(SIG_SHIFT)
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    vec = np.minimum.reduceat(m, starts, axis=1).T.astype(np.int64)
    # reference: per-doc, per-permutation python min (mod 2^64 wraparound)
    M64 = 1 << 64
    for d, grams in enumerate(gram_hash_lists):
        for i in range(0, N_HASHES, 17):  # sample permutations for speed
            expect = min(
                ((MINHASH_A[i] * g + MINHASH_B[i]) % M64) >> SIG_SHIFT for g in grams
            )
            assert vec[d, i] == expect


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=1e-3, max_value=10, allow_nan=False),
            st.booleans(),
        ).map(lambda t: -t[0] if t[1] else t[0]),
        min_size=64,
        max_size=64,
    ),
    st.lists(st.floats(min_value=1e-3, max_value=100, allow_nan=False), min_size=64, max_size=64),
    st.sets(st.integers(min_value=0, max_value=63), max_size=3),
)
@settings(max_examples=300, deadline=None)
def test_sign_band_recall_property(vec, scales, flips):
    """The dedup sign-banding contract, engine-free: (a) a POSITIVE
    per-dimension rescale never changes ANY band key (recall 1 on the
    influx construction, for any scale pattern — not just the shipped
    one), and (b) pigeonhole: ≤3 sign flips leave ≥1 of the 4 bands
    identical.

    Magnitudes are bounded away from the subnormal range: the first draft
    of this test FOUND that claim (a) holds in ℝ but not raw IEEE — a
    ~1e-320 coordinate times a 1e-3 scale underflows to +0.0 and flips
    its sign test. Embedding coordinates live around 1e-3..1, so the
    bounded property is the physically meaningful one; anyone feeding
    subnormal embeddings into sign-LSH has bigger problems."""

    def band_keys(v):
        return [
            sum((1 << j) for j in range(16) if v[b * 16 + j] > 0) for b in range(4)
        ]

    base = band_keys(vec)
    scaled = band_keys([x * s for x, s in zip(vec, scales)])
    assert scaled == base  # (a) positive scaling: every band identical

    flipped = band_keys([-x if i in flips else x for i, x in enumerate(vec)])
    assert any(a == b for a, b in zip(base, flipped))  # (b) pigeonhole
