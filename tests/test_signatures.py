"""Signature kernel tests: golden values, MinHash estimator properties,
winnowing guarantee (hypothesis property tests per SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from dedup import signatures
from dedup.config import DEFAULT, DedupConfig


def test_shingles_basic():
    sh = signatures.shingle_hashes("abcdef", 5)
    assert sh.size == 2  # 'abcde', 'bcdef'
    assert np.array_equal(sh, signatures.shingle_hashes("ABCDEF", 5))  # lowercased
    assert signatures.shingle_hashes("", 5).size == 0
    assert signatures.shingle_hashes("ab", 5).size == 1  # padded single shingle
    # distinctness
    a = signatures.shingle_hashes("aaaaaaaa", 3)
    assert a.size == 1


def test_minhash_identity_and_bounds():
    a = signatures.minhash_signature(signatures.shingle_hashes("the quick brown fox", 5))
    b = signatures.minhash_signature(signatures.shingle_hashes("THE QUICK BROWN FOX", 5))
    assert np.array_equal(a, b)
    assert a.shape == (DEFAULT.num_perms,)
    assert (a >= 0).all() and (a < DEFAULT.minhash_prime).all()


def test_minhash_estimates_jaccard():
    rng = np.random.default_rng(0)
    base = "the glass bridge reflects a crowded plaza after the rain in pale light"
    sims, exact = [], []
    for i in range(30):
        toks = base.split()
        for _ in range(rng.integers(0, 6)):
            toks[rng.integers(len(toks))] = f"tok{rng.integers(100)}"
        other = " ".join(toks)
        sa = signatures.shingle_hashes(base, 5)
        sb = signatures.shingle_hashes(other, 5)
        exact.append(signatures.jaccard(sa, sb))
        ma = signatures.minhash_signature(sa)
        mb = signatures.minhash_signature(sb)
        sims.append(float((ma == mb).mean()))
    err = np.abs(np.array(sims) - np.array(exact))
    # 128 perms -> stderr ~ sqrt(J(1-J)/128) <= 0.045; allow 4 sigma
    assert err.mean() < 0.05 and err.max() < 0.2


def test_empty_minhash_sentinel():
    sig = signatures.minhash_signature(np.empty(0, dtype=np.uint64))
    assert (sig == DEFAULT.minhash_prime).all()


@given(st.text(min_size=0, max_size=200))
@settings(max_examples=50, deadline=None)
def test_shingles_deterministic(text):
    a = signatures.shingle_hashes(text, DEFAULT.shingle_k)
    b = signatures.shingle_hashes(text, DEFAULT.shingle_k)
    assert np.array_equal(a, b)
    assert np.array_equal(a, np.unique(a))  # sorted + distinct


@given(
    st.text(alphabet=st.characters(codec="ascii", categories=("L", "N", "Z")), min_size=30, max_size=120),
    st.integers(min_value=0, max_value=80),
)
@settings(max_examples=60, deadline=None)
def test_winnowing_guarantee(container, start):
    """Any substring of length >= substr_min_len shares >= 1 fingerprint
    with its container (Schleimer et al. guarantee, t = w + k - 1 = 20)."""
    cfg = DEFAULT
    if len(container) < cfg.substr_min_len:
        return
    start = min(start, len(container) - cfg.substr_min_len)
    frag = container[start : start + cfg.substr_min_len + 7]
    fa = signatures.winnow_fingerprints(container, cfg)
    fb = signatures.winnow_fingerprints(frag, cfg)
    assert np.intersect1d(fa, fb).size >= 1


def test_simhash_properties():
    a = signatures.simhash64("the tide pool guards an alley garden at dusk")
    b = signatures.simhash64("the tide pool guards an alley garden at dawn")
    c = signatures.simhash64("completely unrelated text about wind turbines")
    ham_ab = bin(a ^ b).count("1")
    ham_ac = bin(a ^ c).count("1")
    assert ham_ab < ham_ac


def test_batch_kernels_match_scalar():
    import pandas as pd

    texts = pd.Series(["hello world pattern", "", "short", "hello world pattern"])
    bm = signatures.batch_minhash(texts)
    assert np.array_equal(bm[0], bm[3])
    assert np.array_equal(
        bm[0], signatures.minhash_signature(signatures.shingle_hashes("hello world pattern", 5))
    )
    bs = signatures.batch_shingles(texts)
    assert bs[1].size == 0
    bw = signatures.batch_winnow(texts)
    assert np.array_equal(bw[0], bw[3])


def test_caption_kernel_matches_one_field_kernels():
    """The one-pass caption kernel equals the three one-field kernels row for
    row: None, empty, shorter than both k, between them, and long captions
    (one longer than a winnow window of k-grams)."""
    import pandas as pd

    texts = pd.Series([
        None, "", "ab", "abcdef", "hello world pattern",
        "The Harbor Crane overlooks the winter canal at dusk " * 40,
    ])
    got = signatures.batch_caption_sigs(texts)
    assert list(got.columns) == ["minhash", "shingles", "fps"]
    for field, ref in (("minhash", signatures.batch_minhash),
                       ("shingles", signatures.batch_shingles),
                       ("fps", signatures.batch_winnow)):
        want = ref(texts)
        assert len(got[field]) == len(want)
        for g, w in zip(got[field], want):
            assert g.dtype == np.int64 and np.array_equal(g, w), field
    # a field subset computes those columns only, with the same values
    fps = signatures.batch_caption_sigs(texts, fields=("fps",))
    assert list(fps.columns) == ["fps"]
    assert all(np.array_equal(a, b) for a, b in zip(fps["fps"], got["fps"]))
    assert signatures.batch_caption_sigs(pd.Series([], dtype=object)).empty
