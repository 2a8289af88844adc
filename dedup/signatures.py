"""Signature kernels: char-shingles, MinHash, SimHash, winnowing fingerprints.

All kernels are pure numpy (vectorized over the characters of each string) and
are shared verbatim by the Spark pipeline (wrapped in Arrow `pandas_udf`s) and
the brute-force oracle (reference_impl.py) — the recall gate requires both
sides to use the identical shingle/signature config (BASELINE.json).

This is the Spark-native replacement for the reference's dense-embedding
similarity (/root/reference/eridu/train/utils.py:153-235) and its pandas_udf
pattern (/root/reference/eridu/etl/augment.py:20-31): Arrow-batched vectorized
UDFs, no per-row Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .config import DedupConfig, DEFAULT

_U64 = np.uint64
_MASK61 = _U64((1 << 61) - 1)


# ------------------------------------------------------------ shingle hashes


def shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct 64-bit polynomial hashes of the k char-shingles of lower(text).

    Vectorized: sliding windows over the UTF-8 bytes dotted with a power
    vector in wrapping uint64 arithmetic. Texts shorter than k hash their
    whole content as a single shingle.
    """
    b = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=_U64)
    if b.size < k:
        pad = np.zeros(k, dtype=np.uint8)
        pad[: b.size] = b
        b = pad
    win = np.lib.stride_tricks.sliding_window_view(b, k).astype(_U64)
    powers = np.power(_U64(1099511628211), np.arange(k - 1, -1, -1, dtype=_U64))
    h = (win * powers).sum(axis=1, dtype=_U64)  # wrapping mod 2^64
    # avalanche (splitmix64 finalizer) so low-entropy byte windows spread out
    h = (h ^ (h >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> _U64(27))) * _U64(0x94D049BB133111EB)
    h = h ^ (h >> _U64(31))
    return np.unique(h)


# ----------------------------------------------------------------- MinHash


def _perm_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(cfg.minhash_seed)
    p = cfg.minhash_prime
    a = rng.integers(1, p, size=cfg.num_perms, dtype=np.int64).astype(_U64)
    b = rng.integers(0, p, size=cfg.num_perms, dtype=np.int64).astype(_U64)
    return a, b


def minhash_signature(
    shingles: np.ndarray, cfg: DedupConfig = DEFAULT, params: tuple | None = None
) -> np.ndarray:
    """128-perm MinHash signature (int64 array) of a set of shingle hashes
    (`params`: _perm_params(cfg), hoisted out of a per-row loop).

    h_i(x) = (a_i * x' + b_i) mod p with p = 2^31-1 and x' = x mod p, so the
    product fits in uint64 with no overflow. Empty input -> all p (sentinel
    that never collides with a real minimum except vs another empty set).
    """
    a, b = params or _perm_params(cfg)
    p = _U64(cfg.minhash_prime)
    if shingles.size == 0:
        return np.full(cfg.num_perms, cfg.minhash_prime, dtype=np.int64)
    x = (shingles % p).astype(_U64)  # (m,)
    # (perms, m): a[:,None]*x[None,:] max ~ 2^31 * 2^31 = 2^62 < 2^64
    vals = (a[:, None] * x[None, :] + b[:, None]) % p
    return vals.min(axis=1).astype(np.int64)


def jaccard(sh_a: np.ndarray, sh_b: np.ndarray) -> float:
    """Exact Jaccard of two shingle-hash sets (both outputs of shingle_hashes)."""
    if sh_a.size == 0 and sh_b.size == 0:
        return 1.0
    inter = np.intersect1d(sh_a, sh_b, assume_unique=True).size
    return inter / float(sh_a.size + sh_b.size - inter)


# ----------------------------------------------------------------- SimHash


def simhash64(text: str, k: int = 4) -> int:
    """64-bit SimHash over char k-gram features (sign-sum of feature hashes).

    Provided for caption-side Hamming similarity; the image path uses the
    stored pHash directly as its 64-bit bit-vector (SURVEY.md §2.10 C2)."""
    h = shingle_hashes(text, k)
    if h.size == 0:
        return 0
    bits = ((h[:, None] >> np.arange(64, dtype=_U64)[None, :]) & _U64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    out = 0
    for i in range(64):
        if votes[i] > 0:
            out |= 1 << i
    return out


# ----------------------------------------- winnowing (substring candidates)


def _winnow_kgram_hashes(b: np.ndarray, k: int) -> np.ndarray:
    win = np.lib.stride_tricks.sliding_window_view(b, k).astype(_U64)
    powers = np.power(_U64(1099511628211), np.arange(k - 1, -1, -1, dtype=_U64))
    h = (win * powers).sum(axis=1, dtype=_U64)
    h = (h ^ (h >> _U64(33))) * _U64(0xFF51AFD7ED558CCD)
    return h ^ (h >> _U64(33))


def min_kgram_hash(text: str, cfg: DedupConfig = DEFAULT) -> int | None:
    """Minimum winnowing k-gram hash of the text (None if shorter than k).

    Containment lemma (used by the substring pass for its fragment side): if
    fragment B occurs contiguously in container A and |B| >= w + k - 1, then
    min over B's k-gram hashes is selected by winnowing in BOTH B and A — the
    window covering that k-gram inside the copied region picks it as its
    minimum. So joining B's single min hash against A's full winnowed set is
    lossless, at 1/|W(B)| of the join volume."""
    b = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
    if b.size < cfg.winnow_k:
        return None
    return int(_winnow_kgram_hashes(b, cfg.winnow_k).min())


def winnow_fingerprints(text: str, cfg: DedupConfig = DEFAULT) -> np.ndarray:
    """Winnowing fingerprint set (Schleimer et al. SIGMOD'03).

    Selects the minimum k-gram hash in every window of w consecutive k-grams
    (k = cfg.winnow_k, w = cfg.winnow_w). Guarantee: two strings sharing a
    substring of length >= w + k - 1 (= cfg.substr_min_len) share at least one
    fingerprint — the candidate generator for the suffix-array substring pass
    (north_rule; role of exact caption-fragment dupes in the reference's
    exact-dup semantics /root/reference/eridu/etl/filter.py:51-57)."""
    b = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
    k, w = cfg.winnow_k, cfg.winnow_w
    if b.size < k:
        return np.empty(0, dtype=_U64)
    h = _winnow_kgram_hashes(b, k)
    if h.size <= w:
        return np.unique(h.min(keepdims=True))
    wins = np.lib.stride_tricks.sliding_window_view(h, w)
    return np.unique(wins.min(axis=1))


# -------------------------------------------------- pandas (Arrow) kernels
# Batch-level wrappers used inside pandas_udf / applyInPandas. They loop over
# rows of a batch in Python but each row's work is a vectorized numpy kernel;
# Arrow moves the batches (the reference's D1/D2 pattern, SURVEY.md §2.9).


CAPTION_SIG_FIELDS = ("minhash", "shingles", "fps")


def batch_caption_sigs(
    captions: pd.Series, cfg: DedupConfig = DEFAULT, fields: tuple[str, ...] = CAPTION_SIG_FIELDS
) -> pd.DataFrame:
    """The caption kernel (lsh.with_caption_sigs), one Python pass per
    caption: shingled once for both `minhash` and `shingles`, and winnowed
    for `fps`. Computes `fields` only. Row-for-row equal to
    batch_minhash/batch_shingles/batch_winnow."""
    params = _perm_params(cfg)
    want_sh = "minhash" in fields or "shingles" in fields
    cols: dict[str, list] = {f: [] for f in fields}
    for text in captions:
        text = text or ""
        sh = shingle_hashes(text, cfg.shingle_k) if want_sh else None
        if "minhash" in cols:
            cols["minhash"].append(minhash_signature(sh, cfg, params))
        if "shingles" in cols:
            cols["shingles"].append(sh.astype(np.int64))
        if "fps" in cols:
            cols["fps"].append(winnow_fingerprints(text, cfg).astype(np.int64))
    return pd.DataFrame({f: pd.Series(v, dtype=object) for f, v in cols.items()})


# one-field kernels: the references batch_caption_sigs is tested against
def batch_minhash(captions: pd.Series, cfg: DedupConfig = DEFAULT) -> pd.Series:
    a, b = _perm_params(cfg)
    p = _U64(cfg.minhash_prime)
    out = []
    empty = np.full(cfg.num_perms, cfg.minhash_prime, dtype=np.int64)
    for text in captions:
        sh = shingle_hashes(text or "", cfg.shingle_k)
        if sh.size == 0:
            out.append(empty)
            continue
        x = (sh % p).astype(_U64)
        vals = (a[:, None] * x[None, :] + b[:, None]) % p
        out.append(vals.min(axis=1).astype(np.int64))
    return pd.Series(out)


def batch_shingles(captions: pd.Series, cfg: DedupConfig = DEFAULT) -> pd.Series:
    return pd.Series(
        [shingle_hashes(t or "", cfg.shingle_k).astype(np.int64) for t in captions]
    )


def batch_winnow(captions: pd.Series, cfg: DedupConfig = DEFAULT) -> pd.Series:
    return pd.Series(
        [winnow_fingerprints(t or "", cfg).astype(np.int64) for t in captions]
    )


# Stopwords for the initials/abbreviation variants. The reference pulls ALL
# languages from the stop_words package (/root/reference/eridu/etl/acronyms.py:6-13);
# that package isn't in this sandbox, so this is a fixed multilingual subset —
# the set is config, not semantics (the operator is "filter stopwords, take
# initials"). Kept in ONE place so the q40 DuckDB twin can embed the same list.
STOPWORDS = frozenset(
    "the and of a an in on for to at by or as is es i der die das und ein "
    "la le el los las de du des van von den do da dos di il".split()
)

# Corporate suffix vocabulary for basename/ending extraction — the role of
# disco.basename in /root/reference/eridu/etl/acronyms.py:16-31.
CORP_SUFFIXES = frozenset(
    "inc inc. llc ltd ltd. gmbh ag corp corp. corporation co co. sa s.a. nv "
    "plc llp lp srl oy ab".split()
)


def strip_corporate_suffix(name: str) -> str:
    """Basename: drop trailing corporate-suffix tokens (reference
    disco.basename role, /root/reference/eridu/etl/acronyms.py:22)."""
    tokens = (name or "").split()
    while tokens and tokens[-1].lower() in CORP_SUFFIXES:
        tokens.pop()
    return " ".join(tokens)


def corporate_ending(name: str) -> str:
    """Everything the basename strip removed (reference
    get_corporate_ending, /root/reference/eridu/etl/acronyms.py:16-31)."""
    if not name:
        return ""
    cleaned = strip_corporate_suffix(name)
    if cleaned == name:
        return ""
    return name[len(cleaned):].strip()


def acronym_pairs(name: str | None) -> list[dict]:
    """Company-abbreviation variants, reference-parity semantics
    (/root/reference/eridu/etl/acronyms.py:35-73 process_single_name):
    stopword-filtered multi-char words of the basename -> plain initials,
    initials + ending, dotted initials, dotted + ending. Emits nothing when
    no suffix was stripped, when <2 meaningful words remain, or on
    empty/None input — golden-tested against the reference's own cases
    (/root/reference/tests/etl/test_acronyms.py:33-86)."""
    if name is None or not name:
        return []
    cleaned = strip_corporate_suffix(name)
    ending = corporate_ending(name)
    pairs: list[dict] = []
    if cleaned and cleaned != name:
        meaningful = [w for w in cleaned.split() if w.lower() not in STOPWORDS and len(w) > 1]
        if len(meaningful) > 1:
            abbreviation = "".join(w[0].upper() for w in meaningful)
            if len(abbreviation) > 1:
                pairs.append({"original": name, "abbreviated": abbreviation})
                if ending:
                    pairs.append({"original": name, "abbreviated": f"{abbreviation} {ending}"})
                dotted = ".".join(w[0].upper() for w in meaningful) + "."
                pairs.append({"original": name, "abbreviated": dotted})
                if ending:
                    pairs.append({"original": name, "abbreviated": f"{dotted} {ending}"})
    return pairs


def initials_of(text: str) -> str | None:
    """Unconditional stopword-filtered initials of a caption (None when
    fewer than 2 meaningful words) — the caption-side analog of
    acronym_pairs used by caption_variants' 'initials' kind."""
    meaningful = [
        w for w in (text or "").lower().split() if w not in STOPWORDS and len(w) > 1
    ]
    if len(meaningful) < 2:
        return None
    return "".join(w[0].upper() for w in meaningful)


def caption_variants(text: str) -> list[dict]:
    """Normalization variants of a caption, used as extra exact-dup keys.

    The reference's D1 pattern (SURVEY.md §2.9): a vectorized UDF returning
    array<struct> that callers explode — its company-abbreviation generator
    (/root/reference/eridu/etl/augment.py:20-31,
    /root/reference/eridu/etl/acronyms.py:35-73) re-expressed for captions:
    lowercase, alphanumeric-only, whitespace-collapsed, token-sorted, plus a
    stopword-filtered 'initials' kind (only when >= 2 meaningful words)."""
    t = (text or "").lower()
    alnum = "".join(c if (c.isalnum() or c == " ") else " " for c in t)
    out = [
        {"kind": "lower", "variant": t},
        {"kind": "alnum", "variant": " ".join(alnum.split())},
        {"kind": "sorted", "variant": " ".join(sorted(t.split(" ")))},
    ]
    ini = initials_of(t)
    if ini is not None:
        out.append({"kind": "initials", "variant": ini})
    return out


def batch_caption_variants(captions: pd.Series) -> pd.Series:
    return pd.Series([caption_variants(t) for t in captions])
