"""Seeded workload inputs and their oracle results, cached per (workload, seed).

Every input is a pure function of (workload, seed): the same seed writes the
same parquet bytes. Generation and the brute-force oracle
(`dedup.reference_impl`) run once per (workload, seed) in the calling process,
outside any timed region; the result lands in `<cache>/<workload>-s<seed>-v<V>/`
through a temp dir + rename, so a cut-short generation never leaves a
half-written entry that a later run would trust.

Workloads built here:

  batch_captions  2k rows, small (24-40 px) images, high-entropy pseudo-word
                  captions of 20-60 words: chained caption edits, fragments,
                  exact copies, a small viral caption and a few near-images.
                  Random words keep the oracle's shared-shingle candidate set
                  near-linear (the synth phrase vocabulary makes it quadratic).
  stream_exact    K + R parquet files of 300 `dedup.synth` rows each; every
                  file after the first carries exact copies (same bytes and
                  caption, new id) of rows from earlier files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dedup import imaging, synth
from dedup.reference_impl import oracle_clusters, oracle_pairs

# bump when a generator changes: old cache entries are then never read
VERSION = 2

CAPTION_ROWS = 2000
STREAM_FILE_ROWS = 300
STREAM_DRAIN_FILES = 2  # K: drained by the first, cold query
STREAM_RESTART_FILES = 4  # R: one per restart on the checkpoint
STREAM_COPY_FRAC = 0.15

_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


# --------------------------------------------------------------- batch_captions
def _word(rng: np.random.Generator) -> str:
    return "".join(chr(97 + int(c)) for c in rng.integers(0, 26, int(rng.integers(3, 10))))


def _caption(rng: np.random.Generator) -> list[str]:
    return [_word(rng) for _ in range(int(rng.integers(20, 61)))]


def _edit(rng: np.random.Generator, words: list[str]) -> list[str]:
    out = list(words)
    for _ in range(int(rng.integers(1, 3))):
        out[int(rng.integers(len(out)))] = _word(rng)
    return out


def _pixels(rng: np.random.Generator, lo: int = 24, hi: int = 40) -> np.ndarray:
    """A smooth random field plus noise (the synth recipe): enough pHash bit
    entropy that the chunk-pair LSH stays sparse."""
    w, h = int(rng.integers(lo, hi + 1)), int(rng.integers(lo, hi + 1))
    base = rng.integers(0, 256, size=(12, 12, 3)).astype(np.float64)
    img = base[(np.arange(h) * 12) // h][:, (np.arange(w) * 12) // w]
    noise = rng.integers(-12, 13, size=(h, w, 3))
    return np.clip(img + noise, 0, 255).astype(np.uint8)


def _perturb(rng: np.random.Generator, pixels: np.ndarray) -> np.ndarray:
    """Shift one 4x4 patch by +-40: pHash Hamming 1-6 for most images, so the
    pair is a simhash edge rather than an exact pHash collapse."""
    out = pixels.astype(np.int16)
    y, x = int(rng.integers(out.shape[0] - 4)), int(rng.integers(out.shape[1] - 4))
    out[y : y + 4, x : x + 4, :] += int(rng.choice([-40, 40]))
    return np.clip(out, 0, 255).astype(np.uint8)


def _row(image_id: str, pixels: np.ndarray, fmt: str, caption: str) -> dict:
    data = imaging.encode_png(pixels) if fmt == "png" else imaging.encode_raw(pixels)
    return {
        "image_id": image_id, "bytes": data, "w": pixels.shape[1], "h": pixels.shape[0],
        "fmt": fmt, "caption": caption,
        "phash": imaging.phash_to_signed64(imaging.phash64(pixels)),
    }


def caption_rows(n: int, seed: int) -> list[dict]:
    """~90% unique captions: edit chains of 3-6 members, fragments, exact
    copies, one viral caption on ~3% of rows, a few near-image pairs."""
    rng = np.random.default_rng([seed, 1])
    rows: list[dict] = []

    def add(pixels, words_or_text, fmt=None):
        text = words_or_text if isinstance(words_or_text, str) else " ".join(words_or_text)
        fmt = fmt or ("png" if rng.random() < 0.5 else "raw")
        rows.append(_row(f"c{len(rows):07d}", pixels, fmt, text))
        return rows[-1]

    viral = " ".join(_caption(rng))
    while len(rows) < n:
        u = rng.random()
        if u < 0.03:
            add(_pixels(rng), viral)
        elif u < 0.10 and rows:  # chain of caption edits, distinct images
            words = _caption(rng)
            for _ in range(int(rng.integers(3, 7))):
                add(_pixels(rng), words)
                words = _edit(rng, words)
        elif u < 0.17 and rows:  # fragment: contiguous 20-60 char substring
            text = " ".join(_caption(rng))
            add(_pixels(rng), text)
            lo = int(rng.integers(0, len(text) - 60))
            add(_pixels(rng), text[lo : lo + int(rng.integers(20, 61))])
        elif u < 0.23 and rows:  # exact copy of an earlier row
            src = rows[int(rng.integers(len(rows)))]
            rows.append({**src, "image_id": f"c{len(rows):07d}"})
        elif u < 0.25:  # near-image, unrelated captions (pHash path only)
            px = _pixels(rng)
            add(px, _caption(rng))
            add(_perturb(rng, px), _caption(rng))
        else:
            add(_pixels(rng), _caption(rng))
    return rows[:n]


# ----------------------------------------------------------------- stream_exact
def stream_files(seed: int) -> list[list[dict]]:
    """K + R files of synth rows; files after the first carry exact copies of
    earlier rows (new image_id, everything else equal)."""
    rng = np.random.default_rng([seed, 2])
    files: list[list[dict]] = []
    for i in range(STREAM_DRAIN_FILES + STREAM_RESTART_FILES):
        rows = synth.generate(
            STREAM_FILE_ROWS, seed=int(rng.integers(2**31)), id_offset=i * 1_000_000
        )
        for r in rows:
            r.pop("_family", None)
        if files:
            earlier = [r for f in files for r in f]
            n_copy = int(STREAM_COPY_FRAC * STREAM_FILE_ROWS)
            for j, k in enumerate(rng.choice(len(rows), n_copy, replace=False)):
                src = earlier[int(rng.integers(len(earlier)))]
                root = src.get("_copy_of", src["image_id"])  # a copy of a copy
                rows[int(k)] = {**src, "image_id": f"late{i:03d}{j:05d}", "_copy_of": root}
        files.append(rows)
    return files


# ------------------------------------------------------------------------ cache
def _write(path: str, rows: list[dict]) -> None:
    cols = {name: [r[name] for r in rows] for name in _SCHEMA.names}
    pq.write_table(pa.table(cols, schema=_SCHEMA), path, row_group_size=1024)


def assignment_digest(rows) -> str:
    """sha256 over sorted (image_id, cluster_id) pairs: equal digests, equal
    assignments."""
    return hashlib.sha256("".join(f"{a}\t{b}\n" for a, b in sorted(rows)).encode()).hexdigest()


def _file_hash(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _build(workload: str, seed: int, d: str) -> dict:
    os.makedirs(os.path.join(d, "input"))
    if workload == "batch_captions":
        rows = caption_rows(CAPTION_ROWS, seed)
        paths = [os.path.join(d, "input", "images.parquet")]
        _write(paths[0], rows)
        pairs = oracle_pairs(rows)
        meta = {"rows": len(rows), "oracle": oracle_clusters(rows, pairs),
                "oracle_pairs": sorted(pairs)}
    elif workload == "stream_exact":
        files = stream_files(seed)
        paths = []
        for i, rows in enumerate(files):
            paths.append(os.path.join(d, "input", f"part-{i:03d}.parquet"))
            _write(paths[-1], rows)
        # the oracle depends on how many files a run processed (the drain
        # plus its restarts): stream_oracle() computes it per prefix on demand
        meta = {
            "rows": sum(len(f) for f in files),
            "file_ids": [[r["image_id"] for r in f] for f in files],
            "copies": {r["image_id"]: r["_copy_of"] for f in files for r in f if "_copy_of" in r},
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    meta["input_sha256"] = _file_hash(paths)
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def stream_oracle(entry: str, n_files: int) -> dict[str, str]:
    """Oracle clusters over the first n_files stream files, cached in entry."""
    p = os.path.join(entry, f"oracle_{n_files}.json")
    if not os.path.exists(p):
        files = sorted(os.listdir(os.path.join(entry, "input")))[:n_files]
        rows = [r for f in files for r in pq.read_table(os.path.join(entry, "input", f)).to_pylist()]
        tmp = f"{p}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(oracle_clusters(rows), f)
        os.replace(tmp, p)
    with open(p) as f:
        return json.load(f)


def prepare(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (entry dir, meta) for (workload, seed), building it if absent."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-v{VERSION}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(cache_root, exist_ok=True)
        _build(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(os.path.join(d, "meta.json")) as f:
        return d, json.load(f)
