"""Frozen shingle/signature configuration.

Every knob that affects *which pairs are duplicates* lives here, and BOTH the
Spark pipeline and the brute-force numpy oracle (reference_impl.py) derive from
it — this is how the recall >= 0.99 gate stays meaningful (SURVEY.md §7 "hard
parts (a)"; BASELINE.json: "identical shingle/signature configuration
(k-shingles, 128 permutations, band/row split)").

Reference semantics being matched (see SURVEY.md §2.10):
  - exact dup pass        -> /root/reference/eridu/etl/filter.py:51-57
  - pairwise fuzzy match  -> /root/reference/eridu/train/utils.py:153-235
  - noise -> singletons   -> /root/reference/Clusters.md:51-55
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- caption shingling (character k-grams, lowercased) ---
    shingle_k: int = 5
    # --- MinHash ---
    num_perms: int = 128
    minhash_prime: int = (1 << 31) - 1  # Mersenne prime; universal hash (a*x+b) % p
    minhash_seed: int = 31337           # seed for the (a_i, b_i) permutation params
    # --- LSH banding: bands * rows == num_perms ---
    # s-curve threshold (1/b)^(1/r) ~= 0.42; P(candidate | J=0.7) ~= 0.9998
    lsh_bands: int = 32
    lsh_rows: int = 4
    # --- duplicate decision thresholds ---
    jaccard_threshold: float = 0.7      # exact shingle Jaccard on verified candidates
    hamming_threshold: int = 6          # pHash Hamming distance (64-bit)
    # --- pHash banding: 8 chunks x 8 bits; pigeonhole guarantees recall 1.0
    # for Hamming <= 6 < 8 chunks (at least one chunk byte is untouched) ---
    phash_chunks: int = 8
    # --- substring (caption-fragment) pass: winnowing fingerprints ---
    # guarantee: any common substring of length >= winnow_w + winnow_k - 1 = 20
    # shares at least one selected fingerprint (Schleimer et al., SIGMOD'03)
    substr_min_len: int = 20
    winnow_k: int = 8
    winnow_w: int = 13
    # --- skew handling ---
    # LSH buckets larger than this are counted in skew stats; candidate pair
    # generation within a bucket is capped at bucket_cap choose 2 only when
    # hard_cap is True (default False: never trade recall silently).
    bucket_cap: int = 4096
    hard_cap: bool = False
    # --- fidelity gate ---
    psnr_min_db: float = 40.0
    # --- execution knobs (affect HOW, never WHICH pairs are duplicates) ---
    # connected-components takes the driver fast path only while the edge set
    # is small on BOTH axes: row count AND estimated bytes (ids can be long
    # URIs at 100TB cardinalities, so a row count alone under-estimates
    # driver heap). Above either bound -> distributed large-star/small-star
    # loop. Both paths are oracle-tested identical. The bounds follow the
    # fast path's cost model, measured on random 16-node trees with 12-char
    # ids (CC + join-back + one aggregate, fresh local[4] session on 4
    # shared vCPUs, loadavg 2.9-4.6): 1M edges took 13-16s on the driver
    # route vs 57-67s in the star loop; 4M edges (driver route forced past
    # the byte bound) 29s vs 192s — the same size-adaptive reasoning AQE
    # applies to broadcasts.
    # 72 B/edge estimated on that input => the byte bound trips near 3.7M
    # edges; there the Python driver's peak RSS grows ~230 B/edge (868 MB at
    # 4M edges, see components.edge_bytes_est).
    cc_driver_edge_threshold: int = 4_000_000
    cc_driver_max_bytes: int = 256 * 1024 * 1024
    # inter_mean_dist (metrics stage) exact-scores a deterministic 1-in-K
    # hash-sample of the near-miss candidates: the statistic is a mean, and
    # exact-scoring EVERY failed candidate just for a quality metric would
    # cost another full verify pass at corpus scale. 1 = exact (no sample).
    # Affects only the reported metric, never which pairs are duplicates.
    metrics_inter_sample_mod: int = 8
    # reps-stage viral-key routing (pipeline.exact_member_edges): collapse
    # keys with >= hot_key_rows members resolve via a bounded broadcast
    # (top hot_key_cap by sampled count) instead of the shuffle join-back —
    # pure physical routing, the edge set is identical either way (pinned by
    # tests/test_pipeline.py::test_reps_hot_key_routing_equality). The 1M
    # default tracks AQE's own skew bar (~250 MB single-task group); below
    # it the cold join-back handles the group in one healthy task.
    reps_hot_key_rows: int = 1_000_000
    reps_hot_key_cap: int = 65_536

    # pure-execution knobs: tuning them can never change any stage's OUTPUT,
    # so they are excluded from config_hash — re-tuning the CC fast-path
    # bound must not invalidate a 100TB warehouse's committed stages. Every
    # other field (thresholds, banding, sampling mods) changes results and
    # stays in the hash. (Introducing this exclusion itself changed the hash
    # once: warehouses committed before it recompute on first touch — a
    # one-time migration cost, correct by construction since is_complete
    # only ever SKIPS work when hashes match.)
    _EXEC_ONLY = (
        "cc_driver_edge_threshold",
        "cc_driver_max_bytes",
        "reps_hot_key_rows",
        "reps_hot_key_cap",
    )

    def config_hash(self) -> str:
        """Stable hash of the result-affecting config — stage manifests store
        it so resume can tell whether cached stage output is still valid
        (SURVEY.md §4.2)."""
        d = {k: v for k, v in asdict(self).items() if k not in self._EXEC_ONLY}
        return hashlib.sha256(
            json.dumps(d, sort_keys=True).encode()
        ).hexdigest()[:16]


DEFAULT = DedupConfig()
