"""LSH candidate generation: MinHash banding + pHash chunk banding.

Replaces the reference's O(n^2) all-pairs embedding similarity
(/root/reference/eridu/train/utils.py:153-235; SURVEY.md §2.3 J5) with
band-bucket self-joins. Everything here is JVM-side (Catalyst expressions on
the signature arrays — `transform`/`xxhash64`/`slice`); the only Python is the
one struct-returning Arrow pandas_udf that computes a caption's signatures
(with_caption_sigs over signatures.batch_caption_sigs).

Skew stance (SURVEY.md §4.2): the pipeline collapses identical captions /
identical pHashes to one representative BEFORE banding, so degenerate hot
buckets (the `viral` family) never reach the quadratic self-join. Residual
bucket-size stats are still collected per run and logged to lineage; buckets
above cfg.bucket_cap can be hard-capped (explicitly opted-in — never a silent
recall loss)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .config import DedupConfig, DEFAULT
from . import signatures


def with_caption_sigs(
    df: DataFrame, caption_col: str = "caption", cfg: DedupConfig = DEFAULT,
    fields: tuple[str, ...] = signatures.CAPTION_SIG_FIELDS,
) -> DataFrame:
    """Add the caption kernel's `fields` as array<long> columns — `minhash`
    (num_perms values), `shingles` (for exact-Jaccard verify), `fps` (the
    winnow set, for the substring pass) — from one struct-returning Arrow
    pandas_udf: each caption crosses into Python once."""

    @F.pandas_udf(T.StructType([T.StructField(f, T.ArrayType(T.LongType())) for f in fields]))
    def _caption_sigs(s: pd.Series) -> pd.DataFrame:
        return signatures.batch_caption_sigs(s, cfg, fields)

    out = df.withColumn("_cs", _caption_sigs(F.col(caption_col)))
    return out.withColumns({f: F.col("_cs")[f] for f in fields}).drop("_cs")


def with_minhash(df: DataFrame, caption_col: str = "caption", cfg: DedupConfig = DEFAULT) -> DataFrame:
    """Add `minhash` alone (with_caption_sigs)."""
    return with_caption_sigs(df, caption_col, cfg, ("minhash",))


def with_shingles(df: DataFrame, caption_col: str = "caption", cfg: DedupConfig = DEFAULT) -> DataFrame:
    """Add `shingles` alone (with_caption_sigs)."""
    return with_caption_sigs(df, caption_col, cfg, ("shingles",))


def band_keys_expr(cfg: DedupConfig = DEFAULT) -> str:
    """array<long> of one xxhash64 bucket key per band, computed JVM-side."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    return f"transform(sequence(0, {b - 1}), b -> xxhash64(b, slice(minhash, b * {r} + 1, {r})))"


def _banded(
    sigs: DataFrame, id_col: str, cfg: DedupConfig, band_lo: int, band_hi: int | None,
    persist: bool, payload: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(banded rows (id, *payload, band, bh), bucket skew stats, persisted
    handle) for bands [band_lo, band_hi] of a signature table — the shared
    front of minhash_candidates and minhash_scored_band.

    The banded table is persisted (consumed by the skew-stats action AND both
    self-join sides) and returned so the CALLER can `unpersist()` it once the
    pairs have been materialized — otherwise each band group would pin its
    exploded cache in executor storage for the rest of the application.
    persist=False skips the cache: the right call when `sigs` is already a
    committed parquet table (recomputing the explode is cheaper than the
    cache build + columnar read-back — measured r06) — forced back on under
    cfg.hard_cap, whose bucket prune adds a third consumer."""
    band_hi = cfg.lsh_bands - 1 if band_hi is None else band_hi
    banded = sigs.select(
        F.col(id_col).alias("id"),
        *payload,
        F.posexplode(F.expr(band_keys_expr(cfg))).alias("band", "bh"),
    ).where(
        (F.col("band") >= band_lo) & (F.col("band") <= band_hi)
    )
    if persist or cfg.hard_cap:
        banded = banded.persist()  # skew-stats action AND both self-join sides
    # the PERSISTED frame is what the caller must unpersist — the hard_cap
    # branch below derives a filtered child, and unpersisting a derived
    # DataFrame is a no-op that would leave the exploded-band cache pinned
    persisted = banded
    buckets = banded.groupBy("band", "bh").agg(F.count("*").alias("bucket_size"))
    skew = buckets.agg(
        F.count("*").alias("n_buckets"),
        F.max("bucket_size").alias("max_bucket"),
        F.avg("bucket_size").alias("avg_bucket"),
        F.sum(F.when(F.col("bucket_size") > cfg.bucket_cap, 1).otherwise(0)).alias("n_over_cap"),
    )
    if cfg.hard_cap:
        banded = (
            banded.join(buckets, ["band", "bh"])
            .where(F.col("bucket_size") <= cfg.bucket_cap)
            .drop("bucket_size")
        )
    return banded, skew, persisted


def minhash_candidates(
    sigs: DataFrame, id_col: str = "rep_id", cfg: DedupConfig = DEFAULT,
    band_lo: int = 0, band_hi: int | None = None, persist: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(candidate pairs, bucket skew stats, persisted banded handle) from a
    signature table.

    Pairs are generated by a self-join on (band, band_hash) with id_a < id_b —
    the salted, skew-aware shuffle of the north rule: the shuffle key is the
    band bucket, AQE skew-join splits oversized partitions, and bucket sizes
    are accounted explicitly.

    [band_lo, band_hi] restricts to a band range so the pipeline can commit
    (and resume) the LSH pass one band group at a time — the north rule's
    "resumes mid-band". `persist` and the handle: see _banded."""
    banded, skew, persisted = _banded(sigs, id_col, cfg, band_lo, band_hi, persist)
    # slim rows (id, band, bh) with no payload -> shuffle-hash beats SMJ's
    # two sorts (same evidence as phash_candidates; the FUSED band join in
    # minhash_scored_band stays SMJ because its rows carry shingle arrays)
    a, b = banded.alias("a"), banded.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return pairs, skew, persisted


def minhash_scored_band(
    shingled_sigs: DataFrame, id_col: str = "rep_id", cfg: DedupConfig = DEFAULT,
    band_lo: int = 0, band_hi: int | None = None, sample_mod: int = 0,
    persist: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fused LSH band self-join + exact-Jaccard verify (the pipeline's hot
    path): the shingle arrays RIDE the banded rows, so `array_intersect`
    evaluates inside the join's whole-stage-codegen filter and the raw
    candidate set is never shuffled, distinct'ed, written, or joined back.
    Measured at 1M rows / 70k unique captions: the unfused path materialized
    23.1M candidate pairs (38s of candidate stages + 58s of verify join-backs);
    the fused path ships 8 banded rows per signature once per group.

    Keeps pairs with exact Jaccard >= cfg.jaccard_threshold, PLUS a
    deterministic 1-in-`sample_mod` hash-sample of the REJECTED pairs with
    their scores (sample_mod <= 1 keeps none) — the metrics stage's
    inter-cluster near-miss pool, priced at sampling time instead of a
    second verify pass.

    Returns (scored pairs(id_a, id_b, score), skew stats, banded handle) —
    unpersist the handle after the output is materialized. The unfused
    two-step path (minhash_candidates + verify.verify_jaccard) remains for
    candidate inspection (q26) and ad-hoc verification (q27). `persist` and
    the handle: see _banded."""
    banded, skew, persisted = _banded(
        shingled_sigs, id_col, cfg, band_lo, band_hi, persist, payload=("shingles",)
    )
    a, b = banded.alias("a"), banded.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    score = (
        inter.cast("double")
        / (F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter)
    )
    keep = score >= F.lit(cfg.jaccard_threshold)
    if sample_mod > 1:
        keep = keep | (
            F.pmod(F.xxhash64(F.col("a.id"), F.col("b.id")), F.lit(sample_mod)) == 0
        )
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .where(F.col("a.id") < F.col("b.id"))
        .where(keep)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            score.alias("score"),
        )
        .distinct()  # a pair surviving in 2+ bands has the identical score
    )
    return pairs, skew, persisted


def _phash_keys_expr(phash_col: str, cfg: DedupConfig = DEFAULT) -> str:
    """SQL fragment producing the chunk-PAIR keys of one pHash — the single
    source of truth shared by the candidate join and the skew accounting
    (a drifted copy would price buckets the join no longer uses)."""
    c = cfg.phash_chunks
    width = 64 // c
    mask = (1 << width) - 1
    return (
        f"flatten(transform(sequence(0, {c - 2}), i -> "
        f"transform(sequence(i + 1, {c - 1}), j -> struct("
        f"i * {c} + j AS ck, "
        f"shiftrightunsigned({phash_col}, i * {width}) & {mask}L AS vi, "
        f"shiftrightunsigned({phash_col}, j * {width}) & {mask}L AS vj))))"
    )


def phash_bucket_stats(
    phashes: DataFrame, id_col: str = "rep_id", phash_col: str = "phash", cfg: DedupConfig = DEFAULT
) -> DataFrame:
    """One-row skew accounting for the pHash chunk-pair buckets (the image
    path's analog of the minhash band skew stats): bucket count, max/avg
    size, buckets over cfg.bucket_cap, and — because capping trades recall —
    the number of CANDIDATE PAIRS a hard cap would discard (sum of C(n,2)
    over over-cap buckets). Lineage-loggable next to any capped run."""
    buckets = (
        phashes.select(F.explode(F.expr(_phash_keys_expr(phash_col, cfg))).alias("k"))
        .groupBy("k.ck", "k.vi", "k.vj")
        .agg(F.count("*").alias("n"))
    )
    over = F.col("n") > cfg.bucket_cap
    return buckets.agg(
        F.count("*").alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.avg("n").alias("avg_bucket"),
        F.sum(over.cast("long")).alias("n_over_cap"),
        F.sum(F.when(over, F.col("n") * (F.col("n") - 1) / 2).otherwise(0.0))
        .cast("long")
        .alias("capped_candidate_pairs"),
    )


def phash_candidates(
    phashes: DataFrame, id_col: str = "rep_id", phash_col: str = "phash", cfg: DedupConfig = DEFAULT
) -> DataFrame:
    """Candidate pairs whose 64-bit pHashes agree on >= 1 PAIR of 8-bit chunks.

    Pigeonhole: Hamming distance <= cfg.hamming_threshold (6) can touch at
    most 6 of the 8 chunks, leaving >= 2 untouched — so every true pair shares
    at least one (chunk_i, chunk_j) key and candidate recall is exactly 1.0;
    the Hamming verify (verify.py) supplies precision.

    Keying on chunk PAIRS (28 keys/row) instead of single chunks (8 keys/row)
    requires 16 matching bits per collision instead of 8: on biased real-world
    pHash bit distributions (solid-color images, synthetic fields) this cuts
    candidate volume by orders of magnitude — measured 61M -> ~100k join rows
    on a 20k-row biased corpus — at 3.5x the (trivial) explode cost. This is
    the skew-aware shuffle for the image path (north_rule)."""
    chunks = phashes.select(
        F.col(id_col).alias("id"),
        F.col(phash_col).alias("ph"),
        F.explode(F.expr(_phash_keys_expr(phash_col, cfg))).alias("k"),
    ).select("id", "ph", F.col("k.ck").alias("ck"), F.col("k.vi").alias("vi"), F.col("k.vj").alias("vj"))
    # same skew stance as the minhash band join: real-world pHash bit
    # distributions are biased (flat fields, letterboxes), so a hot
    # (chunk-pair, value) bucket quadratically amplifies the collision
    # stream. cfg.hard_cap prunes buckets above cfg.bucket_cap — an
    # explicitly opted-in recall trade, never silent (account the damage
    # with phash_bucket_stats); the pipeline default keeps recall 1.0.
    # Shape: the over-cap bucket KEYS are a tiny set (the few hot buckets),
    # so the prune is a broadcast ANTI join — the exploded table is never
    # shuffled or cached just to be capped.
    if cfg.hard_cap:
        over = (
            chunks.groupBy("ck", "vi", "vj")
            .agg(F.count("*").alias("bucket_size"))
            .where(F.col("bucket_size") > cfg.bucket_cap)
            .select("ck", "vi", "vj")
        )
        chunks = chunks.join(F.broadcast(over), ["ck", "vi", "vj"], "left_anti")
    # shuffle-hash, not sort-merge: the join is a pure existence probe on a
    # 3-int key over ~28x-exploded rows — SMJ pays two O(n log n) sorts of
    # the exploded table just to stream ~n^2/2^16 collision probes that the
    # inline bit_count filter rejects anyway. Measured at 340k distinct
    # pHashes (9.5M exploded rows, 32M raw collisions, 36 surviving edges):
    # 20.5s -> 13.3s at local[4]. Rows are slim (id, ph, 3 ints) so the
    # per-partition hash map stays small; no sort spills at scale either.
    a, b = chunks.alias("a"), chunks.hint("shuffle_hash").alias("b")
    # Hamming distance is verified INLINE (whole-stage codegen) before the
    # distinct: candidates carry both phashes, so the (potentially huge) raw
    # collision set never needs a distinct or a join-back — only true edges
    # reach the shuffle. This is the precision stage fused into the join.
    return (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.vi") == F.col("b.vi"))
            & (F.col("a.vj") == F.col("b.vj")),
        )
        .where(
            (F.col("a.id") < F.col("b.id"))
            & (F.expr("bit_count(a.ph ^ b.ph)") <= F.lit(cfg.hamming_threshold))
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr("bit_count(a.ph ^ b.ph)").alias("hd"),
        )
        .distinct()
    )
