"""Structured Streaming incremental dedup: drain a landing dir in micro
batches; later arrivals of known captions/bytes join existing clusters."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from dedup import synth
from dedup.streaming import incremental_dedup_stream


def test_incremental_dedup(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = synth.generate(120, seed=5)
    # batch 1: first 60 rows; batch 2: last 60 + exact copies of 5 early rows
    copies = []
    for i, r in enumerate(rows[:5]):
        c = dict(r)
        c["image_id"] = f"late{i:07d}"
        copies.append(c)
    pq.write_table(synth.to_arrow(rows[:60]), str(landing / "a.parquet"))

    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    # blocking waits: an availableNow query always terminates, and a timed
    # wait that expires would leave two queries sharing one checkpoint
    q = incremental_dedup_stream(spark, str(landing), wh, ckpt)
    q.awaitTermination()

    pq.write_table(synth.to_arrow(rows[60:] + copies), str(landing / "b.parquet"))
    q2 = incremental_dedup_stream(spark, str(landing), wh, ckpt)
    q2.awaitTermination()

    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert len(got) == 125
    # late exact copies joined the ORIGINAL rows' clusters
    for i, r in enumerate(rows[:5]):
        assert got[f"late{i:07d}"] == got[r["image_id"]]
    # viral caption rows share one cluster even across batches
    viral = [r["image_id"] for r in rows if r["_family"] == "viral"]
    assert len({got[v] for v in viral}) == 1


def test_untouched_buckets_survive_micro_batch(spark, tmp_path):
    """State I/O is O(touched buckets), not O(|state|): a second micro-batch
    adding ONE row must leave every untouched bucket's parquet files at their
    original paths with their original mtimes."""
    import json

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = synth.generate(200, seed=11)
    pq.write_table(synth.to_arrow(rows), str(landing / "a.parquet"))
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    incremental_dedup_stream(spark, str(landing), wh, ckpt).awaitTermination()

    man_path = os.path.join(wh, "stream_state", "_state_manifest.json")
    with open(man_path) as f:
        man1 = json.load(f)
    mtimes1 = {
        b: {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}
        for b, d in man1["buckets"].items()
    }
    assert len(man1["buckets"]) > 4  # state actually spread over buckets

    one = dict(rows[0])
    one["image_id"] = "zlate000001"
    pq.write_table(synth.to_arrow([one]), str(landing / "b.parquet"))
    incremental_dedup_stream(spark, str(landing), wh, ckpt).awaitTermination()

    with open(man_path) as f:
        man2 = json.load(f)
    changed = [b for b in man1["buckets"] if man1["buckets"][b] != man2["buckets"].get(b)]
    # one row -> three keys (exact/caption/pHash) -> at most 3 buckets rewritten
    assert 1 <= len(changed) <= 3
    for b, d in man1["buckets"].items():
        if b in changed:
            continue
        assert man2["buckets"][b] == d
        for f, m in mtimes1[b].items():
            assert os.path.getmtime(os.path.join(d, f)) == m, (b, f)
    # and the late copy joined the original row's cluster
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got["zlate000001"] == got[rows[0]["image_id"]]


def test_corrupt_state_raises_not_resets(spark, tmp_path):
    """A state dir the manifest references that cannot be read must RAISE —
    treating it as empty would silently re-root every known cluster."""
    import shutil

    import pytest

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = synth.generate(50, seed=13)
    pq.write_table(synth.to_arrow(rows), str(landing / "a.parquet"))
    wh = str(tmp_path / "wh")
    incremental_dedup_stream(spark, str(landing), wh, str(tmp_path / "c1")).awaitTermination()

    import json

    with open(os.path.join(wh, "stream_state", "_state_manifest.json")) as f:
        man = json.load(f)
    # destroy one referenced bucket dir
    victim = next(iter(man["buckets"].values()))
    shutil.rmtree(victim)

    pq.write_table(synth.to_arrow(rows), str(landing / "b.parquet"))
    q = incremental_dedup_stream(spark, str(landing), wh, str(tmp_path / "c2"))
    with pytest.raises(Exception, match="PATH_NOT_FOUND|StreamingQueryException|does not exist"):
        q.awaitTermination()


def test_commit_replay_same_batch_id_is_idempotent(spark, tmp_path):
    """Crash between the manifest swing and Spark's checkpoint commit replays
    the batch with the SAME batch_id. The replayed commit must be a no-op
    (the min-merge already folded the batch): re-running the v{batch_id}
    overwrite would delete the very bucket dirs the manifest points at while
    the state read is still lazy — permanent state loss."""
    import json

    from dedup.streaming import _assign_batch

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = synth.generate(80, seed=17)
    pq.write_table(synth.to_arrow(rows), str(landing / "a.parquet"))
    batch = spark.read.parquet(str(landing))
    wh = str(tmp_path / "wh")

    _assign_batch(batch, 0, wh)
    man_path = os.path.join(wh, "stream_state", "_state_manifest.json")
    with open(man_path) as f:
        man1 = json.load(f)
    asg_dir = os.path.join(wh, "stream_assignments")
    got1 = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}

    _assign_batch(batch, 0, wh)  # checkpoint replay, same batch_id
    with open(man_path) as f:
        man2 = json.load(f)
    assert man2["buckets"] == man1["buckets"]  # pointers unswung
    for d in man2["buckets"].values():
        assert os.path.isdir(d), f"replay destroyed committed state dir {d}"
    got2 = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
    assert got2 == got1  # replayed assignments byte-identical

    # and the NEXT batch still reads intact state: a late exact copy joins
    # the original row's cluster
    one = dict(rows[0])
    one["image_id"] = "zreplay0001"
    pq.write_table(synth.to_arrow([one]), str(tmp_path / "b.parquet"))
    _assign_batch(spark.read.parquet(str(tmp_path / "b.parquet")), 1, wh)
    got3 = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
    assert got3["zreplay0001"] == got1[rows[0]["image_id"]]


def test_viral_caption_batch_plans_no_window(spark):
    """A single viral caption in a micro-batch must not become a one-task
    window sort: the batch-root assignment is a groupBy-min + broadcast join
    (reps-stage shape), plan-pinned windowless here."""
    from dedup.streaming import _batch_assignments

    keyed = spark.createDataFrame(
        [(f"i{k:05d}", f"e{k}", "same caption for everyone") for k in range(500)],
        "image_id string, k_exact string, k_caption string",
    )
    hit = spark.createDataFrame(
        [("i00007", 2, "i00001")], "image_id string, prio int, rep_id string"
    )
    assigned = _batch_assignments(keyed, hit)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    got = {r["image_id"]: r["cluster_id"] for r in assigned.collect()}
    # the state hit binds the WHOLE caption group — a per-row hit would
    # split the group between the hit's rep and the batch-root min id
    assert set(got.values()) == {"i00001"}


def test_single_caption_micro_batch_one_cluster(spark, tmp_path):
    """End-to-end: a micro-batch that is ONE caption repeated lands in one
    cluster rooted at the min image_id."""
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = synth.generate(60, seed=23)
    for r in rows:
        r["caption"] = "the same viral caption shared by every row of this batch"
    pq.write_table(synth.to_arrow(rows), str(landing / "a.parquet"))
    wh = str(tmp_path / "wh")
    incremental_dedup_stream(spark, str(landing), wh, str(tmp_path / "ckpt")).awaitTermination()
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert set(got.values()) == {min(got)}


def test_empty_micro_batch_is_a_noop(spark, tmp_path):
    """A zero-row micro-batch (empty input file) must not crash the query or
    disturb committed state — the commit is skipped entirely (replaying an
    empty batch is a no-op), and a later real batch still sees prior state."""
    import json

    from dedup.streaming import StreamState, _assign_batch

    wh = str(tmp_path / "wh")
    rows = synth.generate(40, seed=31)
    real = spark.createDataFrame(synth.to_arrow(rows).to_pandas())
    _assign_batch(real, 0, wh)
    state = StreamState(os.path.join(wh, "stream_state"))
    man_before = json.dumps(state.manifest(), sort_keys=True)

    empty = real.limit(0)
    _assign_batch(empty, 1, wh)  # crashed with UNABLE_TO_INFER_SCHEMA before
    assert json.dumps(state.manifest(), sort_keys=True) == man_before

    # a later real batch of already-seen captions still joins prior clusters
    _assign_batch(real, 2, wh)
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    b0 = {r["image_id"]: r["cluster_id"] for r in asg.where("batch_id = 0").collect()}
    b2 = {r["image_id"]: r["cluster_id"] for r in asg.where("batch_id = 2").collect()}
    assert b0 == b2


def test_checkpoint_reset_against_existing_state_raises(spark, tmp_path):
    """Batch ids only move forward under one checkpoint; a LOWER id means the
    checkpoint was reset against existing state. That must raise — silently
    skipping would freeze the state table (stale lookups, wrong clusters),
    and re-folding would overwrite version dirs the manifest references."""
    import pytest as _pytest

    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    rows = synth.generate(30, seed=37)
    batch = spark.createDataFrame(synth.to_arrow(rows).to_pandas())
    _assign_batch(batch, 5, wh)
    _assign_batch(batch, 5, wh)  # exact replay of the committed batch: no-op
    with _pytest.raises(RuntimeError, match="checkpoint was reset"):
        _assign_batch(batch, 3, wh)
    # the refusal must fire BEFORE the batch publishes output: a
    # commit-time-only check had already (over)written the delivered
    # batch's stream_assignments partition when it raised (r04 review)
    assert not os.path.exists(
        os.path.join(wh, "stream_assignments", "batch_id=3")
    )
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    assert asg.count() == 30  # exactly the committed batch, nothing extra


def test_null_caption_rows_root_themselves(spark, tmp_path):
    """Parquet nullability is advisory: a NULL-caption row must get a real
    cluster_id (its own id), not NULL, and must not fold a NULL rep into
    state."""
    from pyspark.sql import functions as F

    from dedup.streaming import StreamState, _assign_batch

    wh = str(tmp_path / "wh")
    rows = synth.generate(10, seed=41)
    batch = spark.createDataFrame(synth.to_arrow(rows).to_pandas()).withColumn(
        "caption",
        F.when(F.col("image_id") == rows[0]["image_id"], F.lit(None)).otherwise(
            F.col("caption")
        ),
    )
    _assign_batch(batch, 0, wh)
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got[rows[0]["image_id"]] == rows[0]["image_id"]
    assert all(v is not None for v in got.values())
    state = StreamState(os.path.join(wh, "stream_state"))
    seen = state.read_buckets(spark, list(range(state.n_buckets)))
    assert seen.where(F.col("rep_id").isNull()).count() == 0
    # and no NULL KEY rows entered state either (dead rows that never
    # equi-join but min-merge forever — r03 advice)
    assert seen.where(F.col("key").isNull()).count() == 0


def test_compact_fuzzy_refines_stream_clusters(spark, tmp_path):
    """Periodic fuzzy compaction must REFINE the stream's exact-tier
    clustering: the pipeline's edge set is a superset of the exact-dup
    edges, so any two rows the stream co-clustered stay co-clustered after
    compaction (clusters only merge, never split)."""
    from dedup.streaming import compact_fuzzy

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = synth.generate(300, seed=47)
    pq.write_table(synth.to_arrow(rows[:150]), str(landing / "a.parquet"))
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    incremental_dedup_stream(spark, str(landing), wh, ckpt).awaitTermination()
    pq.write_table(synth.to_arrow(rows[150:]), str(landing / "b.parquet"))
    incremental_dedup_stream(spark, str(landing), wh, ckpt).awaitTermination()

    stream_asg = {
        r["image_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(wh, "stream_assignments")).collect()
    }
    compact_asg = {
        r["image_id"]: r["cluster_id"]
        for r in compact_fuzzy(spark, str(landing), wh).collect()
    }
    assert set(compact_asg) == set(stream_asg) == {r["image_id"] for r in rows}
    # refinement: each stream cluster maps into exactly ONE compacted cluster
    by_stream: dict[str, set[str]] = {}
    for img, sc in stream_asg.items():
        by_stream.setdefault(sc, set()).add(compact_asg[img])
    assert all(len(v) == 1 for v in by_stream.values())
    # and compaction actually merged something (fuzzy tiers added edges)
    assert len(set(compact_asg.values())) < len(set(stream_asg.values()))


def test_null_caption_exact_dups_collapse_in_batch(spark, tmp_path):
    """Byte-identical rows whose caption is NULL share k_exact (the sha) but
    have no caption root; the exact-root middle fallback must collapse them
    to one in-batch cluster instead of letting each self-root (r03 advice).
    Rows with DIFFERENT bytes and NULL captions must still stay apart."""
    from pyspark.sql import functions as F

    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    rows = synth.generate(8, seed=43)
    # a byte-identical copy of row 0; rows 0, 1 and the twin all get NULL captions
    twin = dict(rows[0]); twin["image_id"] = "twin000001"
    batch = spark.createDataFrame(
        synth.to_arrow(rows[:2] + [twin]).to_pandas()
    ).withColumn(
        "caption",
        F.when(
            F.col("image_id").isin(
                rows[0]["image_id"], rows[1]["image_id"], "twin000001"
            ),
            F.lit(None),
        ).otherwise(F.col("caption")),
    )
    _assign_batch(batch, 0, wh)
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got["twin000001"] == got[rows[0]["image_id"]]  # byte-twins merge
    # distinct bytes + NULL caption stay apart (no NULL-group over-merge)
    assert got[rows[1]["image_id"]] != got[rows[0]["image_id"]]
    assert all(v is not None for v in got.values())


def _row(image_id, caption, phash, payload):
    return {
        "image_id": image_id, "bytes": payload, "w": 1, "h": 1, "fmt": "raw",
        "caption": caption, "phash": phash,
    }


def test_phash_tier_merges_across_batches(spark, tmp_path):
    """The stream's third collapse key (pHash equality — the batch reps
    stage's 'simhash' kind): a later arrival whose pHash matches a seen row
    joins its cluster even with unrelated caption and bytes; an unseen pHash
    self-roots. NULL-caption rows, where the caption tier can never match,
    also link across batches through the pHash key alone."""
    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    b0 = [
        _row("a0000001", "red fox", 7, b"\x01"),
        _row("a0000002", None, 42, b"\x02"),
    ]
    b1 = [
        _row("b0000001", "blue crane", 7, b"\x03"),   # pHash hit -> joins a1
        _row("b0000002", "green tram", 8, b"\x04"),   # unseen pHash -> roots
        _row("b0000003", None, 42, b"\x05"),          # captionless pHash hit
    ]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b0).to_pandas()), 0, wh)
    _assign_batch(spark.createDataFrame(synth.to_arrow(b1).to_pandas()), 1, wh)
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got["b0000001"] == got["a0000001"] == "a0000001"
    assert got["b0000002"] == "b0000002"
    assert got["b0000003"] == got["a0000002"] == "a0000002"


def test_phash_key_cannot_collide_with_caption_key(spark, tmp_path):
    """Kind-prefixed state keys: a caption that IS a decimal string must
    never equi-join a pHash key of the same digits (flat key table, so only
    the prefix separates the tiers)."""
    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    _assign_batch(
        spark.createDataFrame(synth.to_arrow([_row("a0000001", "123", 555, b"\x01")]).to_pandas()),
        0, wh,
    )
    _assign_batch(
        spark.createDataFrame(synth.to_arrow([_row("b0000001", "zzz", 123, b"\x02")]).to_pandas()),
        1, wh,
    )
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got["b0000001"] == "b0000001"  # phash 123 != caption "123"


def test_phash_hit_priority_never_splits_caption_group(spark, tmp_path):
    """A row matching BOTH a caption key and a (different-rep) pHash key must
    adopt the caption rep: caption groups stay coherent, and the pHash link
    is left to compaction (under-merge, never a split)."""
    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    b0 = [
        _row("a0000001", "caption one", 1, b"\x01"),
        _row("a0000002", "caption two", 2, b"\x02"),
    ]
    # c matches caption of a2 (rep a0000002) and pHash of a1 (rep a0000001,
    # the LOWER id — a min-over-reps rule would pick it and split the group)
    b1 = [_row("c0000001", "caption two", 1, b"\x03")]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b0).to_pandas()), 0, wh)
    _assign_batch(spark.createDataFrame(synth.to_arrow(b1).to_pandas()), 1, wh)
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got["c0000001"] == got["a0000002"] == "a0000002"
    assert got["c0000001"] != got["a0000001"]


def test_key_format_mismatch_refuses(spark, tmp_path):
    """State written under another key encoding would never equi-join the
    current keys — lookups silently miss and every arrival re-roots. Both
    the read and the commit path must refuse instead."""
    import json

    import pytest as _pytest

    from dedup.streaming import StreamState, _assign_batch

    wh = str(tmp_path / "wh")
    _assign_batch(
        spark.createDataFrame(synth.to_arrow([_row("a0000001", "x", 1, b"\x01")]).to_pandas()),
        0, wh,
    )
    man_path = os.path.join(wh, "stream_state", "_state_manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    del man["key_format"]  # simulate a v1 (pre-prefix) state warehouse
    with open(man_path, "w") as f:
        json.dump(man, f)
    state = StreamState(os.path.join(wh, "stream_state"))
    with _pytest.raises(RuntimeError, match="key_format"):
        state.read_buckets(spark, [0])
    with _pytest.raises(RuntimeError, match="key_format"):
        _assign_batch(
            spark.createDataFrame(synth.to_arrow([_row("b0000001", "y", 2, b"\x02")]).to_pandas()),
            1, wh,
        )


def test_fuzzy_state_cfg_mismatch_refuses(spark, tmp_path):
    """The fuzzy tiers' state KEYS derive from cfg (minhash/banding for the
    band state, pHash chunking for the sim state): resuming the stream with
    a different cfg would silently never match accumulated state — the
    manifests record the key params and refuse a mismatch loudly, like
    key_format does for code-level key changes (r04 review finding)."""
    import pytest as _pytest

    from dedup.config import DedupConfig
    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    _assign_batch(
        spark.createDataFrame(synth.to_arrow([_row("a0000001", CAP_A, 1, b"\x01")]).to_pandas()),
        0, wh, fuzzy=True,
    )
    # changed minhash seed -> different band keys; chunking unchanged, but
    # the band-state read fires first and must refuse
    with _pytest.raises(RuntimeError, match="key params"):
        _assign_batch(
            spark.createDataFrame(synth.to_arrow([_row("b0000001", CAP_B, 2, b"\x02")]).to_pandas()),
            1, wh, fuzzy=True, cfg=DedupConfig(minhash_seed=999),
        )
    # changed pHash chunking -> different sim keys; band params unchanged
    # relative to DEFAULT, so the refusal comes from the sim-state side
    with _pytest.raises(RuntimeError, match="key params"):
        _assign_batch(
            spark.createDataFrame(synth.to_arrow([_row("b0000002", CAP_B, 3, b"\x03")]).to_pandas()),
            1, wh, fuzzy=True, cfg=DedupConfig(phash_chunks=4),
        )
    # the original cfg still resumes fine
    _assign_batch(
        spark.createDataFrame(synth.to_arrow([_row("b0000003", CAP_B, 4, b"\x04")]).to_pandas()),
        1, wh, fuzzy=True,
    )
    got = {
        r["image_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(wh, "stream_assignments")).collect()
    }
    assert got["b0000003"] == "a0000001"  # near-dup caption linked via state


CAP_A = "a tabby cat sleeping on a warm windowsill in the golden afternoon sun beside a potted fern"
CAP_B = "a tabby cat sleeping on a warm windowsill in the golden morning sun beside a potted fern"
CAP_FAR = "quiet harbor boats resting under pale morning fog beside the old stone pier"


def test_fuzzy_stream_links_near_dup_captions_across_batches(spark, tmp_path):
    """fuzzy=True: a later arrival whose caption is a NEAR duplicate (exact
    shingle Jaccard >= cfg.jaccard_threshold — the batch pipeline's own
    criterion) of a previously-seen caption joins its cluster; a dissimilar
    caption still roots itself; and the exact tier keeps working."""
    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    # phashes pairwise Hamming > 6 (0xFF-aligned bytes) so the IMAGE fuzzy
    # tier stays out of this caption-tier test
    b0 = [_row("a0000001", CAP_A, 0x00, b"\x01")]
    b1 = [
        _row("b0000001", CAP_B, 0xFF, b"\x02"),        # near-dup caption -> joins a1
        _row("b0000002", CAP_FAR, 0xFF00, b"\x03"),    # dissimilar -> roots itself
        _row("b0000003", CAP_A, 0xFF0000, b"\x04"),    # exact caption -> exact tier
    ]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b0).to_pandas()), 0, wh, fuzzy=True)
    _assign_batch(spark.createDataFrame(synth.to_arrow(b1).to_pandas()), 1, wh, fuzzy=True)
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got["b0000001"] == got["a0000001"] == "a0000001"  # fuzzy link
    assert got["b0000002"] == "b0000002"                      # verify gates
    assert got["b0000003"] == "a0000001"                      # exact tier intact
    # and the caption key of the fuzzy-merged row folded with the MERGED rep,
    # so a third batch repeating CAP_B resolves through the exact tier alone
    _assign_batch(
        spark.createDataFrame(
            synth.to_arrow([_row("c0000001", CAP_B, 0xFF000000, b"\x05")]).to_pandas()
        ),
        2, wh,  # fuzzy OFF here: the exact tier must already know CAP_B
    )
    got = {
        r["image_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(wh, "stream_assignments")).collect()
    }
    assert got["c0000001"] == "a0000001"


def test_fuzzy_in_batch_near_dups_do_not_merge(spark, tmp_path):
    """Two near-dup captions arriving in the SAME micro-batch stay separate
    (state is read at its pre-batch commit; under-merge is the safe
    direction, compaction heals) — then a later arrival links to each."""
    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    b0 = [_row("a0000001", CAP_A, 1, b"\x01"), _row("a0000002", CAP_B, 2, b"\x02")]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b0).to_pandas()), 0, wh, fuzzy=True)
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got["a0000001"] != got["a0000002"]


def test_fuzzy_replay_idempotent_and_state_intact(spark, tmp_path):
    """Checkpoint replay with fuzzy=True: same batch_id re-delivered after
    BOTH commits must leave both state manifests unswung and reproduce
    byte-identical assignments; a crash replay BETWEEN the two commits
    (exact folded, band not) must complete the band commit idempotently."""
    import json

    from dedup.streaming import StreamState, _assign_batch

    wh = str(tmp_path / "wh")
    b0 = [_row("a0000001", CAP_A, 0x00, b"\x01")]
    b1 = [_row("b0000001", CAP_B, 0xFF, b"\x02")]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b0).to_pandas()), 0, wh, fuzzy=True)
    batch1 = spark.createDataFrame(synth.to_arrow(b1).to_pandas())
    _assign_batch(batch1, 1, wh, fuzzy=True)
    asg_dir = os.path.join(wh, "stream_assignments")
    got1 = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}

    exact_man = os.path.join(wh, "stream_state", "_state_manifest.json")
    band_man = os.path.join(wh, "band_state", "_state_manifest.json")
    with open(exact_man) as f:
        em1 = json.load(f)
    with open(band_man) as f:
        bm1 = json.load(f)

    _assign_batch(batch1, 1, wh, fuzzy=True)  # full replay, same batch_id
    with open(exact_man) as f:
        assert json.load(f)["buckets"] == em1["buckets"]
    with open(band_man) as f:
        assert json.load(f)["buckets"] == bm1["buckets"]
    got2 = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
    assert got2 == got1

    # crash between the two commits: rewind ONLY the band manifest to its
    # pre-batch-1 state and replay — the exact fold early-returns, the band
    # fold recomputes from state-resolved assignments and must land the
    # identical (key, rep_id) rows
    bm0 = dict(bm1)
    bm0["batch_id"] = 0
    # batch-0 band keys all live in batch-0 vdirs; batch-1-only buckets roll back to absent
    bm0["buckets"] = {
        b: p for b, p in bm1["buckets"].items() if "v000000000" in p
    }
    with open(band_man, "w") as f:
        json.dump(bm0, f)
    _assign_batch(batch1, 1, wh, fuzzy=True)
    with open(band_man) as f:
        bm2 = json.load(f)
    assert bm2["batch_id"] == 1
    state = StreamState(os.path.join(wh, "band_state"),
                        columns="key string, rep_id string, rep_caption string")
    reps = {r["rep_id"] for r in state.read_buckets(spark, list(range(64))).collect()}
    assert reps == {"a0000001"}  # every band row carries the merged rep
    got3 = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
    assert got3 == got1


def test_fuzzy_band_state_capped(spark, tmp_path, monkeypatch):
    """A hot band key (many distinct captions colliding in one band bucket)
    keeps at most BAND_STATE_CAP deterministic (rep_id, rep_caption) rows —
    bounded state, the stream analog of the batch tier's bucket_cap."""
    from pyspark.sql import functions as F

    from dedup import streaming as st

    monkeypatch.setattr(st, "BAND_STATE_CAP", 2)
    wh = str(tmp_path / "wh")
    # four variants of one base caption, one per batch: mutually near-dup, so
    # they share band keys; each is a DISTINCT caption, so each adds a
    # (rep, caption) row to the shared keys
    variants = [
        CAP_A,
        CAP_A.replace("afternoon", "morning"),
        CAP_A.replace("afternoon", "evening"),
        CAP_A.replace("afternoon", "midday"),
    ]
    for i, cap in enumerate(variants):
        st._assign_batch(
            spark.createDataFrame(
                synth.to_arrow([_row(f"v{i:07d}", cap, i, bytes([i + 1]))]).to_pandas()
            ),
            i, wh, fuzzy=True,
        )
    state = st.StreamState(os.path.join(wh, "band_state"),
                           columns="key string, rep_id string, rep_caption string")
    per_key = (
        state.read_buckets(spark, list(range(64)))
        .groupBy("key").count().agg(F.max("count").alias("m")).collect()[0]["m"]
    )
    assert per_key <= 2
    # the cap bounds state, not correctness here: all four still one cluster
    got = {
        r["image_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(wh, "stream_assignments")).collect()
    }
    assert set(got.values()) == {"v0000000"}


def test_merge_stream_spans_transitive(spark, tmp_path):
    """_merge_stream_spans: stream clusters spanning multiple compacted
    clusters force those compacted clusters to merge — transitively, into
    the min id — and untouched clusters pass through unchanged."""
    from dedup.streaming import _merge_stream_spans

    wh = str(tmp_path / "wh")
    sa = os.path.join(wh, "stream_assignments", "batch_id=0")
    os.makedirs(sa)
    # stream said: {i1,i2} together, {i3,i4} together, i5 alone
    spark.createDataFrame(
        [("i1", "s1"), ("i2", "s1"), ("i3", "s2"), ("i4", "s2"), ("i5", "s3")],
        "image_id string, cluster_id string",
    ).write.mode("overwrite").parquet(sa)
    # compaction split both pairs: c1/c2 (span s1), c2/c3 (span s2) -> all
    # three compact clusters chain-merge into c1; c9 is untouched
    res = spark.createDataFrame(
        [("i1", "c1"), ("i2", "c2"), ("i3", "c2"), ("i4", "c3"), ("i5", "c9")],
        "image_id string, cluster_id string",
    )
    got = {r["image_id"]: r["cluster_id"] for r in _merge_stream_spans(spark, res, wh).collect()}
    assert got == {"i1": "c1", "i2": "c1", "i3": "c1", "i4": "c1", "i5": "c9"}


def test_partial_phash_hit_binds_whole_caption_group(spark, tmp_path):
    """A state key matching only a SUBSET of a same-batch caption group (the
    cross-cutting pHash key) must pull the WHOLE group into the hit's
    cluster — a per-row hit would split the group AND fold its c|/e| keys
    with different reps, cascading the split through the exact tier in
    every later batch (r04 review finding)."""
    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    b0 = [_row("a0000001", "old caption", 7, b"\x01")]
    b1 = [
        _row("b0000001", "new caption", 7, b"\x02"),   # pHash hit -> a1
        _row("b0000002", "new caption", 99, b"\x03"),  # no hit, same caption
    ]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b0).to_pandas()), 0, wh)
    _assign_batch(spark.createDataFrame(synth.to_arrow(b1).to_pandas()), 1, wh)
    asg_dir = os.path.join(wh, "stream_assignments")
    got = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
    assert got["b0000001"] == got["b0000002"] == "a0000001"
    # and state folded coherently: a later byte-copy of the NON-hit member
    # (exact tier, prio 0) and a fresh same-caption row (caption tier) both
    # resolve to the same cluster
    b2 = [
        _row("c0000001", "new caption", 99, b"\x03"),  # byte-copy of b2
        _row("c0000002", "new caption", 55, b"\x04"),  # caption-only match
    ]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b2).to_pandas()), 2, wh)
    got = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
    assert got["c0000001"] == got["c0000002"] == "a0000001"


def test_partial_phash_hit_binds_null_caption_exact_group(spark, tmp_path):
    """Same contract for the NULL-caption lattice: byte-identical
    NULL-caption rows where only one carries a state-matching pHash stay
    one cluster (the group-level exact_hit), not a split pair."""
    from pyspark.sql import functions as F

    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    b0 = [_row("a0000001", "seed", 7, b"\x01")]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b0).to_pandas()), 0, wh)
    # two byte-identical NULL-caption rows; one ALSO matches pHash 7 — give
    # them the same bytes but different phash to make the subset hit real
    b1 = spark.createDataFrame(
        synth.to_arrow(
            [_row("b0000001", None, 7, b"\x09"), _row("b0000002", None, None, b"\x09")]
        ).to_pandas()
    ).withColumn("phash", F.when(F.col("image_id") == "b0000001", F.lit(7)).cast("long"))
    _assign_batch(b1, 1, wh)
    asg_dir = os.path.join(wh, "stream_assignments")
    got = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
    assert got["b0000001"] == got["b0000002"] == "a0000001"


def test_fuzzy_image_tier_links_near_phash_across_batches(spark, tmp_path):
    """fuzzy=True image tier: a later arrival whose pHash is within
    cfg.hamming_threshold (6) of a previously-seen pHash joins its cluster
    even with an unrelated caption; Hamming > 6 stays apart; NULL-caption
    rows (invisible to the caption tier) link through this tier too."""
    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    base = 0x0123456789ABCDEF
    b0 = [
        _row("a0000001", "red fox on a meadow", base, b"\x01"),
        _row("a0000002", None, 0x7777000011110000, b"\x02"),
    ]
    b1 = [
        # HD 3 from base, unrelated caption -> joins a1
        _row("b0000001", "a completely different caption", base ^ 0b111, b"\x03"),
        # HD 8 from base (and far from everything else) -> roots itself
        _row("b0000002", "another unrelated caption", base ^ 0xFF00000000, b"\x04"),
        # NULL caption, HD 2 from a2's pHash -> joins a2 through the image tier
        _row("b0000003", None, 0x7777000011110011, b"\x05"),
    ]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b0).to_pandas()), 0, wh, fuzzy=True)
    _assign_batch(spark.createDataFrame(synth.to_arrow(b1).to_pandas()), 1, wh, fuzzy=True)
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got["b0000001"] == got["a0000001"] == "a0000001"
    assert got["b0000002"] == "b0000002"
    assert got["b0000003"] == got["a0000002"] == "a0000002"
    # simhash state folded with the merged reps: a third arrival at HD 3
    # from b1's pHash (HD 6 from base) still resolves to a1's cluster
    b2 = [_row("c0000001", "yet another caption", base ^ 0b111111, b"\x06")]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b2).to_pandas()), 2, wh, fuzzy=True)
    got = {
        r["image_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(wh, "stream_assignments")).collect()
    }
    assert got["c0000001"] == "a0000001"


def test_fuzzy_both_tiers_accept_takes_min_rep(spark, tmp_path):
    """A cluster accepted by BOTH fuzzy tiers (caption near-dup of one seen
    cluster, pHash near-dup of another) adopts the min rep — one coherent
    choice, no split; compaction supplies the transitive closure."""
    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    b0 = [
        _row("a0000001", CAP_A, 0x00, b"\x01"),
        # far caption, far pHash from a1
        _row("a0000002", CAP_FAR, 0x7FFFFFFFFFFF0000, b"\x02"),
    ]
    # near-dup caption of a1 AND pHash at HD 2 of a2: both tiers accept;
    # min(a0000001, a0000002) = a0000001
    b1 = [_row("b0000001", CAP_B, 0x7FFFFFFFFFFF0011, b"\x03")]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b0).to_pandas()), 0, wh, fuzzy=True)
    _assign_batch(spark.createDataFrame(synth.to_arrow(b1).to_pandas()), 1, wh, fuzzy=True)
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got["b0000001"] == "a0000001"


def test_fuzzy_crash_between_band_and_sim_commits_replays_clean(spark, tmp_path):
    """The fuzzy path has THREE ordered commits (exact -> band -> sim). A
    crash after the band commit but before the sim commit replays the batch
    with exact+band already folded: the replay must complete the sim commit
    with byte-identical state rows and unchanged assignments — pinning the
    invariant chain (replayed rows all resolve through exact state, remap
    comes back empty, folds reproduce the committed rows, earlier commits
    early-return)."""
    import json
    import shutil

    from dedup.streaming import StreamState, _assign_batch

    wh = str(tmp_path / "wh")
    base = 0x0123456789ABCDEF
    b0 = [_row("a0000001", CAP_A, base, b"\x01")]
    # links to a1 through BOTH tiers (near caption, pHash HD 3)
    b1 = [_row("b0000001", CAP_B, base ^ 0b111, b"\x02")]
    _assign_batch(spark.createDataFrame(synth.to_arrow(b0).to_pandas()), 0, wh, fuzzy=True)
    # snapshot the ENTIRE sim-state dir (manifest + v0 bucket dirs) — this
    # is exactly what a crash before the sim commit's write leaves behind
    sim_dir = os.path.join(wh, "simhash_state")
    shutil.copytree(sim_dir, str(tmp_path / "sim_snapshot"))
    batch1 = spark.createDataFrame(synth.to_arrow(b1).to_pandas())
    _assign_batch(batch1, 1, wh, fuzzy=True)

    sim = StreamState(sim_dir, columns="key string, rep_id string, rep_phash long")
    clean_rows = sorted(
        (r["key"], r["rep_id"], r["rep_phash"])
        for r in sim.read_buckets(spark, list(range(64))).collect()
    )
    asg_dir = os.path.join(wh, "stream_assignments")
    got1 = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
    assert got1["b0000001"] == "a0000001"

    # crash simulation: sim state reverts to its post-batch-0 snapshot while
    # exact + band state remain committed at batch 1
    shutil.rmtree(sim_dir)
    shutil.copytree(str(tmp_path / "sim_snapshot"), sim_dir)
    sim_man = os.path.join(sim_dir, "_state_manifest.json")

    _assign_batch(batch1, 1, wh, fuzzy=True)  # replay completes the sim commit
    with open(sim_man) as f:
        assert json.load(f)["batch_id"] == 1
    replay_rows = sorted(
        (r["key"], r["rep_id"], r["rep_phash"])
        for r in sim.read_buckets(spark, list(range(64))).collect()
    )
    assert replay_rows == clean_rows
    got2 = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
    assert got2 == got1


def _fold(spark, state, pairs, batch_id, gc=True):
    """One state fold as the exact tier does it: read the touched buckets,
    min-merge the new (key, rep_id) pairs in, commit."""
    from pyspark.sql import functions as F

    new = spark.createDataFrame(pairs, "key string, rep_id string")
    touched = sorted(
        r["b"] for r in new.select(state.bucket_col("key").alias("b")).distinct().collect()
    )
    merged = (
        state.read_buckets(spark, touched).unionByName(new)
        .groupBy("key").agg(F.min("rep_id").alias("rep_id"))
        .withColumn("bucket", state.bucket_col("key"))
    )
    return state.commit(merged, touched, batch_id, gc=gc)


def _vdirs_on_disk(root):
    return {os.path.join(root, d) for d in os.listdir(root) if d.startswith("v")}


def _bucket_range_folds(spark, state, spans):
    """One fold per (lo, hi, tag): every pool key whose bucket is in
    [lo, hi], with rep `tag|key` — a later, smaller tag lowers the rep of
    keys already in state, and the pool holds keys no earlier fold had."""
    pool = [f"k{i:04d}" for i in range(600)]
    df = spark.createDataFrame([(k,) for k in pool], "key string")
    bucket = {r["key"]: r["b"] for r in df.withColumn("b", state.bucket_col("key")).collect()}
    return [[(k, f"{tag}|{k}") for k in pool if lo <= bucket[k] <= hi] for lo, hi, tag in spans]


def test_read_buckets_returns_only_live_versions(spark, tmp_path):
    """Three micro-batches touching different bucket subsets leave
    superseded rows inside version dirs that other buckets still map to;
    read_buckets(all) must equal a brute-force min-merge of every key —
    no stale row from a superseded version, nothing missing."""
    from dedup.streaming import StreamState

    state = StreamState(str(tmp_path / "state"))
    folded: list[tuple[str, str]] = []
    spans = [(0, 63, "r9"), (0, 23, "r5"), (16, 40, "r7")]
    for bid, pairs in enumerate(_bucket_range_folds(spark, state, spans)):
        _fold(spark, state, pairs, bid)
        folded += pairs
    want: dict[str, str] = {}
    for k, r in folded:
        want[k] = min(r, want.get(k, r))
    got = [(r["key"], r["rep_id"]) for r in state.read_buckets(spark, list(range(64))).collect()]
    assert len(got) == len({k for k, _ in got})  # one row per key
    assert dict(got) == want
    # the test's premise: v0 is still mapped AND physically holds rows that
    # later versions superseded
    v0 = str(tmp_path / "state" / "v000000000")
    assert v0 in state.manifest()["buckets"].values()
    stale = {r["key"]: r["rep_id"] for r in spark.read.parquet(v0).collect()}
    assert any(want[k] != r for k, r in stale.items())


def test_version_dir_gc_follows_manifest_refcount(spark, tmp_path):
    """A version dir is deleted exactly when no bucket maps to it any more:
    with gc=True the dirs on disk are always exactly the mapped ones; with
    gc=False the commit deletes nothing and returns exactly the unmapped
    dirs for the caller to delete."""
    from dedup.streaming import StreamState

    for gc in (True, False):
        root = str(tmp_path / f"state_gc{gc}")
        state = StreamState(root)
        # v0 maps every bucket; fold 1 remaps < 24 (v0 still live), fold 2
        # remaps >= 24 (v0 unmapped), fold 3 remaps < 24 again (v1 unmapped)
        spans = [(0, 63, "r9"), (0, 23, "r5"), (24, 63, "r5"), (0, 23, "r3")]
        vdir = lambda i: os.path.join(root, f"v{i:09d}")  # noqa: E731
        unmapped = {0: [], 1: [], 2: [vdir(0)], 3: [vdir(1)]}
        for bid, pairs in enumerate(_bucket_range_folds(spark, state, spans)):
            before = _vdirs_on_disk(root) if bid else set()
            ret = _fold(spark, state, pairs, bid, gc=gc)
            mapped = set(state.manifest()["buckets"].values())
            on_disk = _vdirs_on_disk(root)
            assert mapped <= on_disk  # nothing still mapped is ever deleted
            if gc:
                assert ret == [] and on_disk == mapped, bid
            else:
                assert ret == unmapped[bid] and on_disk == before | {vdir(bid)}, bid
                for d in ret:
                    state.fs.delete(d, recursive=True)
                assert _vdirs_on_disk(root) == mapped, bid


def test_fuzzy_tiers_gc_unmapped_version_dirs(spark, tmp_path):
    """The fuzzy tiers' deferred band GC and the exact tier's deferred GC
    leave, after every micro-batch, exactly the mapped version dirs of each
    state on disk; a batch repeating the previous batch's keys unmaps (and
    so deletes) that batch's dirs in all three states."""
    import json

    from dedup.streaming import _assign_batch

    wh = str(tmp_path / "wh")
    batches = [
        [_row("a0000001", CAP_A, 0x0123456789ABCDEF, b"\x01")],
        [_row("b0000001", CAP_FAR, 0x7FFFFFFFFFFF0000, b"\x02")],
        # same bytes/caption/pHash as batch 1: the same keys in every state
        [_row("c0000001", CAP_FAR, 0x7FFFFFFFFFFF0000, b"\x02")],
    ]
    states = [os.path.join(wh, s) for s in ("stream_state", "band_state", "simhash_state")]
    for bid, rows in enumerate(batches):
        _assign_batch(spark.createDataFrame(synth.to_arrow(rows).to_pandas()), bid, wh, fuzzy=True)
        for root in states:
            with open(os.path.join(root, "_state_manifest.json")) as f:
                mapped = set(json.load(f)["buckets"].values())
            assert _vdirs_on_disk(root) == mapped, (bid, root)
            assert os.path.join(root, f"v{bid:09d}") in mapped
    for root in states:
        assert not os.path.exists(os.path.join(root, "v000000001")), root
    got = {
        r["image_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(wh, "stream_assignments")).collect()
    }
    assert got["c0000001"] == got["b0000001"] == "b0000001"


def test_micro_batch_state_is_one_file_set_with_no_listing_job(spark, tmp_path):
    """After a 200-row micro-batch the version dir is a plain file set: at
    most spark.sql.shuffle.partitions data files, no bucket= subdirs. The
    next micro-batch reads it back with no "Listing leaf files" job and no
    job of n_buckets tasks (the old per-bucket write and listing shape)."""
    from dedup.streaming import N_BUCKETS, StreamState, _assign_batch

    wh = str(tmp_path / "wh")
    rows = synth.generate(260, seed=11)
    _assign_batch(spark.createDataFrame(synth.to_arrow(rows[:200]).to_pandas()), 0, wh)
    v0 = os.path.join(wh, "stream_state", "v000000000")
    entries = os.listdir(v0)
    data = [e for e in entries if e.endswith(".parquet")]
    assert 1 <= len(data) <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert not any(os.path.isdir(os.path.join(v0, e)) for e in entries)
    # 180 keys of the next batch touch far more than the 32 paths above which
    # a parallel listing job would start
    assert len(StreamState(os.path.join(wh, "stream_state")).manifest()["buckets"]) > 32

    sc = spark.sparkContext
    group = f"job-shape-{tmp_path.name}"
    sc.setJobGroup(group, "job shape probe")
    try:
        _assign_batch(spark.createDataFrame(synth.to_arrow(rows[200:]).to_pandas()), 1, wh)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    assert jobs
    descriptions = {}
    it = sc._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        d = j.description()
        descriptions[j.jobId()] = d.get() if d.isDefined() else ""
    for jid in jobs:
        assert not descriptions.get(jid, "").startswith("Listing leaf files"), jid
        for sid in st.getJobInfo(jid).stageIds:
            info = st.getStageInfo(sid)
            assert info is None or info.numTasks != N_BUCKETS, (jid, sid)


def _to_parent_layout(spark, root):
    """Rewrite a state dir into the earlier per-bucket layout as that code
    wrote it: one `v{id}/bucket=b` leaf dir per bucket holding parquet files
    WITHOUT a bucket column, and a manifest pointing at the leaf dirs."""
    import shutil

    from dedup.fs import write_json_atomic
    from dedup.streaming import StreamState

    state = StreamState(root)
    man = state.manifest()
    rows = (
        state.read_buckets(spark, list(range(state.n_buckets)))
        .withColumn("bucket", state.bucket_col("key"))
        .toPandas()
    )
    shutil.rmtree(root)
    vdir = os.path.join(root, f"v{man['batch_id']:09d}")
    df = spark.createDataFrame(rows, "key string, rep_id string, bucket int")
    df.repartition(state.n_buckets, "bucket").write.partitionBy("bucket").parquet(vdir)
    man["buckets"] = {str(b): os.path.join(vdir, f"bucket={b}") for b in set(rows["bucket"])}
    write_json_atomic(state.fs, os.path.join(root, "_state_manifest.json"), man)
    return len(rows)


def test_parent_layout_state_folds_and_late_copies_join(spark, tmp_path):
    """State committed by the earlier per-bucket layout (leaf dirs without a
    bucket column) keeps working: late exact copies join their originals
    while every touched bucket is still legacy, and again once the state
    mixes migrated and legacy buckets; untouched legacy buckets stay put."""
    from dedup.streaming import StreamState, _assign_batch

    wh = str(tmp_path / "wh")
    root = os.path.join(wh, "stream_state")
    rows = synth.generate(60, seed=5)
    _assign_batch(spark.createDataFrame(synth.to_arrow(rows).to_pandas()), 0, wh)
    n_rows = _to_parent_layout(spark, root)
    state = StreamState(root)
    assert state.read_buckets(spark, list(range(64))).count() == n_rows

    def late(src, tag):
        out = []
        for i, r in enumerate(src):
            c = dict(r)
            c["image_id"] = f"late{tag}{i:05d}"
            out.append(c)
        return out

    asg_dir = os.path.join(wh, "stream_assignments")
    # batch 1 reads legacy buckets only; batch 2 re-hits some of batch 1's
    # (now migrated) buckets plus legacy ones
    for bid, src in ((1, rows[:5]), (2, rows[3:10])):
        _assign_batch(spark.createDataFrame(synth.to_arrow(late(src, bid)).to_pandas()), bid, wh)
        got = {r["image_id"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
        for i, r in enumerate(src):
            assert got[f"late{bid}{i:05d}"] == got[r["image_id"]], (bid, i)
    man = state.manifest()
    legacy = [p for p in man["buckets"].values() if os.path.basename(p).startswith("bucket=")]
    assert legacy and all(os.path.isdir(p) for p in legacy)
    assert any(p.endswith("v000000002") for p in man["buckets"].values())
    assert state.read_buckets(spark, list(range(64))).count() == n_rows
