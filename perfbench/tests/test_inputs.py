"""Workload inputs are a pure function of the seed."""

import inputs


def test_caption_rows_deterministic_per_seed():
    a, b = inputs.caption_rows(300, 7), inputs.caption_rows(300, 7)
    assert a == b
    assert inputs.caption_rows(300, 8) != a
    assert len(a) == 300 and len({r["image_id"] for r in a}) == 300


def test_caption_rows_shape():
    rows = inputs.caption_rows(1000, 3)
    unique = len({r["caption"] for r in rows}) / len(rows)
    assert 0.85 <= unique <= 0.97
    assert max(len(r["caption"]) for r in rows) > 300  # the suffix-array branch stays live


def test_stream_files_deterministic_with_late_copies(monkeypatch):
    monkeypatch.setattr(inputs, "STREAM_FILE_ROWS", 60)
    a, b = inputs.stream_files(5), inputs.stream_files(5)
    assert a == b
    assert inputs.stream_files(6) != a
    ids = [r["image_id"] for f in a for r in f]
    assert len(ids) == len(set(ids))
    earlier = {}
    for i, f in enumerate(a):
        for r in f:
            if "_copy_of" in r:
                src = earlier[r["_copy_of"]]
                assert (src["bytes"], src["caption"]) == (r["bytes"], r["caption"])
        earlier.update({r["image_id"]: r for r in f})
    assert all(any("_copy_of" in r for r in f) for f in a[1:])


def test_prepare_same_seed_same_bytes(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CAPTION_ROWS", 150)
    _, m1 = inputs.prepare(str(tmp_path / "a"), "batch_captions", 11)
    _, m2 = inputs.prepare(str(tmp_path / "b"), "batch_captions", 11)
    _, m3 = inputs.prepare(str(tmp_path / "c"), "batch_captions", 12)
    assert m1 == m2
    assert m1["input_sha256"] != m3["input_sha256"]
    assert set(m1["oracle"]) == {f"c{i:07d}" for i in range(150)}
