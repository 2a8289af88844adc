"""The event-log fold on a tiny captured log.

tiny_events.jsonl is a real Spark 4.1 event log (local[2], event log on,
uncompressed), cut to the job-start and task-end events the fold reads. The
session ran, inside an `op.run` span: a pandas-UDF job under a main-thread
`write:keys` span, a `reps`-pool job from a worker thread, and a main-thread
job outside any write span; one job before and one inside `op.resume` fall
outside the folded window. tiny_spans.json holds the spans recorded then."""

import json
import os
import shutil

import fold

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _load():
    with open(os.path.join(DATA, "tiny_events.jsonl")) as f:
        events = [json.loads(line) for line in f]
    with open(os.path.join(DATA, "tiny_spans.json")) as f:
        spans = json.load(f)
    window = [(s["start"], s["end"]) for s in spans if s["name"] == "op.run"]
    return events, spans, window


def test_attribution_by_pool_span_and_remainder():
    events, spans, window = _load()
    f = fold.fold(events, spans, window)
    assert set(f["layers"]) == {"keys", "reps"}
    assert f["layers"]["keys"]["jobs"] == 2  # contained in the main-thread write span
    assert f["layers"]["reps"]["jobs"] == 2  # named by the thread's scheduler pool
    assert f["unattributed"]["jobs"] == 2  # main thread, no write span open
    # Python-worker metrics land on the UDF stage only
    assert f["layers"]["keys"]["py_init_s"] > 0 and f["layers"]["keys"]["py_run_s"] > 0
    assert f["layers"]["keys"]["py_out_mb"] > 0
    assert f["layers"]["reps"]["py_run_s"] == 0
    assert f["layers"]["reps"]["shuffle_mb"] > 0


def test_window_excludes_jobs_and_totals_add_up():
    events, spans, window = _load()
    f = fold.fold(events, spans, window)
    lo, hi = window[0]
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    inside = [e for e in jobs if lo <= e["Submission Time"] / 1000 <= hi]
    assert 0 < len(inside) < len(jobs)
    stages = {sid for e in inside for sid in e["Stage IDs"]}
    run = sum(e["Task Metrics"]["Executor Run Time"] for e in events
              if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages) / 1e3
    assert abs(f["total_run_s"] - run) < 1e-9
    attributed = sum(layer["run_s"] for layer in f["layers"].values())
    assert abs(attributed + f["unattributed"]["run_s"] - run) < 1e-9
    assert sum(layer["jobs"] for layer in f["layers"].values()) + f["unattributed"]["jobs"] == len(inside)


def test_write_spans_and_span_totals():
    _, spans, window = _load()
    w = fold.write_spans(spans, window)
    assert set(w) == {"keys", "reps"}
    assert w["keys"]["rows"] == 100 and w["reps"]["rows"] == 5
    keys = next(s for s in spans if s["name"] == "write:keys")
    assert abs(w["keys"]["span_s"] - (keys["end"] - keys["start"])) < 1e-9
    assert fold.span_total(spans, "op.resume") > 0
    assert fold.span_total(spans, "op.resume", window) == 0


def test_band_groups_fold_into_one_stage():
    assert fold.stage_of("scored_minhash_b00_07") == "scored_minhash"
    assert fold.stage_of("scored_minhash_b08_15") == "scored_minhash"
    assert fold.stage_of("pairs") == "pairs"


def test_read_event_log_from_rolling_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    src = os.path.join(DATA, "tiny_events.jsonl")
    with open(src) as f:
        lines = f.readlines()
    (d / "events_1_local-1").write_text("".join(lines[:10]))
    (d / "events_2_local-1").write_text("".join(lines[10:]))
    (d / "appstatus_local-1").write_text("")
    shutil.copy(src, tmp_path / "unrelated.txt")
    assert fold.read_event_log(str(tmp_path)) == [json.loads(x) for x in lines]
