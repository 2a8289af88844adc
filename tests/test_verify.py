"""Verify-stage unit tests: suffix-array substring pass."""

from __future__ import annotations

from pyspark.sql import functions as F

from dedup.verify import _suffix_array, substring_edges, substring_hits_in_container


def test_suffix_array_sorted():
    s = "banana"
    sa = _suffix_array(s)
    suf = [s[i:] for i in sa]
    assert suf == sorted(suf)


def test_suffix_array_randomized_vs_naive():
    """Prefix doubling must equal the naive full-suffix sort on randomized
    strings — tiny alphabets (max rank ties), unicode, and empty/1-char."""
    import random
    import string

    rng = random.Random(7)
    for _ in range(500):
        n = rng.randint(0, 80)
        alpha = rng.choice(["ab", "abc", "a", string.ascii_lowercase, "日本語ab "])
        s = "".join(rng.choice(alpha) for _ in range(n))
        assert _suffix_array(s) == sorted(range(len(s)), key=lambda i: s[i:]), repr(s)


def test_suffix_array_megabyte_container_is_fast():
    """The long-container path must build a 1 MB suffix array in seconds,
    not minutes (the r03 O(n^2 log n) finding): measured ~0.85s on this
    host for word-like text; the bound is loose for shared-host drift.
    The naive construction on the same input takes minutes + O(n^2) RAM."""
    import random
    import string
    import time

    rng = random.Random(11)
    words = [
        "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(2, 9)))
        for _ in range(5000)
    ]
    doc = " ".join(rng.choice(words) for _ in range(180000))[:1_000_000]
    t0 = time.time()
    sa = _suffix_array(doc)
    build = time.time() - t0
    # claim under test is "seconds, not minutes" (naive: minutes + O(n^2)
    # RAM); measured ~0.85s alone but >5s under full-suite host steal, so
    # the bound is order-of-magnitude, not a perf regression gate
    assert build < 20.0, f"1MB suffix array took {build:.1f}s"
    assert len(sa) == len(doc)
    # search end-to-end on the same container
    hits = substring_hits_in_container(doc, [doc[5000:5040], "zzzzzzzzzzzq"])
    assert hits == [True, False]


def test_substring_hits_golden():
    container = "the harbor crane overlooks the winter canal at dusk"
    needles = [
        "overlooks the winter canal",  # present
        "the winter canal",            # present
        "harbor crane x",              # absent
        "dusk",                        # present (suffix)
        "the harbor",                  # present (prefix)
        "zzz",                         # absent
    ]
    assert substring_hits_in_container(container, needles) == [
        True, True, False, True, True, False,
    ]


def test_substring_edges_spark(spark):
    rows = [
        ("a", "the harbor crane overlooks the winter canal at dusk"),
        ("b", "overlooks the winter canal"),          # fragment of a (26 chars)
        ("c", "entirely different caption here ok"),
        ("d", "the winter canal"),                    # 16 chars — below min_len
        ("e", "The Harbor Crane Overlooks the winter canal at dusk"),  # case-equal to a
    ]
    df = spark.createDataFrame(rows, "rep_id string, caption string")
    out = substring_edges(df).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert ("a", "b") in pairs
    assert ("a", "e") in pairs  # case-insensitive equality
    assert ("b", "e") in pairs  # b is a fragment of e too
    assert all(r["match_type"] == "substring" and r["score"] == 1.0 for r in out)
    assert not any("d" in p or "c" in p for p in pairs)


def test_flag_contaminated_two_table(spark):
    """Decontamination: corpus docs containing a benchmark fragment are
    flagged (lowercased containment), fragments below substr_min_len are
    rejected, and the long-container suffix-array route agrees with the
    short instr route."""
    from dedup.deploy import ensure_shipped
    from dedup.verify import flag_contaminated

    ensure_shipped(spark)
    long_doc = "z" * 3000 + " the quick brown fox jumps over dogs " + "y" * 100
    corpus = spark.createDataFrame(
        [
            (1, "clean text with nothing shared at all here"),
            (2, "prefix THE QUICK BROWN fox jumps over dogs suffix"),  # case-folded hit
            (3, long_doc),                                             # SA route hit
            (4, "tiny frag here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            ("b1", "the quick brown fox jumps over dogs"),  # 35 chars >= 20
            ("b2", "tiny frag"),                            # 9 chars < 20: rejected
        ],
        "bench_id string, fragment string",
    )
    got = {
        (r["doc_id"], r["n_bench_hits"], r["first_bench"])
        for r in flag_contaminated(corpus, bench, sa_min_container_len=2048).collect()
    }
    assert got == {(2, 1, "b1"), (3, 1, "b1")}


# ------------------------------------------- token-n-gram decontamination


def test_flag_contaminated_ngrams_planted_overlap(spark):
    """A corpus doc sharing an 8-word run with a benchmark fragment is
    flagged; docs with no shared 8-gram (or under 8 tokens) are not; the
    rollup counts distinct benchmarks, distinct matched grams, and min
    bench id."""
    from dedup.verify import flag_contaminated_ngrams

    frag = "one two three four five six seven eight"
    corpus = spark.createDataFrame(
        [
            (1, f"prefix words {frag} suffix words"),     # contains b00001's gram
            (2, "totally different words with no overlap at all here"),
            (3, "one two three four five six seven"),      # 7 tokens: no 8-gram
            (4, f"{frag} nine"),                           # 2 grams of b00001
            (5, None),                                     # NULL text ignored
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [("b00001", frag + " nine"), ("b00002", "unrelated benchmark fragment text")],
        "bench_id string, fragment string",
    )
    got = {
        r["doc_id"]: (r["n_bench_hits"], r["n_hit_ngrams"], r["first_bench"])
        for r in flag_contaminated_ngrams(corpus, bench, n=8).collect()
    }
    assert got == {1: (1, 1, "b00001"), 4: (1, 2, "b00001")}


def test_flag_contaminated_ngrams_case_insensitive(spark):
    from dedup.verify import flag_contaminated_ngrams

    corpus = spark.createDataFrame(
        [(1, "One Two THREE four five six seven EIGHT tail")], "doc_id int, text string"
    )
    bench = spark.createDataFrame(
        [("b1", "one two three four five six seven eight")],
        "bench_id string, fragment string",
    )
    assert flag_contaminated_ngrams(corpus, bench, n=8).count() == 1


def test_ngram_set_expr_short_rows_empty(spark):
    """Rows with fewer than n tokens must yield an EMPTY array (Spark's
    sequence() counts DOWN on a negative span — the guard is load-bearing)."""
    from dedup.verify import ngram_set_expr

    df = spark.createDataFrame([("a b c",), ("a b c d",)], "text string").select(
        F.split("text", " ").alias("t")
    )
    sizes = [r[0] for r in df.select(F.size(F.expr(ngram_set_expr("t", 4)))).collect()]
    assert sizes == [0, 1]


def test_ngram_decontamination_plan_is_jvm_broadcast(spark):
    """Scale contract: the bench side is BROADCAST (the join is the filter —
    no corpus-n-gram shuffle) and the whole plan is UDF-free."""
    from dedup.verify import flag_contaminated_ngrams

    corpus = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id int, text string")
    bench = spark.createDataFrame([("b1", "a b c d e f g h")], "bench_id string, fragment string")
    plan = flag_contaminated_ngrams(corpus, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_ngram_decontamination_broadcast_gate(spark, monkeypatch):
    """The forced-broadcast hint is gated on the benchmark's exact token
    count (ADVICE r04): an over-cap bench suite must NOT be force-broadcast
    past autoBroadcastJoinThreshold — AQE decides instead. Results are
    identical either way."""
    import dedup.verify as V

    corpus = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id int, text string")
    bench = spark.createDataFrame([("b1", "a b c d e f g h")], "bench_id string, fragment string")

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    # small bench (8 tokens <= cap): hinted
    assert "ResolvedHint" in analyzed(V.flag_contaminated_ngrams(corpus, bench, n=8))
    # shrink the cap below the bench's 8 tokens: hint must disappear
    monkeypatch.setattr(V, "BENCH_BROADCAST_TOKEN_CAP", 4)
    unhinted = V.flag_contaminated_ngrams(corpus, bench, n=8)
    assert "ResolvedHint" not in analyzed(unhinted)
    # explicit override still forces the hint, cap notwithstanding
    forced = V.flag_contaminated_ngrams(corpus, bench, n=8, force_broadcast=True)
    assert "ResolvedHint" in analyzed(forced)
    assert sorted(map(tuple, unhinted.collect())) == sorted(map(tuple, forced.collect()))


def test_min_fp_is_the_unsigned_min_kgram_hash(spark):
    """verify.min_fp (Catalyst, over the committed int64 winnow set) equals
    signatures.min_kgram_hash, including on captions where a signed
    array_min picks another element; NULL where the text is shorter than k."""
    import numpy as np
    import pandas as pd

    from dedup import signatures
    from dedup.verify import min_fp

    rng = np.random.default_rng(3)
    words = ["harbor", "crane", "winter", "canal", "dusk", "alley", "garden", "tide"]
    texts = [" ".join(rng.choice(words, size=rng.integers(3, 12))) for _ in range(300)]
    texts += ["short", "", None]
    fps = signatures.batch_caption_sigs(pd.Series(texts), fields=("fps",))["fps"]
    df = spark.createDataFrame(
        [(i, f.tolist()) for i, f in enumerate(fps)], "i int, fps array<long>"
    )
    got = {r["i"]: r["fp"] for r in df.select("i", min_fp(F.col("fps")).alias("fp")).collect()}
    want = {
        i: (None if (m := signatures.min_kgram_hash(t or "")) is None
            else int(np.uint64(m).astype(np.int64)))
        for i, t in enumerate(texts)
    }
    assert got == want
    signed = {i: (int(f.min()) if f.size else None) for i, f in enumerate(fps)}
    assert sum(signed[i] != want[i] for i in want) > 0  # the case a signed min gets wrong
