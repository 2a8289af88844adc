"""Connected components vs a pure-python union-find oracle: hand-built graphs
(chain, star, two components, singleton — SURVEY.md §5) + randomized graphs."""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest

from dedup.components import connected_components
from dedup.config import DEFAULT
from dedup.reference_impl import UnionFind


def _run(spark, edges: list[tuple[str, str]], vertices: list[str], threshold: int = 0) -> dict[str, str]:
    """threshold=0 forces the distributed star loop (the scale path)."""
    e = spark.createDataFrame(edges or [("x", "x")], "src string, dst string")
    if not edges:
        e = e.where("1=0")
    v = spark.createDataFrame([(x,) for x in vertices], "image_id string")
    return {
        r["image_id"]: r["cluster_id"]
        for r in connected_components(
            e, v, cfg=dataclasses.replace(DEFAULT, cc_driver_edge_threshold=threshold)
        ).collect()
    }


def _oracle(edges, vertices):
    uf = UnionFind()
    for x in vertices:
        uf.find(x)
    for a, b in edges:
        uf.union(a, b)
    return {x: uf.find(x) for x in vertices}


@pytest.mark.parametrize(
    "name,edges,vertices",
    [
        ("chain", [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], list("abcde")),
        ("star", [("m", x) for x in "bcdefg"], list("mbcdefg")),
        ("two", [("a", "b"), ("c", "d")], list("abcdx")),
        ("singletons", [], list("abc")),
        ("cycle", [("a", "b"), ("b", "c"), ("c", "a")], list("abc")),
        ("dup-edges", [("a", "b"), ("b", "a"), ("a", "b")], list("ab")),
        ("self-loop", [("a", "a"), ("a", "b")], list("ab")),
    ],
)
def test_cc_golden(spark, name, edges, vertices):
    assert _run(spark, edges, vertices) == _oracle(edges, vertices)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cc_random_graph(spark, seed):
    rng = np.random.default_rng(seed)
    n = 200
    vertices = [f"v{i:04d}" for i in range(n)]
    m = int(rng.integers(50, 300))
    edges = [
        (vertices[int(rng.integers(n))], vertices[int(rng.integers(n))]) for _ in range(m)
    ]
    assert _run(spark, edges, vertices) == _oracle(edges, vertices)


@pytest.mark.parametrize("seed", [0, 1])
def test_cc_driver_fast_path_matches_distributed(spark, seed):
    """The size-adaptive driver union-find path must emit exactly the same
    assignments as the distributed star loop."""
    rng = np.random.default_rng(seed)
    n = 150
    vertices = [f"v{i:04d}" for i in range(n)]
    edges = [
        (vertices[int(rng.integers(n))], vertices[int(rng.integers(n))])
        for _ in range(int(rng.integers(40, 200)))
    ]
    distributed = _run(spark, edges, vertices, threshold=0)
    driver = _run(spark, edges, vertices, threshold=10_000_000)
    assert distributed == driver == _oracle(edges, vertices)


def test_cc_giant_component(spark):
    """Path graph of 300 nodes — worst case for naive label propagation;
    large-star/small-star must converge well under the iteration cap."""
    n = 300
    vertices = [f"v{i:04d}" for i in range(n)]
    edges = [(vertices[i], vertices[i + 1]) for i in range(n - 1)]
    res = _run(spark, edges, vertices)
    assert set(res.values()) == {"v0000"}


def test_cc_star_route_keeps_session_conf(spark, monkeypatch):
    """The star loop plans every job under the session's own AQE and
    shuffle-partition settings: it must not switch them for the whole
    session (other runs may plan jobs on the same session meanwhile)."""
    from dedup import components

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = tuple(spark.conf.get(k) for k in keys)
    seen = []
    orig = components._checksum
    monkeypatch.setattr(
        components, "_checksum",
        lambda e: seen.append(tuple(spark.conf.get(k) for k in keys)) or orig(e),
    )
    n = 300
    vertices = [f"v{i:04d}" for i in range(n)]
    edges = [(vertices[i], vertices[i + 1]) for i in range(n - 1)]
    assert _run(spark, edges, vertices, threshold=0) == _oracle(edges, vertices)
    assert len(seen) > 2, "the star loop must run its convergence checks"
    assert set(seen) == {before}


def test_cc_byte_gate_forces_distributed(spark, monkeypatch):
    """Long-URI ids must push CC off the driver fast path even when the edge
    COUNT is tiny: the gate is byte-estimated (cfg.cc_driver_max_bytes), not
    row-count-only. Both paths must agree with the oracle either way."""
    from dedup import components

    calls = []
    orig = components._driver_union_find
    monkeypatch.setattr(
        components, "_driver_union_find", lambda e: calls.append(1) or orig(e)
    )
    long_a, long_b = "u" * 400 + "a", "u" * 400 + "b"
    e = spark.createDataFrame([(long_a, long_b)], "src string, dst string")
    v = spark.createDataFrame([(long_a,), (long_b,)], "image_id string")
    tiny = dataclasses.replace(DEFAULT, cc_driver_max_bytes=100)
    res = {
        r["image_id"]: r["cluster_id"]
        for r in components.connected_components(e, v, cfg=tiny).collect()
    }
    assert not calls, "driver path must be skipped when bytes exceed the cap"
    assert res == {long_a: long_a, long_b: long_a}
    # under the default cap the same graph takes the driver fast path
    res2 = {
        r["image_id"]: r["cluster_id"]
        for r in components.connected_components(e, v).collect()
    }
    assert calls and res2 == res


def test_cc_route_gate_values():
    """cc_route is the gate connected_components applies: driver only for
    a non-empty edge set within both bounds, both read from the config."""
    from dedup.components import cc_route

    r = cc_route(10, 1000)
    assert r == {
        "route": "driver", "edges": 10, "edge_bytes_est": 1000,
        "driver_edge_threshold": DEFAULT.cc_driver_edge_threshold,
        "driver_max_bytes": DEFAULT.cc_driver_max_bytes,
    }
    assert cc_route(0, 0)["route"] == "star"
    for threshold, route in ((9, "star"), (10, "driver")):
        cfg = dataclasses.replace(DEFAULT, cc_driver_edge_threshold=threshold)
        r = cc_route(10, 1000, cfg)
        assert (r["route"], r["driver_edge_threshold"]) == (route, threshold)
    tiny = dataclasses.replace(DEFAULT, cc_driver_max_bytes=999)
    assert cc_route(10, 1000, tiny)["route"] == "star"
