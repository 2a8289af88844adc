"""Iterative connected components: alternating large-star / small-star.

Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC'14) — O(log^2 n) rounds, robust to the giant-component skew that plain
label propagation chokes on (SURVEY.md §4.2; cf. BTS, PAPERS.md). Replaces
the reference's single-node HDBSCAN labeling (/root/reference/Clusters.md:29-57)
with the same output contract: every row gets a cluster id; rows with no dup
edge keep cluster_id = own id (noise -> singleton,
/root/reference/Clusters.md:51-55).

Each round runs a groupBy-min, a join and a distinct in each of its two
halves (large-star, then small-star), on the session's own shuffle
partitions as AQE coalesces them; the edge set is `localCheckpoint()`ed
every round to truncate lineage (Catalyst has no fixpoint operator).
Convergence = stable (count, xor-of-hashes) checksum, one cheap aggregate
action per round. Node ids are compared as strings; the
component root is the lexicographic min id, which makes assignments
deterministic across parallelism levels (min-id everywhere, no rand)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .config import DedupConfig, DEFAULT

_MAX_STAR_ROUNDS = 40  # O(log^2 n) rounds converge far below this; reaching it raises


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", F.col("src")).alias("m"))
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    orient = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = orient.groupBy("src").agg(F.min("dst").alias("m"))
    linked = (
        orient.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(mins.select(F.col("src"), F.col("m").alias("dst")))
    )
    return linked.where(F.col("src") != F.col("dst")).distinct()


def edge_bytes_est(src: str, dst: str) -> Column:
    """Aggregate: size proxy of the edge set (src, dst) — the sum of id
    lengths + a flat 48 B per edge, 0 when empty. It gates the driver
    union-find fast path (cc_route): edge COUNT alone under-estimates driver
    heap when ids are long URIs. It is not a heap model: on random 16-node
    trees with 12-char ids it reads 72 B/edge, while _driver_union_find
    (Arrow + numpy, no pandas) grows the Python driver's peak RSS by
    ~230 B/edge — 221 MB at 1M edges, 868 MB at 4M (fresh local[4]
    process, 4 shared vCPUs, loadavg 1.9-2.2)."""
    return F.coalesce(F.sum(F.length(src) + F.length(dst) + F.lit(48)), F.lit(0))


def _checksum(e: DataFrame) -> tuple[int, int, int]:
    """(row count, xor-of-hashes, edge_bytes_est) in ONE aggregate action."""
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
        edge_bytes_est("src", "dst").alias("b"),
    ).collect()[0]
    return int(row["n"]), int(row["h"]), int(row["b"])


def _driver_union_find(edges: DataFrame) -> tuple[DataFrame, int]:
    """Small-edge-set fast path: collect + vectorized min-label propagation
    on the driver, same min-root semantics as the distributed loop. Returns
    (roots DataFrame, exact Arrow byte size of the roots relation — the
    caller's broadcast sizing). The
    distributed star loop costs ~5 rounds x 4 shuffles of driver latency;
    below the threshold that latency dominates the actual work — the same
    size-adaptive reasoning AQE applies when it broadcasts a small join side.

    The per-edge Python union-find loop this replaces spent its time hashing
    id strings (2.8s at 711k edges); this version stays in Arrow end to end:
    `toArrow` collect (no pandas object columns), C++ dictionary-encode for
    the id->int mapping, rank-mapped so integer order == lexicographic id
    order (UTF-8 byte order equals code-point order, so Arrow's sort matches
    Python string comparison; min-code root IS the min-id root), then numpy
    segment-min rounds (sort-once + minimum.reduceat) with pointer doubling.
    Byte-identical assignments vs the distributed loop (tested both paths).
    Duplicate edges are tolerated (redundant adjacency rows, same fixpoint),
    which lets the caller skip a distinct shuffle."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    spark = edges.sparkSession
    tbl = edges.toArrow()  # Arrow batch transfer — toLocalIterator is row-by-row py4j
    n = tbl.num_rows
    if not n:
        return spark.createDataFrame([], "image_id string, cluster_id string"), 0
    both = pa.chunked_array(tbl.column("src").chunks + tbl.column("dst").chunks)
    enc = pc.dictionary_encode(both).combine_chunks()
    # int32 throughout: the fast path is gated to <= ~4M edges, far under
    # 2^31 vertices, and halving the index width halves the memory traffic
    # of every gather/sort in the propagation loop (measured ~1.4x)
    codes_raw = enc.indices.to_numpy().astype(np.int32)
    uniq = enc.dictionary
    order = pc.sort_indices(uniq).to_numpy().astype(np.int32)
    rank = np.empty(len(uniq), dtype=np.int32)
    rank[order] = np.arange(len(uniq), dtype=np.int32)
    codes = rank[codes_raw]
    uniq_sorted = uniq.take(pa.array(order))
    src, dst = codes[:n], codes[n:]
    # symmetric adjacency sorted by source once; per-round work is a gather +
    # one minimum.reduceat over the precomputed segment starts
    ss = np.concatenate([src, dst])
    dd = np.concatenate([dst, src])
    o = np.argsort(ss, kind="stable")
    ss, dd = ss[o], dd[o]
    # ss is sorted: segment starts are the inequality flags — np.unique
    # would pay a second O(n log n) sort for the same answer (measured
    # 0.35s -> 0.01s at 5.3M adjacency rows, equality-checked)
    starts = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
    seg_src = ss[starts]
    parent = np.arange(len(uniq_sorted), dtype=np.int32)
    for _ in range(200):
        prev = parent
        segmin = np.minimum.reduceat(parent[dd], starts)
        parent = parent.copy()
        parent[seg_src] = np.minimum(parent[seg_src], segmin)
        parent = np.minimum(parent, parent[parent])  # pointer doubling
        parent = np.minimum(parent, parent[parent])
        if np.array_equal(prev, parent):
            break
    else:
        raise RuntimeError("driver CC did not converge in 200 rounds")
    # hand the roots back as ONE pyarrow table (no pandas hop):
    # createDataFrame(pandas) re-chunks through the session's 2048-row
    # Arrow batches (sized for KB-scale image rows, pathological for a
    # million 2-string rows — measured 2.7s create + 4.3s first action vs
    # 1.0s + 1.8s for the arrow table)
    roots = pa.table(
        {"image_id": uniq_sorted, "cluster_id": uniq_sorted.take(pa.array(parent))}
    )
    # exact driver-side size of the roots relation — the caller's
    # broadcast-vs-shuffle decision for the join-back should be sized on
    # THIS (the actual build side), not on the edge-set estimate that
    # gated the fast path (roots is >= 2x smaller: unique endpoints, no
    # per-edge overhead)
    return spark.createDataFrame(roots), roots.nbytes


def cc_route(n_edges: int, edge_bytes: int, cfg: DedupConfig = DEFAULT) -> dict:
    """The route connected_components takes for an edge set of `n_edges`
    raw rows and `edge_bytes` estimated driver heap, with the gate values
    that chose it: "driver" (union-find on the driver) when there is at
    least one edge and both values are within bounds, else "star" (the
    distributed large-star/small-star loop). The pipeline records this dict
    in the assignments manifest, so the decision is read from the warehouse
    rather than re-derived."""
    driver = 0 < n_edges <= cfg.cc_driver_edge_threshold and edge_bytes <= cfg.cc_driver_max_bytes
    return {
        "route": "driver" if driver else "star",
        "edges": n_edges,
        "edge_bytes_est": edge_bytes,
        "driver_edge_threshold": cfg.cc_driver_edge_threshold,
        "driver_max_bytes": cfg.cc_driver_max_bytes,
    }


def _star_roots(raw: DataFrame) -> DataFrame:
    """Converged (image_id, cluster_id) roots of the distributed
    large-star/small-star loop over `raw`; raises after _MAX_STAR_ROUNDS
    rounds without a stable checksum."""
    e = raw.distinct().localCheckpoint()
    prev = _checksum(e)
    for _ in range(_MAX_STAR_ROUNDS):
        if prev[0] == 0:
            break
        # one star round per materialization: each operator consumes its
        # input from the checkpoint; stacking unmaterialized rounds
        # re-executes the inner plan once per branch (union + both join
        # sides) — measured 5x slower, not faster
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {_MAX_STAR_ROUNDS} rounds")
    # converged: e is a star graph node -> component-min root
    return e.select(F.col("src").alias("image_id"), F.col("dst").alias("cluster_id"))


def connected_components(
    edges: DataFrame, vertices: DataFrame, cfg: DedupConfig = DEFAULT,
    pre_gate: tuple[int, int] | None = None,
) -> DataFrame:
    """edges(src,dst) + vertices(id) -> assignments(image_id, cluster_id).

    cluster_id = min id of the component; vertices absent from edges map to
    themselves (singletons). Edge sets below cfg.cc_driver_edge_threshold
    rows AND cfg.cc_driver_max_bytes estimated driver heap take the driver
    union-find fast path; above either bound, the distributed
    large-star/small-star loop (set the threshold to 0 to force it); a loop
    that has not converged after _MAX_STAR_ROUNDS rounds raises. Neither
    route changes session conf.

    pre_gate: optional (row_count, estimated_bytes) the caller already
    knows — e.g. observed on the committed pairs stage's write job — which
    skips the gate aggregate here entirely. Over-estimates are safe (the
    gate is conservative); the routing never changes results."""
    raw = edges.select(F.col("src").cast("string"), F.col("dst").cast("string")).where(
        F.col("src") != F.col("dst")
    )
    # the path decision runs on the RAW edge set — one aggregate job, no
    # shuffle (or zero jobs with pre_gate). Raw counts/bytes over-estimate
    # the distinct set, so the gate stays conservative, and the fast path
    # skips the distinct exchange + localCheckpoint entirely: duplicate
    # edges only add redundant adjacency rows to the driver union-find
    # (same fixpoint), and at 1M/local[32] that distinct was ~2s of pure
    # overhead.
    n, _, nbytes = (pre_gate[0], 0, pre_gate[1]) if pre_gate is not None else _checksum(raw)
    if cc_route(n, nbytes, cfg)["route"] == "driver":
        roots, roots_nbytes = _driver_union_find(raw)
        # the roots side holds only edge-touched vertices — broadcast it so
        # the big vertex table never shuffles. Sized on the EXACT Arrow
        # bytes of the roots relation (known driver-side), not the per-edge
        # gate estimate: at 1M dup-dense rows the estimate read ~195MB
        # (-> shuffle_hash, two 1M-row exchanges) while the actual build
        # side is ~25MB of strings — comfortably broadcastable.
        small = roots_nbytes <= 128 * 1024 * 1024
        roots = F.broadcast(roots) if small else roots.hint("shuffle_hash")
    else:
        roots = _star_roots(raw)
    # join-back: singletons coalesce to self
    return (
        vertices.select(F.col(vertices.columns[0]).alias("image_id"))
        .join(roots, "image_id", "left")
        .select("image_id", F.coalesce("cluster_id", "image_id").alias("cluster_id"))
    )
