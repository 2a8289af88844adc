"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01; compare row count,
column names, and an order-insensitive value hash.

The four rows-only queries (q26/q33/q50/q57 — engine-native kernels with no
ANSI-SQL twin) additionally carry machine-checkable brute-force gates here
(set-exactness / subset+recall vs an independent numpy oracle), so the
contract run itself fails on a regression, not just pytest. Usage:

    python tools/check_contract.py [sf_dir] [query_prefix ...]

Every query whose name starts with one of the prefixes runs (all of them
when none is given); a prefix that matches no registered query is an error.
Set CONTRACT_SKIP_GATES=1 to run only the SQL-twin comparisons."""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# the rows-only queries run_gates checks (q39's DuckDB twin computes the same
# signatures, so its hash comparison is its set-exactness check)
GATED = (
    "q26_minhash_candidates", "q33_ann_lsh_topk",
    "q50_ann_ivf_topk", "q57_semantic_dedup",
)


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()[:12]


def run_gates(spark, sf_dir: str, qs: dict) -> list[str]:
    """Brute-force gates for the no_oracle queries (the pytest assertions of
    tests/test_lsh_exactness.py / test_recall_documents.py, in-contract):

      q33  hyperplane-LSH pairs are a SUBSET of exact cosine>=0.4 (in-join
           verification => exact precision), recall >= 0.9 at the registered
           (bits=4, tables=24) config
      q26  LSH candidates cover >= 0.99 of exact-Jaccard>=0.7 caption pairs
           (BASELINE recall gate; banding miss prob ~1.5e-4/pair)

    q39 no longer needs a gate here: since r05 its DuckDB twin computes the
    SAME 60-bit signatures and takes the brute-force ALL-PAIRS Hamming join,
    so the driver's hash comparison IS the set-exactness check (the numpy
    simhash64 kernel keeps its own brute-force test in
    tests/test_lsh_exactness.py)."""
    import numpy as np

    from dedup.config import DEFAULT
    from dedup.signatures import shingle_hashes

    failures: list[str] = []
    docs = sorted(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").collect()
    )

    # ---- q33: subset of exact + recall -----------------------------------
    if "q33_ann_lsh_topk" in qs:
        t0 = time.time()
        emb = sorted(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .where("vec_id < 250").select("vec_id", "embedding").collect()
        )
        m = np.array([r["embedding"] for r in emb], dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        cos = m @ m.T
        ids = [r["vec_id"] for r in emb]
        exact = {
            (ids[i], ids[j])
            for i, j in zip(*np.nonzero(np.triu(cos >= 0.4, k=1)))
        }
        approx = {
            (r["id_a"], r["id_b"])
            for r in qs["q33_ann_lsh_topk"](spark, sf_dir).collect()
            if r["id_a"] < 250 and r["id_b"] < 250
        }
        subset = approx <= exact
        recall = len(approx & exact) / max(len(exact), 1)
        ok = subset and recall >= 0.9
        print(f"{'ok  ' if ok else 'FAIL'} gate q33: subset={subset} "
              f"recall={recall:.4f} ({len(approx)}/{len(exact)}) [{time.time() - t0:.1f}s]")
        if not ok:
            failures.append("gate_q33")

    # ---- q50: IVF plumbing exactness + bounded-probe recall@1 -------------
    if "q50_ann_ivf_topk" in qs:
        t0 = time.time()
        from dedup.ann import auto_nlist, batch_topk, ivf_topk

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        probes = e.where("vec_id < 5").selectExpr(
            "vec_id AS probe_id", "embedding AS qe"
        )
        nlist = auto_nlist(e.count())
        exact = sorted(map(tuple, batch_topk(e, probes, k=10).collect()))
        # nprobe == nlist scans every cell: the IVF candidate plumbing and
        # re-rank must then reproduce the exact top-k bit-for-bit
        exh = sorted(map(tuple, ivf_topk(
            e, probes, k=10, nlist=nlist, nprobe=nlist
        ).collect()))
        # the registered bounded-probe config: recall@1 (the true nearest
        # neighbor concentrates in its cell even on this near-random
        # testdata; recall@10 >= 0.9 is pinned on a planted-cluster corpus
        # in tests/test_splits_ann_eval.py, where ANN@k is well-posed)
        x1 = {(r[0], r[1]) for r in exact if r[2] == 1}
        g1 = {
            (r["probe_id"], r["vec_id"])
            for r in qs["q50_ann_ivf_topk"](spark, sf_dir).collect()
            if r["rn"] == 1
        }
        recall1 = len(g1 & x1) / max(len(x1), 1)
        ok = exh == exact and recall1 >= 0.8
        print(f"{'ok  ' if ok else 'FAIL'} gate q50: exhaustive==exact={exh == exact} "
              f"recall@1={recall1:.4f} [{time.time() - t0:.1f}s]")
        if not ok:
            failures.append("gate_q50")

    # ---- q57: refinement exactness + pair recall vs brute-force CC --------
    if "q57_semantic_dedup" in qs:
        t0 = time.time()
        from dedup.reference_impl import cosine_cluster_oracle

        emb = sorted(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding").collect()
        )
        ids = [f"v{r['vec_id']:09d}" for r in emb]
        oracle, pairs_idx = cosine_cluster_oracle(
            ids, [r["embedding"] for r in emb], 0.4
        )
        got = {
            r["vec_id"]: (r["cluster_id"], r["keep"])
            for r in qs["q57_semantic_dedup"](spark, sf_dir).collect()
        }
        # id-set equality FIRST: a dropped/renamed row must print FAIL, not
        # crash the harness with a KeyError inside the lookups below
        if set(got) != set(ids):
            print(f"FAIL gate q57: id set mismatch ({len(got)} vs {len(ids)} rows) "
                  f"[{time.time() - t0:.1f}s]")
            failures.append("gate_q57")
        else:
            # refinement: every engine cluster's members share ONE oracle
            # root (precision is exact by in-join cosine verification, so a
            # merge the oracle lacks is a bug, not an approximation)
            clusters: dict[str, set] = {}
            for vid, (cid, _) in got.items():
                clusters.setdefault(cid, set()).add(oracle[vid])
            refinement = all(len(s) == 1 for s in clusters.values())
            # keep flag marks exactly the cluster roots
            keeps_ok = all((vid == cid) == bool(k) for vid, (cid, k) in got.items())
            rec = [got[ids[i]][0] == got[ids[j]][0] for i, j in pairs_idx]
            recall = (sum(rec) / len(rec)) if rec else 1.0
            ok = refinement and keeps_ok and recall >= 0.9
            print(f"{'ok  ' if ok else 'FAIL'} gate q57: refinement={refinement} "
                  f"keep_flags={keeps_ok} recall={recall:.4f} "
                  f"({sum(rec)}/{len(rec)} oracle pairs) [{time.time() - t0:.1f}s]")
            if not ok:
                failures.append("gate_q57")

    # ---- q26: candidate recall vs exact Jaccard ---------------------------
    if "q26_minhash_candidates" in qs:
        t0 = time.time()
        shingles = [set(shingle_hashes(t or "", DEFAULT.shingle_k).tolist()) for _, t in docs]
        want = set()
        for i in range(len(docs)):
            si = shingles[i]
            for j in range(i + 1, len(docs)):
                sj = shingles[j]
                inter = len(si & sj)
                if inter and inter / (len(si) + len(sj) - inter) >= DEFAULT.jaccard_threshold:
                    a, b = str(docs[i]["doc_id"]), str(docs[j]["doc_id"])
                    want.add((a, b) if a < b else (b, a))
        got = {
            (r["id_a"], r["id_b"])
            for r in qs["q26_minhash_candidates"](spark, sf_dir).collect()
        }
        recall = len(got & want) / max(len(want), 1)
        ok = recall >= 0.99 and len(want) > 0
        print(f"{'ok  ' if ok else 'FAIL'} gate q26: candidate recall={recall:.4f} "
              f"({len(got & want)}/{len(want)} true pairs) [{time.time() - t0:.1f}s]")
        if not ok:
            failures.append("gate_q26")
    return failures


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = tuple(sys.argv[2:])

    import __spark_entry__ as entry
    from dedup.session import get_spark

    qs = entry.queries()
    unknown = [p for p in prefixes if not any(n.startswith(p) for n in qs)]
    if unknown:
        print(f"FAIL no registered query matches prefix {', '.join(unknown)}")
        sys.exit(2)
    if prefixes:
        qs = {n: fn for n, fn in qs.items() if n.startswith(prefixes)}

    spark = get_spark("contract-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e).splitlines()[0][:140]}")
            failures.append(name)
            continue
        wall = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only {len(srows)} rows [{wall:.1f}s]")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [c for c in res.columns]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0][:140]}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if [c.lower() for c in scols] != [c.lower() for c in dcols]:
            problems.append(f"schema {scols} vs {dcols}")
        elif value_hash(scols, srows) != value_hash(dcols, drows):
            problems.append("value-hash mismatch")
            sset = {tuple(norm_cell(x) for x in r) for r in srows}
            dset = {tuple(norm_cell(x) for x in r) for r in drows}
            ex_s = list(sset - dset)[:2]
            ex_d = list(dset - sset)[:2]
            problems.append(f"spark-only={ex_s} duck-only={ex_d}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{wall:.1f}s]")
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows, hash match [{wall:.1f}s]")
    gate_failures: list[str] = []
    if not os.environ.get("CONTRACT_SKIP_GATES"):
        gate_failures = run_gates(spark, sf_dir, qs)
        n_gates = sum(q in qs for q in GATED)
        if n_gates:
            print(f"{n_gates - len(gate_failures)}/{n_gates} brute-force gates ok")
    # query and gate tallies are reported separately: a failed gate is not a
    # failed SQL-twin comparison (and one query failing both counts once each)
    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries ok")
    spark.stop()
    sys.exit(1 if failures or gate_failures else 0)


if __name__ == "__main__":
    main()
