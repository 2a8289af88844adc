"""Scaling-efficiency evidence: run the SAME dedup job at local[N] and
local[4N] on the SAME synthetic input (sandbox proxy for N vs 4N executors,
per BASELINE.json / SURVEY.md §6) and report throughput at both plus
efficiency = (T_N / T_4N) / 4.

Each run is a fresh subprocess (fresh JVM) so the two measurements don't
share executors, caches, or JIT state. Default N=2 (vs 8): this box reports
32 vCPUs but saturates at ~16 physical cores' throughput (see the cpu_probe
in the output — pure-CPU multiprocessing tops out ~6M hashes/s from 16
workers up), so 8->32 measures hyperthread contention, not cluster scaling;
2->8 is the hardware-linear region. The 8->32 leg is still REPORTED (pass a
comma list of Ns) so the high-parallelism shuffle/skew behavior is
quantified next to the hardware ceiling that bounds it. Usage:

    python bench/scaling.py [rows] [N[,N2,...]] [min_px] [max_px]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUN_SNIPPET = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from dedup.session import get_spark
from dedup.pipeline import Pipeline
# both legs time the session's first-use costs (python worker forks +
# pandas imports, codegen, parquet/shuffle/broadcast init) inside the
# pipeline wall. They are per-session constants, so they weigh more on the
# faster leg; the comparable archived number is the unwarmed 1M control in
# BENCH.md (efficiency 0.892).
spark = get_spark("scale-{cores}", cores={cores})
spark.sparkContext.setLogLevel("ERROR")
images = spark.read.parquet({img!r})
images.count()  # warm the input file cache out of the timed region
wh = "/tmp/scale_wh_{cores}"
shutil.rmtree(wh, ignore_errors=True)
t0 = time.time()
# band_groups="auto": commit granularity sized to the input, so the fixed
# per-stage commit cost doesn't dilute small-input scaling (mid-band resume
# still engages at the table sizes where a band group is minutes of work)
n = Pipeline(wh, band_groups="auto").run(spark, images).count()
wall = time.time() - t0
print(json.dumps({{"cores": {cores}, "wall_sec": round(wall, 2),
                   "rows": n, "images_per_sec": round(n / wall, 1)}}))
spark.stop()
"""


def cpu_probe() -> dict:
    """Hardware ceiling: pure-CPU multiprocessing throughput at each level."""
    import hashlib
    import multiprocessing as mp
    import time

    def burn(n):
        h = b"x" * 1024
        for _ in range(n):
            h = hashlib.sha256(h).digest() + b"y" * 992
        return 1

    out = {}
    for workers, per in [(2, 200000), (8, 50000), (32, 12500)]:
        t0 = time.time()
        with mp.Pool(workers) as p:
            p.map(_BURN, [per] * workers)
        out[f"hashes_per_sec_{workers}w"] = round(workers * per / (time.time() - t0))
    return out


def _BURN(n):
    import hashlib

    h = b"x" * 1024
    for _ in range(n):
        h = hashlib.sha256(h).digest() + b"y" * 992
    return 1


def run_at(cores: int, img: str) -> dict:
    code = _RUN_SNIPPET.format(repo=REPO, cores=cores, img=img)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3000
    )
    for line in out.stdout.splitlines():
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"run at {cores} cores failed:\n{out.stderr[-2000:]}")


def run_leg(n_cores: int, img: str, rows: int, repeats: int) -> dict:
    """One N -> 4N leg: interleaved repeats, per-leg minimum wall."""
    lo_runs, hi_runs = [], []
    for r in range(repeats):
        lo_runs.append(run_at(n_cores, img))
        hi_runs.append(run_at(n_cores * 4, img))
        print(
            f"# leg {n_cores}->{n_cores * 4} round {r}: "
            f"N={lo_runs[-1]['wall_sec']}s 4N={hi_runs[-1]['wall_sec']}s",
            file=sys.stderr,
        )
    lo = min(lo_runs, key=lambda d: d["wall_sec"])
    hi = min(hi_runs, key=lambda d: d["wall_sec"])
    eff = (lo["wall_sec"] / hi["wall_sec"]) / 4
    return {
        "repeats": repeats,
        "N": lo,
        "fourN": hi,
        "all_walls": {
            "N": [d["wall_sec"] for d in lo_runs],
            "fourN": [d["wall_sec"] for d in hi_runs],
        },
        "speedup": round(lo["wall_sec"] / hi["wall_sec"], 2),
        "efficiency": round(eff, 3),
    }


_STAGE_SNIPPET = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from dedup.session import get_spark
from dedup import lsh
from dedup.config import DEFAULT
spark = get_spark("stage-{cores}", cores={cores})
spark.sparkContext.setLogLevel("ERROR")
sigs = spark.read.parquet({sigs!r})
sigs.count()  # warm the input file cache out of the timed region
t0 = time.time()
pairs, _skew, banded = lsh.minhash_scored_band(sigs, "rep_id", DEFAULT, sample_mod=8)
n = pairs.count()
wall = time.time() - t0
banded.unpersist()
print(json.dumps({{"cores": {cores}, "wall_sec": round(wall, 2), "pairs": n,
                   "sigs_per_sec": round({n_sigs} / wall, 1)}}))
spark.stop()
"""


def _prepare_sigs(n_caps: int) -> str:
    """One-time signature table for the stage bench: n_caps near-dup-family
    captions (4 members per base, ' vK' suffix variants) generated JVM-side,
    signed by the pipeline's caption kernel (lsh.with_caption_sigs)."""
    path = f"/tmp/bench_sigs_{n_caps}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    sys.path.insert(0, REPO)
    from dedup import lsh
    from dedup.deploy import ensure_shipped
    from dedup.session import get_spark

    print(f"# generating {n_caps} synthetic signatures...", file=sys.stderr)
    spark = get_spark("sig-prep", cores=16)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    base = max(1, n_caps // 4)
    caps = spark.range(n_caps).selectExpr(
        "cast(id as string) AS rep_id",
        "concat(concat_ws(' ', transform(sequence(0, 11), j -> "
        f"substr(md5(concat(cast(pmod(id, {base}) as string), '-', cast(j as string))), 1, 7))), "
        "' v', cast(pmod(id, 7) as string)) AS caption",
    )
    lsh.with_caption_sigs(caps, "caption").drop("caption").write.mode(
        "overwrite"
    ).parquet(path)
    spark.stop()
    return path


def stage_main() -> None:
    """Attribute the 8->32 residual: bench ONE shuffle-heavy stage (the fused
    LSH band self-join + exact-Jaccard verify) alone at each parallelism
    level, interleaved with the pure-CPU probe, so pipeline-vs-host
    contention is separated by measurement. Usage:

        python bench/scaling.py stage [n_captions] [cores,cores,...]
    """
    n_caps = int(sys.argv[2]) if len(sys.argv) > 2 else 400000
    levels = [int(x) for x in (sys.argv[3] if len(sys.argv) > 3 else "8,32").split(",")]
    sigs = _prepare_sigs(n_caps)
    repeats = int(os.environ.get("SCALING_REPEATS", "3"))
    runs: dict[int, list[dict]] = {n: [] for n in levels}
    for r in range(repeats):
        for n in levels:  # interleaved across levels, same as the e2e legs
            code = _STAGE_SNIPPET.format(repo=REPO, cores=n, sigs=sigs, n_sigs=n_caps)
            out = subprocess.run(
                [sys.executable, "-c", code], capture_output=True, text=True, timeout=3000
            )
            line = next((l for l in out.stdout.splitlines() if l.startswith("{")), None)
            if line is None:
                raise RuntimeError(f"stage run at {n} failed:\n{out.stderr[-2000:]}")
            runs[n].append(json.loads(line))
            print(f"# stage round {r} cores={n}: {runs[n][-1]['wall_sec']}s", file=sys.stderr)
    best = {n: min(rs, key=lambda d: d["wall_sec"]) for n, rs in runs.items()}
    ratios = {
        f"speedup_{a}to{b}": round(best[a]["wall_sec"] / best[b]["wall_sec"], 2)
        for a in levels for b in levels if b > a
    }
    print(
        json.dumps(
            {
                "metric": "stage_scaling_fused_band_join",
                "n_captions": n_caps,
                "repeats": repeats,
                "levels": {str(n): {**best[n], "all_walls": [d["wall_sec"] for d in runs[n]]}
                           for n in levels},
                **ratios,
                "cpu_probe": cpu_probe(),
            }
        )
    )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "stage":
        stage_main()
        return
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 240000
    n_list = [int(x) for x in (sys.argv[2] if len(sys.argv) > 2 else "2").split(",")]
    min_px = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    max_px = int(sys.argv[4]) if len(sys.argv) > 4 else 128

    img = f"/tmp/bench_images_{rows}_{min_px}x{max_px}"
    if not os.path.exists(img):
        sys.path.insert(0, REPO)
        from dedup import synth

        print(f"# generating {rows} synthetic rows ({min_px}-{max_px}px)...", file=sys.stderr)
        synth.write_parquet_dir(img, rows, seed=42, min_px=min_px, max_px=max_px)

    # the sandbox host is SHARED (cpu steal fluctuates run to run), so legs
    # are interleaved and repeated; the per-leg minimum wall is the measure —
    # standard practice for noisy-host benchmarking
    repeats = int(os.environ.get("SCALING_REPEATS", "3"))
    legs = {
        f"{n}to{n * 4}": run_leg(n, img, rows, repeats) for n in n_list
    }
    first = legs[f"{n_list[0]}to{n_list[0] * 4}"]
    print(
        json.dumps(
            {
                "metric": "scaling_efficiency_NtoFourN",
                "rows": rows,
                "px": [min_px, max_px],
                # top-level fields mirror the FIRST leg (the hardware-linear
                # region that evidences the gate); extra legs quantify the
                # high-parallelism regime against the cpu_probe ceiling
                **{k: first[k] for k in ("repeats", "N", "fourN", "all_walls", "speedup", "efficiency")},
                "gate": 0.8,
                "pass": first["efficiency"] >= 0.8,
                "legs": legs,
                "cpu_probe": cpu_probe(),
            }
        )
    )


if __name__ == "__main__":
    main()
