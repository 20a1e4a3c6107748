"""SemDeDup pair-generation scale point (round-4 verdict item 2): show
that the cluster-blocked generator (embedding_neardup_pairs_bucketed) is
sub-N² where the tiled exact generator is N².

The driver testdata can't discriminate the two: sf1 replication makes
byte-identical embedding copies, which collapse_exact_duplicates shrinks
back to the sf0.1 distinct set before either generator runs. So this
tool generates a BENCH-ONLY clustered corpus (the SemDeDup regime: unit
vectors in C tight clusters, threshold τ=0.9) at two sizes N and 2N, runs
both generators on each, asserts the pair sets are EQUAL (the bucketed
operator's triangle-inequality bound is exact — this is a bench, not a
recall tradeoff), and records the wall-clock growth factors: tiled is
compute-bound at ~4× for 2× data (N² flops), bucketed tracks the
within-cluster pair mass (~2× — linear in N for fixed cluster count).

Writes BENCH_SEMDEDUP.json at the repo root; bench.py attaches it to the
driver payload.

Usage: PYTHONPATH=/root/repo python tools/bench_semdedup.py [N] [2N]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DIM = 64
CLUSTER_SIZE = 300  # cluster COUNT grows with n — the 100 TB regime is
                    # "more topics", not "each topic quadratically denser";
                    # pair output then grows linearly and the generators'
                    # asymptotics separate cleanly
TAU = 0.9
SEED = 7


def n_clusters(n: int) -> int:
    return max(1, n // CLUSTER_SIZE)


def make_corpus(spark, n: int):
    """n unit vectors in n/CLUSTER_SIZE tight clusters (within-cluster
    cosine mostly ≥ τ, cross-cluster far below), deterministic."""
    import numpy as np

    rng = np.random.default_rng(SEED)
    centers = rng.normal(size=(n_clusters(n), DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # σ=0.03: within-cluster cosine ≈ 1/(1+σ²·d) ≈ 0.945 — above τ=0.9,
    # so clusters are real near-dup groups; cross-cluster stays far below
    assign = rng.integers(0, n_clusters(n), size=n)
    X = centers[assign] + 0.03 * rng.normal(size=(n, DIM))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).repartition(16)


def run_one(df, which: str, n: int) -> tuple[float, int, int]:
    from chatbot_spark.operators.similarity import (
        embedding_neardup_pairs_blocked,
        embedding_neardup_pairs_bucketed,
    )

    from pyspark.sql import functions as F

    best, n_pairs, checksum = None, None, None
    for _ in range(2):  # min-of-two, same policy as bench.py
        t0 = time.time()
        if which == "tiled":
            out = embedding_neardup_pairs_blocked(df, min_cosine=TAU)
        else:
            out = embedding_neardup_pairs_bucketed(
                df, min_cosine=TAU, nlist=n_clusters(n)
            )
        n_pairs = out.count()
        t = round(time.time() - t0, 3)
        best = t if best is None else min(best, t)
    # untimed equality evidence: order-insensitive XOR-fold of
    # xxhash64(id_a, id_b) over the pair set — equal counts alone would
    # let a generator that trades one boundary pair for a spurious one
    # slip through (a LONG sum would overflow under ANSI mode)
    checksum = out.agg(
        F.expr("bit_xor(xxhash64(id_a, id_b))").alias("h")
    ).collect()[0]["h"]
    return best, n_pairs, checksum


def main() -> int:
    # both generators answer sizes up to NEARDUP_DRIVER_SOLVE_ROWS with
    # the same driver pair pass; force the tiled and bucketed Spark plans
    # this tool compares
    os.environ["CBS_FORCE_DISTRIBUTED"] = "1"
    from chatbot_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:]] or [20_000, 40_000]

    spark = get_spark(
        "bench-semdedup", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    results: dict[str, dict] = {}
    for n in sizes:
        df = make_corpus(spark, n).persist()
        df.count()  # materialize: both generators read the same cached input
        t_tiled, p_tiled, h_tiled = run_one(df, "tiled", n)
        t_bucket, p_bucket, h_bucket = run_one(df, "bucketed", n)
        assert (p_tiled, h_tiled) == (p_bucket, h_bucket), (
            f"pair sets diverge at n={n}: tiled=({p_tiled},{h_tiled}) "
            f"bucketed=({p_bucket},{h_bucket})"
        )
        results[str(n)] = {
            "tiled_sec": t_tiled,
            "bucketed_sec": t_bucket,
            "n_pairs": p_tiled,
        }
        df.unpersist()

    lo, hi = str(sizes[0]), str(sizes[-1])
    payload = {
        "metric": "semdedup_pairgen_scale",
        "unit": "sec",
        "tau": TAU,
        "dim": DIM,
        "cluster_size": CLUSTER_SIZE,
        "sizes": sizes,
        "results": results,
        "growth_tiled": round(
            results[hi]["tiled_sec"] / max(results[lo]["tiled_sec"], 1e-9), 2
        ),
        "growth_bucketed": round(
            results[hi]["bucketed_sec"] / max(results[lo]["bucketed_sec"], 1e-9), 2
        ),
        "derivation": "seeded clustered unit vectors (bench-only synthetic)",
    }
    with open(os.path.join(REPO, "BENCH_SEMDEDUP.json"), "w") as f:
        f.write(json.dumps(payload, separators=(",", ":")) + "\n")
    print(json.dumps(payload, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
