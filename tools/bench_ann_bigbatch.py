"""Large-query-batch ANN search point (round-4 verdict item 4): the
collect+broadcast query side assumes bounded batches; route="join" ships
queries through a distributed centroid join instead, keeping the driver
at metadata scale. This records both paths at a batch size (default
100k) where the broadcast contract is near its practical ceiling.

Corpus: deterministic clustered synthetic (the bench_ann_scale recipe),
N×64. Queries: a key-shifted, noise-perturbed sample of the corpus.
Asserts both routes return the same number of (query, rank) rows, and
records wall times. Writes BENCH_ANN_BIGBATCH.json.

Usage: PYTHONPATH=/root/repo python tools/bench_ann_bigbatch.py [N] [Q]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    dim, n_clusters, k, nlist, nprobe = 64, 256, 10, 32, 2

    from pyspark.sql import functions as F

    from chatbot_spark.operators.ivfpq import IVFPQIndex
    from chatbot_spark.session import get_spark

    spark = get_spark(
        "ann-bigbatch", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    def synth(count: int, id_shift: int, noise_seed: int):
        base = spark.range(count).withColumn(
            "cl", (F.col("id") % n_clusters).cast("int")
        )
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                10.0
                * (
                    F.sin(F.col("cl") * 131 + j * 17)
                    - F.floor(F.sin(F.col("cl") * 131 + j * 17))
                )
                + F.rand(seed=noise_seed)
                - 0.5
            ).cast("double"),
        )
        return base.select(
            (F.col("id") + id_shift).alias("vec_id"), vec.alias("embedding")
        )

    corpus = synth(n, 0, 7).persist()
    corpus.count()
    queries = (
        synth(nq, 10_000_000, 11)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_embedding"),
        )
        .persist()
    )
    queries.count()

    idx = IVFPQIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=nlist, m=16, ksub=64
    )
    # materialize the encoded table once so both routes scan the same input
    idx.encoded.persist().count()

    results = {}
    for route in ("broadcast", "join"):
        t0 = time.time()
        out = idx.search(queries, k=k, nprobe=nprobe, route=route)
        rows = out.count()
        results[route] = {"sec": round(time.time() - t0, 3), "rows": rows}
    assert results["broadcast"]["rows"] == results["join"]["rows"], results

    payload = {
        "metric": "ann_bigbatch_search_wall_sec",
        "unit": "sec",
        "corpus": n,
        "queries": nq,
        "k": k,
        "nlist": nlist,
        "nprobe": nprobe,
        "results": results,
        "derivation": "seeded clustered synthetic (bench-only)",
    }
    with open(os.path.join(REPO, "BENCH_ANN_BIGBATCH.json"), "w") as f:
        f.write(json.dumps(payload, separators=(",", ":")) + "\n")
    print(json.dumps(payload, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
