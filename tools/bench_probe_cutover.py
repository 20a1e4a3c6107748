"""Probe-fraction cutover calibration (r11): where does one routing-free
full-probe scan (IVFIndex.search's nprobe>=nlist fast path) beat
per-cell routed probing? Times the routed path at increasing probe
fractions against the fast path and the route="join" full probe, on the
same Zipf-text corpus as bench_ann_calibration (200k x 64d, nlist=64,
100 queries). Each timing warms its own plan first (plans differ per
nprobe, so no cross-plan cache reuse — the r10 full-probe taint cannot
recur here).

The committed measurement picked PROBE_FRACTION_CUTOVER = 0.9
(plans/retrieve.py): routed probing still wins at 0.875 of the cells
(10.4 s vs 11.5 s full fast path in the committed run; 8.9 s at 0.80)
and loses from ~0.9 up (11.7 s at 0.906, 13.7 s at 0.984) — two
independent runs put the crossover in [0.87, 0.92], so 0.9 cuts over
only where the full scan is the measured winner; recall can only RISE
(strictly more cells probed).

Writes BENCH_PROBE_CUTOVER.json.

Usage: PYTHONPATH=/root/repo python tools/bench_probe_cutover.py [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    dim, nlist, k, n_sample = 64, 64, 10, 100

    from pyspark.sql import functions as F

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.embed import get_embedder
    from chatbot_spark.session import get_spark
    from chatbot_spark.workload import _ZIPF_TEXT_EXPR

    spark = get_spark(
        "probe-cutover", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.expr(_ZIPF_TEXT_EXPR).alias("text")
    )
    emb = docs.select(
        "doc_id", get_embedder("hash", dim=dim)(F.col("text")).alias("embedding")
    ).persist()
    emb.count()
    index = IVFIndex.build(emb, vec_col="embedding", id_col="doc_id", nlist=nlist)
    index.indexed.persist().count()
    sample = emb.limit(n_sample).select(
        F.col("doc_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    ).persist()
    sample.count()

    def timed(fn):
        fn().collect()  # warm this exact plan
        t0 = time.time()
        fn().collect()
        return round(time.time() - t0, 2)

    fractions = (0.6, 0.7, 0.8, 0.875, 0.9, 0.98)
    rows = []
    for frac in fractions:
        np_ = min(nlist - 1, max(1, round(frac * nlist)))
        rows.append(
            {
                "nprobe": np_,
                "fraction": round(np_ / nlist, 3),
                "routed_sec": timed(
                    lambda: index.search(sample, k=k, nprobe=np_)
                ),
            }
        )
    full_fast = timed(lambda: index.search(sample, k=k, nprobe=nlist))
    full_join = timed(
        lambda: index.search(sample, k=k, nprobe=nlist, route="join")
    )
    payload = {
        "metric": "probe_fraction_cutover",
        "n_docs": n_docs,
        "dim": dim,
        "nlist": nlist,
        "k": k,
        "n_sample": n_sample,
        "routed": rows,
        "full_probe_fast_path_sec": full_fast,
        "full_probe_routed_join_sec": full_join,
        "crossover_note": (
            "PROBE_FRACTION_CUTOVER in plans/retrieve.py is set where "
            "routed_sec first exceeds full_probe_fast_path_sec"
        ),
        "loadavg_start": list(os.getloadavg()),
    }
    with open(os.path.join(REPO, "BENCH_PROBE_CUTOVER.json"), "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    print(json.dumps(payload))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
