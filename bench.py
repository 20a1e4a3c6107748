"""Benchmark harness (driver contract): run the headline queries (every
registered query without a ``bench_skip`` reason, in registration order) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes fully (noop sink — no collect cost, no driver
serialization) and is timed wall-clock. BASELINE.md §B defines the targets.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> None:
    from chatbot_spark.session import get_spark
    from chatbot_spark.workload import QUERY_META, SPARK_QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # host-load marker (round-6 verdict item 5): a committed artifact that
    # ran on a busy host reads uniformly ~10% slow; recording loadavg at
    # start/end lets later rounds tell host drift from a real regression
    # mechanically instead of re-running suspect entries by hand.
    try:
        load_start = round(os.getloadavg()[0], 2)
    except OSError:
        load_start = None

    # no console progress bars: the driver keeps only the last ~2 KB of
    # combined output, and r2's progress spam + one long JSON line left the
    # headline unparseable (BENCH_r02 "parsed": null)
    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    warm(spark, sf_dir)

    # min-of-two for EVERY entry (uniform policy — retiming only slow
    # entries would be one-sided resampling that biases the total downward):
    # one-shot codegen + GC coincidence flaps single runs 2× between rounds
    # (cms_heavy_hitters measured 2.5 s and 4.7 s back-to-back); min-of-N is
    # the standard steady-state estimator and both passes pay identical
    # warm-up, so no entry gets a second chance the others don't.
    times: dict[str, float] = {}

    def time_min_of_two(names: list[str], suffix: str = "") -> None:
        for pass_n in range(2):
            for name in names:
                t0 = time.time()
                SPARK_QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                t = round(time.time() - t0, 3)
                key = name + suffix
                times[key] = t if pass_n == 0 else min(times[key], t)
                # drop DataFrames the query persisted and never released
                # (e.g. pipeline subtree shares): across ~100 entries leaked
                # cache squeezes the unified memory pool and inflates LATE
                # entries by 3-6× (cms_heavy_hitters measured 10 s late vs
                # 1.7 s solo)
                spark.catalog.clearCache()

    time_min_of_two([n for n, meta in QUERY_META.items() if meta["bench_skip"] is None])

    # gate-off regression leg (r13 verdict item 2): since r13 every graph/
    # dedup maintenance entry driver-solves at sf0.1, so the DISTRIBUTED
    # recurrences — the 100 TB path — would otherwise have no tracked
    # number and a regression in _cc_round/_lpa_round/the Pregel loop
    # would be invisible round-over-round. CBS_FORCE_DISTRIBUTED=1
    # (chatbot_spark.gating.effective_gate) forces every size gate to 0
    # for the gateoff=True entries; timings land as ADDED `<name>__gateoff`
    # keys (existing entries untouched).
    os.environ["CBS_FORCE_DISTRIBUTED"] = "1"
    try:
        time_min_of_two(
            [n for n, meta in QUERY_META.items() if meta["gateoff"]], "__gateoff"
        )
    finally:
        os.environ.pop("CBS_FORCE_DISTRIBUTED", None)

    # ANN measured as the production shape: build+persist ONCE (amortized
    # over every later search batch — BASELINE.md §C), then search the
    # written, partition-pruned index repeatedly and report the mean.
    # The `ivf_knn` correctness query deliberately bundles build + an
    # exact-scan recall check (its driver oracle), so it is measured here
    # by its build and search phases instead.
    import tempfile

    from chatbot_spark.io.tables import load_table
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.workload import _queries_from_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    idx_path = os.path.join(tempfile.mkdtemp(prefix="cbs_bench_ivf_"), "ivf")
    t0 = time.time()
    IVFIndex.build(emb, vec_col="embedding", id_col="vec_id", nlist=8).write(idx_path)
    times["ivf_build"] = round(time.time() - t0, 3)
    loaded = IVFIndex.load(spark, idx_path, vec_col="embedding", id_col="vec_id")
    n_search = 3
    t0 = time.time()
    for _ in range(n_search):
        loaded.search(q, k=10, nprobe=7).write.format("noop").mode("overwrite").save()
    times["ivf_search"] = round((time.time() - t0) / n_search, 3)

    # PQ measured the same way: codebook fit + encode + persist once,
    # then ADC search (16-byte codes, exact re-rank of the shortlist).
    from chatbot_spark.operators.pq import PQIndex

    pq_path = os.path.join(tempfile.mkdtemp(prefix="cbs_bench_pq_"), "pq")
    t0 = time.time()
    PQIndex.build(emb, vec_col="embedding", id_col="vec_id", m=16, ksub=32).write(pq_path)
    times["pq_build"] = round(time.time() - t0, 3)
    pq_loaded = PQIndex.load(spark, pq_path, vec_col="embedding", id_col="vec_id")
    t0 = time.time()
    for _ in range(n_search):
        pq_loaded.search(q, k=10, rerank=100, corpus=emb).write.format("noop").mode(
            "overwrite"
        ).save()
    times["pq_search"] = round((time.time() - t0) / n_search, 3)

    # IVF-PQ: the composed production index — coarse-cell pruning AND
    # compressed codes; search scans nprobe/nlist of the corpus as m-byte
    # codes with an exact re-rank of the shortlist.
    from chatbot_spark.operators.ivfpq import IVFPQIndex

    ivfpq_path = os.path.join(tempfile.mkdtemp(prefix="cbs_bench_ivfpq_"), "ivfpq")
    t0 = time.time()
    IVFPQIndex.build(
        emb, vec_col="embedding", id_col="vec_id", nlist=8, m=16, ksub=32
    ).write(ivfpq_path)
    times["ivfpq_build"] = round(time.time() - t0, 3)
    ivfpq_loaded = IVFPQIndex.load(spark, ivfpq_path, vec_col="embedding", id_col="vec_id")
    t0 = time.time()
    for _ in range(n_search):
        ivfpq_loaded.search(q, k=10, nprobe=7, rerank=100, corpus=emb).write.format(
            "noop"
        ).mode("overwrite").save()
    times["ivfpq_search"] = round((time.time() - t0) / n_search, 3)

    # Sharded NSW graph (the HNSW-equivalent): per-shard build is the
    # expensive leg (sequential beam insertions inside each shard task);
    # search beam-walks only the nprobe routed shards of the written,
    # partition-pruned graph.
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    nsw_path = os.path.join(tempfile.mkdtemp(prefix="cbs_bench_nsw_"), "nsw")
    t0 = time.time()
    NSWGraphIndex.build(
        emb, vec_col="embedding", id_col="vec_id", nlist=8, m=16, ef_construction=256
    ).write(nsw_path)
    times["nsw_build"] = round(time.time() - t0, 3)
    nsw_loaded = NSWGraphIndex.load(spark, nsw_path, vec_col="embedding", id_col="vec_id")
    t0 = time.time()
    for _ in range(n_search):
        nsw_loaded.search(q, k=10, nprobe=7, ef_search=64).write.format("noop").mode(
            "overwrite"
        ).save()
    times["nsw_search"] = round((time.time() - t0) / n_search, 3)
    nsw_loaded.release()

    total = round(sum(times.values()), 3)
    try:
        load_end = round(os.getloadavg()[0], 2)
    except OSError:
        load_end = None
    payload = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "loadavg": {"start": load_start, "end": load_end},
        # canonicality gate (round-7 verdict item 1): the r7 headline was
        # minted at loadavg 5.4–9.7 and read 250 s where a solo run read
        # 231 s — a noisy artifact became the round's number. A run whose
        # START loadavg exceeds 2.0 on this 32-cpu box is stamped
        # non-canonical; round-over-round comparisons must prefer the
        # newest canonical-true artifact (tools/bench_diff.py enforces).
        "canonical": (load_start is not None and load_start <= 2.0),
    }
    payload.update(attachments(REPO))
    full_line = json.dumps(payload, separators=(",", ":"))
    # full per-query detail goes to a file (the driver's capture window is
    # ~2 KB of tail; a ~100-entry queries map does not reliably fit)
    out_path = os.path.join(REPO, "BENCH_FULL.json")
    # canonical-downgrade refusal (r8 verdict item 8): a loaded-host run
    # must never OVERWRITE a canonical artifact — the r8 tree ended up
    # carrying a loadavg-10 refresh over the committed quiet-host number.
    # Non-canonical results land in a sibling file; the canonical
    # artifact only ever moves canonical→canonical.
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prev = json.load(f)
            prev_canonical = bool(prev.get("canonical"))
            prev_sf = prev.get("sf")
        except (OSError, ValueError):
            prev_canonical, prev_sf = False, None
        # cross-SF refusal (r10): a canonical artifact at the pinned SF
        # must also survive a smoke run at a DIFFERENT SF — an sf0.01
        # spot check silently replaced the committed sf0.1 suite once.
        if prev_canonical and (
            not payload["canonical"] or prev_sf != payload.get("sf")
        ):
            reason = (
                "start loadavg > 2"
                if not payload["canonical"]
                else f"sf {payload.get('sf')} != pinned sf {prev_sf}"
            )
            out_path = os.path.join(REPO, "BENCH_FULL_noncanonical.json")
            print(
                f"# {reason}: run kept aside as "
                "BENCH_FULL_noncanonical.json (canonical artifact preserved)"
            )
    with open(out_path, "w") as f:
        f.write(full_line + "\n")
    print(full_line)
    # final line: compact contract JSON guaranteed to sit entirely inside
    # the driver's tail window — headline number + the slowest entries
    slowest = dict(
        sorted(times.items(), key=lambda kv: -kv[1])[:20]
    )
    tail_payload = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in slowest.items()},
        "n_queries": len(times),
        "full": "BENCH_FULL.json",
        "sf": sf,
        "loadavg": {"start": load_start, "end": load_end},
    }
    if "sf1" in payload:
        # tail window is ~2 KB: summary only here, per-query sf1 detail
        # lives in BENCH_FULL.json
        tail_payload["sf1"] = {
            k: payload["sf1"].get(k) for k in ("value", "n_queries", "derivation")
        }
    print(json.dumps(tail_payload, separators=(",", ":")))
    spark.stop()


# Recorded scale points attached to the payload: (artifact at the repo
# root, payload key, fields kept). A list-shaped artifact (one record per
# scale point) attaches each field as a per-record list.
_ATTACH = (
    # tools/bench_sf1.py: the sf1=True queries re-run at a 10x key-shifted
    # replication of sf0.1, where plan differences show (sf0.1 sits at the
    # scheduling floor); per-query times let rounds compare entry by entry
    ("BENCH_SF1.json", "sf1", ("value", "derivation", "queries")),
    # tools/bench_semdedup.py: tiled-exact vs cluster-blocked SemDeDup
    # pair generation on a clustered synthetic corpus at two sizes
    ("BENCH_SEMDEDUP.json", "semdedup_scale",
     ("sizes", "growth_tiled", "growth_bucketed")),
    # tools/bench_prefixjoin.py: naive posting-list vs prefix-filtered
    # Jaccard join on the Zipf corpus (the sub-quadratic case)
    ("BENCH_PREFIXJOIN.json", "prefixjoin_scale",
     ("sizes", "data_growth", "growth_naive", "growth_prefix")),
    # tools/bench_ann_scale.py: the 1M-vector ANN crossover
    ("BENCH_ANN_SCALE.json", "ann_scale_1m", (
        "n", "exact_search_sec", "ivf_search_sec", "speedup_search",
        "recall_at_10", "ivfpq_speedup_search", "ivfpq_recall_at_10",
        "nsw_search_sec", "nsw_speedup_search", "nsw_recall_at_10",
    )),
    ("BENCH_ANN_10M.json", "ann_scale_10m", (
        "n", "exact_search_sec", "knng_build_sec",
        "calibrated_nprobe", "ef_search", "index_search_sec",
        "index_search_speedup_vs_exact", "index_recall_at_10",
        "routed_e2e_sec", "routed_e2e_speedup_vs_exact",
        "routed_recall_at_10", "optimize_cycle_sec",
    )),
    # no knng_build_sec: the 20M build was never timed (null in the file)
    ("BENCH_ANN_20M.json", "ann_scale_20m", (
        "n", "exact_search_sec",
        "calibrated_nprobe", "ef_search", "index_search_sec",
        "index_search_speedup_vs_exact", "index_recall_at_10",
        "routed_e2e_sec", "routed_e2e_speedup_vs_exact",
        "routed_recall_at_10", "optimize_cycle_sec",
    )),
    ("BENCH_ANN_CALIB.json", "ann_calibration",
     ("n_docs", "nlist", "full_probe_search_sec", "slos")),
    # tools/bench_hnsw_layers.py: the hierarchy walk point
    ("BENCH_HNSW_LAYERS.json", "hnsw_layer_walk", (
        "descent_visited_growth_10x", "entry0_visited_growth_10x",
        "descent_walk_ms_growth_10x",
    )),
    # tools/bench_bpe.py: marginal cost per merge round must not grow
    # with the round number
    ("BENCH_BPE.json", "bpe_scale", (
        "merge_points", "total_sec", "marginal_sec_per_round_51_100",
        "marginal_sec_per_round_101_200", "late_vs_early_marginal_ratio",
    )),
    ("BENCH_IVM.json", "ivm_scale",
     ("n_orders", "n_batches", "delta_refresh_sec", "full_rebuild_sec")),
    ("BENCH_GRAPH.json", "graph_scale", (
        "n_edges", "triangle_sec", "bfs_sec", "hits_sec",
        "lpa12_sec", "lpa_full_sec", "lpa_incr_sec", "lpa_incr_speedup",
        "cc_full_sec", "cc_incr_sec", "cc_rebuild_sec", "cc_incr_speedup",
        "cc_decr_sec", "cc_decr_speedup",
    )),
)


def attachments(repo_dir: str) -> dict:
    """The recorded scale points under ``repo_dir``, keyed as in _ATTACH.
    A missing or unreadable artifact is skipped; a field is kept when the
    artifact has it (in every record, for list-shaped artifacts)."""
    out: dict = {}
    for fname, key, fields in _ATTACH:
        try:
            with open(os.path.join(repo_dir, fname)) as f:
                rec = json.load(f)
            if isinstance(rec, list):
                out[key] = {
                    k: [r[k] for r in rec]
                    for k in fields
                    if all(k in r for r in rec)
                }
            else:
                out[key] = {k: rec[k] for k in fields if k in rec}
        except (OSError, ValueError, TypeError):
            continue
    if "sf1" in out:
        out["sf1"]["n_queries"] = len(out["sf1"].get("queries", {}))
    return out


def warm(spark, sf_dir: str) -> None:
    """Pay one-time process costs before anything is timed. EVERY table is
    touched: r2's range_join_price_bands "3.1x regression" was just the
    first `part`-table query of the run paying cold file-listing + footer
    reads (~3.5 s). Then the Arrow python workers start, and the common
    physical-operator paths (hash join, window, hash agg, broadcast) are
    JIT-warmed on tiny synthetic data: otherwise whichever heavy DAG runs
    first eats ~5-7 s of one-time C2 compilation."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for tbl in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        spark.read.parquet(os.path.join(sf_dir, f"{tbl}.parquet")).count()

    def _warm_fn(s):
        return s

    # real-class annotations: string hints (future-annotations) don't resolve
    _warm_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _warm = F.pandas_udf("long")(_warm_fn)
    spark.range(32).repartition(32).select(_warm(F.col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()
    a = spark.range(10_000).withColumn("k", F.col("id") % 100)
    b = spark.range(100).withColumnRenamed("id", "k")
    (
        a.join(F.broadcast(b), "k")
        .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("id")))
        .groupBy("k")
        .agg(F.sum("r").alias("s"), F.countDistinct("id").alias("d"))
        .write.format("noop").mode("overwrite").save()
    )


if __name__ == "__main__":
    main()
