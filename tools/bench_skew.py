"""Skew wall-clock evidence (round-3 verdict item 4): the suite's fixtures
are uniform, so the skew guards (AQE skew-join split, two-phase windowed
top-k, salted aggregation) were only ever proven for ROW PARITY. This
bench synthesizes a deliberately skewed workload — a zipf-style hot key
owning half the fact table — and times each guard against its naive plan.

Pairs measured (each: warm run, then a timed run on a fresh lineage):
 * join_skew:  events(hot user) ⋈ user dim as a forced sort-merge join,
   AQE skew-split ON vs OFF. The OFF plan funnels the hot key's half of
   the table through one reducer task; the ON plan splits that partition
   into advisory-sized chunks and replicates the matching build rows.
 * window_topk: top-10 rows per event_type (3 hot keys) via
   row_number()+filter — with Catalyst's WindowGroupLimit rank-limit
   pushdown DISABLED vs ENABLED (the engine default). With it disabled,
   3 reducer tasks sort half the table each; enabled, every scan task
   emits only its local top-10 before the shuffle — the same partial
   top-k idea topk.scan_topk applies inside its scan kernel for plans
   the optimizer rule doesn't cover.

Aggregation skew is intentionally NOT in the pairs: for algebraic aggs
(count/sum/max — salted_agg's combiners) Spark's map-side partial
aggregation already collapses each scan partition to one row per key
BEFORE the shuffle, so a hot groupBy key never concentrates rows and
salting cannot beat it on wall-clock (it adds a second shuffle). The
salted_agg operator stays for pipelines whose partial aggregation is
ineffective (pre-aggregated upstreams, exploded non-combinable state);
its exactness vs the plain plan is oracle-pinned by `salted_event_counts`.

Usage: PYTHONPATH=/root/repo python tools/bench_skew.py [n_rows]
Prints one JSON line.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_users = 1_000_000

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from chatbot_spark.session import get_spark

    spark = get_spark(
        "skew-bench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # force the skewed join to be a real shuffle join — a broadcast
            # of the 1M-row dim would sidestep the skew being measured
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            # thresholds sized to the synthetic data so the skew detector
            # actually fires (defaults target multi-GB partitions)
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        },
    )

    # fact table: half the rows land on user 0 (the hot key), the rest
    # spread uniformly — seeded, deterministic
    fact = (
        spark.range(n)
        .withColumn(
            "user_id",
            F.when(F.rand(seed=11) < 0.5, F.lit(0)).otherwise(
                (F.rand(seed=13) * n_users).cast("long")
            ),
        )
        .withColumn("event_type", F.element_at(
            F.array(F.lit("click"), F.lit("view"), F.lit("purchase")),
            (F.col("id") % 3 + 1).cast("int"),
        ))
        .withColumn("value", F.rand(seed=17))
        .persist()
    )
    fact.count()
    dim = (
        spark.range(n_users)
        .withColumnRenamed("id", "user_id")
        .withColumn("segment", (F.col("user_id") % 7).cast("int"))
        .persist()
    )
    dim.count()

    def timed(build_fn) -> float:
        build_fn().write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        build_fn().write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    def skew_join():
        return (
            fact.join(dim, "user_id")
            .groupBy("segment")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        )

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    t_join_naive = timed(skew_join)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    t_join_skewfix = timed(skew_join)

    def topk_window():
        w = Window.partitionBy("event_type").orderBy(
            F.col("value").desc(), F.col("id").asc()
        )
        return fact.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 10)

    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "-1")
    t_win_naive = timed(topk_window)
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "1000")
    t_win_limit = timed(topk_window)

    # parity guard: the pushdown plan returns the same answer
    b = sorted(map(tuple, topk_window().collect()))
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "-1")
    a = sorted(map(tuple, topk_window().collect()))
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "1000")
    assert a == b, "WindowGroupLimit pushdown diverged from the naive window"

    print(
        json.dumps(
            {
                "n_rows": n,
                "hot_key_share": 0.5,
                "join_skew_naive_sec": t_join_naive,
                "join_skew_aqe_split_sec": t_join_skewfix,
                "join_speedup": round(t_join_naive / t_join_skewfix, 2),
                "window_topk_no_pushdown_sec": t_win_naive,
                "window_topk_grouplimit_sec": t_win_limit,
                "window_speedup": round(t_win_naive / t_win_limit, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
