"""Deterministic sampling operators (training-pipeline surface).

`df.sample()` / `df.sampleBy()` draw from a seeded RNG whose stream
depends on partition layout: a retried task, a repartitioned input, or a
different engine re-draws a DIFFERENT sample. For training-data work that
is a correctness bug (a re-run of the pipeline must reproduce the same
corpus subset bit-for-bit), so these operators sample by CONTENT HASH
instead: a row is kept iff ``md5(key) mod D < fraction·D``. Properties:

 * deterministic across retries, partitionings, engines — the decision is
   a pure function of the row key (same discipline as the md5-bucket
   train/test split in workload.train_test_split);
 * uniform: md5's first 8 hex chars are uniform over [0, 2³²);
 * stratified: per-stratum fractions via a broadcast threshold table —
   no per-stratum scans, one pass, filter rides the scan;
 * oracle-friendly: any engine with md5 reproduces the exact subset.

The hash denominator D = 10⁴ gives 0.01 % fraction granularity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chatbot_spark.io.smallio import local_df

_DENOM = 10_000


def _hash_point(key: Column) -> Column:
    """Uniform int in [0, _DENOM) from the first 8 md5 hex chars of the
    key rendered as a string (portable: any engine reproduces it)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % _DENOM
    )


def deterministic_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Content-hash Bernoulli sample: keep iff md5(key) lands below the
    fraction threshold. Same subset on every run, engine, and layout."""
    return df.filter(_hash_point(F.col(key)) < int(round(fraction * _DENOM)))


def hash_stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key: str,
) -> DataFrame:
    """Per-stratum deterministic sampling (the downsample-by-source /
    downsample-by-language shape): strata map to keep-fractions; strata
    absent from ``fractions`` are dropped entirely (fraction 0).

    One broadcast hash-join against the tiny threshold table + one
    filter — a single scan regardless of stratum count, versus
    ``sampleBy``'s RNG draw which is layout-dependent and per-engine."""
    spark = df.sparkSession
    thresholds = local_df(
        spark, [(s, int(round(f * _DENOM))) for s, f in fractions.items()],
        f"{strata_col} STRING, __keep_below INT",
    )
    return (
        df.join(F.broadcast(thresholds), strata_col)
        .filter(_hash_point(F.col(key)) < F.col("__keep_below"))
        .drop("__keep_below")
    )


def weighted_mixture(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    key: str,
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Data-mixing resample — the pretraining mixture-weights op: stratum
    s contributes each of its rows ``weights[s]`` times IN EXPECTATION,
    deterministically. A weight of 2.3 emits 2 full copies of every row
    plus a third copy of the content-hash-chosen 30 % subset; 0.4 keeps
    the hash-chosen 40 %. Strata absent from ``weights`` are dropped.

    Same content-hash discipline as the samplers above (bit-reproducible
    across runs/engines/layouts — epoch-stable mixtures are what make
    training runs comparable); upsampled copies are distinguished by
    ``copy_col`` (0-based) so downstream shuffles/dedup don't collapse
    them. One broadcast join + array_repeat/posexplode — a single scan,
    output size Σ_s rows(s)·w(s), no RNG, no driver loop."""
    spark = df.sparkSession
    rows = []
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"negative mixture weight for {s!r}: {w}")
        base = int(w)
        rows.append((s, base, int(round((w - base) * _DENOM))))
    table = local_df(
        spark, rows, f"{strata_col} STRING, __base INT, __extra_below INT"
    )
    n_copies = F.col("__base") + (
        _hash_point(F.col(key)) < F.col("__extra_below")
    ).cast("int")
    return (
        df.join(F.broadcast(table), strata_col)
        .select("*", F.posexplode(F.array_repeat(F.lit(1), n_copies)).alias(copy_col, "__one"))
        .drop("__base", "__extra_below", "__one")
    )


def prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
    n_buckets: int = 64,
) -> DataFrame:
    """Distributed inclusive prefix sum of ``value_col`` in ``order_col``
    order — the two-phase scan, never a single-task global window:

      1. range-bucket rows on ``order_col`` (boundaries from one
         approx-quantile pass; the boundaries only shape the parallelism,
         the RESULT is boundary-independent);
      2. cumsum within each bucket (window partitioned by bucket — runs
         parallel across buckets);
      3. per-bucket subtotals → cumulative bucket offsets (a ≤ n_buckets
         row aggregate, broadcast back) added to the within-bucket sums.

    A naive ``Window.orderBy(order_col)`` with no partition key collapses
    the whole table into ONE task — the classic scale trap this operator
    exists to avoid. Requires ``order_col`` values to be unique (they key
    the deterministic order)."""
    from pyspark.sql import Window

    # The input feeds the quantile-bounds pass AND the bucketed scan, and
    # the within-bucket cumsum feeds the offsets aggregate AND the final
    # join — persist both so the upstream plan executes once instead of
    # once per branch (weighted_sample measured 8 source scans without).
    df = df.persist()
    if n_buckets <= 1:
        src = df.withColumn("__bkt", F.lit(0))
    else:
        bounds = df.select(
            F.percentile_approx(
                order_col, [i / n_buckets for i in range(1, n_buckets)]
            ).alias("bs")
        )
        src = df.crossJoin(F.broadcast(bounds)).withColumn(
            "__bkt",
            F.aggregate(
                "bs",
                F.lit(0),
                lambda acc, b: acc + F.when(F.col(order_col) > b, 1).otherwise(0),
            ),
        ).drop("bs")
    w_in = Window.partitionBy("__bkt").orderBy(F.col(order_col).asc())
    within = src.withColumn("__cum_in", F.sum(value_col).over(w_in)).persist()
    w_off = Window.orderBy(F.col("__bkt").asc())
    offsets = (
        within.groupBy("__bkt")
        .agg(F.sum(value_col).alias("__sub"))
        # ≤ n_buckets rows: the tiny global window here is fine
        .withColumn("__off", F.coalesce(F.sum("__sub").over(w_off) - F.col("__sub"), F.lit(0)))
        .select("__bkt", "__off")
    )
    return (
        within.join(F.broadcast(offsets), "__bkt")
        .withColumn(out_col, (F.col("__cum_in") + F.col("__off")).cast("long"))
        .drop("__bkt", "__cum_in", "__off")
    )


def systematic_weighted_sample(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, integer-exact:
    systematic (grid) sampling over the cumulative weight line. Row i with
    cumulative weight range (cum_i − w_i, cum_i] is selected iff the range
    contains a grid point j·total/k, i.e.

        floor(k·cum_i / total)  >  floor(k·(cum_i − w_i) / total)

    — pure BIGINT arithmetic, so any engine reproduces the same subset
    bit-for-bit (no RNG, no floats, no libm). Inclusion probability is
    proportional to weight; rows with w ≥ total/k are guaranteed in. The
    prefix sum is the distributed two-phase scan above; everything else
    rides the row.

    Returns the selected rows plus ``cum`` (the inclusive cumulative
    weight — the audit trail for the grid positions)."""
    cum = prefix_sum(df, order_col=order_col, value_col=weight_col)
    total = cum.agg(F.sum(weight_col).cast("long").alias("__total"))
    # integer division (`div`), NOT `/`: long/long is DOUBLE division in
    # both Spark and DuckDB, and float floor at a grid boundary is exactly
    # the bit-inexactness this operator exists to avoid. k·total must fit
    # BIGINT: fine to ~1e14 total weight at k≤10⁴.
    kc = f"CAST({k} AS BIGINT)"
    return (
        cum.crossJoin(F.broadcast(total))
        .filter(
            F.expr(f"({kc} * cum) div __total")
            > F.expr(f"({kc} * (cum - {weight_col})) div __total")
        )
        .drop("__total")
    )


def capped_sample(
    df: DataFrame, group_cols: list[str], id_col: str, cap: int
) -> DataFrame:
    """Per-group cap — the class-balancing downsample (at most ``cap``
    rows per group), with the subset chosen by CONTENT-HASH order
    (md5 of the id): deterministic, layout/engine-invariant, and stable
    under corpus growth (a row already selected stays selected until
    cap-out), unlike rand() ordering — same philosophy as
    deterministic_sample.

    Skew-safe two-phase selection (the kmv_sketch window shape): phase 1
    ranks within (group, scan-partition-id) and keeps ≤ cap per cell, so
    a hot group's rows spread across its partitions instead of
    funneling one reducer; phase 2 ranks the ≤ cap×P survivors per
    group. Output is identical to the single-window plan (total order
    (md5, id) in both phases).

    PRECONDITION: ``id_col`` must be unique within each group. The
    selection order is (md5(id), id); duplicate ids tie on that key, so
    which physical row survives at the cap boundary would depend on
    shuffle order — membership of the OTHER columns would be
    nondeterministic even though the id multiset selected is stable
    (round-5 ADVICE)."""
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    pre = df.withColumn("__h", h).withColumn("__pid", F.spark_partition_id())
    w1 = Window.partitionBy(*group_cols, "__pid").orderBy("__h", id_col)
    w2 = Window.partitionBy(*group_cols).orderBy("__h", id_col)
    return (
        pre.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= cap)
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= cap)
        .drop("__h", "__pid", "__r1", "__rn")
    )


def seeded_shard_plan(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: str,
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Reproducible global shuffle + training-shard assignment — the
    example-order primitive every trainer needs: a restart, a different
    engine, or a different input layout must all produce the IDENTICAL
    (shard, pos) for every example, or the run is not resumable and
    ablations are not comparable.

    shard = h % n_shards and pos = rank of h within the shard (ties by
    id), where h is the 32-bit integer from the first 8 md5 hex chars of
    "seed:id" — the same portable content-hash family as
    deterministic_sample, so any engine replays it. Changing the seed
    reshuffles everything; changing n_shards only re-buckets.

    100 TB shape: ONE hash exchange keyed by shard plus a per-shard
    window — never a global sort; shards are the unit of training-time
    parallelism, so the window partition count is the downstream reader
    count, not a skew hazard (md5 is uniform)."""
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    out = df.withColumn("__h", h).withColumn(
        shard_col, (F.col("__h") % n_shards).cast("int")
    )
    w = Window.partitionBy(shard_col).orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return out.withColumn(pos_col, F.row_number().over(w).cast("long")).drop(
        "__h"
    )


def token_budget_sample(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    weight_col: str,
    budget: int,
) -> DataFrame:
    """Per-group WEIGHT-BUDGETED selection — the token-budget form of
    the mixing family (capped_sample caps row COUNTS; a training mixture
    is specified in TOKENS per source): within each group, take rows in
    content-hash order (md5 of the id — deterministic, engine- and
    layout-invariant, stable under corpus growth) while the inclusive
    running ``weight_col`` total stays within ``budget``. Greedy prefix
    under budget, the standard data-mixture cut (not a knapsack — the
    hash order IS the sampling design).

    Skew-safe EXACT grouped prefix sum (the ``prefix_sum`` two-phase
    shape, specialized to a uniform order key): the order key is an md5
    hex string, so its first two hex chars give 256 equal-probability,
    ORDER-PRESERVING range buckets with no quantile pass (lexical order
    on a prefix is consistent with lexical order on the full string).
    Phase 1 cumsums within each (group, bucket) cell — a hot group's
    rows spread across 256 cells instead of funneling one reducer.
    Phase 2 adds each cell's running per-group bucket offset (a
    ≤ groups×256-row broadcast aggregate) back to the local cumsum, so
    every row carries its EXACT global inclusive prefix, then applies
    the cutoff. A survivors-only rerank (the capped_sample count trick)
    is NOT sound for weights: a row pruned in phase 1 still contributes
    weight to later rows' global prefixes, and dropping it from the
    phase-2 cumsum made boundary membership depend on the input
    partition layout (round-9 ADVICE).

    PRECONDITION: ``id_col`` unique within each group (ties on the
    (md5, id) order key would make boundary membership shuffle-order
    dependent — the capped_sample contract)."""
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    pre = df.withColumn("__h", h).withColumn(
        "__bkt", F.conv(F.substring("__h", 1, 2), 16, 10).cast("int")
    )
    w_in = Window.partitionBy(*group_cols, "__bkt").orderBy("__h", id_col)
    # the windowed subtree feeds the offsets aggregate AND the final
    # join — persist so the upstream scan executes once per action
    within = pre.withColumn("__cum_in", F.sum(weight_col).over(w_in)).persist()
    w_off = Window.partitionBy(*group_cols).orderBy(F.col("__bkt").asc())
    offsets = (
        within.groupBy(*group_cols, "__bkt")
        .agg(F.sum(weight_col).alias("__sub"))
        # ≤ groups×256 rows: the per-group window here is tiny
        .withColumn(
            "__off",
            F.coalesce(F.sum("__sub").over(w_off) - F.col("__sub"), F.lit(0)),
        )
        .select(*group_cols, "__bkt", "__off")
    )
    return (
        within.join(F.broadcast(offsets), [*group_cols, "__bkt"])
        .filter((F.col("__cum_in") + F.col("__off")) <= budget)
        .drop("__h", "__bkt", "__cum_in", "__off")
    )
