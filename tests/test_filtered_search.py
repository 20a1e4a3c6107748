"""Filtered ANN search (r10): predicate+top-k over an indexed corpus —
the vector-DB filtered-search contract (the reference's OceanBase
backend exposes metadata-filtered vector search). Exactness invariants:

* IVF: a pre-filter (pushed ``where`` or ``allowed`` semi-join) is exact
  at ANY probe width — ranking happens over the filtered rows.
* NSW: disallowed nodes keep ROUTING but never emit (the tombstone
  contract generalized), so a whole-shard beam stays exact over the
  filtered corpus and the filter can never disconnect the walk.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _brute_topk(rows, queries, k, pred):
    """Driver-side oracle: top-k by (l2, id) over the pred-filtered rows."""
    out = {}
    kept = [(i, v) for i, v, t in rows if pred(t)]
    for qid, qv in queries:
        q = np.array(qv)
        scored = sorted(
            (float(np.sum((np.array(v) - q) ** 2)), i) for i, v in kept
        )
        out[qid] = [i for _, i in scored[:k]]
    return out


@pytest.fixture(scope="module")
def fixture(spark):
    rng = np.random.default_rng(23)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], int(i % 7))
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "id long, embedding array<double>, tag int"
    )
    queries = [(int(i), rows[i][1]) for i in range(6)]
    qdf = spark.createDataFrame(
        queries, "query_id long, query_embedding array<double>"
    )
    return rows, df, queries, qdf


def _got(hits):
    out = {}
    for r in hits.orderBy("query_id", "rank").collect():
        out.setdefault(r["query_id"], []).append(r["neighbor_id"])
    return out


def test_ivf_where_pushdown_exact(spark, fixture, tmp_path):
    from chatbot_spark.operators.ann import IVFIndex

    rows, df, queries, qdf = fixture
    idx = IVFIndex.build(df, vec_col="embedding", id_col="id", nlist=4)
    idx.write(str(tmp_path / "ivf"))
    loaded = IVFIndex.load(spark, str(tmp_path / "ivf"))
    hits = loaded.search(qdf, k=10, nprobe=4, where="tag < 3")
    assert _got(hits) == _brute_topk(rows, queries, 10, lambda t: t < 3)
    # the simple comparison reaches the parquet scan as a pushed filter
    plan = hits._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [", 1)[1].split("]")[0]
    assert "tag" in pushed


def test_ivf_allowed_semijoin_exact(spark, fixture):
    from chatbot_spark.operators.ann import IVFIndex

    rows, df, queries, qdf = fixture
    # index WITHOUT the metadata column: the predicate must resolve via
    # the allowed-id semi-join fallback
    idx = IVFIndex.build(
        df.select("id", "embedding"), vec_col="embedding", id_col="id", nlist=4
    )
    allowed = df.filter("tag % 2 = 0").select("id")
    hits = idx.search(qdf, k=10, nprobe=4, allowed=allowed)
    assert _got(hits) == _brute_topk(rows, queries, 10, lambda t: t % 2 == 0)


@pytest.mark.parametrize("route", ["broadcast", "join"])
def test_nsw_allowed_mask_exact(spark, fixture, route):
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    rows, df, queries, qdf = fixture
    idx = NSWGraphIndex.build(
        df.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=3, m=8, ef_construction=64, method="knn",
    )
    allowed = df.filter("tag % 2 = 0").select("id")
    # whole-shard beam + full probe = exact over the filtered corpus
    hits = idx.search(
        qdf, k=10, nprobe=3, ef_search=400, route=route, allowed=allowed
    )
    assert _got(hits) == _brute_topk(rows, queries, 10, lambda t: t % 2 == 0)


def test_nsw_allpass_filter_equals_unfiltered(spark, fixture):
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    rows, df, queries, qdf = fixture
    idx = NSWGraphIndex.build(
        df.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=3, m=8, ef_construction=64, method="knn",
    )
    base = _got(idx.search(qdf, k=10, nprobe=3, ef_search=400))
    allp = _got(
        idx.search(
            qdf, k=10, nprobe=3, ef_search=400, allowed=df.select("id")
        )
    )
    assert allp == base


def test_nsw_empty_allowed_empty_result(spark, fixture):
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    rows, df, queries, qdf = fixture
    idx = NSWGraphIndex.build(
        df.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=3, m=8, ef_construction=64, method="knn",
    )
    empty = df.filter("tag > 99").select("id")
    assert idx.search(qdf, k=10, nprobe=3, allowed=empty).count() == 0


def test_nsw_filter_composes_with_tombstones(spark, fixture):
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    rows, df, queries, qdf = fixture
    idx = NSWGraphIndex.build(
        df.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=3, m=8, ef_construction=64, method="knn",
    )
    # collect every allowed id that would rank, then delete two of them:
    # the emit mask and the tombstone set must BOTH suppress emission
    allowed = df.filter("tag % 2 = 0").select("id")
    want = _brute_topk(rows, queries, 10, lambda t: t % 2 == 0)
    victims = {want[0][0], want[0][1]}
    deleted = idx.delete(victims)
    hits = _got(
        deleted.search(qdf, k=10, nprobe=3, ef_search=400, allowed=allowed)
    )
    want_after = _brute_topk(
        rows, queries, 10, lambda t: t % 2 == 0
    )
    # recompute the oracle without the victims
    kept = {
        qid: [i for i in ids if i not in victims]
        for qid, ids in _brute_topk(
            rows, queries, 400, lambda t: t % 2 == 0
        ).items()
    }
    want_after = {qid: ids[:10] for qid, ids in kept.items()}
    assert hits == want_after


def test_retrieve_exact_path_filter(spark, fixture):
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    rows, df, queries, qdf = fixture
    corpus = df.withColumn(
        "document", F.concat(F.lit("d-"), F.col("id").cast("string"))
    )
    cfg = RetrieveConfig(mode="universal", k=10, filter="tag < 3")
    res = retrieve(qdf, corpus, cfg)
    assert _got(res) == _brute_topk(rows, queries, 10, lambda t: t < 3)


def test_routed_sql_where_bit_for_bit(spark, fixture, tmp_path):
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.sqlroute import (
        register_corpus_index,
        register_sql_distance_functions,
        routed_sql,
        unregister_corpus_index,
    )

    rows, df, queries, qdf = fixture
    view = "fltsql_t"
    df.withColumn("embedding", F.col("embedding").cast("array<float>")) \
        .createOrReplaceTempView(view)
    register_sql_distance_functions(spark)
    path = str(tmp_path / "ivf")
    IVFIndex.build(
        spark.table(view), vec_col="embedding", id_col="id", nlist=4
    ).write(path)
    # threshold 0: this test certifies the INDEX path bit-for-bit — the
    # default brute cutover would (rightly) exact-scan a fixture this
    # small; the default policy has its own test below
    register_corpus_index(view, path, metric="l2", filter_brute_threshold=0)
    try:
        sql = (
            "SELECT id AS neighbor_id, l2_dist(embedding, "
            f"(SELECT embedding FROM {view} WHERE id = 3)) AS dist "
            f"FROM {view} WHERE tag < 3 ORDER BY dist, id LIMIT 10"
        )
        exact = [(r[0], r[1]) for r in spark.sql(sql).collect()]
        routed_df = routed_sql(spark, sql)
        # the view is an ExistingRDD, so the only parquet in a routed
        # plan is the written index (the cells/ path itself can fall to
        # the plan printer's field-width truncation under pytest tmpdirs)
        assert "parquet" in (
            routed_df._jdf.queryExecution().executedPlan().toString().lower()
        )
        assert [(r[0], r[1]) for r in routed_df.collect()] == exact
    finally:
        unregister_corpus_index(view)


@pytest.mark.parametrize(
    "where",
    [
        # predicate ON the ranking distance: a radius query, not this shape
        "l2_dist(embedding, (SELECT embedding FROM fltsql_pt WHERE id = 3)) < 2",
        # subquery predicate: not standalone-analyzable -> exact scan
        "id IN (SELECT id FROM fltsql_pt WHERE tag = 0)",
    ],
)
def test_routed_sql_where_passthrough(spark, fixture, tmp_path, where):
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.sqlroute import (
        register_corpus_index,
        register_sql_distance_functions,
        routed_sql,
        unregister_corpus_index,
    )

    rows, df, queries, qdf = fixture
    view = "fltsql_pt"
    df.withColumn("embedding", F.col("embedding").cast("array<float>")) \
        .createOrReplaceTempView(view)
    register_sql_distance_functions(spark)
    path = str(tmp_path / "ivf")
    IVFIndex.build(
        spark.table(view), vec_col="embedding", id_col="id", nlist=4
    ).write(path)
    register_corpus_index(view, path, metric="l2")
    try:
        sql = (
            "SELECT id AS neighbor_id, l2_dist(embedding, "
            f"(SELECT embedding FROM {view} WHERE id = 3)) AS dist "
            f"FROM {view} WHERE {where} ORDER BY dist, id LIMIT 10"
        )
        routed_df = routed_sql(spark, sql)
        # pass-through: the plan never reads the written index
        assert "cells" not in (
            routed_df._jdf.queryExecution().executedPlan().toString()
        )
        # and the answer is the exact scan's
        assert routed_df.collect() == spark.sql(sql).collect()
    finally:
        unregister_corpus_index(view)


def test_routed_sql_where_alias_passes_through_verbatim(spark, fixture, tmp_path):
    """``WHERE dist < 2`` names the SELECT alias — illegal SQL (WHERE
    evaluates before SELECT). The rewriter refuses to route it and the
    pass-through surfaces Spark's own analysis error, exactly what the
    un-rewritten query would do — the rewrite never changes the answer,
    including the error."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.sqlroute import (
        register_corpus_index,
        register_sql_distance_functions,
        routed_sql,
        unregister_corpus_index,
    )

    rows, df, queries, qdf = fixture
    view = "fltsql_alias"
    df.withColumn("embedding", F.col("embedding").cast("array<float>")) \
        .createOrReplaceTempView(view)
    register_sql_distance_functions(spark)
    path = str(tmp_path / "ivf")
    IVFIndex.build(
        spark.table(view), vec_col="embedding", id_col="id", nlist=4
    ).write(path)
    register_corpus_index(view, path, metric="l2")
    try:
        sql = (
            "SELECT id AS neighbor_id, l2_dist(embedding, "
            f"(SELECT embedding FROM {view} WHERE id = 3)) AS dist "
            f"FROM {view} WHERE dist < 2 ORDER BY dist, id LIMIT 10"
        )
        with pytest.raises(AnalysisException):
            routed_sql(spark, sql)
    finally:
        unregister_corpus_index(view)


def test_retrieve_filtered_brute_cutover(spark, fixture, tmp_path):
    """Below filter_brute_threshold the routed path must skip the index
    entirely (never even load it) and run the exact scan over the
    filtered subset — exact at any selectivity, and visible in the plan:
    the corpus is an in-memory DataFrame, so a plan with NO parquet scan
    proves the written index was never touched."""
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    rows, df, queries, qdf = fixture
    corpus = df.withColumn(
        "document", F.concat(F.lit("d-"), F.col("id").cast("string"))
    )
    path = str(tmp_path / "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4,
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, recall_slo=1.0,
        filter="tag = 0", filter_brute_threshold=1_000_000,
    )
    res = retrieve(qdf, corpus, cfg)
    assert "parquet" not in (
        res._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert _got(res) == _brute_topk(rows, queries, 10, lambda t: t == 0)


def test_retrieve_filtered_pruned_beam_autowidens(spark, fixture, tmp_path):
    """Pruned NSW + selective filter: the routed path scales the beam to
    ceil(2k/selectivity) capped at the max shard size. On this corpus
    the cap engages (whole-shard beam), so the widened pruned search is
    EXACT over the filtered corpus — deterministic despite the pruned
    SLO — while the raw ef=64 beam would starve (~64/7 allowed nodes)."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    rows, df, queries, qdf = fixture
    corpus = df.withColumn(
        "document", F.concat(F.lit("d-"), F.col("id").cast("string"))
    )
    path = str(tmp_path / "nsw")
    NSWGraphIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=3, m=8, ef_construction=64, method="knn",
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, index_kind="nsw",
        recall_slo=0.95, filter="tag = 0",
        filter_brute_threshold=0,  # exercise the widened beam, not the cutover
    )
    res = retrieve(qdf, corpus, cfg)
    assert _got(res) == _brute_topk(rows, queries, 10, lambda t: t == 0)


def test_component_mode_with_index_path_still_filters(spark, fixture, tmp_path):
    """cfg.filter must never be silently dropped: component mode ignores
    index_path by design, so the pre-filter has to apply even when an
    index_path is set (review finding r10 — the old gate skipped the
    filter whenever index_path was non-None)."""
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    rows, df, queries, qdf = fixture
    corpus = (
        df.withColumn(
            "document", F.concat(F.lit("d-"), F.col("id").cast("string"))
        )
        .withColumn("component_code", (F.col("id") % 2).cast("int"))
    )
    path = str(tmp_path / "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4,
    ).write(path)
    cfg = RetrieveConfig(
        mode="component", component_codes=[0, 1], k=5, filter="tag < 3",
        index_path=path,
    )
    res = retrieve(qdf, corpus, cfg)
    tag_by_id = {i: t for i, v, t in rows}
    bad = [
        r["neighbor_id"] for r in res.collect()
        if tag_by_id[r["neighbor_id"]] >= 3
    ]
    assert bad == []


def test_retrieve_filtered_default_policy_brutes_small_subsets(
    spark, fixture, tmp_path
):
    """r11 policy: with NO explicit knob, a filtered retrieve whose
    allowed subset is below DEFAULT_FILTER_BRUTE_THRESHOLD (the
    crossover measured in BENCH_ANN_FILTERED) must take the exact-scan
    path — the measured no-pay regime is never the default. Same
    plan-shape proof as the explicit-threshold test: the corpus is
    in-memory, so no parquet scan == the index was never touched."""
    from chatbot_spark.plans.retrieve import (
        DEFAULT_FILTER_BRUTE_THRESHOLD,
        RetrieveConfig,
        retrieve,
    )
    from chatbot_spark.operators.ann import IVFIndex

    rows, df, queries, qdf = fixture
    corpus = df.withColumn(
        "document", F.concat(F.lit("d-"), F.col("id").cast("string"))
    )
    path = str(tmp_path / "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4,
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, recall_slo=1.0,
        filter="tag = 1",
    )
    assert cfg.filter_brute_threshold == DEFAULT_FILTER_BRUTE_THRESHOLD > 0
    res = retrieve(qdf, corpus, cfg)
    assert "parquet" not in (
        res._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert _got(res) == _brute_topk(rows, queries, 10, lambda t: t == 1)


def test_retrieve_filtered_releases_planning_cache(spark, fixture, tmp_path):
    """r10 ADVICE: _routed_universal persisted the allowed-id DataFrame
    and never unpersisted it — every filtered retrieve leaked cached
    blocks in a long-lived serving session. The persist now scopes to
    planning (try/finally), so repeated calls leave the persistent-RDD
    registry exactly where it started."""
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    rows, df, queries, qdf = fixture
    corpus = df.withColumn(
        "document", F.concat(F.lit("d-"), F.col("id").cast("string"))
    )
    path = str(tmp_path / "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4,
    ).write(path)

    def n_persisted():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_persisted()
    for trial in range(3):
        cfg = RetrieveConfig(
            mode="universal", k=10, index_path=path, recall_slo=1.0,
            filter="tag % 2 = 0", filter_brute_threshold=0,
        )
        retrieve(qdf, corpus, cfg).collect()
    assert n_persisted() == before


def test_probe_fraction_cutover_full_probes_wide_derived_widths(
    spark, fixture, tmp_path, monkeypatch
):
    """r11 policy: a derived/CALIBRATED probe width past
    PROBE_FRACTION_CUTOVER of nlist widens to the full probe, which
    takes IVFIndex.search's routing-free fast path — visible in the
    plan: ONE parquet scan (cells), no centroids shortlist scans. An
    EXPLICIT index_nprobe below the fraction keeps the routed shortlist.
    slo=1.0 takes the fast path trivially (nprobe == nlist). Results
    stay exact in every case on this corpus."""
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans import retrieve as retrieve_mod
    from chatbot_spark.plans.retrieve import (
        PROBE_FRACTION_CUTOVER,
        RetrieveConfig,
        retrieve,
    )

    rows, df, queries, qdf = fixture
    corpus = df.withColumn(
        "document", F.concat(F.lit("d-"), F.col("id").cast("string"))
    )
    path = str(tmp_path / "ivf")
    nlist = 10
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=nlist,
    ).write(path)

    # slo=1.0: full probe == the fast path, one parquet scan
    exact_cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, recall_slo=1.0,
    )
    res = retrieve(qdf, corpus, exact_cfg)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # paths can fall to the plan printer's field-width truncation, so
    # count scan NODES instead of matching path substrings
    assert plan.count("Scan parquet") == 1
    assert _got(res) == _brute_topk(rows, queries, 10, lambda t: True)

    # CALIBRATED width past the cutover fraction: force calibrate_nprobe
    # to return 9/10 (>= 0.9) — the policy must widen to the full probe
    wide = int(PROBE_FRACTION_CUTOVER * nlist)  # 9
    monkeypatch.setattr(
        retrieve_mod, "calibrate_nprobe", lambda *a, **kw: wide
    )
    calib_cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, recall_slo=0.95,
        calibration_queries=qdf,
    )
    res_c = retrieve(qdf, corpus, calib_cfg)
    plan_c = res_c._jdf.queryExecution().executedPlan().toString()
    assert plan_c.count("Scan parquet") == 1  # widened -> fast path
    assert _got(res_c) == _brute_topk(rows, queries, 10, lambda t: True)

    # EXPLICIT pinned width below the fraction keeps the shortlist
    pinned = RetrieveConfig(
        mode="universal", k=10, index_path=path, recall_slo=0.95,
        index_nprobe=5,
    )
    plan5 = (
        retrieve(qdf, corpus, pinned)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # shortlist machinery kept: the cells scan is pruned to the probed
    # cells (PartitionFilters on centroid_id). The centroids table loads
    # driver-side since r13 (io/smallio) so it no longer appears as a
    # second parquet scan — the partition filter is the discriminator
    # (the fast-path plans above scan cells with NO centroid_id filter).
    assert "PartitionFilters" in plan5 and "centroid_id" in plan5.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    assert "PartitionFilters" not in plan_c or "centroid_id" not in plan_c.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]


def test_index_cache_reuses_and_invalidates(spark, fixture, tmp_path):
    """The r11 loaded-index cache: repeat retrieve() calls against the
    same written path reuse one loaded index object (no per-call load
    actions), invalidate_index_cache(path) drops exactly that entry, and
    results are identical either way."""
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans import retrieve as retrieve_mod
    from chatbot_spark.plans.retrieve import (
        RetrieveConfig,
        invalidate_index_cache,
        retrieve,
    )

    rows, df, queries, qdf = fixture
    corpus = df.withColumn(
        "document", F.concat(F.lit("d-"), F.col("id").cast("string"))
    )
    path = str(tmp_path / "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4,
    ).write(path)
    invalidate_index_cache()
    cfg = RetrieveConfig(
        mode="universal", k=5, index_path=path, index_id_col="id",
        index_vec_col="embedding", recall_slo=1.0,
    )
    first = _got(retrieve(qdf, corpus, cfg))
    cached = [
        v for k, v in retrieve_mod._INDEX_CACHE.items() if k[2] == path
    ]
    assert len(cached) == 1
    again = _got(retrieve(qdf, corpus, cfg))
    assert again == first
    assert (
        len([v for k, v in retrieve_mod._INDEX_CACHE.items() if k[2] == path])
        == 1
    )
    # the cached object is REUSED (identity, not just equality)
    assert (
        [v for k, v in retrieve_mod._INDEX_CACHE.items() if k[2] == path][0]
        is cached[0]
    )
    invalidate_index_cache(path)
    assert not [k for k in retrieve_mod._INDEX_CACHE if k[2] == path]
    # in-place append + invalidate: the next retrieve sees the new rows
    idx = IVFIndex.load(spark, path, vec_col="embedding", id_col="id")
    extra = spark.createDataFrame(
        [(10_000, rows[0][1])], "id long, embedding array<double>"
    )
    idx.append(extra, path=path)
    invalidate_index_cache(path)
    corpus2 = corpus.unionByName(
        extra.withColumn("tag", F.lit(0)).withColumn(
            "document", F.lit("d-10000")
        ).select(*corpus.columns)
    )
    res2 = retrieve(qdf, corpus2, cfg)
    # query 0 IS rows[0]'s vector: its duplicate 10_000 must now appear
    got0 = _got(res2)[0]
    assert 10_000 in got0


def test_index_cache_auto_invalidates_on_inplace_mutation(
    spark, fixture, tmp_path
):
    """r12: an in-place append(path=...) / compact_deletes(path=...) must
    be visible to the NEXT retrieve() with NO manual
    invalidate_index_cache call — the r11 silent-staleness window. Two
    mechanisms close it (both exercised here): the mutating methods call
    the invalidation hook in-process, and the cache key carries a
    content stamp so even a cross-process mutation misses the cache."""
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.plans import retrieve as retrieve_mod
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    rows, df, queries, qdf = fixture
    corpus = df.withColumn(
        "document", F.concat(F.lit("d-"), F.col("id").cast("string"))
    )

    # --- IVF append path: new duplicate-of-query row must surface ---
    path = str(tmp_path / "ivf_auto")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4,
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=5, index_path=path, index_id_col="id",
        index_vec_col="embedding", recall_slo=1.0,
    )
    assert 20_000 not in _got(retrieve(qdf, corpus, cfg))[0]  # warms cache
    extra = spark.createDataFrame(
        [(20_000, rows[0][1])], "id long, embedding array<double>"
    )
    IVFIndex.load(spark, path, vec_col="embedding", id_col="id").append(
        extra, path=path
    )
    corpus2 = corpus.unionByName(
        extra.withColumn("tag", F.lit(0))
        .withColumn("document", F.lit("d-20000"))
        .select(*corpus.columns)
    )
    # NO invalidate_index_cache call — query 0 is rows[0]'s own vector,
    # so its new exact duplicate must appear in the top-k
    assert 20_000 in _got(retrieve(qdf, corpus2, cfg))[0]

    # --- stamp-only path (simulates a cross-process mutation): drop the
    # in-process hook's effect by re-warming, then mutate WITHOUT the
    # hook by rewriting cells directly ---
    stamp_before = retrieve_mod._index_content_stamp(spark, path)
    spark.read.parquet(f"{path}/cells").limit(0).write.mode(
        "append"
    ).partitionBy("centroid_id").parquet(f"{path}/cells")
    assert retrieve_mod._index_content_stamp(spark, path) != stamp_before

    # --- NSW delete + compact path: deleted row must stop surfacing ---
    npath = str(tmp_path / "nsw_auto")
    NSWGraphIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=2, m=8, ef_construction=32, method="knn",
    ).write(npath)
    ncfg = RetrieveConfig(
        mode="universal", k=5, index_path=npath, index_kind="nsw",
        index_id_col="id", index_vec_col="embedding", recall_slo=1.0,
    )
    got = _got(retrieve(qdf, corpus, ncfg))[0]
    assert got[0] == 0  # self-match first; warms the cache
    loaded = NSWGraphIndex.load(
        spark, npath, vec_col="embedding", id_col="id"
    )
    loaded.delete([0]).compact_deletes(
        m=8, ef_construction=32, method="knn", path=npath
    )
    corpus3 = corpus.filter(F.col("id") != 0)
    got_after = _got(retrieve(qdf, corpus3, ncfg))[0]
    assert 0 not in got_after  # stale cache would still emit id 0


def test_index_content_stamp_one_glob_equals_per_dir_lookups(
    spark, fixture, tmp_path
):
    """The retrieve cache's content stamp comes from one globStatus over
    the five candidate _SUCCESS markers. It must equal the former
    per-directory getFileStatus stamp on an IVF layout (no graph or
    tombstones dir) and an NSW layout (no cells dir), before and after an
    in-place append(path=), and still change after the IVF append."""
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.plans.retrieve import _index_content_stamp

    def per_dir_stamp(path):
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        stamp = []
        for sub in ("cells", "graph", "centroids", "tombstones", "meta"):
            p = jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}/_SUCCESS")
            fs = p.getFileSystem(conf)
            if fs.exists(p):
                st = fs.getFileStatus(p)
                stamp.append((sub, st.getModificationTime(), st.getLen()))
        return tuple(stamp)

    rows, df, queries, qdf = fixture
    vecs = df.select("id", "embedding")
    extra = spark.createDataFrame(
        [(30_000, rows[0][1])], "id long, embedding array<double>"
    )
    ivf = str(tmp_path / "ivf_stamp")
    IVFIndex.build(vecs, vec_col="embedding", id_col="id", nlist=4).write(ivf)
    nsw = str(tmp_path / "nsw_stamp")
    NSWGraphIndex.build(
        vecs, vec_col="embedding", id_col="id", nlist=2, m=8,
        ef_construction=32, method="knn",
    ).write(nsw)
    stamps = {}
    for path, loader, absent, kw in (
        (ivf, IVFIndex, {"graph", "tombstones"}, {}),
        (nsw, NSWGraphIndex, {"cells"}, {"m": 8, "ef_construction": 32}),
    ):
        stamp = _index_content_stamp(spark, path)
        assert stamp == per_dir_stamp(path)
        assert stamp and absent.isdisjoint(sub for sub, *_ in stamp)
        loader.load(spark, path, vec_col="embedding", id_col="id").append(
            extra, path=path, **kw
        )
        after = _index_content_stamp(spark, path)
        assert after == per_dir_stamp(path)
        stamps[path] = (stamp, after)
    assert stamps[ivf][0] != stamps[ivf][1]


def test_brute_gate_still_validates_index_registration(
    spark, fixture, tmp_path
):
    """r11 ADVICE: with a high filter_brute_threshold the brute path
    returned BEFORE the index was loaded, silently skipping the
    metric/nlist refuse-loudly checks — a misregistered index only
    surfaced once the subset crossed the cutover. The gate now sits
    after load+validation (the load is cached, paid once per path)."""
    import pytest as _pytest

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    rows, df, queries, qdf = fixture
    corpus = df.withColumn(
        "document", F.concat(F.lit("d-"), F.col("id").cast("string"))
    )
    path = str(tmp_path / "ivf_l2")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4,
    ).write(path)
    # metric mismatch refuses loudly EVEN when the brute gate would fire
    bad_metric = RetrieveConfig(
        mode="universal", k=5, metric="cosine", index_path=path,
        index_id_col="id", index_vec_col="embedding", recall_slo=1.0,
        filter="tag = 0", filter_brute_threshold=1_000_000,
    )
    with _pytest.raises(ValueError, match="built for 'l2'"):
        retrieve(qdf, corpus, bad_metric)
    # nlist mismatch likewise
    bad_nlist = RetrieveConfig(
        mode="universal", k=5, index_path=path, index_id_col="id",
        index_vec_col="embedding", recall_slo=1.0, index_nlist=99,
        filter="tag = 0", filter_brute_threshold=1_000_000,
    )
    with _pytest.raises(ValueError, match="does not match the loaded"):
        retrieve(qdf, corpus, bad_nlist)
    # and the brute path itself still serves (exact over the subset)
    ok = RetrieveConfig(
        mode="universal", k=5, index_path=path, index_id_col="id",
        index_vec_col="embedding", recall_slo=1.0,
        filter="tag = 0", filter_brute_threshold=1_000_000,
    )
    got = _got(retrieve(qdf, corpus, ok))
    assert got == _brute_topk(rows, queries, 5, lambda t: t == 0)
