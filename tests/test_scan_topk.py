"""topk.scan_topk against the HOF-expression plan it replaced.

The reference plan below is the broadcast-query cross join with the
functions/vector.py distance expression and one (dist, id) window. Every
case asserts equal rows with equal ``dist`` bits (NaN and -0.0 included).
"""

from __future__ import annotations

import struct
import uuid

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from chatbot_spark.functions.vector import DISTANCES, sq_l2_distance
from chatbot_spark.operators.topk import hard_negative_join, knn_join

RANK = {"l2": sq_l2_distance, "cosine": DISTANCES["cosine"],
        "inner_product": DISTANCES["inner_product"]}


def hof_topk(queries, corpus, k, metric, group=None, floor=None, extra=()):
    q = queries.select(
        F.col("query_id").alias("__qid"), F.col("query_embedding").alias("__qvec")
    )
    keys = ["query_id"] + ([group] if group else [])
    pairs = corpus.join(F.broadcast(q)).select(
        F.col("__qid").alias("query_id"),
        *([group] if group else []),
        F.col("id").alias("neighbor_id"),
        RANK[metric](F.col("__qvec"), F.col("embedding")).alias("__rdist"),
        *extra,
    )
    if floor is not None:
        pairs = pairs.filter(F.col("__rdist") > F.lit(floor))
    w = Window.partitionBy(*keys).orderBy(
        F.col("__rdist").asc(), F.col("neighbor_id").asc()
    )
    dist = F.sqrt("__rdist") if metric == "l2" else F.col("__rdist")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("dist", dist)
        .drop("__rdist")
    )


def bits(df):
    """Rows with dist as its IEEE bit pattern (NaN == NaN, -0.0 != 0.0)."""
    out = []
    for r in df.collect():
        d = r.asDict()
        if d.get("dist") is not None:
            d["dist"] = struct.pack(">d", d["dist"])
        out.append(tuple(sorted(d.items(), key=lambda kv: kv[0])))
    return sorted(out, key=repr)


def assert_same(got, want):
    assert got.columns == want.columns
    g, w = bits(got), bits(want)
    assert g == w
    return g


def frames(spark, corpus_rows, query_rows, id_type="long", vec_type="float",
           parts=3):
    corpus = spark.createDataFrame(
        corpus_rows,
        f"id {id_type}, component_code int, document string, "
        f"embedding array<{vec_type}>",
    ).repartition(parts)
    queries = spark.createDataFrame(
        query_rows, f"query_id long, query_embedding array<{vec_type}>"
    )
    return corpus, queries


def seeded(seed, n=300, nq=6, dim=16, ids=None):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, dim)) * rng.uniform(0.2, 3.0, size=(n, 1))
    ids = ids or list(range(1000, 1000 + n))
    corpus = [
        (ids[i], i % 3, f"doc {i}", [float(x) for x in X[i]]) for i in range(n)
    ]
    Q = rng.normal(size=(nq, dim))
    queries = [(q, [float(x) for x in Q[q]]) for q in range(nq)]
    return corpus, queries


@pytest.mark.parametrize("metric", ["l2", "cosine", "inner_product"])
def test_metrics_match_hof_plan(spark, metric):
    corpus, queries = frames(spark, *seeded(1))
    got = knn_join(queries, corpus, k=7, metric=metric, extra_cols=["document"])
    assert_same(got, hof_topk(queries, corpus, 7, metric, extra=["document"]))


def test_double_vectors_and_component_groups(spark):
    from chatbot_spark.plans.retrieve import _per_component_topk

    corpus, queries = frames(spark, *seeded(2), vec_type="double")
    for metric in ("l2", "cosine"):
        got = _per_component_topk(queries, corpus, k=4, metric=metric, codes=[0, 2])
        want = hof_topk(
            queries, corpus.filter("component_code IN (0, 2)"), 4, metric,
            group="component_code", extra=["document"],
        )
        assert_same(got, want)


def test_hard_negative_floor_matches_filtered_hof_plan(spark):
    corpus, queries = frames(spark, *seeded(3))
    for metric, r in (("l2", 4.0), ("cosine", 0.8)):
        got = hard_negative_join(queries, corpus, k=5, exclusion_radius=r, metric=metric)
        floor = r * r if metric == "l2" else r
        want = hof_topk(queries, corpus, 5, metric, floor=floor)
        assert_same(got, want)


def test_duplicates_tied_at_the_k_boundary(spark):
    """Twelve copies of one vector straddle k=5: the window's id
    tie-break picks the members, in every scan partition."""
    rows, queries = seeded(4, n=60)
    dup = rows[0][3]
    rows = [(r[0], r[1], r[2], dup if r[0] % 5 == 0 else r[3]) for r in rows]
    queries = queries + [(99, dup)]
    corpus, q = frames(spark, rows, queries, parts=4)
    for metric in ("l2", "inner_product"):
        g = assert_same(
            knn_join(q, corpus, k=5, metric=metric), hof_topk(q, corpus, 5, metric)
        )
        assert len(g) == 5 * len(queries)


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_long_and_uuid_ids(spark, id_type):
    n = 80
    if id_type == "long":
        ids = [(1 << 40) + 7919 * i for i in range(n)]
    else:
        ids = [str(uuid.UUID(int=int(x))) for x in np.random.default_rng(5).integers(0, 2**62, n)]
    rows, queries = seeded(5, n=n, ids=ids)
    rows = rows + [(ids[1] if id_type == "long" else "0-dup", 0, "d", rows[1][3])]
    corpus, q = frames(spark, rows, queries, id_type=id_type)
    assert_same(knn_join(q, corpus, k=6), hof_topk(q, corpus, 6, "l2"))


def test_k_beyond_partition_rows_and_empty_partitions(spark):
    rows, queries = seeded(6, n=7)
    corpus, q = frames(spark, rows, queries, parts=12)
    assert corpus.rdd.glom().map(len).collect().count(0) > 0
    got = assert_same(knn_join(q, corpus, k=10), hof_topk(q, corpus, 10, "l2"))
    assert len(got) == 7 * len(queries)


def test_several_arrow_batches_per_partition(spark):
    rows, queries = seeded(7, n=200)
    corpus, q = frames(spark, rows, queries, parts=2)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for metric in ("l2", "cosine"):
            assert_same(
                knn_join(q, corpus, k=9, metric=metric),
                hof_topk(q, corpus, 9, metric),
            )
    finally:
        spark.conf.set(key, old)


def test_empty_query_set(spark):
    rows, _ = seeded(8, n=20)
    corpus, q = frames(spark, rows, [(0, [0.0])])
    empty = q.limit(0)
    got = knn_join(empty, corpus, k=3, extra_cols=["document"])
    want = hof_topk(empty, corpus, 3, "l2", extra=["document"])
    assert got.columns == want.columns and got.count() == 0


def test_null_ragged_and_nan_vectors(spark):
    """Null, null-element and ragged vectors get a null dist and rank
    first; NaN components rank last — on both sides of the pair."""
    rows, queries = seeded(9, n=40, dim=4)
    rows[3] = (rows[3][0], 0, "null", None)
    rows[4] = (rows[4][0], 0, "null elem", [1.0, None, 0.5, 0.2])
    rows[5] = (rows[5][0], 0, "short", [1.0, 0.5, 0.2])
    rows[6] = (rows[6][0], 0, "long", [1.0, 0.5, 0.2, 0.1, 0.0])
    rows[7] = (rows[7][0], 0, "nan", [float("nan"), 0.5, 0.2, 0.1])
    queries = queries + [(50, None), (51, [0.1, 0.2, 0.3]), (52, [float("nan")] * 4)]
    corpus, q = frames(spark, rows, queries, vec_type="double")
    for metric in ("l2", "cosine", "inner_product"):
        got = assert_same(
            knn_join(q, corpus, k=6, metric=metric), hof_topk(q, corpus, 6, metric)
        )
        assert any(dict(r)["dist"] is None for r in got)


def test_component_mode_ranks_by_configured_metric(spark):
    """RetrieveConfig(mode="component", metric="cosine") ranks and reports
    cosine distance per component, not L2 (rows of very different norms
    make the two rankings disagree)."""
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    rows, queries = seeded(10, n=120)
    corpus, q = frames(spark, rows, queries)
    cfg = RetrieveConfig(mode="component", component_codes=[0, 1], metric="cosine")
    got = {}
    for r in retrieve(q, corpus, cfg).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dist))
    X = np.array([r[3] for r in rows], dtype=np.float32).astype(np.float64)
    comp = np.array([r[1] for r in rows])
    ids = np.array([r[0] for r in rows])
    for qid, qv in queries:
        qv = np.array(qv, dtype=np.float32).astype(np.float64)
        cos = 1.0 - X @ qv / (np.linalg.norm(X, axis=1) * np.linalg.norm(qv))
        l2 = np.linalg.norm(X - qv, axis=1)
        want, by_l2 = set(), set()
        for c in (0, 1):
            sel = np.flatnonzero(comp == c)
            want |= set(ids[sel[np.argsort(cos[sel], kind="stable")[:7]]].tolist())
            by_l2 |= set(ids[sel[np.argsort(l2[sel], kind="stable")[:7]]].tolist())
        assert {n for _, n, _ in got[qid]} == want
        assert want != by_l2
        for _, n, d in got[qid]:
            assert d == pytest.approx(cos[ids == n][0], abs=1e-9)
