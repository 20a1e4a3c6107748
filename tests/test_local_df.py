"""Driver-held rows become DataFrames only through ``io.smallio.local_df``
(Arrow): its typing equals ``spark.createDataFrame(rows, ddl)``, no
driver-solve or index side table plans over a ``PythonRDD``, and the
index side tables written from driver state keep the on-disk layout."""

from __future__ import annotations

import ast
import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from chatbot_spark.io.smallio import local_df

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "chatbot_spark")

ALL_TYPES = (
    "a bigint, b int, c double, d string, e boolean, f array<double>, "
    "g array<int>, h map<string,string>, t timestamp"
)
ROWS = [
    (1, 2, 1.5, "x", True, [1.0, None], [1, 2], {"k": "v"}, dt.datetime(2024, 1, 2, 3, 4, 5, 6)),
    (None, None, None, None, None, None, None, None, None),
    (-(2**62), -7, float("-inf"), "", False, [], [], {}, dt.datetime(1970, 1, 1)),
]


def _python_rdd(df) -> bool:
    """True when any part of df's plan reads a PythonRDD: its own RDD
    lineage, or a list-backed scan anywhere in the executed plan
    (broadcast sides run as their own jobs, outside the lineage)."""
    qe = df._jdf.queryExecution()
    if "PythonRDD" in qe.toRdd().toDebugString():
        return True
    return re.search(r"Scan ExistingRDD(?! arrow)", qe.executedPlan().toString()) is not None


def _arrow_df(spark, cols: dict):
    return spark.createDataFrame(pa.table(cols))


def _vectors(n: int, d: int, seed: int = 0) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(n, d))


def _corpus(spark, X, id_type=pa.int64()):
    return _arrow_df(
        spark,
        {
            "vec_id": pa.array(np.arange(len(X)), id_type),
            "embedding": pa.array(X.tolist(), pa.list_(pa.float64())),
        },
    )


# ------------------------------------------------------------- local_df


def test_local_df_matches_create_dataframe_schema_and_rows(spark):
    ref = spark.createDataFrame(ROWS, ALL_TYPES)
    got = local_df(spark, ROWS, ALL_TYPES)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()
    # Row inputs, a StructType schema and a pandas frame give the same
    assert local_df(spark, [Row(*r) for r in ROWS], ref.schema).collect() == ref.collect()
    pdf = ref.select("a", "c", "d").toPandas()
    sub = ref.select("a", "c", "d")
    got_pd = local_df(spark, pdf, "a bigint, c double, d string")
    assert got_pd.schema == sub.schema and got_pd.collect() == sub.collect()


def test_local_df_numpy_scalars_and_empty_input(spark):
    ddl = "a bigint, b int, c double, e boolean, f array<double>, g array<int>"
    np_rows = [(np.int64(3), np.int32(4), np.float64(2.5), np.bool_(True),
                np.array([1.0, 2.0]), np.array([5, 6], dtype=np.int32))]
    py_rows = [(3, 4, 2.5, True, [1.0, 2.0], [5, 6])]
    ref = spark.createDataFrame(py_rows, ddl)
    got = local_df(spark, np_rows, ddl)
    assert got.schema == ref.schema and got.collect() == ref.collect()

    empty_ref = spark.createDataFrame([], ALL_TYPES)
    empty = local_df(spark, [], ALL_TYPES)
    assert empty.schema == empty_ref.schema and empty.collect() == []


def test_local_df_plans_local_table_scan_and_never_python_rdd(spark):
    df = local_df(spark, ROWS, ALL_TYPES)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert not _python_rdd(df)
    # the reference path is the one this replaces
    assert _python_rdd(spark.createDataFrame(ROWS, ALL_TYPES))

    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "0")
    try:
        big = local_df(spark, ROWS, ALL_TYPES)
        assert "LocalTableScan" not in big._jdf.queryExecution().executedPlan().toString()
        assert not _python_rdd(big)
        assert big.collect() == spark.createDataFrame(ROWS, ALL_TYPES).collect()
    finally:
        spark.conf.set(key, prev)


def test_create_dataframe_called_only_in_smallio():
    """One way in: every driver-rows DataFrame goes through local_df."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and rel != os.path.join("io", "smallio.py")
                ):
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []


# ------------------------------------------------------ no PythonRDD scans


def test_index_centroids_are_arrow_backed(spark):
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    corpus = _corpus(spark, _vectors(64, 4))
    ivf = IVFIndex.build(corpus, vec_col="embedding", id_col="vec_id", nlist=4)
    nsw = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=4, ef_construction=16
    )
    assert not _python_rdd(ivf.centroids)
    assert not _python_rdd(nsw.centroids)


def test_driver_solve_results_are_arrow_backed(spark):
    from chatbot_spark.operators.components import connected_components
    from chatbot_spark.operators.dedup import resolve_duplicate_clusters

    pairs = _arrow_df(
        spark, {"id_a": pa.array([1, 2, 7], pa.int64()), "id_b": pa.array([2, 3, 8], pa.int64())}
    )
    res = resolve_duplicate_clusters(pairs)
    assert not _python_rdd(res)
    assert sorted(map(tuple, res.collect())) == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]

    edges = pairs.withColumnRenamed("id_a", "src").withColumnRenamed("id_b", "dst")
    cc = connected_components(edges)
    assert not _python_rdd(cc)
    assert sorted(map(tuple, cc.collect())) == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


def test_neardup_bucketed_empty_and_blocked_tables_are_arrow_backed(
    spark, monkeypatch
):
    from chatbot_spark.operators.similarity import embedding_neardup_pairs_bucketed

    X = _vectors(40, 8, seed=3)
    X[1] = X[0] * 1.0001  # one planted near pair
    corpus = _corpus(spark, X)
    empty = embedding_neardup_pairs_bucketed(corpus.limit(0), min_cosine=0.99, nlist=4)
    assert not _python_rdd(empty)
    assert empty.collect() == []

    monkeypatch.setenv("CBS_FORCE_DISTRIBUTED", "1")
    blocked = embedding_neardup_pairs_bucketed(corpus, min_cosine=0.99, nlist=4)
    assert not _python_rdd(blocked)
    assert [(r.id_a, r.id_b) for r in blocked.collect()] == [(0, 1)]


def test_scan_topk_empty_query_set_is_arrow_backed(spark):
    from chatbot_spark.operators.topk import scan_topk

    corpus = _arrow_df(
        spark,
        {"id": pa.array([1, 2], pa.int64()),
         "embedding": pa.array([[0.0, 1.0], [1.0, 0.0]], pa.list_(pa.float64()))},
    )
    queries = corpus.limit(0).selectExpr("id AS query_id", "embedding AS query_embedding")
    res = scan_topk(queries, corpus, k=3)
    assert not _python_rdd(res)
    assert res.collect() == []


# ------------------------------------------------- index side tables on disk


def _job_count(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same_table(spark, path: str, ref_df):
    """The dataset at ``path`` reads back, through pyarrow and Spark, with
    the schema and rows of ``ref_df`` — the DataFrame the index writers
    used to persist via ``toArrow()``."""
    ref = ref_df.toArrow()
    got = pq.read_table(path)
    assert got.schema.remove_metadata().equals(ref.schema.remove_metadata())
    assert got.equals(ref)
    back = spark.read.parquet(path)
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in ref_df.schema
    ]
    assert back.collect() == ref_df.collect()


def test_ivf_side_tables_unchanged_and_written_without_jobs(spark, tmp_path):
    from chatbot_spark.operators.ann import IVFIndex

    X = _vectors(80, 4, seed=1)
    ivf = IVFIndex.build(_corpus(spark, X), vec_col="embedding", id_col="vec_id", nlist=4)
    path = str(tmp_path / "ivf")
    n_write = _job_count(spark, "ivf-write", lambda: ivf.write(path))
    n_cells = _job_count(
        spark,
        "ivf-cells-only",
        lambda: ivf.indexed.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(str(tmp_path / "cells_only")),
    )
    assert n_write == n_cells

    rows = sorted((r.centroid_id, list(r.centroid)) for r in ivf.centroids.collect())
    assert [r[0] for r in rows] == [0, 1, 2, 3]
    ref = spark.createDataFrame(rows, "centroid_id INT, centroid ARRAY<DOUBLE>")
    _assert_same_table(spark, f"{path}/centroids", ref)
    assert pq.read_table(f"{path}/centroids").schema.field("centroid").type.value_field.name == "element"
    _assert_same_table(
        spark, f"{path}/meta", spark.createDataFrame([("l2", None)], "metric STRING, m2 DOUBLE")
    )

    loaded = IVFIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    path2 = str(tmp_path / "ivf2")
    loaded.write(path2)
    _assert_same_table(spark, f"{path2}/centroids", ref)


def test_nsw_side_tables_unchanged_and_written_without_jobs(spark, tmp_path):
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    X = _vectors(80, 4, seed=2)
    # INT ids: the tombstone column type comes from the graph schema
    nsw = NSWGraphIndex.build(
        _corpus(spark, X, pa.int32()), vec_col="embedding", id_col="vec_id",
        nlist=4, m=4, ef_construction=16,
    )
    path = str(tmp_path / "nsw")
    n_write = _job_count(spark, "nsw-write", lambda: nsw.write(path))
    n_graph = _job_count(
        spark,
        "nsw-graph-only",
        lambda: nsw.graph.write.mode("overwrite")
        .partitionBy("shard")
        .parquet(str(tmp_path / "graph_only")),
    )
    assert n_write == n_graph

    cref = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(nsw.centers)],
        "shard INT, centroid ARRAY<DOUBLE>",
    )
    _assert_same_table(spark, f"{path}/centroids", cref)
    assert sorted(map(tuple, nsw.centroids.collect())) == sorted(map(tuple, cref.collect()))
    _assert_same_table(spark, f"{path}/tombstones", spark.createDataFrame([], "vec_id INT"))
    _assert_same_table(
        spark, f"{path}/meta", spark.createDataFrame([("l2", None)], "metric STRING, m2 DOUBLE")
    )

    deleted = nsw.delete([np.int64(5), 3])
    dpath = str(tmp_path / "nsw_del")
    deleted.write(dpath)
    _assert_same_table(
        spark, f"{dpath}/tombstones", spark.createDataFrame([(3,), (5,)], "vec_id INT")
    )
    loaded = NSWGraphIndex.load(spark, dpath, vec_col="embedding", id_col="vec_id")
    assert loaded.tombstones == frozenset({3, 5})

    loaded.compact_deletes(m=4, ef_construction=16, path=dpath)
    _assert_same_table(spark, f"{dpath}/tombstones", spark.createDataFrame([], "vec_id INT"))
