"""delete() across the flat-storage ANN family (IVF/BRP/PQ/IVFPQ/SQ):
the round-5 contract-uniformity lesson applied to CRUD — every index
must delete the same way. Flat rows carry no routing structure, so
delete is a filter: deleted ids never surface, searches equal searches
over the remaining corpus (checked exactly where the index is exact)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chatbot_spark.operators.ann import BRPIndex, IVFIndex
from chatbot_spark.operators.ivfpq import IVFPQIndex
from chatbot_spark.operators.pq import PQIndex
from chatbot_spark.operators.sq import SQIndex
from chatbot_spark.operators.topk import knn_join


def _corpus(spark, n=80, d=8):
    rows = [
        (i, [float(((i * 37 + j * 11) % 97)) / 97.0 for j in range(d)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(corpus):
    return corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


DEAD = {2, 11, 29, 53}


def test_ivf_fullprobe_delete_equals_exact_over_remaining(spark):
    corpus = _corpus(spark)
    idx = IVFIndex.build(corpus, vec_col="embedding", id_col="vec_id", nlist=4)
    got = idx.delete(DEAD).search(_queries(corpus), k=5, nprobe=4)
    rem = corpus.filter(~F.col("vec_id").isin(sorted(DEAD)))
    want = knn_join(
        _queries(corpus), rem, k=5, metric="l2",
        corpus_id="vec_id", corpus_vec="embedding",
    )
    assert sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in got.collect()) \
        == sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in want.collect())


def test_every_flat_index_never_returns_deleted_ids(spark):
    corpus = _corpus(spark)
    q = _queries(corpus)
    builds = [
        IVFIndex.build(corpus, vec_col="embedding", id_col="vec_id", nlist=4),
        BRPIndex.build(corpus, vec_col="embedding", id_col="vec_id"),
        PQIndex.build(corpus, vec_col="embedding", id_col="vec_id", m=4, ksub=16),
        IVFPQIndex.build(corpus, vec_col="embedding", id_col="vec_id",
                         nlist=4, m=4, ksub=16),
        SQIndex.build(corpus, vec_col="embedding", id_col="vec_id"),
    ]
    for idx in builds:
        after = idx.delete(DEAD)
        try:
            res = after.search(q, k=10, nprobe=4)
        except TypeError:
            res = after.search(q, k=10)
        ids = {r["neighbor_id"] for r in res.collect()}
        assert not ids & DEAD, type(idx).__name__
        assert ids, type(idx).__name__  # still returns something


def test_delete_absent_ids_is_noop(spark):
    corpus = _corpus(spark, n=30)
    idx = IVFIndex.build(corpus, vec_col="embedding", id_col="vec_id", nlist=2)
    before = idx.indexed.count()
    assert idx.delete({10_000}).indexed.count() == before


def test_quantized_rerank_without_corpus_raises(spark):
    """rerank re-scores the shortlist against the raw vectors, so every
    quantized index refuses it without ``corpus`` instead of returning
    unreranked ADC rows."""
    corpus = _corpus(spark)
    q = _queries(corpus)
    for idx, kwargs in (
        (PQIndex.build(corpus, vec_col="embedding", id_col="vec_id", m=4, ksub=16), {}),
        (IVFPQIndex.build(corpus, vec_col="embedding", id_col="vec_id",
                          nlist=4, m=4, ksub=16), {"nprobe": 4}),
        (SQIndex.build(corpus, vec_col="embedding", id_col="vec_id"), {}),
    ):
        with pytest.raises(ValueError, match="rerank requires the raw-vector corpus"):
            idx.search(q, k=5, rerank=20, **kwargs)
