"""r14 gate-probe machinery: truncated limit-probes, the
CBS_FORCE_DISTRIBUTED bench leg hook, the smallio scheme allowlist, and
the SA-dedup null-text gate fix (r13 ADVICE)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chatbot_spark.gating import effective_gate, rows_at_most


def test_rows_at_most(spark):
    df = spark.range(100)
    assert rows_at_most(df, 100)
    assert not rows_at_most(df, 99)
    assert rows_at_most(spark.range(0), 0)


def test_effective_gate_env_off(monkeypatch):
    monkeypatch.delenv("CBS_FORCE_DISTRIBUTED", raising=False)
    assert effective_gate(123) == 123
    monkeypatch.setenv("CBS_FORCE_DISTRIBUTED", "1")
    assert effective_gate(123) == 0


def test_force_distributed_same_result(spark, monkeypatch):
    """The bench gate-off leg computes the identical labeling through the
    distributed rounds."""
    from chatbot_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    gated = sorted(map(tuple, connected_components(edges).collect()))
    monkeypatch.setenv("CBS_FORCE_DISTRIBUTED", "1")
    forced = sorted(map(tuple, connected_components(edges).collect()))
    assert gated == forced


def test_is_local_path_allowlist():
    from chatbot_spark.io.smallio import is_local_path

    assert is_local_path("/tmp/x")
    assert is_local_path("relative/dir")
    assert is_local_path("file:///tmp/x")
    assert is_local_path("file:/tmp/x")
    # single-slash URI schemes must take the Spark fallback (r13 ADVICE:
    # the old blocklist misrouted these to local disk)
    for p in ("dbfs:/x", "wasb:/x", "alluxio:/x", "s3a://b/x", "hdfs:///x",
              "viewfs:/x", "o3fs:/x"):
        assert not is_local_path(p), p
    # a Windows drive letter is not a scheme
    assert is_local_path(r"C:\data\x")


def test_sa_dedup_null_text_under_gate(spark, monkeypatch):
    """A null text row must not crash the driver SA kernel, and the gated
    result must equal the distributed rounds (which drop __n < 1 rows)."""
    from chatbot_spark.operators.dedup import duplicated_spans_sa

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h a b c d e f g h"),
            (2, None),
            (3, "a b c d e f g h x y z"),
        ],
        "doc_id long, text string",
    )
    gated = sorted(
        map(tuple, duplicated_spans_sa(df, window=8).collect())
    )
    monkeypatch.setenv("CBS_FORCE_DISTRIBUTED", "1")
    dist = sorted(map(tuple, duplicated_spans_sa(df, window=8).collect()))
    assert gated == dist


def test_semdedup_gate_strict_id_filter(spark):
    """The driver pair kernel filters id-strictly (ids[i] < ids[j]) like
    the distributed diagonal kernel: duplicate ids never emit self-pairs."""
    from chatbot_spark.operators.similarity import embedding_neardup_pairs_bucketed

    rows = [
        (7, [1.0, 0.0]),
        (7, [1.0, 0.0]),  # duplicate id, identical vector
        (9, [0.9, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_neardup_pairs_bucketed(
        df, id_col="vec_id", vec_col="embedding", min_cosine=0.5
    ).collect()
    assert all(r.id_a < r.id_b for r in out)
    assert {(r.id_a, r.id_b) for r in out} == {(7, 9)}


def test_blocked_neardup_batch_shape_invariance(spark, sf_dir, monkeypatch):
    """r14 spread() on the blocked-matmul stream side: the emitted pair
    set AND the float64 cosines must be bit-identical under any input
    partitioning (every pair value is one dgemm element; its
    k-accumulation does not depend on batch composition). The corpus is
    under the driver gate, so the stream regime is forced."""
    import struct

    from chatbot_spark.io.tables import load_table
    from chatbot_spark.operators.similarity import embedding_neardup_pairs_blocked

    monkeypatch.setenv("CBS_FORCE_DISTRIBUTED", "1")
    emb = load_table(spark, sf_dir, "embeddings")
    a = {
        (r.id_a, r.id_b): struct.pack("<d", r.cosine)
        for r in embedding_neardup_pairs_blocked(
            emb, id_col="vec_id", vec_col="embedding", min_cosine=0.35
        ).collect()
    }
    b = {
        (r.id_a, r.id_b): struct.pack("<d", r.cosine)
        for r in embedding_neardup_pairs_blocked(
            emb.coalesce(1), id_col="vec_id", vec_col="embedding", min_cosine=0.35
        ).collect()
    }
    assert a == b and len(a) > 0
