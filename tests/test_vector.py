"""Vector function + top-k operator tests (SURVEY §2.I)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from chatbot_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_norm,
    normalize,
)
from chatbot_spark.operators.topk import knn_join, per_component_quota


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [1.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        "id INT, v ARRAY<FLOAT>",
    )


def test_distances(spark, tiny):
    row = (
        tiny.filter("id = 2")
        .select(
            dot_product(F.col("v"), F.array(F.lit(1.0), F.lit(1.0), F.lit(0.0))).alias("dot"),
            l2_norm(F.col("v")).alias("norm"),
            l2_distance(F.col("v"), F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0))).alias("d0"),
        )
        .first()
    )
    assert row["dot"] == pytest.approx(2.0)
    assert row["norm"] == pytest.approx(math.sqrt(2))
    assert row["d0"] == pytest.approx(math.sqrt(2))


def test_cosine_orthogonal(spark, tiny):
    a = tiny.filter("id = 0").select(F.col("v").alias("a"))
    b = tiny.filter("id = 1").select(F.col("v").alias("b"))
    sim = a.crossJoin(b).select(cosine_similarity(F.col("a"), F.col("b")).alias("s")).first()["s"]
    assert sim == pytest.approx(0.0)


def test_normalize_unit(spark, tiny):
    norms = tiny.select(l2_norm(normalize(F.col("v"))).alias("n")).collect()
    for r in norms:
        assert r["n"] == pytest.approx(1.0)


def test_normalize_zero_vector_passthrough(spark):
    df = spark.createDataFrame([(0, [0.0, 0.0, 0.0])], "id INT, v ARRAY<FLOAT>")
    out = df.select(normalize(F.col("v")).alias("u")).first()["u"]
    assert out == [0.0, 0.0, 0.0]  # not nulls from 0/0


def test_knn_self_is_nearest(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    res = knn_join(q, emb, k=5, corpus_id="vec_id", corpus_vec="embedding")
    top1 = {r["query_id"]: r["neighbor_id"] for r in res.filter("rank = 1").collect()}
    # each query vector IS a corpus vector → its own nearest neighbor, dist 0
    assert top1 == {0: 0, 1: 1, 2: 2}
    d = res.filter("rank = 1").select(F.max("dist")).first()[0]
    assert d == pytest.approx(0.0)


def test_knn_rank_is_sorted(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id = 7").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    rows = knn_join(q, emb, k=10, corpus_id="vec_id", corpus_vec="embedding").orderBy("rank").collect()
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)
    assert len(rows) == 10


def test_component_quota():
    # reference rag_graph.py:371-375
    assert per_component_quota(1) == 10
    assert per_component_quota(2) == 7
    assert per_component_quota(3) == 4
    assert per_component_quota(4) == 3
    assert per_component_quota(10) == 3


def test_knn_component_filter(spark, sf_dir):
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumnRenamed("label", "component_code")
    )
    q = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    res = knn_join(
        q, emb, k=5, corpus_id="vec_id", corpus_vec="embedding",
        component_codes=[1, 2], extra_cols=["component_code"],
    )
    codes = {r["component_code"] for r in res.collect()}
    assert codes <= {1, 2}


def test_blocked_neardup_tiled_equals_exact(spark, sf_dir, monkeypatch):
    """The tiled blocked-matmul near-dup must produce the IDENTICAL pair
    set as the exact expression form on a corpus spanning several tiles
    (tile_rows far below the corpus size forces the multi-tile path and
    the exactly-once upper-triangle emit across tiles). The corpus is
    under the driver gate, so the tiled regime is forced."""
    from chatbot_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_blocked,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, min_cosine=0.3).collect()
    }
    monkeypatch.setenv("CBS_FORCE_DISTRIBUTED", "1")
    tiled = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs_blocked(
            emb, min_cosine=0.3, tile_rows=max(n // 4, 1)
        ).collect()
    }
    assert set(tiled) == set(exact)
    for k, v in tiled.items():
        assert v == pytest.approx(exact[k], abs=1e-9)


def test_collapse_exact_duplicates_preserves_component_dedup(spark):
    """Duplicate-storm guard: semantic dedup through the exact-duplicate
    collapse must produce the IDENTICAL (id, canonical, kept) verdict as
    the uncollapsed pipeline on a corpus where every vector has many
    byte-identical copies — including zero-norm vectors, which must stay
    singletons (cosine undefined → no edges either way)."""
    import numpy as np
    from pyspark.sql import functions as F

    from chatbot_spark.operators.dedup import resolve_duplicate_clusters
    from chatbot_spark.operators.similarity import (
        collapse_exact_duplicates,
        embedding_neardup_pairs,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(6, 8))
    rows = []
    vid = 0
    for b in range(6):  # 6 distinct vectors × 5 identical copies each
        for _ in range(5):
            rows.append((vid, [float(x) for x in base[b]]))
            vid += 1
    for _ in range(3):  # plus zero-norm copies: must never merge
        rows.append((vid, [0.0] * 8))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    def verdict(pairs_df, universe):
        clusters = resolve_duplicate_clusters(pairs_df.select("id_a", "id_b"))
        return {
            (r["vec_id"], r["canonical_id"])
            for r in universe.join(
                clusters.select(F.col("doc_id").alias("vec_id"), "canonical_id"),
                "vec_id",
                "left",
            )
            .select(
                "vec_id",
                F.coalesce("canonical_id", F.col("vec_id")).alias("canonical_id"),
            )
            .collect()
        }

    uncollapsed = verdict(embedding_neardup_pairs(emb, min_cosine=0.35), emb)

    reps, mapping = collapse_exact_duplicates(emb)
    rep_pairs = embedding_neardup_pairs(reps, min_cosine=0.35)
    rep_clusters = resolve_duplicate_clusters(rep_pairs.select("id_a", "id_b"))
    collapsed = {
        (r["vec_id"], r["canonical_id"])
        for r in mapping.join(
            rep_clusters.select(F.col("doc_id").alias("__rep_id"), "canonical_id"),
            "__rep_id",
            "left",
        )
        .select(
            "vec_id", F.coalesce("canonical_id", F.col("__rep_id")).alias("canonical_id")
        )
        .collect()
    }
    assert collapsed == uncollapsed
    # the collapse really did shrink pair generation: 6 distinct + 3 zero
    assert reps.count() == 6 + 3

def test_bucketed_neardup_equals_exact(spark, sf_dir):
    """The cluster-blocked (SemDeDup-style) near-dup must produce the
    IDENTICAL pair set as the exact expression form: the triangle-
    inequality cell-pair bound (||ci−cj|| ≤ ri+rj+ε on unit vectors) is
    sound, so no qualifying pair can be lost regardless of nlist. Checked
    at two cell counts, including one far above the cluster count (many
    near-empty cells) — and cosines agree to 1e-6 (BLAS reassociation)."""
    from chatbot_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_bucketed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, min_cosine=0.35).collect()
    }
    for nlist in (3, 24):
        bucketed = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_neardup_pairs_bucketed(
                emb, min_cosine=0.35, nlist=nlist
            ).collect()
        }
        assert set(bucketed) == set(exact)
        for k, v in bucketed.items():
            assert v == pytest.approx(exact[k], abs=1e-6)


def test_bucketed_neardup_driver_gate_equals_distributed(
    spark, sf_dir, monkeypatch
):
    """r13 size gate: the driver chunked-BLAS kernel must emit the same
    pair set as the distributed block machinery (forced via
    CBS_FORCE_DISTRIBUTED=1), cosines within the documented reassociation
    band, and a chunk boundary inside the corpus must not drop or
    duplicate cross-chunk pairs."""
    import pytest

    from chatbot_spark.operators import similarity as sim_mod
    from chatbot_spark.operators.similarity import embedding_neardup_pairs_bucketed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with monkeypatch.context() as m:
        m.setenv("CBS_FORCE_DISTRIBUTED", "1")
        dist = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_neardup_pairs_bucketed(
                emb, min_cosine=0.35, nlist=8
            ).collect()
        }
    drv = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs_bucketed(
            emb, min_cosine=0.35, nlist=8
        ).collect()
    }
    assert set(drv) == set(dist)
    for k, v in drv.items():
        assert v == pytest.approx(dist[k], abs=1e-6)
    # chunk boundary inside the corpus: same set, cross-chunk pairs kept
    orig = sim_mod._DRIVER_PAIR_CHUNK
    sim_mod._DRIVER_PAIR_CHUNK = 97
    try:
        chunked = {
            (r["id_a"], r["id_b"])
            for r in embedding_neardup_pairs_bucketed(
                emb, min_cosine=0.35, nlist=8
            ).collect()
        }
    finally:
        sim_mod._DRIVER_PAIR_CHUNK = orig
    assert chunked == set(dist)


def _pairs(df):
    return {(r["id_a"], r["id_b"]): r["cosine"] for r in df.collect()}


def test_blocked_neardup_driver_gate_equals_distributed(spark, sf_dir, monkeypatch):
    """Size gate of the blocked operator: the driver pair pass must emit
    the same pair set as the tiled stream (forced via
    CBS_FORCE_DISTRIBUTED=1), with cosines within 1e-12 — both regimes
    normalize with the same numpy code and compute each cosine as one
    dgemm dot product. A chunk boundary inside the corpus must not drop
    or duplicate cross-chunk pairs."""
    from chatbot_spark.operators import similarity as sim_mod
    from chatbot_spark.operators.similarity import embedding_neardup_pairs_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with monkeypatch.context() as m:
        m.setenv("CBS_FORCE_DISTRIBUTED", "1")
        dist = _pairs(embedding_neardup_pairs_blocked(emb, min_cosine=0.35))
    drv = _pairs(embedding_neardup_pairs_blocked(emb, min_cosine=0.35))
    assert len(dist) > 0 and set(drv) == set(dist)
    for k, v in drv.items():
        assert abs(v - dist[k]) <= 1e-12
    monkeypatch.setattr(sim_mod, "_DRIVER_PAIR_CHUNK", 97)
    chunked = _pairs(embedding_neardup_pairs_blocked(emb, min_cosine=0.35))
    assert set(chunked) == set(dist)


def test_blocked_neardup_driver_edge_inputs(spark, monkeypatch):
    """Both regimes of the blocked operator on edge inputs: a zero-norm
    vector never pairs (cosine undefined), a duplicated id never pairs
    with itself, and an empty input returns the typed empty result."""
    from chatbot_spark.operators.similarity import embedding_neardup_pairs_blocked

    rows = [
        (0, [0.0, 0.0]),
        (1, [0.0, 0.0]),
        (2, [1.0, 0.0]),
        (3, [1.0, 0.0]),
        (7, [0.0, 1.0]),
        (7, [0.0, 1.0]),  # duplicate id, identical vector
        (9, [0.1, 0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    schema = "struct<id_a:bigint,id_b:bigint,cosine:double>"
    for forced in ("0", "1"):
        monkeypatch.setenv("CBS_FORCE_DISTRIBUTED", forced)
        got = _pairs(embedding_neardup_pairs_blocked(emb, min_cosine=0.9))
        assert set(got) == {(2, 3), (7, 9)}, forced
        empty = embedding_neardup_pairs_blocked(emb.limit(0), min_cosine=0.9)
        assert empty.schema.simpleString() == schema
        assert empty.collect() == []


def test_blocked_neardup_gate_boundary(spark, sf_dir, monkeypatch):
    """The gate is inclusive: a corpus of exactly N rows takes the driver
    pass (a local table, no Python stream in the plan) and a gate of
    N - 1 rows takes the tiled stream, with the same pair set."""
    from chatbot_spark.operators import similarity as sim_mod
    from chatbot_spark.operators.similarity import embedding_neardup_pairs_blocked

    monkeypatch.delenv("CBS_FORCE_DISTRIBUTED", raising=False)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    got = {}
    for gate in (n, n - 1):
        monkeypatch.setattr(sim_mod, "NEARDUP_DRIVER_SOLVE_ROWS", gate)
        out = embedding_neardup_pairs_blocked(emb, min_cosine=0.35)
        plan = out._jdf.queryExecution().executedPlan().toString()
        got[gate] = ("MapInPandas" in plan, set(_pairs(out)))
    assert got[n][0] is False and got[n - 1][0] is True
    assert got[n][1] == got[n - 1][1] and got[n][1]


def test_bucketed_neardup_zero_norm_and_empty(spark):
    """Zero-norm vectors never pair (cosine undefined — same contract as
    the exact operator), and an all-zero corpus yields an empty result
    instead of a degenerate k-means fit."""
    from chatbot_spark.operators.similarity import embedding_neardup_pairs_bucketed

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs_bucketed(emb, min_cosine=0.9, nlist=2).collect()
    }
    assert got == {(2, 3)}
    zeros = emb.filter("vec_id < 2")
    assert embedding_neardup_pairs_bucketed(zeros, min_cosine=0.9).count() == 0


def test_zorder_value_interleave_known_bits(spark):
    """Hand-computed Morton codes: with 2-bit dims spanning exactly [0,3],
    normalization is identity and z = interleave(x, y) — x owns even bits,
    y odd. (x=3,y=0) -> 0b0101 = 5; (x=0,y=3) -> 0b1010 = 10; (3,3) -> 15."""
    from chatbot_spark.operators.zorder import zorder_value

    df = spark.createDataFrame(
        [(0, 0), (3, 0), (0, 3), (3, 3), (1, 2)], "x INT, y INT"
    )
    got = {
        (r.x, r.y): r.zval
        for r in zorder_value(df, ["x", "y"], bits=2).collect()
    }
    assert got == {(0, 0): 0, (3, 0): 5, (0, 3): 10, (3, 3): 15, (1, 2): 9}


def test_zorder_write_lossless_and_tiled(spark, tmp_path):
    """zorder_write round-trips content exactly, drops the helper column,
    and a thin slab on either dimension touches a strict subset of files."""
    from pyspark.sql import functions as F

    from chatbot_spark.operators.zorder import zorder_write

    df = (
        spark.range(4096)
        .select(
            (F.col("id") % 64).alias("a"),
            (F.col("id") / 64).cast("long").alias("b"),
            F.col("id").alias("payload"),
        )
    )
    path = str(tmp_path / "z")
    zorder_write(df, path, ["a", "b"], n_files=16, bits=8)
    back = spark.read.parquet(path)
    assert set(back.columns) == {"a", "b", "payload"}
    assert back.count() == 4096
    assert (
        back.agg(F.sum("payload")).first()[0]
        == df.agg(F.sum("payload")).first()[0]
    )
    def nf(pred):
        return (
            back.filter(pred)
            .select(F.input_file_name().alias("f"))
            .agg(F.countDistinct("f"))
            .first()[0]
        )
    total = back.select(F.input_file_name().alias("f")).agg(
        F.countDistinct("f")
    ).first()[0]
    assert nf(F.col("a") < 4) < total
    assert nf(F.col("b") < 4) < total


def test_radius_join_cosine_threshold_mode(spark):
    """Cosine mode keeps rows with similarity >= threshold (score-
    threshold retriever semantics); self-similarity 1.0 always in."""
    from pyspark.sql import functions as F

    from chatbot_spark.operators.topk import radius_join

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.8, 0.6])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    q = corpus.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    got = {
        r.neighbor_id: round(r.score, 6)
        for r in radius_join(
            q, corpus, radius=0.5, metric="cosine",
            corpus_id="vec_id", corpus_vec="embedding",
        ).collect()
    }
    assert got == {0: 1.0, 2: 0.8}  # orthogonal vec 1 excluded


def test_capped_sample_two_phase_equals_single_window(spark):
    """The skew-safe two-phase selection must equal the plain
    one-window form on a multi-partition input."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from chatbot_spark.operators.sampling import capped_sample

    df = spark.range(3000).repartition(13).select(
        (F.col("id") % 3).cast("string").alias("g"), F.col("id")
    )
    got = {
        (r.g, r.id) for r in capped_sample(df, ["g"], "id", cap=7).collect()
    }
    w = Window.partitionBy("g").orderBy(F.md5(F.col("id").cast("string")), "id")
    want = {
        (r.g, r.id)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 7")
        .collect()
    }
    assert got == want and len(want) == 21


def test_hard_negative_join_excludes_neardups_without_starving(spark):
    """An anchor with MANY near-duplicates must still get its full k
    hard negatives (exclusion is pushed before ranking — a
    top-k-then-filter would starve), and every returned negative is
    strictly outside the radius, matching brute force."""
    import numpy as np

    from pyspark.sql import functions as F

    from chatbot_spark.operators.topk import hard_negative_join

    rng = np.random.default_rng(3)
    base = rng.normal(size=(40, 8))
    rows = []
    # ids 0..9: near-identical copies of the anchor (distance ~1e-3)
    anchor = base[0]
    for i in range(10):
        rows.append((i, [float(x) for x in anchor + 1e-4 * rng.normal(size=8)]))
    for i in range(10, 40):
        rows.append((i, [float(x) for x in base[i]]))
    corpus = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    q = spark.createDataFrame(
        [(0, rows[0][1])], "query_id LONG, query_embedding ARRAY<DOUBLE>"
    )
    got = hard_negative_join(
        q, corpus, k=8, exclusion_radius=0.5, corpus_id="vec_id",
        corpus_vec="embedding",
    ).collect()
    assert len(got) == 8
    assert all(r.dist > 0.5 for r in got)
    assert all(r.neighbor_id >= 10 for r in got)  # every near-dup excluded
    # brute force agreement
    X = np.array([v for _, v in rows])
    d = np.sqrt(((X - np.array(rows[0][1])) ** 2).sum(axis=1))
    want = sorted(
        (dd, i) for i, dd in enumerate(d) if dd > 0.5
    )[:8]
    assert [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)] == [
        i for _, i in want
    ]
