"""ANN index recall gates (SURVEY §2.I I6; BASELINE.md SLO recall@10 ≥ 0.95).

The exact operator (operators.topk.knn_join) is the oracle; IVF and LSH
must reproduce ≥95% of its top-10 sets on the driver-generated embeddings.
The reference's contract is HNSW-backed approximate L2 top-k
(src/tools/load.py:26, src/rag/doc_embedder.py:196-220); these are the
Spark-native batch equivalents.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def queries(corpus):
    return corpus.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )


@pytest.fixture(scope="module")
def exact(corpus, queries):
    from chatbot_spark.operators.topk import knn_join

    df = knn_join(queries, corpus, k=10, metric="l2", corpus_id="vec_id")
    df.cache().count()
    return df


def test_ivf_recall(corpus, queries, exact):
    # Uniform-random synthetic vectors are the worst case for IVF (no
    # cluster structure), so the SLO needs nprobe=6/8 cells here; real
    # embedding corpora cluster and prune much harder at the same recall.
    from chatbot_spark.operators.ann import IVFIndex, recall_at_k

    index = IVFIndex.build(corpus, vec_col="embedding", id_col="vec_id", nlist=8)
    approx = index.search(queries, k=10, nprobe=6)
    assert recall_at_k(approx, exact) >= 0.95


def test_ivf_full_probe_equals_exact(corpus, queries, exact):
    """nprobe == nlist degrades gracefully to the exact result."""
    from chatbot_spark.operators.ann import IVFIndex

    index = IVFIndex.build(corpus, vec_col="embedding", id_col="vec_id", nlist=4)
    approx = index.search(queries, k=10, nprobe=4)
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert got == want


def test_ivf_self_hit(corpus, queries):
    """Every query vector is in the corpus — IVF must find it at rank 1
    (its own cell is always the nearest centroid's cell)."""
    from chatbot_spark.operators.ann import IVFIndex

    index = IVFIndex.build(corpus, vec_col="embedding", id_col="vec_id", nlist=16)
    top1 = index.search(queries, k=1, nprobe=1).collect()
    assert len(top1) == 10
    assert all(r.query_id == r.neighbor_id and r.dist < 1e-6 for r in top1)


def test_brp_lsh_recall(corpus, queries, exact):
    from chatbot_spark.operators.ann import BRPIndex, recall_at_k

    index = BRPIndex.build(
        corpus, vec_col="embedding", id_col="vec_id",
        bucket_length=2.0, num_hash_tables=6,
    )
    approx = index.search(queries, k=10)
    assert recall_at_k(approx, exact) >= 0.95


def test_ivf_write_load_prunes_partitions(spark, corpus, queries, tmp_path):
    """The written index searches from disk with file-level partition
    pruning on centroid_id, and returns exactly the in-memory results."""
    from chatbot_spark.operators.ann import IVFIndex

    index = IVFIndex.build(corpus, vec_col="embedding", id_col="vec_id", nlist=8)
    path = str(tmp_path / "ivf")
    index.write(path)
    loaded = IVFIndex.load(spark, path, vec_col="embedding", id_col="vec_id")

    res_disk = loaded.search(queries, k=10, nprobe=3)
    res_mem = index.search(queries, k=10, nprobe=3)
    assert sorted(map(tuple, res_disk.collect())) == sorted(map(tuple, res_mem.collect()))

    plan = res_disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters")[1][:200]


def test_pq_zero_quantization_error_matches_exact(spark):
    """When every subvector takes at most ksub distinct values, the PQ
    codebooks can represent the corpus losslessly — ADC distances must
    then agree with the exact scan (to float tolerance; the fold orders
    differ) and the top-k sets must be identical."""
    import numpy as np

    from chatbot_spark.operators.pq import PQIndex
    from chatbot_spark.operators.topk import knn_join

    rng = np.random.default_rng(7)
    # 4 subspaces × 8 distinct subvector values each
    vocab = rng.normal(size=(4, 8, 4))
    picks = rng.integers(0, 8, size=(300, 4))
    X = np.concatenate([vocab[j, picks[:, j]] for j in range(4)], axis=1)  # (300, 16)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    index = PQIndex.build(corpus, vec_col="embedding", id_col="vec_id", m=4, ksub=8)
    got = index.search(queries, k=10).collect()
    exact = knn_join(queries, corpus, k=10, metric="l2", corpus_id="vec_id").collect()
    assert {(r.query_id, r.neighbor_id, r.rank) for r in got} == {
        (r.query_id, r.neighbor_id, r.rank) for r in exact
    }
    ed = {(r.query_id, r.neighbor_id): r.dist for r in exact}
    assert all(abs(r.dist - ed[(r.query_id, r.neighbor_id)]) < 1e-9 for r in got)


def test_pq_codes_are_m_bytes(corpus):
    from chatbot_spark.operators.pq import PQIndex

    index = PQIndex.build(corpus, vec_col="embedding", id_col="vec_id", m=8, ksub=32)
    lens = index.encoded.select(F.length("pq_code").alias("n")).distinct().collect()
    assert [r.n for r in lens] == [8]  # 64-d float32 (256 B) -> 8 B: 32x


def test_pq_rerank_recall(corpus, queries, exact):
    """ADC shortlist + exact re-rank restores recall on the worst-case
    (uniform random) corpus: SLO ≥ 0.95 @ k=10 with a 100-candidate
    shortlist out of 500 rows. Uniform noise needs the finer m=16
    quantizer (dsub=4); clustered real corpora hit the SLO at m=8 with
    2× the compression."""
    from chatbot_spark.operators.ann import recall_at_k
    from chatbot_spark.operators.pq import PQIndex

    index = PQIndex.build(corpus, vec_col="embedding", id_col="vec_id", m=16, ksub=32)
    approx = index.search(queries, k=10, rerank=100, corpus=corpus)
    assert recall_at_k(approx, exact) >= 0.95


def test_pq_write_load_roundtrip(spark, corpus, queries, tmp_path):
    from chatbot_spark.operators.pq import PQIndex

    index = PQIndex.build(corpus, vec_col="embedding", id_col="vec_id", m=8, ksub=16)
    path = str(tmp_path / "pq")
    index.write(path)
    loaded = PQIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    a = sorted(map(tuple, index.search(queries, k=5).collect()))
    b = sorted(map(tuple, loaded.search(queries, k=5).collect()))
    assert a == b


def test_ivfpq_zero_residual_error_matches_exact(spark):
    """With nlist=1 (every residual is x − c0, the same shift) and every
    subvector drawn from ≤ ksub distinct values, the residual codebooks
    represent the corpus losslessly — full-probe ADC must then reproduce
    the exact top-k sets and distances (float tolerance; fold orders
    differ)."""
    import numpy as np

    from chatbot_spark.operators.ivfpq import IVFPQIndex
    from chatbot_spark.operators.topk import knn_join

    rng = np.random.default_rng(7)
    vocab = rng.normal(size=(4, 8, 4))
    picks = rng.integers(0, 8, size=(300, 4))
    X = np.concatenate([vocab[j, picks[:, j]] for j in range(4)], axis=1)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    index = IVFPQIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=1, m=4, ksub=8
    )
    got = index.search(queries, k=10, nprobe=1).collect()
    exact = knn_join(queries, corpus, k=10, metric="l2", corpus_id="vec_id").collect()
    assert {(r.query_id, r.neighbor_id, r.rank) for r in got} == {
        (r.query_id, r.neighbor_id, r.rank) for r in exact
    }
    ed = {(r.query_id, r.neighbor_id): r.dist for r in exact}
    # 1e-6 not 1e-9: the residual recentering (q−c) − (x−c) cancels two
    # O(‖x‖) terms, costing a few ulps more than PQ's direct form
    assert all(abs(r.dist - ed[(r.query_id, r.neighbor_id)]) < 1e-6 for r in got)


def test_ivfpq_recall_slo(corpus, queries, exact):
    """Pruned probes + residual ADC + re-rank: SLO ≥ 0.95 @ k=10 on the
    worst-case (uniform) corpus at nprobe=6/8."""
    from chatbot_spark.operators.ann import recall_at_k
    from chatbot_spark.operators.ivfpq import IVFPQIndex

    index = IVFPQIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=8, m=16, ksub=32
    )
    approx = index.search(queries, k=10, nprobe=6, rerank=100, corpus=corpus)
    assert recall_at_k(approx, exact) >= 0.95


def test_ivfpq_write_load_roundtrip_and_pruning(spark, corpus, queries, tmp_path):
    from chatbot_spark.operators.ivfpq import IVFPQIndex

    index = IVFPQIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=8, m=8, ksub=16
    )
    path = str(tmp_path / "ivfpq")
    index.write(path)
    loaded = IVFPQIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    a = sorted(map(tuple, index.search(queries, k=5, nprobe=3).collect()))
    b_df = loaded.search(queries, k=5, nprobe=3)
    assert a == sorted(map(tuple, b_df.collect()))
    plan = b_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters")[1][:200]


def test_ivfpq_codes_are_m_bytes(corpus):
    from chatbot_spark.operators.ivfpq import IVFPQIndex
    from pyspark.sql import functions as F

    index = IVFPQIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=8, ksub=16
    )
    lens = index.encoded.select(F.length("pq_code").alias("n")).distinct().collect()
    assert [r["n"] for r in lens] == [8]


def test_pq_chunked_queries_equal_unchunked(corpus, queries, monkeypatch):
    """Scoring the query batch in chunks is a pure repartitioning of the
    same work: a pair budget of 1 forces one query per chunk, which must
    reproduce the single-chunk rows bit for bit (the per-query dgemv LUT
    makes ADC distances independent of the chunk), on both the ADC path
    and the exact-rerank path."""
    from chatbot_spark.operators import topk
    from chatbot_spark.operators.pq import PQIndex

    index = PQIndex.build(corpus, vec_col="embedding", id_col="vec_id", m=8, ksub=16)

    def both():
        return (
            sorted(map(tuple, index.search(queries, k=10).collect())),
            sorted(map(tuple, index.search(queries, k=5, rerank=50, corpus=corpus).collect())),
        )

    whole = both()
    monkeypatch.setattr(topk, "_PAIR_BLOCK", 1)
    assert both() == whole


def test_ivfpq_chunked_queries_equal_unchunked(corpus, queries, monkeypatch):
    """Same chunk-invariance contract for IVF-PQ: per-chunk residual LUTs
    over each probed cell must compose to the identical global top-k."""
    from chatbot_spark.operators import topk
    from chatbot_spark.operators.ivfpq import IVFPQIndex

    index = IVFPQIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=8, m=16, ksub=32
    )
    whole = sorted(map(tuple, index.search(queries, k=10, nprobe=4).collect()))
    monkeypatch.setattr(topk, "_PAIR_BLOCK", 1)
    chunked = sorted(map(tuple, index.search(queries, k=10, nprobe=4).collect()))
    assert whole == chunked


def test_nsw_recall_slo(corpus, queries, exact):
    """Sharded NSW graph (the HNSW-equivalent batch index) meets the same
    recall SLO as IVF at the same shard tuning: nprobe=7/8 on the uniform
    worst case. Beam width ef=64 is the reference's EF_SEARCH default —
    within probed shards the walk is near-exact; routing dominates."""
    from chatbot_spark.operators.ann import recall_at_k
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    index = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=8, m=16,
        ef_construction=256,
    )
    approx = index.search(queries, k=10, nprobe=7, ef_search=64)
    assert recall_at_k(approx, exact) >= 0.95


def test_nsw_fullprobe_wide_beam_equals_exact(corpus, queries, exact):
    """nprobe=nlist + ef_search ≥ shard size degrades gracefully to the
    exact scan: every shard graph is guaranteed connected from entry 0
    (construction ends with an explicit reachability repair), so an
    unbounded beam visits every node. Distances to 1e-9 (numpy vs expr
    fold order)."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    index = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=8,
        ef_construction=64,
    )
    got = index.search(queries, k=10, nprobe=4, ef_search=1000).collect()
    want = exact.collect()
    assert {(r.query_id, r.neighbor_id) for r in got} == {
        (r.query_id, r.neighbor_id) for r in want
    }
    wd = {(r.query_id, r.neighbor_id): r.dist for r in want}
    assert all(abs(r.dist - wd[(r.query_id, r.neighbor_id)]) < 1e-9 for r in got)


def test_nsw_self_hit_and_degree_bound(corpus, queries):
    """Every query vector is in the corpus — its own shard is always
    probed at nprobe≥1 and the beam must find it at rank 1. Neighbor
    lists respect the 2M prune bound everywhere."""
    from pyspark.sql import functions as F

    from chatbot_spark.operators.hnsw import NSWGraphIndex

    index = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=8, m=8,
        ef_construction=64,
    )
    top1 = index.search(queries, k=1, nprobe=1, ef_search=32).collect()
    assert len(top1) == 10
    assert all(r.query_id == r.neighbor_id and r.dist < 1e-6 for r in top1)
    max_deg = index.graph.select(
        F.max(F.size("neighbors")).alias("d")
    ).collect()[0]["d"]
    assert max_deg <= 16  # 2M


def test_nsw_write_load_prunes_partitions(spark, corpus, queries, tmp_path):
    """The written graph searches from disk with file-level partition
    pruning on shard, returning exactly the in-memory results."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    index = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=8, m=16,
        ef_construction=128,
    )
    path = str(tmp_path / "nsw")
    index.write(path)
    loaded = NSWGraphIndex.load(spark, path, vec_col="embedding", id_col="vec_id")

    res_disk = loaded.search(queries, k=10, nprobe=3, ef_search=64)
    res_mem = index.search(queries, k=10, nprobe=3, ef_search=64)
    assert sorted(map(tuple, res_disk.collect())) == sorted(
        map(tuple, res_mem.collect())
    )
    plan = res_disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters")[1][:200]


def test_ivf_append_fullprobe_equals_exact_over_union(spark, corpus, queries, tmp_path):
    """Index maintenance: build on half the corpus, append the other half
    (no centroid refit), full-probe search over the grown index must equal
    the exact scan over the WHOLE corpus — append only adds rows to cells,
    never perturbs. The written-append path must agree with the in-memory
    union and keep partition pruning."""
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.topk import knn_join

    half_a = corpus.filter(F.col("vec_id") % 2 == 0)
    half_b = corpus.filter(F.col("vec_id") % 2 == 1)
    index = IVFIndex.build(half_a, vec_col="embedding", id_col="vec_id", nlist=4)
    path = str(tmp_path / "ivf_grow")
    index.write(path)

    grown = index.append(half_b, path=path)
    got = grown.search(queries, k=10, nprobe=4).collect()
    want = knn_join(queries, corpus, k=10, metric="l2", corpus_id="vec_id").collect()
    assert {(r.query_id, r.neighbor_id) for r in got} == {
        (r.query_id, r.neighbor_id) for r in want
    }

    reloaded = IVFIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    res_disk = reloaded.search(queries, k=10, nprobe=4)
    assert sorted(map(tuple, res_disk.collect())) == sorted(map(tuple, got))
    plan = res_disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_nsw_append_fullprobe_equals_exact_over_union(spark, corpus, queries, tmp_path):
    """Graph maintenance: build NSW on half the corpus, append the other
    half (incremental insertion into the existing shard graphs — no
    refit, no global rebuild), full-probe unbounded-beam search over the
    grown index must equal the exact scan over the WHOLE corpus (appended
    nodes link into the connected component at insertion, so connectivity
    — and therefore the exactness envelope — is preserved). The written
    path rewrites only touched shards (dynamic partition overwrite) and
    must agree with the in-memory union."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.operators.topk import knn_join

    half_a = corpus.filter(F.col("vec_id") % 2 == 0)
    half_b = corpus.filter(F.col("vec_id") % 2 == 1)
    index = NSWGraphIndex.build(
        half_a, vec_col="embedding", id_col="vec_id", nlist=4, m=8,
        ef_construction=64,
    )
    path = str(tmp_path / "nsw_grow")
    index.write(path)

    grown = index.append(half_b, m=8, ef_construction=64, path=path)
    got = grown.search(queries, k=10, nprobe=4, ef_search=1000).collect()
    want = knn_join(queries, corpus, k=10, metric="l2", corpus_id="vec_id").collect()
    assert {(r.query_id, r.neighbor_id) for r in got} == {
        (r.query_id, r.neighbor_id) for r in want
    }
    wd = {(r.query_id, r.neighbor_id): r.dist for r in want}
    assert all(abs(r.dist - wd[(r.query_id, r.neighbor_id)]) < 1e-9 for r in got)

    reloaded = NSWGraphIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    res_disk = reloaded.search(queries, k=10, nprobe=4, ef_search=1000)
    assert sorted(map(tuple, res_disk.collect())) == sorted(map(tuple, got))


def test_nsw_append_on_loaded_index_same_path(spark, corpus, queries, tmp_path):
    """The documented maintenance flow: load() an index from disk, append
    into the SAME path. The rebuilt shards' lineage reads path/graph while
    the dynamic partition overwrite writes it — without materializing
    first, Spark raises 'Cannot overwrite a path that is also being read
    from', and the returned lazy union would re-read rewritten partitions
    (double-inserting). Fullprobe over the returned index must equal the
    exact scan over the whole corpus, and the on-disk row count must be
    exactly |corpus| (no double insert)."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.operators.topk import knn_join

    half_a = corpus.filter(F.col("vec_id") % 2 == 0)
    half_b = corpus.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "nsw_loaded_grow")
    NSWGraphIndex.build(
        half_a, vec_col="embedding", id_col="vec_id", nlist=4, m=8,
        ef_construction=64,
    ).write(path)

    loaded = NSWGraphIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    grown = loaded.append(half_b, m=8, ef_construction=64, path=path)

    n_total = corpus.count()
    assert grown.graph.count() == n_total
    assert spark.read.parquet(f"{path}/graph").count() == n_total

    got = grown.search(queries, k=10, nprobe=4, ef_search=1000).collect()
    want = knn_join(queries, corpus, k=10, metric="l2", corpus_id="vec_id").collect()
    assert {(r.query_id, r.neighbor_id) for r in got} == {
        (r.query_id, r.neighbor_id) for r in want
    }


def test_nsw_knn_build_fullprobe_equals_exact_and_meets_slo(corpus, queries, exact):
    """The BLAS-vectorized kNN-graph build (method='knn') must satisfy the
    same envelopes as the insertion build: full probe + unbounded beam ≡
    the exact scan (reachability repair guarantees connectivity), and the
    recall SLO at the standard tuning."""
    from chatbot_spark.operators.ann import recall_at_k
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    index = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=8, method="knn"
    )
    got = index.search(queries, k=10, nprobe=4, ef_search=1000).collect()
    want = exact.collect()
    assert {(r.query_id, r.neighbor_id) for r in got} == {
        (r.query_id, r.neighbor_id) for r in want
    }

    index8 = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=8, m=16, method="knn"
    )
    approx = index8.search(queries, k=10, nprobe=7, ef_search=64)
    assert recall_at_k(approx, exact) >= 0.95


def _n_jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def test_ann_search_jobs_independent_of_query_count(spark, corpus):
    """The distributed query side: a PQ/IVF-PQ/NSW search is one bounded
    query-collect plus ONE scan job — the Spark job count must not grow
    with the query count (the old driver chunk loop submitted one
    serialized job per chunk)."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.operators.ivfpq import IVFPQIndex
    from chatbot_spark.operators.pq import PQIndex

    def q_of(n):
        return corpus.filter(F.col("vec_id") < n).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_embedding"),
        )

    pq = PQIndex.build(corpus, vec_col="embedding", id_col="vec_id", m=16, ksub=32)
    ivfpq = IVFPQIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=16, ksub=32
    )
    nsw = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=8,
        ef_construction=64,
    )

    def jobs_for(thunk) -> int:
        before = _n_jobs(spark)
        thunk().write.format("noop").mode("overwrite").save()
        return _n_jobs(spark) - before

    for idx, kwargs in (
        (pq, {}),
        (ivfpq, {"nprobe": 2}),
        (nsw, {"nprobe": 2}),
    ):
        few = jobs_for(lambda: idx.search(q_of(3), k=5, **kwargs))
        many = jobs_for(lambda: idx.search(q_of(40), k=5, **kwargs))
        assert many == few, type(idx).__name__
        assert few <= 6, type(idx).__name__


def test_nsw_reachability_repair_on_clustered_data():
    """Classic NSW failure mode: pruning neighbor lists to 2m strips a
    node's every in-edge on clustered data, making it unreachable from
    entry 0 — silently breaking the 'wide beam == exact scan' envelope.
    Build shard graphs over adversarial clustered points (tight far-apart
    clusters, tiny m) and assert every node is BFS-reachable from pos 0;
    also exercise _repair_reachability directly on a hand-built orphan."""
    import numpy as np

    from chatbot_spark.operators.hnsw import _build_nsw, _repair_reachability

    def reached_all(adj):
        n = len(adj)
        seen = {0}
        stack = [0]
        while stack:
            u = stack.pop()
            for v in adj[u]:
                if int(v) not in seen:
                    seen.add(int(v))
                    stack.append(int(v))
        return len(seen) == n

    rng = np.random.default_rng(11)
    # 6 tight clusters, huge inter-cluster gaps, m=2: worst case for
    # prune-induced disconnection in insertion-order NSW
    centers = rng.normal(size=(6, 8)) * 1000.0
    X = np.concatenate(
        [c + rng.normal(scale=0.01, size=(40, 8)) for c in centers]
    )
    order = rng.permutation(len(X))
    adj = _build_nsw(X[order], m=2, ef_construction=4)
    assert reached_all(adj)

    # direct unit: node 2 has no in-edges; repair must link it from its
    # nearest reached node without touching reachability of the rest
    Xu = np.array([[0.0], [1.0], [10.0], [11.0]])
    adj_orphan = [[1], [0], [3], [2]]  # {0,1} component, {2,3} orphaned
    repaired = _repair_reachability(Xu, adj_orphan)
    assert reached_all(repaired)

def test_ann_join_route_equals_broadcast(spark, corpus, queries):
    """route='join' (unbounded-query-set path: distributed centroid
    routing + cogrouped search, no query data on the driver) must return
    the same (query_id, neighbor_id, rank) rows as the default broadcast
    routing for NSW and IVF-PQ."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.operators.ivfpq import IVFPQIndex

    nsw = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=8,
        ef_construction=64,
    )
    ivfpq = IVFPQIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=16, ksub=32
    )

    def rows_of(df):
        return {(r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()}

    for idx, kwargs in ((nsw, {"nprobe": 2}), (ivfpq, {"nprobe": 2})):
        a = rows_of(idx.search(queries, k=5, **kwargs))
        b = rows_of(idx.search(queries, k=5, route="join", **kwargs))
        assert a == b, type(idx).__name__
    with pytest.raises(ValueError, match="unknown route"):
        nsw.search(queries, k=5, route="nope").collect()


def test_ann_join_route_job_count_independent_of_query_count(spark, corpus):
    """The join route must also submit a query-count-independent number
    of Spark jobs (routing shuffle + probed-shard listing + cogroup scan
    — never a per-chunk loop)."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.operators.ivfpq import IVFPQIndex

    def q_of(n):
        return corpus.filter(F.col("vec_id") < n).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_embedding"),
        )

    nsw = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=8,
        ef_construction=64,
    )
    ivfpq = IVFPQIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=16, ksub=32
    )

    def jobs_for(thunk) -> int:
        before = _n_jobs(spark)
        thunk().write.format("noop").mode("overwrite").save()
        return _n_jobs(spark) - before

    for idx in (nsw, ivfpq):
        few = jobs_for(lambda: idx.search(q_of(3), k=5, nprobe=2, route="join"))
        many = jobs_for(lambda: idx.search(q_of(40), k=5, nprobe=2, route="join"))
        assert many == few, type(idx).__name__
        # the join route legitimately runs more jobs than broadcast (AQE
        # stages for the routing shuffle + cogroup) — what must NOT happen
        # is growth with query count (asserted above); the cap just guards
        # against a reintroduced per-chunk loop
        assert few <= 14, type(idx).__name__


def test_pq_driver_batched_equals_broadcast(spark, corpus, queries):
    """The bounded-driver-memory PQ path (driver_batch_rows streaming,
    one eagerly materialized scan per batch) must return identical rows
    to the one-shot path, batch boundaries notwithstanding."""
    from chatbot_spark.operators.pq import PQIndex

    pq = PQIndex.build(corpus, vec_col="embedding", id_col="vec_id", m=16, ksub=32)
    a = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in pq.search(queries, k=5).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in pq.search(queries, k=5, driver_batch_rows=3).collect()
    }
    assert a == b


def test_nsw_rebalance_bounds_shards_and_stays_exact(spark, corpus, queries, tmp_path):
    """OPTIMIZE maintenance: build small (nlist=2 → big shards), append,
    then rebalance(max_shard_rows). Post-conditions: (a) every shard fits
    the bound, (b) centroid ids stay contiguous 0..n-1 (the shard-id ==
    centroid-row invariant search/load rely on), (c) fullprobe search
    over the rebalanced written index equals the exact scan over the
    whole corpus, (d) the on-disk row count is exactly |corpus| — the
    recycled-id partition was really replaced, no stale rows."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.operators.topk import knn_join

    half_a = corpus.filter(F.col("vec_id") % 2 == 0)
    half_b = corpus.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "nsw_rebal")
    NSWGraphIndex.build(
        half_a, vec_col="embedding", id_col="vec_id", nlist=2, m=8,
        ef_construction=64,
    ).write(path)
    loaded = NSWGraphIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    grown = loaded.append(half_b, m=8, ef_construction=64, path=path)

    n_total = corpus.count()
    bound = max(60, n_total // 6)
    balanced = grown.rebalance(bound, m=8, ef_construction=64, path=path)

    sizes = {
        r["shard"]: r["n"]
        for r in balanced.graph.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    assert max(sizes.values()) <= bound, sizes
    assert len(balanced.centers) == len(sizes) >= 6
    cent_ids = sorted(
        r["shard"] for r in balanced.centroids.select("shard").collect()
    )
    assert cent_ids == list(range(len(cent_ids)))

    assert spark.read.parquet(f"{path}/graph").count() == n_total

    got = balanced.search(
        queries, k=10, nprobe=len(balanced.centers), ef_search=100000
    ).collect()
    want = knn_join(queries, corpus, k=10, metric="l2", corpus_id="vec_id").collect()
    assert {(r.query_id, r.neighbor_id) for r in got} == {
        (r.query_id, r.neighbor_id) for r in want
    }

    # reload from disk: same results (centroids/graph were both rewritten)
    reloaded = NSWGraphIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    res_disk = reloaded.search(
        queries, k=10, nprobe=len(reloaded.centers), ef_search=100000
    )
    assert sorted(map(tuple, res_disk.collect())) == sorted(map(tuple, got))


def test_nsw_rebalance_noop_below_bound(corpus):
    """A rebalance whose bound every shard already meets must leave the
    shard set unchanged (no gratuitous rebuild)."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    idx = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=8, m=8,
        ef_construction=64,
    )
    before = sorted(
        (r["shard"], r["n"])
        for r in idx.graph.groupBy("shard").agg(F.count("*").alias("n")).collect()
    )
    balanced = idx.rebalance(10**9, m=8, ef_construction=64)
    after = sorted(
        (r["shard"], r["n"])
        for r in balanced.graph.groupBy("shard").agg(F.count("*").alias("n")).collect()
    )
    assert before == after

def test_ivf_join_route_equals_broadcast(corpus, queries):
    """IVFIndex route='join' (no broadcast hint on the routed query
    shortlist — Catalyst shuffle-joins on centroid_id) must return the
    same rows as the broadcast default."""
    from chatbot_spark.operators.ann import IVFIndex

    idx = IVFIndex.build(corpus, vec_col="embedding", id_col="vec_id", nlist=8)
    a = sorted(map(tuple, idx.search(queries, k=5, nprobe=3).collect()))
    b = sorted(map(tuple, idx.search(queries, k=5, nprobe=3, route="join").collect()))
    assert a == b
    with pytest.raises(ValueError, match="unknown route"):
        idx.search(queries, k=5, route="nope")

def test_ivf_fullprobe_fast_path_equals_routed_fullprobe(corpus, queries):
    """nprobe >= nlist on the broadcast route takes the r11 routing-free
    fast path (no centroid shortlist, no probed-cell collect); the join
    route keeps the full routed machinery at the same width. Both must be
    bit-identical — (query_id, neighbor_id, rank, dist) — which pins the
    fast path against the shortlist plan it replaces."""
    from chatbot_spark.operators.ann import IVFIndex

    idx = IVFIndex.build(corpus, vec_col="embedding", id_col="vec_id", nlist=8)
    fast = sorted(map(tuple, idx.search(queries, k=5, nprobe=8).collect()))
    routed = sorted(
        map(tuple, idx.search(queries, k=5, nprobe=8, route="join").collect())
    )
    assert fast == routed
    # over-asking beyond nlist is the same full probe
    over = sorted(map(tuple, idx.search(queries, k=5, nprobe=99).collect()))
    assert over == fast

def test_pq_driver_batched_rerank_equals_broadcast(spark, corpus, queries):
    """The bounded-driver path composed with exact re-rank: the rerank
    join must not broadcast the query side (that would re-collect all Q
    vectors to the driver — the condition driver_batch_rows exists to
    avoid) and must return identical rows to the broadcast path."""
    from chatbot_spark.operators.pq import PQIndex

    pq = PQIndex.build(corpus, vec_col="embedding", id_col="vec_id", m=16, ksub=32)
    a = sorted(
        map(tuple, pq.search(queries, k=5, rerank=20, corpus=corpus).collect())
    )
    b = sorted(
        map(
            tuple,
            pq.search(
                queries, k=5, rerank=20, corpus=corpus, driver_batch_rows=4
            ).collect(),
        )
    )
    assert a == b


def test_sq_zero_quantization_error_matches_exact(spark):
    """Vectors whose per-dim values sit exactly on the 256-point grid
    (integers in [0, 255], bounds [0, 255]) decode losslessly — SQ8 ADC
    must then agree with the exact scan on sets AND distances."""
    import numpy as np

    from chatbot_spark.operators.sq import SQIndex
    from chatbot_spark.operators.topk import knn_join

    rng = np.random.default_rng(11)
    X = rng.integers(0, 256, size=(300, 16)).astype(np.float64)
    # pin the bounds so span/255 = 1 exactly: make rows 0/1 the corners
    X[0, :] = 0.0
    X[1, :] = 255.0
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    index = SQIndex.build(corpus, vec_col="embedding", id_col="vec_id")
    got = index.search(queries, k=10).collect()
    exact = knn_join(queries, corpus, k=10, metric="l2", corpus_id="vec_id").collect()
    assert {(r.query_id, r.neighbor_id, r.rank) for r in got} == {
        (r.query_id, r.neighbor_id, r.rank) for r in exact
    }
    ed = {(r.query_id, r.neighbor_id): r.dist for r in exact}
    assert all(abs(r.dist - ed[(r.query_id, r.neighbor_id)]) < 1e-9 for r in got)


def test_sq_codes_are_d_bytes_and_rerank_recall(corpus, queries, exact):
    """SQ8 codes are d bytes (4x under float32); with a top-100 exact
    re-rank the top-10 meets the family recall SLO."""
    from chatbot_spark.operators.ann import recall_at_k
    from chatbot_spark.operators.sq import SQIndex

    index = SQIndex.build(corpus, vec_col="embedding", id_col="vec_id")
    lens = index.encoded.select(F.length("sq_code").alias("n")).distinct().collect()
    assert [r.n for r in lens] == [64]  # 64-d float32 (256 B) -> 64 B
    approx = index.search(queries, k=10, rerank=100, corpus=corpus)
    assert recall_at_k(approx, exact) >= 0.95


def test_sq_write_load_roundtrip(spark, corpus, queries, tmp_path):
    from chatbot_spark.operators.sq import SQIndex

    index = SQIndex.build(corpus, vec_col="embedding", id_col="vec_id")
    path = str(tmp_path / "sq")
    index.write(path)
    loaded = SQIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    a = sorted(map(tuple, index.search(queries, k=5).collect()))
    b = sorted(map(tuple, loaded.search(queries, k=5).collect()))
    assert a == b


def test_nsw_hierarchy_layer_invariants(spark, corpus):
    """Round-5 verdict item 5: the stored hierarchy must be well-formed —
    level membership shrinks geometrically-ish, every upper-layer edge
    points at a node that is itself a member of that level, and edges
    are symmetric (undirected greedy-descent graph)."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    idx = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=2, m=8,
        ef_construction=64, method="knn",
    )
    for shard_rows in [
        [r for r in idx.graph.collect() if r["shard"] == s] for s in (0, 1)
    ]:
        n = len(shard_rows)
        by_pos = {r["pos"]: r for r in shard_rows}
        levels = {r["pos"]: len(r["layer_adj"]) for r in shard_rows}
        n1 = sum(1 for lv in levels.values() if lv >= 1)
        # geometric-ish: strictly fewer than half the nodes reach level 1
        # (expected fraction 1/m = 12.5%), but some do on any real shard
        assert 0 < n1 < n / 2, (n, n1)
        for r in shard_rows:
            for lnum, nbrs in enumerate(r["layer_adj"], start=1):
                for v in nbrs:
                    assert levels[v] >= lnum  # member of that level
                    assert r["pos"] in by_pos[v]["layer_adj"][lnum - 1]  # symmetric


def test_nsw_descent_entry_near_query():
    """The greedy descent must land at a node whose distance to the query
    is no worse than the global entry 0's — that is the whole point of
    the hierarchy (shorter layer-0 walks)."""
    import numpy as np

    from chatbot_spark.operators.hnsw import (
        _assign_levels,
        _build_upper_layers,
        _descend_entry,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(2000, 16))
    levels = _assign_levels(list(range(2000)), 16, 2000)
    layers = _build_upper_layers(X, levels, 16)
    worse = 0
    for t in range(20):
        q = rng.normal(size=16)
        e = _descend_entry(X, layers, q)
        d_e = ((X[e] - q) ** 2).sum()
        d_0 = ((X[0] - q) ** 2).sum()
        worse += d_e > d_0
        # and the entry is genuinely near: within the best 5% of the shard
        d_all = ((X - q) ** 2).sum(axis=1)
        assert (d_all < d_e).mean() < 0.05, t
    assert worse <= 2  # descent ~always beats the fixed entry


def test_nsw_hierarchy_fullprobe_still_exact_and_roundtrips(
    spark, corpus, queries, exact, tmp_path
):
    """The exact-scan envelope must survive the hierarchy (dual-seeded
    layer-0 beam), through a write/load roundtrip, and a PRE-hierarchy
    index (no layer_adj column on disk) must still load and search."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    idx = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=4, m=8,
        ef_construction=64, method="knn",
    )
    path = str(tmp_path / "nsw_h")
    idx.write(path)
    loaded = NSWGraphIndex.load(spark, path, vec_col="embedding", id_col="vec_id")
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {
        (r.query_id, r.neighbor_id)
        for r in loaded.search(queries, k=10, nprobe=4, ef_search=10**9).collect()
    }
    assert got == want
    loaded.release()

    # pre-hierarchy on-disk layout: strip layer_adj, reload, search
    legacy = str(tmp_path / "nsw_legacy")
    spark.read.parquet(f"{path}/graph").drop("layer_adj").write.partitionBy(
        "shard"
    ).parquet(f"{legacy}/graph")
    spark.read.parquet(f"{path}/centroids").write.parquet(f"{legacy}/centroids")
    old = NSWGraphIndex.load(spark, legacy, vec_col="embedding", id_col="vec_id")
    got_old = {
        (r.query_id, r.neighbor_id)
        for r in old.search(queries, k=10, nprobe=4, ef_search=10**9).collect()
    }
    assert got_old == want
    old.release()


def test_nsw_optimize_cycle_versioned_maintenance(spark, corpus, queries, exact, tmp_path):
    """Round-5 verdict item 8 — the cross-run OPTIMIZE loop: three
    append/rebalance/commit/vacuum cycles through an on-disk versioned
    state dir. Checks the commit protocol (CURRENT advances, retention
    holds, ANALYZE stats ride each version), the size bound (rebalance
    actually split), and the oracle invariant (full-probe ≡ exact over
    the union) — including after a cold re-load from disk."""
    import os

    from chatbot_spark.operators.hnsw import NSWGraphIndex, nsw_optimize_cycle

    state = str(tmp_path / "nsw_state")
    n = corpus.count()
    cap = max(64, n // 6)
    idx = None
    for b in range(3):
        idx = nsw_optimize_cycle(
            spark, state, corpus.filter(F.col("vec_id") % 3 == b),
            vec_col="embedding", id_col="vec_id", nlist=2, m=8,
            ef_construction=64, max_shard_rows=cap, keep_versions=2,
        )
    with open(os.path.join(state, "CURRENT")) as f:
        assert f.read().strip() == "v2"
    vers = sorted(d for d in os.listdir(state) if d.startswith("v") and "." not in d)
    assert vers == ["v1", "v2"]  # keep_versions=2 vacuumed v0
    stats = spark.read.parquet(os.path.join(state, "v2", "stats"))
    assert {r["column_name"] for r in stats.collect()} == {"shard", "pos"}
    sizes = idx.graph.groupBy("shard").count().collect()
    assert sum(r["count"] for r in sizes) == n  # no row lost/duplicated
    assert max(r["count"] for r in sizes) <= cap  # rebalance enforced the bound
    assert len(sizes) > 2  # the 2 initial shards really split
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {
        (r.query_id, r.neighbor_id)
        for r in idx.search(queries, k=10, nprobe=10**6, ef_search=10**6).collect()
    }
    assert got == want
    idx.release()
    # cold restart: load from the committed path alone
    cold = NSWGraphIndex.load(
        spark, os.path.join(state, "v2"), vec_col="embedding", id_col="vec_id"
    )
    got_cold = {
        (r.query_id, r.neighbor_id)
        for r in cold.search(queries, k=10, nprobe=10**6, ef_search=10**6).collect()
    }
    assert got_cold == want
    cold.release()


def test_sq_driver_batched_equals_broadcast(spark, corpus, queries):
    """Round-5 verdict item 7: SQIndex grows the same bounded-driver
    driver_batch_rows path as PQIndex — identical rows to the one-shot
    path."""
    from chatbot_spark.operators.sq import SQIndex

    index = SQIndex.build(corpus, vec_col="embedding", id_col="vec_id")
    a = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in index.search(queries, k=5).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in index.search(queries, k=5, driver_batch_rows=3).collect()
    }
    assert a == b


def test_sq_driver_batched_rerank_equals_broadcast(spark, corpus, queries):
    """Bounded-driver SQ path composed with exact re-rank: no query-side
    broadcast (that would re-collect all Q vectors) and identical rows
    to the broadcast path."""
    from chatbot_spark.operators.sq import SQIndex

    index = SQIndex.build(corpus, vec_col="embedding", id_col="vec_id")
    a = sorted(
        map(tuple, index.search(queries, k=5, rerank=20, corpus=corpus).collect())
    )
    b = sorted(
        map(
            tuple,
            index.search(
                queries, k=5, rerank=20, corpus=corpus, driver_batch_rows=4
            ).collect(),
        )
    )
    assert a == b


def test_sq_degenerate_constant_dimension(spark):
    """A constant dimension (span 0) must encode to 0 and decode to the
    constant — not NaN/inf — leaving distances exact on that axis."""
    from chatbot_spark.operators.sq import SQIndex

    corpus = spark.createDataFrame(
        [(i, [7.5, float(i)]) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    index = SQIndex.build(corpus, vec_col="embedding", id_col="vec_id")
    top = index.search(queries, k=3).collect()
    assert [r.neighbor_id for r in sorted(top, key=lambda r: r.rank)][0] == 0
    assert abs(sorted(top, key=lambda r: r.rank)[0].dist) < 1e-12

def test_nsw_exact_fast_path_equals_walk(spark, corpus, queries):
    """The r11 exact-mode fast path (nprobe >= nshards AND ef >= max
    shard size on the broadcast route => one JVM broadcast-query scan)
    must return exactly what the whole-shard Python beam walk
    (exact_fallback=False) returns — including tombstone and allowed-set
    emission semantics."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    idx = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=3, m=8,
        ef_construction=64, method="knn",
    )

    def rows_of(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
        )

    kw = dict(k=5, nprobe=3, ef_search=1_000_000)
    assert rows_of(idx.search(queries, **kw)) == rows_of(
        idx.search(queries, exact_fallback=False, **kw)
    )
    # tombstones: deleted ids must vanish from BOTH paths identically
    victims = {r["neighbor_id"] for r in idx.search(queries, **kw).collect()}
    victims = set(list(victims)[:2])
    deleted = idx.delete(victims)
    fast = rows_of(deleted.search(queries, **kw))
    walk = rows_of(deleted.search(queries, exact_fallback=False, **kw))
    assert fast == walk
    assert not any(n in victims for _, _, n in fast)
    # allowed mask: emission-filtered identically
    allowed = corpus.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    fast_f = rows_of(deleted.search(queries, allowed=allowed, **kw))
    walk_f = rows_of(
        deleted.search(queries, allowed=allowed, exact_fallback=False, **kw)
    )
    assert fast_f == walk_f
    # a PRUNED request must never take the fast path (recall contract):
    # nprobe below the shard count keeps the routed walk
    pruned_plan = deleted.search(queries, k=5, nprobe=2, ef_search=1_000_000)
    assert "FlatMapGroupsInPandas" in (
        pruned_plan._jdf.queryExecution().executedPlan().toString()
    )


def test_exact_fast_path_matches_walk_1024d(spark):
    """r12 (VERDICT item 3): the fast path's walk≡scan bit-equality
    argument is dim-bounded — numpy sums are sequential (the JVM left
    fold) only at dim ≤ 128; at the reference's real 1024-d
    (load.py:21's VECTOR(1024)) pairwise summation can differ in the
    last ULP. Row equality still holds because ranking ties break on
    neighbor_id and flipping membership needs a ULP-wide distance
    near-tie between DISTINCT neighbors — this test enforces the claim
    at 1024-d instead of guarding the fast path off (which would forfeit
    the 3× serving win at the production dimension). Duplicate vectors
    (dist ties at every fold) are included deliberately."""
    import numpy as np

    from chatbot_spark.operators.hnsw import NSWGraphIndex

    rng = np.random.default_rng(7)
    vecs = [[float(x) for x in rng.standard_normal(1024)] for _ in range(120)]
    # exact duplicates: identical dists must tie-break identically on id
    vecs[60] = list(vecs[0])
    vecs[61] = list(vecs[1])
    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(i, vecs[i]) for i in range(4)],
        "query_id long, query_embedding array<double>",
    )
    idx = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=2, m=8,
        ef_construction=64, method="knn",
    )

    def rows_of(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
        )

    kw = dict(k=8, nprobe=2, ef_search=1_000_000)
    fast = rows_of(idx.search(queries, **kw))
    walk = rows_of(idx.search(queries, exact_fallback=False, **kw))
    assert fast == walk
    # the duplicate pairs must co-rank: query 0's top-2 are {0, 60}
    top2 = {n for q, r, n in fast if q == 0 and r <= 2}
    assert top2 == {0, 60}


def test_max_shard_rows_empty_graph_and_empty_queries(spark):
    """r11 ADVICE: _max_shard_rows() on an empty graph returned
    int(None) -> TypeError, and the fast path returned an empty DF for
    an empty query batch where the walk raises — both edges now match
    the walk contract."""
    import pytest as _pytest

    from chatbot_spark.operators.hnsw import NSWGraphIndex
    import numpy as np

    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    idx = NSWGraphIndex.build(
        corpus, vec_col="embedding", id_col="vec_id", nlist=2, m=4,
        ef_construction=16, method="knn",
    )
    # empty graph: every row tombstoned then compacted away
    emptied = idx.delete(list(range(40))).compact_deletes(
        m=4, ef_construction=16, method="knn"
    )
    assert emptied._max_shard_rows() == 0
    # empty query batch raises on the fast path exactly like the walk
    no_queries = spark.createDataFrame(
        [], "query_id long, query_embedding array<double>"
    )
    with _pytest.raises(ValueError, match="empty query set"):
        idx.search(no_queries, k=3, nprobe=2, ef_search=1_000_000)
    with _pytest.raises(ValueError, match="empty query set"):
        idx.search(
            no_queries, k=3, nprobe=2, ef_search=1_000_000,
            exact_fallback=False,
        )
