"""Approximate nearest-neighbor index operators (SURVEY §2.I I6).

The reference builds an HNSW index inside OceanBase (``VECTOR KEY ...
TYPE=HNSW, DISTANCE=L2, M=16, EF_CONSTRUCTION=256, EF_SEARCH=64`` —
src/tools/load.py:26). Spark has no HNSW; graph indexes are a poor fit for
a shared-nothing batch engine. The Spark-native equivalents here keep the
same contract (L2 top-k, recall traded for speed) with set-at-a-time
execution:

 * IVF (inverted-file) index: numpy k-means over a bounded driver sample
   → every corpus row gets a ``centroid_id`` → the table is written
   partitioned/clustered by centroid. Search = shortlist nprobe nearest
   centroids per query (on the driver for a bounded batch, a tiny
   broadcast cross-join otherwise), then exact re-rank only inside those
   cells. At 100 TB the scan prunes to nprobe/nlist of the data — the
   batch analog of HNSW's beam search.

 * Random-hyperplane LSH (cosine) / BucketedRandomProjectionLSH (L2) via
   MLlib: hash buckets as a column, candidates = bucket join.

Both indexes are plain DataFrames/Parquet — no serving process, rebuildable
per batch, and the exact operator (operators.topk) is the recall oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chatbot_spark.functions.vector import sq_l2_distance
from chatbot_spark.io.smallio import (
    arrow_table,
    local_df,
    read_small_df,
    write_small_parquet,
)
from chatbot_spark.operators.topk import (
    order_keys,
    pair_distances,
    scan_topk,
    vector_matrix,
)


def _numpy_kmeans(X, k: int, seed: int, max_iter: int):
    """Seeded k-means++ init + Lloyd on a driver-side sample. Distances via
    the matmul identity (||x||² − 2x·c + ||c||²) so the k-loop is BLAS, not
    a python loop over rows. Empty cells are re-seeded with the point
    farthest from its center, so exactly k non-degenerate centroids come
    back (cell counts stay balanced — skew in cells = skew in the probe
    join downstream)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = X.shape[0]
    if n == 0:
        raise ValueError("cannot fit IVF centroids on an empty corpus")
    # k-means++ seeding
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.integers(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        tot = d2.sum()
        probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        centers[i] = X[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))
    for _ in range(max_iter):
        c2 = (centers**2).sum(axis=1)
        assign = (X @ centers.T * -2 + c2[None, :]).argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        new_centers = np.zeros_like(centers)
        np.add.at(new_centers, assign, X)
        nonzero = counts > 0
        new_centers[nonzero] /= counts[nonzero, None]
        if not nonzero.all():
            full_d2 = ((X - new_centers[assign]) ** 2).sum(axis=1)
            for j in np.flatnonzero(~nonzero):
                far = full_d2.argmax()
                new_centers[j] = X[far]
                full_d2[far] = 0.0
        if np.allclose(new_centers, centers):
            centers = new_centers
            break
        centers = new_centers
    return centers


def _assign_cells(col, centers):
    """Nearest-centroid assignment as an Arrow-batched kernel: one BLAS
    matmul per batch against the (k×d, tiny) centroid matrix shipped in the
    closure. argmin tie-break = lowest centroid_id, matching the search
    shortlist's ``centroid_id asc`` ordering."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    c = np.ascontiguousarray(centers, dtype=np.float64)
    c2 = (c**2).sum(axis=1)

    def one_batch(s):
        if len(s) == 0:  # empty partitions yield empty Arrow batches
            return pd.Series([], dtype="int32")
        X = np.array(list(s), dtype=np.float64)
        cell = (X @ c.T * -2 + c2[None, :]).argmin(axis=1)
        return pd.Series(cell.astype("int32"))

    # real-class annotations: string hints (future-annotations) don't resolve
    one_batch.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(T.IntegerType())(one_batch)(col)


def _probe_cells(col, centers, nprobe: int):
    """Top-nprobe nearest-centroid list per vector as an Arrow-batched
    kernel — the distributed twin of the driver-side routing in the ANN
    searches' broadcast path: same BLAS expansion, same stable argsort,
    same lowest-id tie-break, so both paths probe identical cells.
    Returns ARRAY<INT> (explode for a routing join)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    c = np.ascontiguousarray(centers, dtype=np.float64)
    c2 = (c**2).sum(axis=1)
    np_ = min(nprobe, len(c))

    def one_batch(s):
        if len(s) == 0:
            return pd.Series([], dtype=object)
        X = np.array(list(s), dtype=np.float64)
        # EXACT driver-path expression (incl. the argsort-neutral ||q||²
        # term): same fold → same bits → same tie resolution
        d = (X**2).sum(axis=1)[:, None] - 2 * X @ c.T + c2[None, :]
        idx = np.argsort(d, axis=1, kind="stable")[:, :np_]
        return pd.Series([row.astype("int32").tolist() for row in idx])

    one_batch.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(T.ArrayType(T.IntegerType()))(one_batch)(col)


def _read_index_meta(spark, path: str) -> tuple[str, float | None]:
    """(metric, m2) from a written index's meta/ — distinguishing ABSENT
    (a pre-metric layout: l2 by construction, the safe default) from
    UNREADABLE (raise: a cosine/inner_product index silently degraded to
    l2 would rank raw queries against normalized/augmented stored
    vectors — wrong neighbors with no error anywhere)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/meta")
    if not p.getFileSystem(hconf).exists(p):
        return "l2", None
    from chatbot_spark.io.smallio import read_small_arrow

    tbl = read_small_arrow(spark, f"{path}/meta")
    if tbl is not None:  # local: driver-side read, no Spark job
        metric = tbl.column("metric")[0].as_py()
        m2 = (
            tbl.column("m2")[0].as_py()
            if "m2" in tbl.schema.names
            else None
        )
        return metric, m2
    meta = spark.read.parquet(f"{path}/meta").first()
    return meta["metric"], (meta["m2"] if "m2" in meta.asDict() else None)


def _sample_matrix(df, vec_col: str, limit: int):
    """Collect a bounded vector-column sample as an (n, d) float64 matrix
    via ONE Arrow transfer (r14, guide §6 "Arrow for driver transfers"):
    the former ``[r[0] for r in .collect()]`` pickled every row — measured
    ~1.5 s of pure deserialization per 20k x 64-d fit sample at the sf1
    point, paid once per index build. Row order (plan output order) and
    float64 values are identical to the row path, so every seeded
    k-means/codebook fit downstream is unchanged bit-for-bit."""
    import numpy as np

    tbl = df.select(vec_col).limit(limit).toArrow()
    arr = tbl.column(0).combine_chunks()
    n = len(arr)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    if arr.null_count == 0:
        import pyarrow.compute as pc

        lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
        if lens.min() == lens.max():
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            return np.asarray(flat, dtype=np.float64).reshape(n, int(lens[0]))
    return np.array(arr.to_pylist(), dtype=np.float64)


def _index_space(rows: DataFrame, vec_col: str, metric: str, m2=None, append_to=None):
    """(rows, m2) with ``vec_col`` mapped into an index's l2 space:
    cosine unit-normalizes, inner_product stores the MIPS augmentation
    [x, sqrt(M^2-||x||^2)] (see IVFIndex.__init__), l2 leaves ``rows``
    untouched. A build (``append_to=None``) derives M^2 from ``rows``
    with one agg; an append to an index of class ``append_to`` uses its
    frozen ``m2`` and refuses rows whose squared norm exceeds it."""
    if metric == "cosine":
        from chatbot_spark.functions.vector import normalize

        return rows.withColumn(vec_col, normalize(F.col(vec_col))), m2
    if metric != "inner_product":
        return rows, m2
    from chatbot_spark.functions.vector import dot_product, mips_augment_corpus

    if append_to is not None and m2 is None:
        # skipping the overflow check instead would silently corrupt the
        # index (r10 ADVICE)
        raise ValueError(
            "append: this inner_product index has no frozen M^2 "
            "(direct construction or a meta row missing m2) — "
            f"rebuild via {append_to}.build so the MIPS augmentation "
            "bound is derived and persisted"
        )
    worst = rows.agg(F.max(dot_product(F.col(vec_col), F.col(vec_col)))).first()[0]
    if append_to is None:
        m2 = float(worst)
    elif worst is not None and worst > m2:
        raise ValueError(
            f"append: a new row's squared norm ({worst:.6g}) exceeds "
            f"the index's frozen M^2 ({m2:.6g}) — its MIPS augmentation "
            "would need sqrt of a negative; rebuild the index to re-derive M"
        )
    return rows.withColumn(vec_col, mips_augment_corpus(F.col(vec_col), m2)), m2


def _meta_table(metric: str, m2: float | None):
    """The 1-row (metric, m2) meta dataset as a pyarrow table — the
    driver-side twin of the old createDataFrame(...".write" (identical
    schema: metric STRING, m2 DOUBLE)."""
    import pyarrow as pa

    return pa.table(
        {
            "metric": pa.array([metric], pa.string()),
            "m2": pa.array([m2], pa.float64()),
        }
    )


class IVFIndex:
    """Inverted-file ANN index: KMeans centroids + per-row cell assignment.

    build():  corpus -> (model, indexed corpus with centroid_id)
    search(): queries -> top-k per query scanning only nprobe cells
    """

    def __init__(
        self,
        centroids: DataFrame,
        indexed: DataFrame,
        vec_col: str,
        id_col: str,
        metric: str = "l2",
    ):
        self.centroids = centroids  # (centroid_id INT, centroid ARRAY<DOUBLE>)
        self.indexed = indexed      # corpus + centroid_id
        self.vec_col = vec_col
        self.id_col = id_col
        # "l2" | "cosine". Cosine is l2 over UNIT vectors: build()
        # normalizes every indexed row once, search() normalizes the
        # query and reports dist = ||u-v||^2 / 2 = 1 - cos(u,v) — same
        # candidate walk, same pruning, exactly the cosine-distance
        # ranking (the FAISS METRIC_INNER_PRODUCT-with-normalized-rows
        # recipe). The metric persists with the index (write/load), so a
        # mismatched query metric is detectable instead of silently
        # ranking by the wrong geometry.
        #
        # "inner_product" (MIPS) uses the classic augmentation reduction
        # (Bachrach et al. 2014; FAISS): with M^2 = max ||x||^2 over the
        # indexed corpus, every row is stored as [x, sqrt(M^2-||x||^2)] and a
        # query as [q, 0], making ||x_hat-q_hat||^2 = ||q||^2 + M^2 - 2<x,q>
        # — the l2 walk ranks EXACTLY by descending inner product, and the
        # reported dist converts back to -<x,q> (the DISTANCES convention).
        # m2 is frozen at build and persists with the index; append()
        # refuses rows whose norm exceeds it (they would need sqrt of a
        # negative — rebuild to re-derive M).
        self.metric = metric
        self.m2: float | None = None

    def delete(self, ids) -> "IVFIndex":
        """Delete vectors by id — the flat-storage counterpart of the
        graph index's tombstones (hnsw.py::delete): IVF rows carry no
        routing structure, so the delete IS a filter on the cell-
        assignment table (lazy, no rebuild, cell layout untouched).
        Search over the returned index is exactly search over the
        remaining corpus. Absent ids are no-ops."""
        keep = self.indexed.filter(
            ~F.col(self.id_col).isin([int(i) for i in ids])
        )
        out = IVFIndex(
            self.centroids, keep, self.vec_col, self.id_col, self.metric
        )
        out.m2 = self.m2
        return out

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "id",
        nlist: int = 64,
        seed: int = 42,
        max_iter: int = 25,
        fit_sample_size: int = 200_000,
        metric: str = "l2",
    ) -> "IVFIndex":
        """Fit k-means centroids on a bounded driver-side sample, then
        assign every corpus row distributed (one narrow Arrow-batched map,
        BLAS argmin against the broadcast centroid matrix).

        Centroid training on a sample is the standard IVF recipe (FAISS
        trains on ~30-256 vectors per centroid, not the full corpus): the
        coarse quantizer only needs the density shape, and recall is
        governed by nprobe. A driver-side numpy Lloyd fit on ≤ ``fit_sample
        _size`` rows costs milliseconds-to-seconds with zero Spark jobs; at
        200k × 1024-d float64 the sample is 1.6 GB, so it holds to well
        past 100 TB corpora.

        ``metric="cosine"`` unit-normalizes every row BEFORE the fit and
        the assignment (one narrow map — the index stores normalized
        vectors), reducing cosine search to the l2 machinery exactly.
        ``metric="inner_product"`` stores the MIPS->L2 augmentation
        [x, sqrt(M^2-||x||^2)] (see __init__) — one extra agg for M^2 and
        one narrow map; the fit/assignment run in the augmented space."""
        if metric not in ("l2", "cosine", "inner_product"):
            raise ValueError(f"unsupported metric {metric!r}")
        corpus, m2 = _index_space(corpus, vec_col, metric)
        X = _sample_matrix(corpus, vec_col, fit_sample_size)
        centers_np = _numpy_kmeans(X, min(nlist, len(X)), seed, max_iter)
        centers = [[float(x) for x in c] for c in centers_np]
        indexed = corpus.withColumn(
            "centroid_id", _assign_cells(F.col(vec_col), centers_np)
        )
        ctbl = arrow_table(
            list(enumerate(centers)), "centroid_id INT, centroid ARRAY<DOUBLE>"
        )
        out = cls(
            local_df(corpus.sparkSession, ctbl), indexed, vec_col, id_col, metric
        )
        out.m2 = m2
        # the fit produced the centroids driver-side: routing, _nlist()
        # and write() read this table, never a Spark job
        out._nlist_memo = ctbl.num_rows
        out._centers_memo = ctbl
        return out

    def write(self, path: str) -> None:
        """Persist the index: corpus clustered by cell (a search scans only
        its probed cells' files — parquet partition pruning on centroid_id)
        plus the centroid table."""
        self.indexed.write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{path}/cells"
        )
        # centroids/meta are driver-resident by construction (nlist-
        # bounded; the numpy fit produced them) — the driver-side parquet
        # writer skips two ~0.7 s Spark write jobs per index (smallio)
        spark = self.centroids.sparkSession
        write_small_parquet(spark, f"{path}/centroids", self._centroid_table())
        write_small_parquet(spark, f"{path}/meta", _meta_table(self.metric, self.m2))

    def append(self, new_rows: DataFrame, path: str | None = None) -> "IVFIndex":
        """Index maintenance: ingest new corpus rows WITHOUT refitting —
        assign them to the existing centroids (one Arrow/BLAS map, the
        same kernel as build) and union them into the cell table. With
        ``path``, also parquet-append the assigned rows under the written
        index's cell partitioning, so file-level pruning keeps working and
        a ``load()`` sees the grown index.

        This is the standard IVF maintenance contract (FAISS ``add`` after
        ``train``): cell quality degrades only when the data DENSITY
        shifts, not with volume — rebuild (refit centroids) on drift, not
        on every ingest batch. Returns the grown in-memory index; the
        centroid table is shared (centroids are immutable under append).
        """
        import numpy as np

        ctbl = self._centroid_table()
        order = np.argsort(ctbl.column("centroid_id").to_numpy(), kind="stable")
        centers = np.array(ctbl.column("centroid").to_pylist(), dtype=np.float64)[order]
        new_rows, _ = _index_space(
            new_rows, self.vec_col, self.metric, self.m2, append_to="IVFIndex"
        )
        assigned = new_rows.withColumn(
            "centroid_id", _assign_cells(F.col(self.vec_col), centers)
        )
        cents = self.centroids
        if "radius" in cents.columns:
            # cell-stats maintenance: a new row can GROW its cell's true
            # radius, and a stale smaller radius would let radius_search's
            # triangle-inequality pruning DROP matches — update from the
            # new rows alone (one agg over the delta, never the corpus);
            # deletes need no update (radii only get less tight)
            from chatbot_spark.functions.vector import l2_distance

            grown_r = (
                assigned.join(
                    F.broadcast(cents.select("centroid_id", "centroid")),
                    "centroid_id",
                )
                .groupBy("centroid_id")
                .agg(
                    F.max(
                        l2_distance(F.col(self.vec_col), F.col("centroid"))
                    ).alias("__new_r")
                )
            )
            cents = (
                cents.join(grown_r, "centroid_id", "left")
                .withColumn(
                    "radius",
                    F.greatest(
                        F.col("radius"), F.coalesce("__new_r", F.lit(0.0))
                    ),
                )
                .drop("__new_r")
            )
            if path is not None:
                # the written centroid table must carry the tightened
                # radii, and it must land BEFORE the new cell rows (r10
                # ADVICE): grown radii over cells that don't yet hold the
                # new rows are safe upper bounds, while appended rows
                # under stale smaller radii would let radius_search
                # silently DROP matches in the crash/concurrent-load
                # window between the two writes. cents derives from the
                # very files being overwritten, so it is MATERIALIZED
                # driver-side (nlist-bounded) before the overwrite — the
                # read-overwrite hazard the old centroids_tmp dance
                # staged around is gone, and the staged-swap write in
                # smallio keeps the no-half-written-dataset contract.
                spark = cents.sparkSession
                cents_tbl = cents.toArrow()
                write_small_parquet(spark, f"{path}/centroids", cents_tbl)
                cents = local_df(spark, cents_tbl)
        if path is not None:
            assigned.write.mode("append").partitionBy("centroid_id").parquet(
                f"{path}/cells"
            )
            # the written layout changed under any index a prior
            # retrieve() loaded from this path — drop those entries so
            # the next routed call reloads (the content stamp in the
            # cache key also catches this cross-process; the hook keeps
            # the in-process FIFO from pinning dead entries)
            from chatbot_spark.plans.retrieve import invalidate_index_cache

            invalidate_index_cache(path)
        out = IVFIndex(
            cents,
            self.indexed.unionByName(assigned),
            self.vec_col,
            self.id_col,
            self.metric,
        )
        out.m2 = self.m2
        return out

    @classmethod
    def load(
        cls, spark, path: str, vec_col: str = "embedding", id_col: str = "id"
    ) -> "IVFIndex":
        """Reopen a written index. The centroid shortlist then prunes the
        cells scan at the FILE level: only nprobe/nlist of the corpus
        parquet is read (PartitionFilters on centroid_id)."""
        metric, m2 = _read_index_meta(spark, path)
        centroids, ctbl = read_small_df(spark, f"{path}/centroids")
        out = cls(
            centroids,
            spark.read.parquet(f"{path}/cells"),
            vec_col,
            id_col,
            metric,
        )
        out.m2 = m2
        if ctbl is not None:
            # driver-side read: the centroid count and matrix are already
            # known — neither _nlist() nor _cell_order() runs a job
            out._nlist_memo = ctbl.num_rows
            out._centers_memo = ctbl
        return out

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 8,
        query_id: str = "query_id",
        query_vec: str = "query_embedding",
        route: str = "broadcast",
        where=None,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k per query over the nprobe nearest cells.

        Plan shape, ``route="broadcast"`` (default — bounded batches; the
        driver holds the Q × d batch): queries collected once as Arrow →
        driver routing to the nprobe nearest centroids (``_cell_order``)
        → ONE topk.scan_topk pass over the probed cells (centroid_id isin
        → file pruning), each row scored only against the queries that
        probe its cell → final per-query window. At nprobe >= nlist the
        routing is skipped: the same scan over every cell, i.e. exactly
        topk.knn_join, bit for bit.

        ``route="join"`` (unbounded query sets; queries never touch the
        driver): queries × centroids (broadcast, tiny) → nprobe shortlist
        window → shuffle-join on centroid_id against the probed cells →
        HOF distance + partial per-(query, scan partition) window → final
        per-query window. Both routes probe the same cells (same fold,
        same (dist, centroid_id) tie-break) and return the same rows.

        Filtered search (the vector-DB predicate+top-k contract — the
        reference's OceanBase backend exposes it as metadata-filtered
        vector search): because IVF rows carry no routing structure, a
        PRE-filter is exact at any probe width — ranking happens over the
        filtered rows, so full probe ≡ the exact scan over the filtered
        corpus, bit-for-bit (same argument as delete(), which is the
        degenerate allowed-set form).

        * ``where``: a Column / SQL-string predicate over the INDEXED
          table's own columns, applied to the probed-cells scan — it
          lands NEXT TO the centroid_id isin in the same Filter, so on a
          written index both become parquet pushdowns (PartitionFilters
          + PushedFilters: the filter prunes at the scan, costing zero
          extra joins — the 100 TB-right path when the cells table
          carries the metadata).
        * ``allowed``: a DataFrame whose first column is the allowed id
          set — the fallback when the predicate needs columns the index
          never stored (LEFT SEMI join on the id; Catalyst broadcasts a
          small allowed side). Both given = AND."""
        if route not in ("broadcast", "join"):
            raise ValueError(f"unknown route {route!r}; have ['broadcast', 'join']")
        queries = self._index_queries(queries, query_vec)
        ip = ("__qnorm",) if self.metric == "inner_product" else ()

        if route == "broadcast":
            # bounded batch: collect it once, route it on the driver and
            # let one scan_topk pass serve every query over its probed
            # cells (nprobe >= nlist: every cell, no routing at all)
            qtbl = queries.select(query_id, query_vec, *ip).toArrow()
            corpus_side, probe = self.indexed, None
            if nprobe < self._nlist():
                cells = self._cell_order(qtbl.column(query_vec))[:, :nprobe]
                # explicit isin → parquet PartitionFilters on a written
                # index: guaranteed file-level pruning
                corpus_side = corpus_side.filter(
                    F.col("centroid_id").isin(np.unique(cells).tolist())
                )
                probe = ("centroid_id", cells)
            cands = scan_topk(
                qtbl, self._filtered(corpus_side, where, allowed), k,
                query_id=query_id, query_vec=query_vec,
                corpus_id=self.id_col, corpus_vec=self.vec_col, probe=probe,
            )
            return self._rank_and_report(cands, k, query_id)

        q = queries.select(
            F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec"), *ip
        )
        qc = (
            q.crossJoin(F.broadcast(self.centroids))
            .withColumn("__cdist", sq_l2_distance(F.col("__qvec"), F.col("centroid")))
            .withColumn(
                "__crank",
                F.row_number().over(
                    Window.partitionBy("__qid").orderBy(F.col("__cdist").asc(), F.col("centroid_id").asc())
                ),
            )
            .filter(F.col("__crank") <= nprobe)
            .select("__qid", "__qvec", "centroid_id", *ip)
        )
        # Static cell pruning: the probed-cell set is tiny (≤ Q×nprobe ids,
        # one metadata-scale collect), and an explicit isin filter turns
        # into parquet PartitionFilters on a written index — guaranteed
        # file-level pruning, not dependent on dynamic partition pruning.
        probed = [r[0] for r in qc.select("centroid_id").distinct().collect()]
        corpus_side = self._filtered(
            self.indexed.filter(F.col("centroid_id").isin(probed)), where, allowed
        )
        pairs = corpus_side.join(qc, "centroid_id").select(
            F.col("__qid").alias(query_id),
            F.col(self.id_col).alias("neighbor_id"),
            sq_l2_distance(F.col("__qvec"), F.col(self.vec_col)).alias("__rdist"),
            *ip,
        )
        # partial top-k per (query, scan partition): the final per-query
        # window sees ≤ P×k rows
        w1 = Window.partitionBy(query_id, "__pid").orderBy(
            F.col("__rdist").asc(), F.col("neighbor_id").asc()
        )
        pairs = (
            pairs.withColumn("__pid", F.spark_partition_id())
            .withColumn("__lrank", F.row_number().over(w1))
            .filter(F.col("__lrank") <= k)
            .drop("__pid", "__lrank")
        )
        return self._rank_and_report(pairs, k, query_id)

    def _index_queries(self, queries: DataFrame, query_vec: str) -> DataFrame:
        """Queries in the index's l2 space: cosine unit-normalizes them
        (over unit vectors the l2 walk IS the cosine ranking, and dist
        converts exactly: ||u-v||^2 / 2 = 1 - cos); inner_product carries
        ||q||^2 as ``__qnorm`` (the conversion back to -<x,q> needs it)
        and appends the MIPS 0 slack coordinate."""
        if self.metric == "cosine":
            from chatbot_spark.functions.vector import normalize

            return queries.withColumn(query_vec, normalize(F.col(query_vec)))
        if self.metric == "inner_product":
            from chatbot_spark.functions.vector import (
                dot_product,
                mips_augment_query,
            )

            return queries.withColumn(
                "__qnorm", dot_product(F.col(query_vec), F.col(query_vec))
            ).withColumn(query_vec, mips_augment_query(F.col(query_vec)))
        return queries

    def _cell_order(self, qvecs) -> "np.ndarray":
        """(Q, nlist) centroid ids of every query's cells in probe order —
        ascending (sq_l2 dist, centroid_id), null dist first, computed
        on the driver with the search's own distance fold. The one IVF
        routing every broadcast search and the nprobe calibration share."""
        ctbl = self._centroid_table()
        cids = ctbl.column("centroid_id").to_numpy().astype(np.int64)
        C, clen, cok = vector_matrix(ctbl.column("centroid"))
        Q, qlen, qok = vector_matrix(qvecs)
        D, valid = pair_distances(
            "sq_l2", np.ascontiguousarray(Q.T), qlen, qok,
            np.ascontiguousarray(C.T), clen, cok,
        )
        cls, key = order_keys(D, valid)
        ids = np.broadcast_to(cids, D.shape)
        return np.take_along_axis(ids, np.lexsort((ids, key, cls), axis=1), axis=1)

    def _filtered(self, corpus_side: DataFrame, where, allowed) -> DataFrame:
        if where is not None:
            corpus_side = corpus_side.filter(
                F.expr(where) if isinstance(where, str) else where
            )
        if allowed is not None:
            allow = allowed.select(
                F.col(allowed.columns[0]).alias(self.id_col)
            ).distinct()
            corpus_side = corpus_side.join(allow, self.id_col, "left_semi")
        return corpus_side

    def _centroid_table(self):
        """The whole centroid table (every column, radius included) as a
        driver-side Arrow table, memoized — build() and load() set it
        with no job; otherwise one nlist-bounded collect. Centroids are
        immutable per instance (append/with_cell_stats return new ones)."""
        if getattr(self, "_centers_memo", None) is None:
            self._centers_memo = self.centroids.toArrow()
        return self._centers_memo

    def _nlist(self) -> int:
        """Centroid count, memoized per instance — one tiny metadata
        count, paid once; centroids are immutable under append()."""
        if getattr(self, "_nlist_memo", None) is None:
            self._nlist_memo = self.centroids.count()
        return self._nlist_memo

    def _rank_and_report(
        self, cands: DataFrame, k: int, query_id: str
    ) -> DataFrame:
        """Shared search tail: final per-query top-k over the partial
        (query, neighbor, __rdist) candidates + conversion of the l2
        ranking value back to the index metric's reported dist."""
        w = Window.partitionBy(query_id).orderBy(F.col("__rdist").asc(), F.col("neighbor_id").asc())
        if self.metric == "cosine":
            reported = F.col("__rdist") / 2
        elif self.metric == "inner_product":
            # ||x_hat-q_hat||^2 = ||q||^2 + M^2 - 2<x,q>  =>
            # -<x,q> = (rdist - ||q||^2 - M^2) / 2 (DISTANCES convention)
            reported = (
                F.col("__rdist") - F.col("__qnorm") - F.lit(float(self.m2))
            ) / 2
        else:
            reported = F.sqrt("__rdist")
        return (
            cands.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("dist", reported)
            .drop("__rdist", *(
                ("__qnorm",) if self.metric == "inner_product" else ()
            ))
        )


    def with_cell_stats(self) -> "IVFIndex":
        """Attach per-cell radii to the centroid table: radius[c] =
        max ||x - centroid_c|| over the cell's members — ONE aggregation
        over the indexed table (the same order of work as the assignment
        pass itself). The radii make radius_search()'s triangle-
        inequality cell pruning possible; they persist with the index
        (write() stores the centroid table as-is) and stay VALID (only
        less tight) under delete — deletes can only shrink a cell's true
        radius. append() tightens them back up from the new rows alone
        (see append)."""
        from chatbot_spark.functions.vector import l2_distance

        radii = (
            self.indexed.join(F.broadcast(self.centroids), "centroid_id")
            .groupBy("centroid_id")
            .agg(
                F.max(
                    l2_distance(F.col(self.vec_col), F.col("centroid"))
                ).alias("radius")
            )
        )
        cents = self.centroids.drop("radius").join(radii, "centroid_id", "left")
        cents = cents.withColumn("radius", F.coalesce("radius", F.lit(0.0)))
        out = IVFIndex(cents, self.indexed, self.vec_col, self.id_col, self.metric)
        out.m2 = self.m2
        return out

    def radius_search(
        self,
        queries: DataFrame,
        radius: float,
        query_id: str = "query_id",
        query_vec: str = "query_embedding",
        route: str = "broadcast",
    ) -> DataFrame:
        """ALL neighbors within ``radius`` of each query (a range query,
        not top-k) — COMPLETE by construction, no recall SLO: a cell c
        can contain a point within r of q only if
        d(q, centroid_c) <= r + cell_radius_c (triangle inequality), so
        pruning cells outside that bound can never drop a match, and the
        exact per-pair distance filter inside the probed cells does the
        rest. Requires the per-cell radii (with_cell_stats(); computed
        once on the fly otherwise — fine interactively, wrong as a
        steady state at scale because it rescans the corpus per call).

        Metrics: l2 (radius in l2 distance) and cosine (radius in cosine
        DISTANCE, converted to the equivalent chord length
        sqrt(2*r) over the index's unit vectors). inner_product has no
        meaningful radius semantics under the augmentation — raises.

        Returns (query_id, neighbor_id, dist) — dist in the index's
        metric, every match, un-ranked."""
        if route not in ("broadcast", "join"):
            raise ValueError(f"unknown route {route!r}; have ['broadcast', 'join']")
        if self.metric == "inner_product":
            raise ValueError(
                "radius_search is undefined for inner_product — the MIPS "
                "augmentation preserves ORDER, not distances; use search() "
                "(top-k) or an l2/cosine index"
            )
        idx = self if "radius" in self.centroids.columns else self.with_cell_stats()
        if self.metric == "cosine":
            # cosine distance r over unit vectors = chord ||u-v|| of
            # sqrt(2r); the query normalizes exactly like search()
            from chatbot_spark.functions.vector import normalize

            queries = queries.withColumn(query_vec, normalize(F.col(query_vec)))
            l2_r = float(2.0 * radius) ** 0.5
        else:
            l2_r = float(radius)

        q = queries.select(
            F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec")
        )
        qc = (
            q.crossJoin(F.broadcast(idx.centroids))
            .withColumn(
                "__cdist", F.sqrt(sq_l2_distance(F.col("__qvec"), F.col("centroid")))
            )
            .filter(F.col("__cdist") <= F.lit(l2_r) + F.col("radius"))
            .select("__qid", "__qvec", "centroid_id")
        )
        probed = [r[0] for r in qc.select("centroid_id").distinct().collect()]
        corpus_side = idx.indexed.filter(F.col("centroid_id").isin(probed))
        qc_side = F.broadcast(qc) if route == "broadcast" else qc
        pairs = corpus_side.join(qc_side, "centroid_id").select(
            F.col("__qid").alias(query_id),
            F.col(self.id_col).alias("neighbor_id"),
            sq_l2_distance(F.col("__qvec"), F.col(self.vec_col)).alias("__rdist"),
        )
        pairs = pairs.filter(F.col("__rdist") <= F.lit(l2_r * l2_r))
        reported = (
            F.col("__rdist") / 2 if self.metric == "cosine" else F.sqrt("__rdist")
        )
        return pairs.withColumn("dist", reported).drop("__rdist")


class BRPIndex:
    """BucketedRandomProjectionLSH (euclidean — the reference's metric)."""

    def __init__(self, model, indexed: DataFrame, vec_col: str, id_col: str):
        self.model = model
        self.indexed = indexed
        self.vec_col = vec_col
        self.id_col = id_col

    def delete(self, ids) -> "BRPIndex":
        """Delete vectors by id (see IVFIndex.delete — same filter
        semantics on the hashed-bucket table)."""
        keep = self.indexed.filter(
            ~F.col(self.id_col).isin([int(i) for i in ids])
        )
        return BRPIndex(self.model, keep, self.vec_col, self.id_col)

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "id",
        bucket_length: float = 2.0,
        num_hash_tables: int = 3,
        seed: int = 42,
    ) -> "BRPIndex":
        feat = corpus.withColumn("__features", array_to_vector(F.col(vec_col)))
        lsh = BucketedRandomProjectionLSH(
            inputCol="__features",
            outputCol="__hashes",
            bucketLength=bucket_length,
            numHashTables=num_hash_tables,
            seed=seed,
        )
        model = lsh.fit(feat)
        return cls(model, model.transform(feat), vec_col, id_col)

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        threshold: float = float("inf"),
        query_id: str = "query_id",
        query_vec: str = "query_embedding",
    ) -> DataFrame:
        """Batch top-k via approxSimilarityJoin (bucket-join, set-at-a-time —
        NOT the per-query approxNearestNeighbors driver loop) + window."""
        q = queries.select(
            F.col(query_id).alias("__qid"),
            array_to_vector(F.col(query_vec)).alias("__features"),
        )
        joined = self.model.approxSimilarityJoin(
            q, self.indexed, threshold, distCol="dist"
        ).select(
            F.col(f"datasetA.__qid").alias(query_id),
            F.col(f"datasetB.{self.id_col}").alias("neighbor_id"),
            F.col("dist"),
        )
        w = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
        return joined.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def recall_at_k(approx: DataFrame, exact: DataFrame, query_id: str = "query_id") -> float:
    """Recall of an ANN result against the exact oracle (same contract:
    (query_id, neighbor_id, rank)). The BENCH SLO is ≥ 0.95 @ k=10."""
    hits = approx.join(
        exact, [query_id, "neighbor_id"], "left_semi"
    ).count()
    total = exact.count()
    return hits / total if total else 1.0
