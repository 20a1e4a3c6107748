"""IVF-PQ ANN — the composed 100 TB index (SURVEY §2.I I6 family).

operators/ann.py::IVFIndex prunes WHICH rows a search scans (nprobe/nlist
cells); operators/pq.py::PQIndex compresses WHAT each scanned row costs
(m uint8 codes instead of 4·d bytes). IVF-PQ is their composition — the
FAISS ``IVFx,PQy`` recipe (Jégou et al., TPAMI 2011) re-expressed
set-at-a-time:

 * fit: coarse k-means centroids on a bounded driver sample, then PQ
   codebooks fit on the sample's RESIDUALS (x − centroid). Residual
   encoding is what makes the composition better than either part: after
   subtracting the cell center, the residual distribution is tighter, so
   the same ksub spends its codes on finer structure.
 * encode: ONE Arrow-batched pass per corpus row — assign cell (BLAS
   argmin vs the broadcast centroid matrix), subtract its center, PQ-code
   the residual. Stored row: (id, centroid_id, m-byte code).
 * search: the shared quantized-index skeleton (pq.py
   ``_QuantizedIndex``). The query batch is collected once, routed to
   its nprobe cells driver-side, and rides in the scan kernel's closure
   with the cell→queries routing map; per (query, probed cell) the
   (m, ksub) ADC lookup table is built IN the kernel from the query's
   OWN residual against that cell (q − c), exact because
   ||q − x||² = ||(q−c) − (x−c)||²; ONE mapInPandas over the code table
   filtered to probed cells — partition pruning on a written index —
   with partial top-k inside the kernel. Nothing row-count-sized ever
   shuffles; one Spark job per search regardless of query count.
 * optional exact re-rank of the top-R shortlist against the raw vectors
   (equi-join by id, R·Q rows) — restores recall lost to quantization.

Determinism: seeded fits, argmin ties to the lowest index, ADC folds in
fixed subspace order, rankings tie-break on neighbor id — the same
contract as ann.py/pq.py, so the full-probe + zero-error configurations
are bit-reproducible against the exact scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatbot_spark.io.smallio import write_small_parquet
from chatbot_spark.operators import topk
from chatbot_spark.operators.ann import _numpy_kmeans, _sample_matrix
from chatbot_spark.operators.pq import (
    _adc,
    _codes,
    _fit_codebooks,
    _partial_topk,
    _QuantizedIndex,
    _query_batch,
    _read_books,
    _scan,
    _small_rows,
    _write_books,
)


def _encode_cell_and_code(vec_col, centers, books):
    """One Arrow pass: vector → (centroid_id, residual pq code). The
    centroid matrix and codebook tensor ride the closure (both tiny)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    c = np.ascontiguousarray(centers, dtype=np.float64)
    c2 = (c**2).sum(axis=1)
    b = np.ascontiguousarray(books, dtype=np.float64)
    m, ksub, dsub = b.shape
    b2 = (b**2).sum(axis=2)

    schema = T.StructType(
        [
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("pq_code", T.BinaryType()),
        ]
    )

    def one_batch(s):
        if len(s) == 0:
            return pd.DataFrame({"centroid_id": pd.Series([], dtype="int32"),
                                 "pq_code": pd.Series([], dtype=object)})
        X = np.array(list(s), dtype=np.float64)
        cell = (X @ c.T * -2 + c2[None, :]).argmin(axis=1)
        R = X - c[cell]
        codes = np.empty((X.shape[0], m), dtype=np.uint8)
        for j in range(m):
            Rj = R[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = (Rj @ b[j].T * -2 + b2[j][None, :]).argmin(axis=1)
        return pd.DataFrame(
            {"centroid_id": cell.astype("int32"), "pq_code": [x.tobytes() for x in codes]}
        )

    one_batch.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    return pandas_udf(schema)(one_batch)(vec_col)


def _ivf_blocks(centers, books, id_col: str, Q, routing):
    """The IVF-PQ distance kernel (see pq._partial_topk): per probed cell
    of a code batch, the queries routed to it (``routing``: cell →
    query indices) scored by ADC of their residuals against the cell's
    center."""

    def blocks(pdf):
        for cell, grp in pdf.groupby("centroid_id", sort=False):
            qsel = routing.get(int(cell))
            if qsel is not None:
                codes = _codes(grp, "pq_code", books.shape[0])
                cc = centers[int(cell)]
                yield qsel, grp[id_col].to_numpy(), (
                    lambda qc, codes=codes, cc=cc: _adc(books, Q[qc] - cc, codes)
                )

    return blocks


class IVFPQIndex(_QuantizedIndex):
    """Coarse cells + residual PQ codes: (id, centroid_id, pq_code)."""

    def __init__(self, centers, books, encoded: DataFrame, vec_col: str, id_col: str):
        super().__init__(encoded, vec_col, id_col)
        self.centers = centers      # numpy (nlist, d)
        self.books = books          # numpy (m, ksub, dsub) — residual codebooks

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "id",
        nlist: int = 8,
        m: int = 8,
        ksub: int = 256,
        fit_sample_size: int = 100_000,
        seed: int = 42,
        max_iter: int = 25,
    ) -> "IVFPQIndex":
        """Driver-sample fit (FAISS training contract: density shape only),
        distributed encode in ONE narrow Arrow pass — no shuffle at all."""
        if not 0 < ksub <= 256:
            raise ValueError("ksub must fit a uint8 code (1..256)")
        X = _sample_matrix(corpus, vec_col, fit_sample_size)
        centers = _numpy_kmeans(X, min(nlist, len(X)), seed, max_iter)
        assign = (X @ centers.T * -2 + (centers**2).sum(axis=1)[None, :]).argmin(axis=1)
        books = _fit_codebooks(X - centers[assign], m, ksub, seed, max_iter)
        enc = corpus.select(
            F.col(id_col),
            _encode_cell_and_code(F.col(vec_col), centers, books).alias("__cc"),
        ).select(id_col, F.col("__cc.centroid_id").alias("centroid_id"),
                 F.col("__cc.pq_code").alias("pq_code"))
        return cls(centers, books, enc, vec_col, id_col)

    def write(self, path: str) -> None:
        """Codes clustered by cell (search scans only probed cells' files —
        parquet partition pruning), centroids + codebooks as tiny portable
        parquet (no pickle), written driver-side (io/smallio)."""
        self.encoded.write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{path}/codes"
        )
        import pyarrow as pa

        spark = self.encoded.sparkSession
        write_small_parquet(
            spark,
            f"{path}/centroids",
            pa.table(
                {
                    "centroid_id": pa.array(range(len(self.centers)), pa.int32()),
                    "centroid": pa.array(
                        [[float(x) for x in c] for c in self.centers],
                        pa.list_(pa.float64()),
                    ),
                }
            ),
        )
        _write_books(spark, f"{path}/books", self.books)

    @classmethod
    def load(
        cls, spark, path: str, vec_col: str = "embedding", id_col: str = "id"
    ) -> "IVFPQIndex":
        crows = _small_rows(spark, f"{path}/centroids")
        centers = np.empty((len(crows), len(crows[0]["centroid"])), dtype=np.float64)
        for r in crows:
            centers[r["centroid_id"]] = r["centroid"]
        books = _read_books(spark, f"{path}/books")
        return cls(centers, books, spark.read.parquet(f"{path}/codes"), vec_col, id_col)

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 8,
        rerank: int = 0,
        corpus: DataFrame | None = None,
        query_id: str = "query_id",
        query_vec: str = "query_embedding",
        route: str = "broadcast",
    ) -> DataFrame:
        """ADC top-k over nprobe cells. LUTs are per (query, probed cell)
        — built from the query's residual against that cell, so the ADC
        distance is exactly ||q − x||² up to quantization of x alone.
        ``rerank`` as in _QuantizedIndex.search.

        Distribution contract, two routing modes:

        * ``route="broadcast"`` (default): the query batch is collected
          ONCE, routed to its nprobe cells driver-side (Q × nlist BLAS),
          and shipped in the scan kernel's closure with the cell→queries
          routing map; ONE mapInPandas over the code table — statically
          pruned to the probed cells, PartitionFilters on a written
          index — serves the whole batch. DRIVER MEMORY IS O(Q × d); use
          for bounded batches up to ~100k queries.
        * ``route="join"`` (unbounded query sets): queries never touch
          the driver — distributed crossJoin vs the broadcast centroid
          table routes each query to its nprobe cells, then a cogrouped
          applyInPandas pairs each cell's codes with its routed queries
          (one extra shuffle of the routed queries, keyed by cell).

        In both modes a cell's routed queries are scored in chunks that
        keep one distance block within topk's per-task pair budget."""
        c, books, id_col = self.centers, self.books, self.id_col
        nprobe = min(nprobe, len(c))
        kk = max(k, rerank)
        schema = self._out_schema(queries, query_id)
        if route == "join":
            from chatbot_spark.operators.ann import _probe_cells

            routed = (
                queries.select(
                    F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec")
                )
                .withColumn(
                    "__cells", _probe_cells(F.col("__qvec"), c, nprobe)
                )
                .select(
                    F.explode("__cells").alias("centroid_id"), "__qid", "__qvec"
                )
            )
            probed = [r[0] for r in routed.select("centroid_id").distinct().collect()]
            if not probed:
                raise ValueError("empty query set")
            src = self.encoded.filter(F.col("centroid_id").isin(probed))
            pair_block = topk._PAIR_BLOCK

            def cogroup_kernel(qdf, cdf):
                Q = np.array(list(qdf["__qvec"]), dtype=np.float64)
                # one cell per cogroup: every query of the group probes it
                cells = {int(x): np.arange(len(Q)) for x in cdf["centroid_id"].unique()}
                blocks = _ivf_blocks(c, books, id_col, Q, cells)
                return _partial_topk(
                    blocks(cdf), qdf["__qid"].to_numpy(), kk, query_id, pair_block
                )

            cands = (
                routed.groupBy("centroid_id")
                .cogroup(src.groupBy("centroid_id"))
                .applyInPandas(cogroup_kernel, schema)
            )
        elif route == "broadcast":
            qids, Q = _query_batch(queries.select(query_id, query_vec).collect())
            # per-query probed cells (tiny: Q × nlist on the driver)
            cd = (Q**2).sum(axis=1)[:, None] - 2 * Q @ c.T + (c**2).sum(axis=1)[None, :]
            probe = np.argsort(cd, axis=1, kind="stable")[:, :nprobe]  # (Q, nprobe)
            routing = {
                int(cell): np.unique(np.nonzero(probe == cell)[0])
                for cell in np.unique(probe)
            }
            # static cell pruning — PartitionFilters on a written index
            src = self.encoded.filter(F.col("centroid_id").isin(sorted(routing)))
            blocks = _ivf_blocks(c, books, id_col, Q, routing)
            cands = _scan(src, blocks, qids, kk, query_id, schema)
        else:
            raise ValueError(f"unknown route {route!r}; have ['broadcast', 'join']")
        # route='join' promises no query data on the driver — the rerank
        # join must not broadcast q either
        return self._finish(
            cands, queries, k, rerank, corpus, query_id, query_vec,
            broadcast_queries=route == "broadcast",
        )
