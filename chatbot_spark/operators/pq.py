"""Product-quantization ANN (SURVEY §2.I I6 family — the memory-scale
path beyond IVF cell pruning).

IVF (operators/ann.py) prunes WHICH rows a search scans; PQ compresses
WHAT each scanned row costs: a d-dim float32 vector (4·d bytes) becomes
``m`` uint8 codes (m bytes — 32× smaller at d=64/m=8, 256× at
d=1024/m=16). At 100 TB of raw embeddings the PQ code table is a few
hundred GB — small enough to keep hot — and search never touches the raw
vectors except to re-rank a tiny candidate set. This is the standard
IVF-PQ recipe (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; FAISS `IVFx,PQy`), re-expressed set-at-a-time:

 * fit: per-subspace k-means codebooks on a bounded driver sample
   (same sampling contract as IVFIndex.build — the codebooks only need
   the density shape).
 * encode: one Arrow-batched pass; each row's code is argmin against the
   (m, ksub, dsub) codebook tensor shipped in the closure — BLAS per
   batch, emitted as a BINARY column (m bytes/row).
 * search (ADC — asymmetric distance computation): per query an (m, ksub)
   LUT of exact sub-distances to the centers; a row's distance is a sum
   of m vectorized table gathers.
 * optional exact re-rank: top-R ADC candidates equi-join back to the
   raw vectors by id (R·Q rows — tiny), exact L2, final top-k. This is
   what restores recall lost to quantization.

The search skeleton is shared by the whole quantized family (SQ8 in
sq.py, PQ here, IVF-PQ in ivfpq.py) as :class:`_QuantizedIndex`: the
query batch is collected once and rides in the scan kernel's closure
(as in topk.scan_topk — PySpark broadcasts a large pickled command
itself, for as long as the plan lives); ONE mapInPandas scan of the code
table serves the whole batch, with a partial top-k per partition and
the global window top-k after. No shuffle touches anything row-count
sized; one Spark job per search regardless of query count. Each index
supplies only its (queries × rows) distance kernel.

Determinism contract: seeded numpy fit, argmin ties break to the lowest
code index, ADC sums fold in fixed subspace order, and every ranking
window tie-breaks on neighbor id — same discipline as operators/ann.py.
The reference's HNSW index (src/tools/load.py:26) is the serving-side
analog; see ann.py's module docstring for why batch Spark replaces it
with pruned/compressed scans.
"""

from __future__ import annotations

import copy
import functools
import itertools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatbot_spark.functions.vector import sq_l2_distance
from chatbot_spark.io.smallio import read_small_arrow, write_small_parquet
from chatbot_spark.operators import topk
from chatbot_spark.operators.ann import _numpy_kmeans, _sample_matrix


def _fit_codebooks(X, m: int, ksub: int, seed: int, max_iter: int):
    """Per-subspace seeded k-means → (m, ksub, dsub) float64 tensor."""
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    ksub = min(ksub, n)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        books[j] = _numpy_kmeans(X[:, j * dsub : (j + 1) * dsub], ksub, seed + j, max_iter)
    return books


def _encode_codes(col, books):
    """pandas_udf: vector column → BINARY pq code (m bytes, one uint8 per
    subspace; requires ksub ≤ 256). Ties break to the lowest code index."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    b = np.ascontiguousarray(books, dtype=np.float64)
    m, ksub, dsub = b.shape
    b2 = (b**2).sum(axis=2)  # (m, ksub)

    def one_batch(s):
        if len(s) == 0:
            return pd.Series([], dtype=object)
        X = np.array(list(s), dtype=np.float64)  # (B, d)
        codes = np.empty((X.shape[0], m), dtype=np.uint8)
        for j in range(m):
            Xj = X[:, j * dsub : (j + 1) * dsub]
            # ||x-c||² ∝ -2x·c + ||c||²; argmin breaks ties at lowest index
            codes[:, j] = (Xj @ b[j].T * -2 + b2[j][None, :]).argmin(axis=1)
        return pd.Series([c.tobytes() for c in codes])

    one_batch.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(T.BinaryType())(one_batch)(col)


def _codes(pdf, col: str, width: int):
    """A BINARY code column as an (n, width) uint8 matrix."""
    return np.frombuffer(b"".join(pdf[col].tolist()), dtype=np.uint8).reshape(
        len(pdf), width
    )


def _adc(books, R, codes):
    """(len(R), len(codes)) ADC distances of query rows R against PQ codes.
    Each query's (m, ksub) LUT of exact sub-distances is built with dgemv,
    NOT a batched GEMM, so its BLAS fold order does not depend on how many
    queries share a block; the gather sums the m subspaces in fixed order.
    The expanded form can dip to −ε for (near-)self matches — clamped so
    sqrt stays real."""
    m, ksub, dsub = books.shape
    b2 = [(books[j] ** 2).sum(axis=1) for j in range(m)]
    luts = np.empty((len(R), m, ksub), dtype=np.float64)
    for ci, r in enumerate(R):
        for j in range(m):
            rj = r[j * dsub : (j + 1) * dsub]
            luts[ci, j] = (rj**2).sum() - 2 * books[j] @ rj + b2[j]
    dist = np.zeros((len(R), len(codes)), dtype=np.float64)
    for j in range(m):
        dist += luts[:, j, :][:, codes[:, j]]
    return np.maximum(dist, 0.0, out=dist)


def _partial_topk(blocks, qids, kk: int, query_id: str, pair_block: int):
    """Per-query top-kk of one task's ``(query indices, row ids, dist)``
    blocks, where ``dist(qc)`` is the (len(qc), rows) distance block of
    those queries. Queries go in chunks so that one block holds at most
    ``pair_block`` pairs (topk's per-task budget); ties order by
    neighbor id, as the global window does."""
    import pandas as pd

    best = []
    for qsel, ids, dist in blocks:
        n = len(ids)
        take = min(kk, n)
        step = max(1, pair_block // n)
        for lo in range(0, len(qsel), step):
            qc = qsel[lo : lo + step]
            D = dist(qc)
            part = np.argpartition(D, take - 1, axis=1)[:, :take]
            best.append(
                pd.DataFrame(
                    {
                        query_id: qids[np.repeat(qc, take)],
                        "neighbor_id": ids[part.ravel()],
                        "__rdist": np.take_along_axis(D, part, axis=1).ravel(),
                    }
                )
            )
    if not best:
        return pd.DataFrame({query_id: [], "neighbor_id": [], "__rdist": []})
    allc = pd.concat(best, ignore_index=True)
    allc = allc.sort_values(["__rdist", "neighbor_id"], kind="mergesort")
    return allc.groupby(query_id, sort=False).head(kk)


def _scan(src: DataFrame, blocks, qids, kk: int, query_id: str, schema: str) -> DataFrame:
    """One mapInPandas pass over the code table ``src`` serving the query
    batch captured in ``blocks``' closure: ≤ kk candidates per query per
    partition. The pair budget is read here, on the driver, and captured."""
    pair_block = topk._PAIR_BLOCK

    def kernel(batches):
        parts = (b for pdf in batches if not pdf.empty for b in blocks(pdf))
        out = _partial_topk(parts, qids, kk, query_id, pair_block)
        if len(out):
            yield out

    return src.mapInPandas(kernel, schema=schema)


def _query_batch(rows):
    """(query ids, (Q, d) float64 matrix) of collected query rows."""
    if not rows:
        raise ValueError("empty query set")
    return np.array([r[0] for r in rows]), np.array([r[1] for r in rows], dtype=np.float64)


def _small_rows(spark, path: str) -> list[dict]:
    """Rows of a small driver-written parquet table (no Spark job when
    the path is local)."""
    tbl = read_small_arrow(spark, path)
    if tbl is not None:
        return tbl.to_pylist()
    return [r.asDict() for r in spark.read.parquet(path).collect()]


def _write_books(spark, path: str, books) -> None:
    """Codebooks as a tiny parquet of (subspace, code, center) rows —
    engine-portable, no pickle, written driver-side (io/smallio)."""
    import pyarrow as pa

    m, ksub, dsub = books.shape
    tbl = pa.table(
        {
            "subspace": pa.array(np.repeat(np.arange(m), ksub), pa.int32()),
            "code": pa.array(np.tile(np.arange(ksub), m), pa.int32()),
            "center": pa.array(books.reshape(m * ksub, dsub).tolist(), pa.list_(pa.float64())),
        }
    )
    write_small_parquet(spark, path, tbl)


def _read_books(spark, path: str):
    rows = _small_rows(spark, path)
    m = max(r["subspace"] for r in rows) + 1
    ksub = max(r["code"] for r in rows) + 1
    books = np.empty((m, ksub, len(rows[0]["center"])), dtype=np.float64)
    for r in rows:
        books[r["subspace"], r["code"]] = r["center"]
    return books


class _QuantizedIndex:
    """The search skeleton of the quantized indexes: a code table
    ``encoded`` (id_col + a BINARY code column) scanned once per query
    batch. A subclass supplies ``_blocks(Q)``, which returns the kernel
    mapping one pandas batch of codes to ``(query indices, row ids,
    dist)`` blocks (see :func:`_partial_topk`)."""

    def __init__(self, encoded: DataFrame, vec_col: str, id_col: str):
        self.encoded = encoded
        self.vec_col = vec_col
        self.id_col = id_col

    def delete(self, ids):
        """Delete vectors by id (see IVFIndex.delete — same filter
        semantics on the encoded-codes table; codebooks untouched)."""
        out = copy.copy(self)
        out.encoded = self.encoded.filter(~F.col(self.id_col).isin([int(i) for i in ids]))
        return out

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        rerank: int = 0,
        corpus: DataFrame | None = None,
        query_id: str = "query_id",
        query_vec: str = "query_embedding",
        driver_batch_rows: int | None = None,
    ) -> DataFrame:
        """ADC top-k over the code table. With ``rerank=R > 0`` (requires
        ``corpus``) the top max(k, R) ADC candidates per query are
        re-scored with exact L2 against the raw vectors, so the output
        matches the exact operator's (rank, dist) contract on every
        shortlist that quantization ranked correctly.

        The query batch is collected ONCE (one job — ids + raw vectors)
        and ships in the scan kernel's closure, so DRIVER MEMORY IS
        O(Q × d): the practical ceiling is ~100k queries at 1024-d on an
        8 GB driver. A flat index has no cells to route by, so the
        unbounded-query-set escape hatch is ``driver_batch_rows=B``:
        stream the query DF through the driver B rows at a time
        (toLocalIterator — one partition resident) and run one
        eagerly-materialized scan per batch. The driver then holds ≤ B
        vectors plus the small candidate outputs at any moment, at the
        cost of ⌈Q/B⌉ passes over the codes; the output is identical,
        since every batch sees every code partition. For cell-routed
        unbounded search use IVFPQIndex.search(route="join").

        Inside the kernel, queries are scored in chunks sized so that
        one (queries × rows) distance block stays within topk's per-task
        pair budget, which bounds EXECUTOR memory whatever the batch
        size."""
        kk = max(k, rerank)
        schema = self._out_schema(queries, query_id)
        rows = queries.select(query_id, query_vec)
        if driver_batch_rows is not None:
            cands = self._search_driver_batched(
                rows, max(1, int(driver_batch_rows)), kk, query_id, schema
            )
            # unbounded-Q contract: the rerank join must not broadcast the
            # query side either (that would collect all Q vectors)
            return self._finish(
                cands, queries, k, rerank, corpus, query_id, query_vec,
                broadcast_queries=False,
            )
        qids, Q = _query_batch(rows.collect())
        cands = _scan(self.encoded, self._blocks(Q), qids, kk, query_id, schema)
        return self._finish(cands, queries, k, rerank, corpus, query_id, query_vec)

    def _search_driver_batched(self, rows, batch_rows, kk, query_id, schema):
        """Candidates of a query set streamed through the driver
        ``batch_rows`` at a time, one scan per batch. Each scan is
        materialized at once (localCheckpoint(eager)), so the driver
        never holds more than one batch of query vectors."""
        it, outs = rows.toLocalIterator(), []
        while batch := list(itertools.islice(it, batch_rows)):
            qids, Q = _query_batch(batch)
            scan = _scan(self.encoded, self._blocks(Q), qids, kk, query_id, schema)
            outs.append(scan.localCheckpoint(eager=True))
        if not outs:
            raise ValueError("empty query set")
        return functools.reduce(DataFrame.unionByName, outs)

    def _out_schema(self, queries: DataFrame, query_id: str) -> str:
        qid_t = queries.schema[query_id].dataType.simpleString()
        nid_t = self.encoded.schema[self.id_col].dataType.simpleString()
        return f"{query_id} {qid_t}, neighbor_id {nid_t}, __rdist DOUBLE"

    def _finish(
        self, cands, queries, k, rerank, corpus, query_id, query_vec,
        broadcast_queries: bool = True,
    ) -> DataFrame:
        """The final window over the ADC candidates; with ``rerank``, the
        top max(k, rerank) shortlist joins the raw vectors by id and is
        re-ranked on exact L2. ``broadcast_queries=False`` keeps query
        vectors off the driver on the unbounded-query paths (Catalyst
        shuffle-joins on query_id instead)."""
        if not rerank:
            return topk.final_topk(cands, k, "l2", [query_id])
        if corpus is None:
            raise ValueError("rerank requires the raw-vector corpus")
        q = queries.select(F.col(query_id), F.col(query_vec).alias("__qvec"))
        exact = (
            topk.final_topk(cands, max(k, rerank), "l2", [query_id], include_distance=False)
            .join(
                corpus.select(
                    F.col(self.id_col).alias("neighbor_id"),
                    F.col(self.vec_col).alias("__cvec"),
                ),
                "neighbor_id",
            )
            .join(F.broadcast(q) if broadcast_queries else q, query_id)
            .select(
                query_id,
                "neighbor_id",
                sq_l2_distance(F.col("__qvec"), F.col("__cvec")).alias("__rdist"),
            )
        )
        return topk.final_topk(exact, k, "l2", [query_id])


class PQIndex(_QuantizedIndex):
    """Product-quantized corpus: BINARY codes + the codebook tensor.

    build():  corpus -> encoded corpus (id + pq_code, m bytes/row)
    search(): queries -> top-k per query by ADC over the code table,
              optionally exact-re-ranked against the raw vectors.
    """

    def __init__(self, books, encoded: DataFrame, vec_col: str, id_col: str):
        super().__init__(encoded, vec_col, id_col)
        self.books = books          # numpy (m, ksub, dsub)

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "id",
        m: int = 8,
        ksub: int = 256,
        fit_sample_size: int = 100_000,
        seed: int = 42,
        max_iter: int = 25,
    ) -> "PQIndex":
        """Fit codebooks on ≤ fit_sample_size driver-side rows (the FAISS
        training contract — codebooks need density shape, not the corpus),
        then encode every row distributed in one narrow Arrow pass."""
        if not 0 < ksub <= 256:
            raise ValueError("ksub must fit a uint8 code (1..256)")
        X = _sample_matrix(corpus, vec_col, fit_sample_size)
        books = _fit_codebooks(X, m, ksub, seed, max_iter)
        encoded = corpus.select(
            F.col(id_col), _encode_codes(F.col(vec_col), books).alias("pq_code")
        )
        return cls(books, encoded, vec_col, id_col)

    def write(self, path: str) -> None:
        """Persist code table + codebooks (see :func:`_write_books`)."""
        self.encoded.write.mode("overwrite").parquet(f"{path}/codes")
        _write_books(self.encoded.sparkSession, f"{path}/books", self.books)

    @classmethod
    def load(cls, spark, path: str, vec_col: str = "embedding", id_col: str = "id") -> "PQIndex":
        books = _read_books(spark, f"{path}/books")
        return cls(books, spark.read.parquet(f"{path}/codes"), vec_col, id_col)

    def _blocks(self, Q):
        books, id_col = self.books, self.id_col

        def blocks(pdf):
            codes = _codes(pdf, "pq_code", books.shape[0])
            yield np.arange(len(Q)), pdf[id_col].to_numpy(), lambda qc: _adc(books, Q[qc], codes)

        return blocks
