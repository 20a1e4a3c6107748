"""Exact top-k similarity search (SURVEY §2.I I4/I5, §2.E E1/E2).

The reference delegates ANN top-k to OceanBase's HNSW index
(src/rag/doc_embedder.py:196-220 ``similarity_search_by_vector``;
index DDL src/tools/load.py:26, DISTANCE=L2, k=10 default src/rag/ob.py:30).
Spark-first re-expression:

  queries (bounded batch) --one Arrow collect--> query matrix in the
                                                 kernel closure
  corpus scan --mapInArrow(scan_topk)--> per (query[, group]) partial
                                         top-k of each scan partition
              --shuffle: ids + dist + payload--> final window top-k per
                                         query, (dist asc, neighbor_id asc)

Scale notes (100 TB corpus, ~25 B rows at 1024-d):
 * The query side ships inside the kernel's closure (PySpark broadcasts
   a large pickled command itself) — the corpus never shuffles; the only
   shuffle is the ≤ k rows per (query, scan partition) the kernel emits,
   so the final per-query window never sees a whole corpus.
 * Distances use the left-to-right float64 fold of functions/vector.py,
   so every dist is bit-identical to the HOF expression the DuckDB
   oracles replay — but as numpy over a (queries × rows) block instead
   of Spark's interpreted zip_with/aggregate (~30 µs per 64-d pair).
 * Ranking uses squared L2 (monotone in L2) — no sqrt per pair.
 * Partition restriction (reference ``partition_names``) is a plain
   ``component_code IN`` filter that Catalyst turns into Parquet partition
   pruning — scan only the named partitions, exactly like the reference's
   LIST partitions.
 * This exact operator is the correctness oracle; at full scale the ANN
   operators (chatbot_spark.operators.ann) cut the candidate set first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chatbot_spark.io.smallio import local_df

DEFAULT_SEARCH_LIMIT = 10  # reference src/rag/ob.py:30
DEFAULT_RERANK_LIMIT = 10  # reference src/rag/ob.py:31

# (query, row) pairs per distance block: bounds each task's distance
# matrices (~4 MB of doubles each) whatever the query batch size
_PAIR_BLOCK = 1 << 19
# pending candidate rows a running top-k buffers before it re-trims
_TRIM_ROWS = 1 << 16
# ranking fold per reported metric (l2 ranks on its square, no sqrt)
_RANK_METRIC = {
    "l2": "sq_l2", "sq_l2": "sq_l2", "cosine": "cosine",
    "inner_product": "inner_product",
}


def per_component_quota(n_components: int) -> int:
    """Per-partition search limit when not reranking:
    ``max(3, 13 - 3*n)`` (reference src/rag/rag_graph.py:371-375)."""
    return max(3, 13 - 3 * n_components)


def knn_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = DEFAULT_SEARCH_LIMIT,
    metric: str = "l2",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    corpus_id: str = "id",
    corpus_vec: str = "embedding",
    extra_cols: list[str] | None = None,
    component_codes: list[int] | None = None,
    include_distance: bool = True,
) -> DataFrame:
    """Exact k-nearest-neighbors of each query row over the corpus.

    Returns (query_id, neighbor_id, [extra_cols...,] rank[, dist]) with
    rank 1..k per query ordered by ascending distance, ties broken by
    corpus id for determinism. One :func:`scan_topk` pass emits each
    scan partition's partial top-k, so the final per-query window ranks
    ≤ P×k rows per query instead of the whole corpus."""
    if component_codes is not None:
        # reference partition_names pushdown (doc_embedder.py:191-192)
        corpus_df = corpus_df.filter(F.col("component_code").isin(component_codes))
    cands = scan_topk(
        queries_df, corpus_df, k, _rank_metric(metric),
        query_id=query_id, query_vec=query_vec,
        corpus_id=corpus_id, corpus_vec=corpus_vec, extra_cols=extra_cols,
    )
    return final_topk(cands, k, metric, [query_id], include_distance)


def hard_negative_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = DEFAULT_SEARCH_LIMIT,
    exclusion_radius: float = 0.0,
    metric: str = "l2",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    corpus_id: str = "id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding-model training (the
    BGE-style dataset-construction step): per anchor, the k NEAREST
    corpus rows that are not too near — rows within ``exclusion_radius``
    (the anchor itself at distance 0, near-duplicates, paraphrases) are
    excluded BEFORE ranking, so the survivors are the hardest VALID
    negatives. Same plan as :func:`knn_join` with the exclusion applied
    inside the scan kernel as a distance floor — the candidate set is
    exact, not a top-k-then-filter approximation (which could starve
    below k when an anchor has many near-dups).

    ``exclusion_radius`` is in REPORTED units (the same units knn_join's
    ``dist`` column uses: L2 distance, or cosine DISTANCE = 1 − sim):
    rows with dist <= r are excluded."""
    if metric not in ("l2", "cosine"):
        raise ValueError(f"unsupported metric {metric!r}")
    # l2 ranks on SQUARED distance — exclude in squared units so the
    # comparison happens on the exact ranking value (no extra sqrt whose
    # rounding could disagree with the oracle at the boundary)
    floor = (
        float(exclusion_radius) ** 2 if metric == "l2" else float(exclusion_radius)
    )
    cands = scan_topk(
        queries_df, corpus_df, k, _rank_metric(metric),
        query_id=query_id, query_vec=query_vec,
        corpus_id=corpus_id, corpus_vec=corpus_vec, floor=floor,
    )
    return final_topk(cands, k, metric, [query_id])


def final_topk(
    cands: DataFrame,
    k: int,
    metric: str,
    keys: list[str],
    include_distance: bool = True,
) -> DataFrame:
    """The final window over :func:`scan_topk` candidates: rank 1..k per
    ``keys`` by (ranking dist asc, neighbor_id asc), then the metric's
    reported ``dist``."""
    w = Window.partitionBy(*keys).orderBy(
        F.col("__rdist").asc(), F.col("neighbor_id").asc()
    )
    out = cands.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if include_distance:
        out = out.withColumn("dist", _reported(metric, F.col("__rdist")))
    return out.drop("__rdist")


def _rank_metric(metric: str) -> str:
    if metric not in _RANK_METRIC:
        raise ValueError(f"unsupported metric {metric!r}; have {sorted(_RANK_METRIC)}")
    return _RANK_METRIC[metric]


def _reported(metric: str, rank_dist: Column) -> Column:
    """Convert the ranking distance back to the metric's reported value."""
    if metric == "l2":
        return F.sqrt(rank_dist)
    return rank_dist


def scan_topk(
    queries,
    corpus_df: DataFrame,
    k: int,
    metric: str = "sq_l2",
    *,
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    corpus_id: str = "id",
    corpus_vec: str = "embedding",
    group: str | None = None,
    extra_cols: list[str] | None = None,
    floor: float | None = None,
    probe: tuple | None = None,
) -> DataFrame:
    """Partial top-k of a bounded query batch over one corpus scan.

    ``queries`` is a DataFrame (its (query_id, query_vec) columns are
    collected once as Arrow) or an already collected pyarrow Table,
    whose columns other than query_id/query_vec ride along to every
    output row of that query. One mapInArrow over ``corpus_df`` computes
    ``metric`` — "sq_l2", "cosine" (distance) or "inner_product"
    (negated) — with functions/vector.py's float64 fold, so the bits
    equal the HOF expression's, and keeps a running top-k per
    (query[, ``group`` value]) ordered exactly like the final window:
    (dist asc with nulls first and NaN last, corpus id asc). It streams
    Arrow batches and never holds a whole partition.

    Returns (query_id[, group], neighbor_id, __rdist[, extra_cols...,
    carried query columns...]): ≤ k rows per (query[, group]) per scan
    partition — feed it to :func:`final_topk`. Null, ragged or
    null-element vectors get a null dist (rank first), as zip_with does.

    ``floor``: only rows with dist > floor are candidates (a null dist
    never is, NaN always is — Spark's ``>``). ``probe=(cell_col, cells)``
    with ``cells`` a (Q, nprobe) array restricts each query to the corpus
    rows whose ``cell_col`` it probes (routed IVF search)."""
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import DoubleType, StructField, StructType

    if metric not in ("sq_l2", "cosine", "inner_product"):
        raise ValueError(f"unsupported scan metric {metric!r}")
    if isinstance(queries, DataFrame):
        queries = queries.select(query_id, query_vec).toArrow()
    extra = list(extra_cols or [])
    carry = [c for c in queries.column_names if c not in (query_id, query_vec)]
    cs = corpus_df.schema
    schema = StructType(
        [StructField(query_id, from_arrow_type(queries.schema.field(query_id).type))]
        + ([cs[group]] if group else [])
        + [
            StructField("neighbor_id", cs[corpus_id].dataType),
            StructField("__rdist", DoubleType()),
        ]
        + [cs[c] for c in extra]
        + [
            StructField(c, from_arrow_type(queries.schema.field(c).type))
            for c in carry
        ]
    )
    spark = corpus_df.sparkSession
    if queries.num_rows == 0:
        return local_df(spark, [], schema)
    cell_col, cells = probe if probe is not None else (None, None)
    kernel = _scan_kernel(
        queries, query_id, query_vec, carry, k, metric,
        corpus_id, corpus_vec, group, extra, floor, cell_col, cells, schema,
        ansi=spark.conf.get("spark.sql.ansi.enabled", "true") == "true",
    )
    cols = [corpus_id, corpus_vec, group, cell_col, *extra]
    return corpus_df.select(*dict.fromkeys(c for c in cols if c)).mapInArrow(
        kernel, schema
    )


def vector_matrix(arr):
    """(X, lens, ok) of an Arrow list-of-numbers column: X is the (n, d)
    float64 matrix, zero-padded past each row's length; ok is False for a
    null vector or one holding a null element — the rows whose HOF
    distance is null against everything."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    lens = pc.list_value_length(arr).fill_null(0).to_numpy(zero_copy_only=False)
    lens = lens.astype(np.int64)
    ok = ~arr.is_null().to_numpy(zero_copy_only=False)
    vals = pc.list_flatten(arr)
    v = vals.fill_null(0).to_numpy(zero_copy_only=False).astype(np.float64)
    d = int(lens.max()) if n else 0
    if len(v) == n * d and not vals.null_count:  # uniform, no nulls
        return v.reshape(n, d), lens, ok
    X = np.zeros((n, d))
    parent = pc.list_parent_indices(arr).to_numpy()
    X[parent, np.arange(len(v)) - (np.cumsum(lens) - lens)[parent]] = v
    if vals.null_count:
        ok[parent[vals.is_null().to_numpy(zero_copy_only=False)]] = False
    return X, lens, ok


def _self_dot(T):
    """dot(v, v) of every column of T (d, n), folded like dot_product."""
    import numpy as np

    acc = np.zeros(T.shape[1])
    for row in T:
        acc += row * row
    return acc


def pair_distances(metric, QT, qlen, qok, XT, xlen, xok, ansi=True):
    """(D, valid): ``metric`` between every column of QT (d, nq) and of
    XT (d, nx) — functions/vector.py's left-to-right float64 fold, one
    rounded subtract/multiply and add per element, so D is bit-identical
    to the HOF expression wherever ``valid``; invalid pairs (null or
    null-element vector, length mismatch) are the HOF's nulls. Cosine
    with a zero norm raises under ANSI, as Spark's divide does, and is
    null otherwise."""
    import numpy as np

    acc = np.zeros((QT.shape[1], XT.shape[1]))
    tmp = np.empty_like(acc)
    valid = qok[:, None] & xok[None, :] & (qlen[:, None] == xlen[None, :])
    with np.errstate(all="ignore"):
        # zero padding past a row's length adds exact +0.0 terms
        for qj, xj in zip(QT, XT):
            if metric == "sq_l2":
                np.subtract(qj[:, None], xj[None, :], out=tmp)
                np.multiply(tmp, tmp, out=tmp)
            else:
                np.multiply(qj[:, None], xj[None, :], out=tmp)
            np.add(acc, tmp, out=acc)
        if metric == "inner_product":
            np.negative(acc, out=acc)
        elif metric == "cosine":
            den = np.sqrt(_self_dot(QT))[:, None] * np.sqrt(_self_dot(XT))[None, :]
            zero = valid & (den == 0)
            if zero.any():
                if ansi:
                    raise ArithmeticError(
                        "[DIVIDE_BY_ZERO] cosine distance of a zero vector"
                    )
                valid &= ~zero
            acc = 1.0 - acc / den
    return acc, valid


def order_keys(D, valid):
    """(cls, key) sort keys matching Spark's ascending double order: cls
    0 null, 1 number, 2 NaN; key the number with -0.0 folded into 0.0."""
    import numpy as np

    nan = np.isnan(D)
    cls = np.where(valid, np.where(nan, 2, 1), 0).astype(np.int8)
    key = np.where(cls == 1, D + 0.0, 0.0)
    return cls, key


def _scan_kernel(
    qtbl, query_id, query_vec, carry, k, metric, id_col, vec_col, group,
    extra, floor, cell_col, cells, schema, ansi,
):
    """The mapInArrow function of :func:`scan_topk`; captures only the
    query arrays (numpy/pyarrow), never Spark objects."""
    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_schema

    Q, qlen, qok = vector_matrix(qtbl.column(query_vec))
    QT = np.ascontiguousarray(Q.T)
    nq = len(Q)
    qids = qtbl.column(query_id).combine_chunks()
    carried = [qtbl.column(c).combine_chunks() for c in carry]
    out_schema = to_arrow_schema(schema)
    payload = list(dict.fromkeys(c for c in [id_col, group, *extra] if c))
    everyone = np.arange(nq)
    routes = None
    if cells is not None:
        # cell id -> ascending indices of the queries that probe it
        cells = np.asarray(cells)
        order = np.argsort(cells.ravel(), kind="stable")
        ids, first = np.unique(cells.ravel()[order], return_index=True)
        qidx = np.repeat(everyone, cells.shape[1])[order]
        routes = dict(zip(ids.tolist(), np.split(qidx, first[1:])))

    def segments(batch):
        """(state key, row indices, query indices) per slice of a batch
        that shares one query set and one running top-k."""
        if routes is not None:
            cell = batch.column(cell_col).to_numpy(zero_copy_only=False)
            for c in np.unique(cell):
                if int(c) in routes:
                    yield None, np.flatnonzero(cell == c), routes[int(c)]
        elif group is not None:
            enc = batch.column(group).dictionary_encode()
            code = enc.indices.fill_null(-1).to_numpy(zero_copy_only=False)
            for i in np.unique(code):
                gkey = None if i < 0 else enc.dictionary[int(i)].as_py()
                yield gkey, np.flatnonzero(code == i), everyone
        else:
            yield None, np.arange(batch.num_rows), everyone

    def kernel(batches):
        import pyarrow as pa

        states: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            X, xlen, xok = vector_matrix(batch.column(vec_col))
            pay = batch.select(payload)
            for gkey, rows, qsel in segments(batch):
                st = states.get(gkey)
                if st is None:
                    st = states[gkey] = _RunningTopK(nq, k, id_col, floor)
                step = min(len(rows), _PAIR_BLOCK)
                qstep = max(1, _PAIR_BLOCK // step)
                for r0 in range(0, len(rows), step):
                    rb = rows[r0 : r0 + step]
                    XT = np.ascontiguousarray(X[rb].T)
                    for q0 in range(0, len(qsel), qstep):
                        qb = qsel[q0 : q0 + qstep]
                        D, valid = pair_distances(
                            metric, QT[:, qb], qlen[qb], qok[qb],
                            XT, xlen[rb], xok[rb], ansi,
                        )
                        st.offer(D, valid, qb, rb, pay)
        parts = [t for st in states.values() if (t := st.result()) is not None]
        if not parts:
            return
        t = pa.concat_tables(parts)
        q = pa.array(t.column("__q").to_numpy())
        cols = (
            [qids.take(q)]
            + ([t.column(group)] if group else [])
            + [t.column(id_col), t.column("__rdist")]
            + [t.column(c) for c in extra]
            + [a.take(q) for a in carried]
        )
        out = pa.Table.from_arrays(cols, names=out_schema.names).cast(out_schema)
        yield from out.to_batches()

    return kernel


class _RunningTopK:
    """Executor-side running top-k of one (group) slice of a scan
    partition: the trimmed candidate table plus each query's current
    k-th sort key, which pre-filters later blocks (ties kept) so only
    possible members are materialized."""

    def __init__(self, nq: int, k: int, id_col: str, floor: float | None):
        import numpy as np

        self.k = k
        self.id_col = id_col
        self.floor = floor
        self.thr = np.full(nq, np.inf)
        self.kept = None
        self.pending: list = []
        self.n_pending = 0

    def offer(self, D, valid, qb, rb, pay) -> None:
        """Take the block's candidates: per query the rows whose collapsed
        key (null -inf, NaN +inf) is ≤ both the block's k-th key and the
        query's running k-th key."""
        import numpy as np
        import pyarrow as pa

        sel = np.where(valid, D, -np.inf)
        sel[np.isnan(sel)] = np.inf
        keep = None
        if self.floor is not None:
            with np.errstate(invalid="ignore"):
                keep = valid & ((D > self.floor) | np.isnan(D))
            sel[~keep] = np.inf
        cut = self.thr[qb]
        if sel.shape[1] > self.k:
            kth = np.partition(sel, self.k - 1, axis=1)[:, self.k - 1]
            cut = np.minimum(cut, kth)
        mask = sel <= cut[:, None]
        if keep is not None:
            mask &= keep
        qi, ri = np.nonzero(mask)
        if len(qi) == 0:
            return
        d = D[qi, ri]
        cls, key = order_keys(d, valid[qi, ri])
        cand = pay.take(pa.array(rb[ri]))
        cols = dict(zip(cand.schema.names, cand.columns))
        cols.update(
            __q=pa.array(qb[qi]),
            __cls=pa.array(cls),
            __key=pa.array(key),
            __rdist=pa.array(d, mask=cls == 0),
        )
        self.pending.append(pa.table(cols))
        self.n_pending += len(qi)
        if self.n_pending > max(_TRIM_ROWS, self.kept.num_rows if self.kept else 0):
            self._trim()

    def _trim(self) -> None:
        """Sort kept + pending by (query, cls, key, id) — Spark's window
        order, nulls first — cut each query to k rows and refresh its
        k-th key."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        t = pa.concat_tables(([self.kept] if self.kept else []) + self.pending)
        self.pending, self.n_pending = [], 0
        order = pc.sort_indices(
            t,
            sort_keys=[
                ("__q", "ascending"), ("__cls", "ascending"),
                ("__key", "ascending"), (self.id_col, "ascending"),
            ],
            null_placement="at_start",
        )
        t = t.take(order)
        q = t.column("__q").to_numpy()
        first = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        pos = np.arange(len(q)) - np.repeat(first, np.diff(np.r_[first, len(q)]))
        self.kept = t.filter(pa.array(pos < self.k))
        last = np.flatnonzero(pos == self.k - 1)
        cls = t.column("__cls").to_numpy()[last]
        key = t.column("__key").to_numpy()[last]
        self.thr[q[last]] = np.where(cls == 0, -np.inf, np.where(cls == 2, np.inf, key))

    def result(self):
        if self.pending:
            self._trim()
        return self.kept


def radius_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    radius: float,
    metric: str = "l2",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    corpus_id: str = "id",
    corpus_vec: str = "embedding",
    component_codes: list[int] | None = None,
) -> DataFrame:
    """Range search (FAISS ``range_search`` / the vector-store
    score-threshold retrieval mode): ALL corpus rows within ``radius`` of
    each query — no k, no ranking window. The plan is a broadcast query
    side on the corpus scan, distance as the functions/vector.py
    expression (the fold :func:`scan_topk` replays), and a pushed
    filter instead of any shuffle — range search is embarrassingly
    parallel (output size is data-dependent, which is exactly why it has
    no per-query window to skew).

    For cosine, ``radius`` is a minimum SIMILARITY (results with
    cos >= radius), matching score-threshold retriever semantics;
    for l2 it is a maximum distance."""
    if component_codes is not None:
        corpus_df = corpus_df.filter(F.col("component_code").isin(component_codes))
    q = queries_df.select(
        F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec")
    )
    if metric == "l2":
        from chatbot_spark.functions.vector import l2_distance

        d = l2_distance(F.col("__qvec"), F.col(corpus_vec))
        keep = d <= F.lit(float(radius))
    elif metric == "cosine":
        from chatbot_spark.functions.vector import cosine_similarity

        d = cosine_similarity(F.col("__qvec"), F.col(corpus_vec))
        keep = d >= F.lit(float(radius))
    else:
        raise ValueError(f"unsupported metric {metric!r}")
    return (
        corpus_df.join(F.broadcast(q))
        .select(
            F.col("__qid").alias(query_id),
            F.col(corpus_id).alias("neighbor_id"),
            d.alias("score"),
        )
        .filter(keep)
    )
