"""Similarity joins over embedding columns (SURVEY §2.J J3, §2.C C1).

 * embedding_neardup_pairs — ε-ball self-join (near-duplicate detection by
   embedding cosine), exact; the LSH/IVF variants in operators.ann are the
   scale path with identical output contracts.
 * embedding_neardup_pairs_blocked / _bucketed — the same pair set by
   BLAS: tiled over the whole corpus, or over k-means cell pairs the
   triangle inequality cannot rule out.

Scale: the self-join projects to (id, vec) before joining, ranks on
squared/dot quantities (no sqrt per pair), and the ε-ball variant is the
operator to replace with ann.BRPIndex bucket joins once N² stops fitting.
At or below ``NEARDUP_DRIVER_SOLVE_ROWS`` rows both BLAS variants skip
their Spark machinery: they collect (id, unit vector) once and run one
chunked pair pass on the driver (``_driver_pairs``), which emits the same
pair set as their distributed regime.

Exact cosine top-k per query is ``topk.knn_join(metric="cosine")`` (the
Arrow ``scan_topk`` kernel); it reports cosine DISTANCE, so a similarity
is ``1 - dist``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chatbot_spark.functions.vector import dot_product, l2_norm
from chatbot_spark.gating import driver_solves
from chatbot_spark.io.smallio import local_df


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
) -> DataFrame:
    """All pairs with cosine similarity ≥ min_cosine (id_a < id_b).

    Exact N² reference implementation; pre-computes each row's norm once so
    the pair expression is a single dot product."""
    side = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        l2_norm(F.col(vec_col)).alias("__norm"),
    )
    a, b = side.alias("a"), side.alias("b")
    return (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .withColumn(
            "cosine",
            # try_divide: cosine is undefined for zero-norm vectors — they
            # must simply never pair (ANSI mode would otherwise throw)
            F.try_divide(
                dot_product(F.col("a.__vec"), F.col("b.__vec")),
                F.col("a.__norm") * F.col("b.__norm"),
            ),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("cosine"),
        )
    )


# row-chunk width of the driver pair pass's sims slab (memory bound:
# chunk x n doubles); module-level so tests can shrink it to exercise
# chunk boundaries on small corpora
_DRIVER_PAIR_CHUNK = 4096

# row gate of the blocked and bucketed operators' driver pair pass (r13):
# at 20k rows the full pair scan is a few dgemm slabs on the driver
NEARDUP_DRIVER_SOLVE_ROWS = 20_000


def _driver_pairs(ids, U, min_cosine: float):
    """The driver regime's pair pass: every (id_a < id_b) pair of rows of
    the unit matrix ``U`` (n ≥ 1 rows, aligned with int64 ``ids``) whose
    cosine is ≥ ``min_cosine``, as an Arrow (id_a, id_b, cosine) table.

    One ``U[a:a+chunk] @ U.T`` dgemm slab per ``_DRIVER_PAIR_CHUNK`` rows,
    thresholded with the ``min_cosine - 1e-12`` guard band the
    distributed kernels carry. The keep rule is id-strict
    (``ids[i] < ids[j]``, as in those kernels), so each unordered pair is
    emitted once and duplicate ids never self-pair. NaN rows (zero-norm
    vectors normalized in numpy) compare false and never pair."""
    import numpy as np
    import pyarrow as pa

    thr = min_cosine - 1e-12
    step = _DRIVER_PAIR_CHUNK
    outs_a, outs_b, outs_c = [], [], []
    for a in range(0, len(U), step):
        sims = U[a : a + step] @ U.T
        bi, bj = np.nonzero(sims >= thr)
        keep = ids[bi + a] < ids[bj]
        bi, bj = bi[keep], bj[keep]
        outs_a.append(ids[bi + a])
        outs_b.append(ids[bj])
        outs_c.append(sims[bi, bj])
    return pa.table(
        {
            "id_a": pa.array(np.concatenate(outs_a), pa.int64()),
            "id_b": pa.array(np.concatenate(outs_b), pa.int64()),
            "cosine": pa.array(np.concatenate(outs_c), pa.float64()),
        }
    )


def _unit_rows(vectors):
    """(n, d) float64 matrix of ``vectors`` scaled to unit L2 norm — the
    blocked operator's one normalization, shared by its stream kernel,
    its tile loader and its driver pass. A zero-norm row becomes NaN, so
    it never passes a cosine threshold."""
    import numpy as np

    mat = np.array(vectors, dtype=np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return mat


def embedding_neardup_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
    tile_rows: int = 1_000_000,
    work_dir: str | None = None,
) -> DataFrame:
    """Blocked-matmul variant of embedding_neardup_pairs — identical pair
    set, ~50× faster: the corpus is cut into executor-memory-sized TILES,
    written ONCE as a ``partitionBy(__tile)`` parquet dataset, and the full
    corpus streams through mapInPandas doing one BLAS matmul per
    (Arrow batch × tile), each task loading its tile straight from storage
    (process-cached, so a reused Python worker reads a tile once). The
    union over tiles is the full upper triangle: a pair (a < b) is emitted
    exactly once, by the single tile that owns ``b``.

    Size gate (the bucketed operator's): at or below
    ``NEARDUP_DRIVER_SOLVE_ROWS`` raw rows, (id, vec) is collected once
    as Arrow, normalized by the same numpy code the tiles use, and
    ``_driver_pairs`` returns the result as a local table — no tile
    write, no read-back, no stream job. The pair set equals the tiled
    one; each cosine is the same dgemm dot product up to BLAS blocking
    (within 1e-12).

    Scale contract (above the gate, or with ``CBS_FORCE_DISTRIBUTED=1``):
    the DRIVER never touches vector data — the tile write
    is one distributed job, the loop below iterates over tile *numbers*
    (metadata), and executors fetch tiles directly from shared storage.
    Each Python worker holds ONE tile at a time (``tile_rows`` ≈ 1 M ×
    64-d float64 = 512 MB; size it to the executor). Compute is the same
    N² flops regardless of tiling; scan cost is n_tiles × corpus, the
    classic blocked outer product. For sub-N² work feed ann.BRPIndex
    bucket-mates instead of tiling.

    ``work_dir`` (default: a fresh temp dir) must outlive the returned
    DataFrame — it is lazily re-read on every execution. Pass a managed
    path and clean it up after the result is consumed.

    Cosine math matching the expression form bit-for-bit is NOT guaranteed
    (BLAS reassociates) — so the exact-expression variant stays the oracle;
    this one is for throughput. Differences are ≤1e-6 in practice; the
    threshold compare uses a tiny epsilon so the pair SET is stable.
    """
    import os
    import tempfile
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    from chatbot_spark.io.tables import spread

    spark = df.sparkSession
    side = df.select(id_col, vec_col)
    if driver_solves(df.select(id_col), NEARDUP_DRIVER_SOLVE_ROWS):
        probe = side.toArrow()  # bounded by the row probe above
        if probe.num_rows == 0:
            return local_df(spark, [], out_schema)
        ids = np.asarray(
            probe.column(id_col).to_numpy(zero_copy_only=False), dtype=np.int64
        )
        U = _unit_rows(probe.column(vec_col).to_pylist())
        return local_df(spark, _driver_pairs(ids, U, min_cosine))

    n = side.count()
    if n == 0:  # an empty tile write leaves no partition to read back
        return local_df(spark, [], out_schema)
    n_tiles = -(-n // tile_rows)
    # r14 (guide §2.5/§2.6 — parallelism from rows, not bytes): the
    # streaming pass below is pure BLAS CPU per row over a small
    # compressed scan, which AQE byte-coalescing collapses to 1-2 tasks
    # (measured at the sf1 point: one 4.9 s single-task matmul job, 31
    # idle cores). Round-robin rebalance the STREAM side only; the pair
    # values are unchanged — every (query row, tile row) cosine is one
    # dgemm element whose k-accumulation order does not depend on batch
    # composition (numpy 2-D matmul always dispatches GEMM), pinned by
    # the batch-shape invariance test and the sf0.01/sf0.001 parity
    # sweeps.
    stream = spread(side)
    # deterministic tile ownership by id hash — tiles are disjoint and cover
    # the corpus, so the per-tile `stream_id < tile_id` emit is exactly-once
    tile_of = F.pmod(F.abs(F.xxhash64(F.col(id_col))), F.lit(n_tiles))

    tiles_path = os.path.join(
        work_dir or tempfile.mkdtemp(prefix="cbs_neardup_tiles_"), "tiles"
    )
    side.withColumn("__tile", tile_of).write.partitionBy("__tile").mode(
        "overwrite"
    ).parquet(tiles_path)
    # partition discovery only (directory listing — no row data to driver)
    present = sorted(
        r["__tile"]
        for r in spark.read.parquet(tiles_path).select("__tile").distinct().collect()
    )

    outs = []
    for t in present:
        tile_dir = os.path.join(tiles_path, f"__tile={t}")

        def kernel(
            batches: Iterator[pd.DataFrame], _tile_dir=tile_dir
        ) -> Iterator[pd.DataFrame]:
            import numpy as np

            I, M = _load_tile_matrix(_tile_dir, id_col, vec_col)
            for pdf in batches:
                if pdf.empty:  # empty partitions yield empty Arrow batches
                    continue
                q = _unit_rows(list(pdf[vec_col]))
                qids = pdf[id_col].to_numpy(dtype=np.int64)
                sims = q @ M.T  # (batch, tile) BLAS
                bi, bj = np.nonzero(sims >= min_cosine - 1e-12)
                ia, ib, s = qids[bi], I[bj], sims[bi, bj]
                keep = ia < ib  # upper triangle, id_a < id_b
                yield pd.DataFrame({"id_a": ia[keep], "id_b": ib[keep], "cosine": s[keep]})

        outs.append(stream.mapInPandas(kernel, out_schema))

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def embedding_neardup_pairs_bucketed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
    nlist: int = 64,
    seed: int = 42,
    fit_sample_size: int = 200_000,
) -> DataFrame:
    """Cluster-blocked ε-ball self-join — the SemDeDup-style (Abbas et al.
    2023) scale path for embedding near-dup, with an EXACTNESS guarantee
    the plain "compare within cluster" recipe lacks.

    Size gate (r13, the components/LPA driver-solve precedent): at or
    below ``NEARDUP_DRIVER_SOLVE_ROWS`` raw rows the pair set is
    computed by ``_driver_pairs`` (the blocked operator's driver pass
    too) over the SAME JVM-normalized unit vectors the distributed
    kernel would see — the
    emitted (min id, max id) pair set is identical (each unordered pair
    enumerated exactly once either way, same ``thr`` guard band), and
    the cosine values are the same dgemm to reassociation (~1e-15; the
    band the distributed kernel already carries). Past the gate the
    fit + radius + block machinery below runs unchanged.

    Geometry: on unit vectors, cosine ≥ τ  ⟺  L2 ≤ ε = sqrt(2 − 2τ). Fit
    k-means cells (the IVFIndex coarse-quantizer machinery), record each
    cell's covering radius r_c = max ||x − c||, and enumerate only cell
    pairs (i ≤ j) with ||c_i − c_j|| ≤ r_i + r_j + ε — by the triangle
    inequality NO qualifying vector pair can span any other cell pair, so
    the emitted pair set equals the exact operator's bit-for-bit (the
    cosines themselves are BLAS-computed like the tiled variant: equal to
    the expression form within 1e-6; callers round to 6).

    Plan shape: one Arrow/BLAS cell-assignment map, one tiny radius agg,
    a driver-side k×k bound check (metadata — centroids only), then ONE
    shuffle that replicates each cell's rows to its qualifying block
    pairs and a grouped BLAS kernel per block. Compute is
    Σ_blocks |cell_i|·|cell_j| instead of N² — sub-quadratic whenever the
    corpus actually clusters tighter than ε (the SemDeDup regime: τ ≥ 0.9
    → ε ≤ 0.45). Degenerate data (every cell-pair within the bound)
    degrades gracefully to the exact N² block set, never to a wrong
    answer. Zero-norm vectors never pair (cosine undefined — same
    contract as the exact operator).

    Scale: driver touches only centroids (nlist × d) and the block list
    (≤ nlist² ids); executor memory is bounded by the two largest cells
    per task (size nlist so cells ≈ corpus/nlist fits — the IVF recipe).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from chatbot_spark.operators.ann import _assign_cells, _numpy_kmeans

    spark = df.sparkSession
    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    side = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        l2_norm(F.col(vec_col)).alias("__norm"),
    ).filter(F.col("__norm") > 0)

    # normalize JVM-side so cells/radii/kernel all see unit vectors
    unit = side.select(
        "__id",
        F.transform("__vec", lambda x: x / F.col("__norm")).alias("__unit"),
    )

    # gate probe (r14, r13 ADVICE): a truncated row probe on the RAW id
    # column decides the regime — the former limit(N+1).toArrow() probe
    # shipped up to N+1 full embedding vectors to the driver per call
    # just to decide. raw rows >= non-zero-norm rows, so raw <= gate
    # still bounds the collect below.
    if driver_solves(df.select(F.col(id_col)), NEARDUP_DRIVER_SOLVE_ROWS):
        probe = unit.toArrow()  # bounded by the row probe above
        if probe.num_rows == 0:
            return local_df(spark, [], out_schema)
        ids = np.asarray(
            probe.column("__id").to_numpy(zero_copy_only=False), dtype=np.int64
        )
        U = np.array(probe.column("__unit").to_pylist(), dtype=np.float64)
        return local_df(spark, _driver_pairs(ids, U, min_cosine))

    from chatbot_spark.operators.ann import _sample_matrix

    sample = _sample_matrix(unit, "__unit", fit_sample_size)
    if len(sample) == 0:
        return local_df(spark, [], out_schema)
    k = min(nlist, len(sample))
    centers = _numpy_kmeans(sample, k, seed, max_iter=25)

    # persist: the assignment map is consumed three times (radius agg +
    # both block-staging joins) — without it the Arrow kernel re-runs per
    # consumer. LRU-evictable; the blocked result itself stays lazy.
    assigned = unit.withColumn(
        "__cell", _assign_cells(F.col("__unit"), centers)
    ).persist()
    # Per-cell covering radius: max ||x − c_cell||, via the broadcast
    # centroid table (tiny) + a higher-order-function fold — one narrow agg.
    cent_df = local_df(
        spark, [(int(i), [float(x) for x in c]) for i, c in enumerate(centers)],
        "__cell INT, __centroid ARRAY<DOUBLE>",
    )
    radii_rows = (
        assigned.join(F.broadcast(cent_df), "__cell")
        .groupBy("__cell")
        .agg(
            F.max(
                F.aggregate(
                    F.zip_with("__unit", "__centroid", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("__r2")
        )
    )
    radii = {r["__cell"]: float(r["__r2"]) ** 0.5 for r in radii_rows.collect()}

    eps = float(np.sqrt(max(0.0, 2.0 - 2.0 * min_cosine)))
    cd = np.sqrt(
        np.maximum(
            ((centers[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2), 0.0
        )
    )
    blocks = []
    for i in range(k):
        ri = radii.get(i)
        if ri is None:
            continue  # empty cell
        for j in range(i, k):
            rj = radii.get(j)
            if rj is None:
                continue
            if cd[i, j] <= ri + rj + eps:
                blocks.append((len(blocks), i, j))
    if not blocks:
        return local_df(spark, [], out_schema)
    blocks_df = local_df(spark, blocks, "__blk INT, __ca INT, __cb INT")

    left = assigned.join(
        F.broadcast(blocks_df), assigned["__cell"] == blocks_df["__ca"]
    ).select("__blk", F.lit(0).alias("__side"), "__id", "__unit")
    right = assigned.join(
        F.broadcast(blocks_df.filter(F.col("__ca") != F.col("__cb"))),
        assigned["__cell"] == blocks_df["__cb"],
    ).select("__blk", F.lit(1).alias("__side"), "__id", "__unit")
    staged = left.unionByName(right)

    thr = min_cosine - 1e-12

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        l_mask = pdf["__side"].to_numpy() == 0
        L = np.array(list(pdf.loc[l_mask, "__unit"]), dtype=np.float64)
        lids = pdf.loc[l_mask, "__id"].to_numpy(dtype=np.int64)
        if l_mask.all():  # diagonal block: upper triangle of one cell
            sims = L @ L.T
            bi, bj = np.nonzero(sims >= thr)
            keep = lids[bi] < lids[bj]
            return pd.DataFrame(
                {"id_a": lids[bi][keep], "id_b": lids[bj][keep], "cosine": sims[bi, bj][keep]}
            )
        R = np.array(list(pdf.loc[~l_mask, "__unit"]), dtype=np.float64)
        rids = pdf.loc[~l_mask, "__id"].to_numpy(dtype=np.int64)
        if len(L) == 0 or len(R) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        sims = L @ R.T
        bi, bj = np.nonzero(sims >= thr)
        ia, ib, s = lids[bi], rids[bj], sims[bi, bj]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": s})

    return staged.groupBy("__blk").applyInPandas(kernel, out_schema)


def collapse_exact_duplicates(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[DataFrame, DataFrame]:
    """Duplicate-storm guard for pair generation: real corpora carry runs
    of byte-identical embeddings (boilerplate, empty docs, mirrored
    pages), and every ε-ball pair generator — exact, tiled, or
    LSH-bucketed — degrades quadratically ON the duplicated content
    (k copies → k² pairs before any threshold is applied). Collapsing
    each distinct embedding to its min-id REPRESENTATIVE first makes
    pair generation scale with the number of DISTINCT vectors, and is
    exactly semantics-preserving for connected-component dedup: copies
    of one embedding always form a clique (cosine 1 ≥ any threshold),
    each copy has identical similarity to every other vector, and the
    expanded component's min id equals the min over representative ids
    (each rep IS its group's min). Zero-norm embeddings are NOT
    collapsed (cosine is undefined for them, so the uncollapsed graph
    gives them no edges — each stays a singleton).

    Returns ``(reps, mapping)``: one row per distinct embedding (the
    min-id copy, original schema preserved), and the (id_col, __rep_id)
    expansion table. One hash shuffle keyed by the vector; nothing
    quadratic."""
    guard = (
        F.when(l2_norm(F.col(vec_col)) == 0, F.col(id_col))
        .otherwise(F.lit(-1))
        .alias("__zguard")
    )
    w = Window.partitionBy(vec_col, "__zguard")
    with_rep = (
        df.withColumn("__zguard", guard)
        .withColumn("__rep_id", F.min(id_col).over(w))
    )
    mapping = with_rep.select(id_col, "__rep_id")
    reps = with_rep.filter(F.col(id_col) == F.col("__rep_id")).drop(
        "__zguard", "__rep_id"
    )
    return reps, mapping


# per-Python-worker tile cache: workers are reused across tasks, so each
# process reads a given tile from storage once; bounded to the last tile
# (one ~tile_rows matrix per worker, per the operator's memory contract)
_TILE_CACHE: dict = {}


def _load_tile_matrix(tile_dir: str, id_col: str, vec_col: str):
    cached = _TILE_CACHE.get(tile_dir)
    if cached is not None:
        return cached
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(tile_dir, columns=[id_col, vec_col])
    ids = tbl[id_col].to_numpy(zero_copy_only=False).astype(np.int64)
    mat = _unit_rows(tbl[vec_col].to_pylist())
    _TILE_CACHE.clear()
    _TILE_CACHE[tile_dir] = (ids, mat)
    return ids, mat
