"""Vector distance/similarity as pure Catalyst expressions.

The reference's distance metric is L2 (HNSW index DDL ``DISTANCE=L2``,
reference src/tools/load.py:26); search is ``similarity_search_by_vector``
(src/rag/doc_embedder.py:196-220) executed inside OceanBase. Here the same
math is expressed with Spark higher-order functions (``zip_with`` +
``aggregate``), usable in any filter/join/window without a UDF.

They are NOT compiled: Spark 4.1 evaluates ``ZipWith`` and
``ArrayAggregate`` interpreted (``CodegenFallback``), element by element
— measured ~20 µs of executor time per 64-d pair (32 queries × 8000
rows: 1.3 s on local[4], a 4-core Xeon; numpy folds the same pairs in
~55 ms). Bulk top-k scans over a bounded query batch therefore run
through ``operators.topk.scan_topk``, which replays exactly this fold in
numpy (same bits) — cosine top-k included: ``knn_join(metric="cosine")``
ranks by ``cosine_distance`` and callers report ``1 - dist`` as the
similarity (exact for similarities ≥ 0.5, within 2.2e-16 below). These
expressions stay the definition, the DuckDB
oracles' twin, and the path of plans that score few pairs or cannot
collect the query side (radius joins, the IVF ``route="join"`` search,
re-scoring the final k rows).

All arithmetic is forced to DOUBLE with a left-to-right fold so results are
deterministic and reproducible bit-for-bit by any engine that sums in list
order (the DuckDB oracle does).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x: Column) -> Column:
    return x.cast("double")


def dot_product(a: Column, b: Column) -> Column:
    """Sum_i a[i]*b[i], double precision, list-order fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _d(x) * _d(y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def sq_l2_distance(a: Column, b: Column) -> Column:
    """Squared euclidean distance — cheaper than l2 and order-equivalent;
    use it for ranking, reserve the sqrt for reported values."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (_d(x) - _d(y)) * (_d(x) - _d(y))),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_distance(a: Column, b: Column) -> Column:
    """Euclidean distance, the reference's search metric (load.py:26)."""
    return F.sqrt(sq_l2_distance(a, b))


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_distance(a: Column, b: Column) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


def normalize(a: Column) -> Column:
    """Unit-normalize an ARRAY<FLOAT>/<DOUBLE> column (returns ARRAY<DOUBLE>).

    Pre-normalizing the corpus turns cosine top-k into a dot-product top-k —
    at 100 TB this halves the flops of every similarity scan.

    The norm is materialized ONCE per row via array_repeat, then each
    element divides by the repeated value — putting ``l2_norm(a)`` inside
    the transform lambda would re-run the full O(d) reduction per element
    (O(d²)/row, ~1M ops at 1024-d). Zero vectors pass through unchanged
    instead of yielding 0/0 nulls."""
    norm = l2_norm(a)
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    return F.zip_with(a, F.array_repeat(safe, F.size(a)), lambda x, n: _d(x) / n)


def mips_augment_corpus(a: Column, m2: float) -> Column:
    """Corpus side of the MIPS->L2 reduction (Bachrach et al. 2014):
    [x, sqrt(max(M^2 - ||x||^2, 0))] with M^2 the max squared norm over
    the indexed corpus. greatest(0, .) guards the max-norm row against a
    float-negative slack. Returns ARRAY<DOUBLE> of dim+1."""
    slack = F.greatest(
        F.lit(0.0).cast("double"), F.lit(float(m2)) - dot_product(a, a)
    )
    return F.concat(F.transform(a, _d), F.array(F.sqrt(slack)))


def mips_augment_query(a: Column) -> Column:
    """Query side of the MIPS->L2 reduction: [q, 0] — then
    ||x_hat - q_hat||^2 = ||q||^2 + M^2 - 2<x,q>, so the l2 walk ranks by
    descending inner product exactly."""
    return F.concat(F.transform(a, _d), F.array(F.lit(0.0).cast("double")))


def maxsim(q: Column, d: Column) -> Column:
    """ColBERT late-interaction MaxSim over multi-vector columns
    (ARRAY<ARRAY<FLOAT>> of per-token unit vectors): for each query token
    vector, the max dot product against any doc token vector; averaged
    over query tokens (FlagEmbedding's colbert_score normalizes by query
    length). Pure higher-order expressions — JVM-side, no Python.

    Determinism: the inner dot folds in element order, max is an exact
    comparison, and the outer sum folds in query-token order — so any
    engine replaying the same fold order reproduces the score bit-for-bit.
    """
    per_q = F.transform(
        q,
        lambda qt: F.coalesce(
            F.array_max(F.transform(d, lambda dt: dot_product(qt, dt))),
            F.lit(0.0).cast("double"),
        ),
    )
    total = F.aggregate(per_q, F.lit(0.0).cast("double"), lambda acc, x: acc + x)
    return F.when(F.size(q) > 0, total / F.size(q)).otherwise(F.lit(0.0).cast("double"))


DISTANCES = {
    "l2": l2_distance,
    "sq_l2": sq_l2_distance,
    "cosine": cosine_distance,
    "inner_product": lambda a, b: -dot_product(a, b),
}
