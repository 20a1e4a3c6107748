"""The declared query workload: every entry pairs a Spark DataFrame builder
with an equivalent ANSI-SQL oracle that DuckDB runs on the same parquet —
the driver's correctness gate (row-count + schema + order-insensitive
value-hash at sf0.01).

Float discipline (why every query looks the way it does):
 * Distances/similarities are computed in DOUBLE with a left-to-right fold
   over list order in BOTH engines (zip_with/aggregate ⟷ list_transform/
   list_reduce) → bit-identical, safe to round(6).
 * Large SUMs of doubles are order-dependent across engines → outputs are
   CAST(ROUND(sum) AS BIGINT) (error ≪ 0.5) or exact-in-double integer
   quantities. AVG of bounded values is safe at round(4).
 * Ranks order by (value, id) so ties never flip between engines.
 * Every computed column is aliased identically in Spark and SQL (driver
   hashes values under sorted column names).
 * SIGNED ZERO (the r10/r11 cosine-pin driver-red, root-caused r12):
   round() of a TINY NEGATIVE double (e.g. a self-match cosine dist of
   -2.2e-16) yields -0.0 in DuckDB but +0.0 in Spark. Python == treats
   them equal (local parity green) but the driver's value hash is
   bit-sensitive (driver red). tools/check_parity.py now FAILs any
   query whose raw outputs' per-column -0.0 counts differ between
   engines. Rules: never hash an engine-computed double whose value can
   be tiny-negative — either keep it out of the hashed projection and
   pin it as a boolean invariant against a constant oracle column (the
   cosine pins), or normalize with `+ 0.0` on BOTH sides (IEEE:
   -0.0 + 0.0 = +0.0).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chatbot_spark.functions.vector import l2_norm
from chatbot_spark.io.smallio import local_df
from chatbot_spark.io.tables import load_table, spread
from chatbot_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs
from chatbot_spark.operators.similarity import embedding_neardup_pairs
from chatbot_spark.operators.textstats import with_text_stats
from chatbot_spark.operators.topk import knn_join

QueryFn = Callable[[SparkSession, str], DataFrame]

SPARK_QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}
# name -> {"bench_skip", "sf1", "gateoff", "recheck_round"}: the one place
# bench.py, tools/bench_sf1.py and __spark_entry__.py read query lists from
QUERY_META: dict[str, dict] = {}


def query(
    name: str,
    oracle: str | None = None,
    *,
    bench_skip: str | None = None,
    sf1: bool = False,
    gateoff: bool = False,
    recheck_round: int | None = None,
):
    """Register a Spark query and its DuckDB oracle under ``name``.

    Keyword facts, read by the tools instead of hand-kept name lists:
      bench_skip: why bench.py leaves the query out of its headline suite
        (None = benched; every query is benched unless it says why not).
      sf1: time it in tools/bench_sf1.py's derived-sf1 suite. Never drop
        the flag: sf1 numbers compare entry by entry across rounds.
      gateoff: also time it in bench.py with every size gate forced to the
        distributed path (``<name>__gateoff`` keys).
      recheck_round: the round its semantics last changed; the driver
        rotation in __spark_entry__.py discounts oracle greens recorded at
        or before it, so the query is re-checked first.

    Raises ValueError when ``name`` is already registered.
    """
    if name in SPARK_QUERIES:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn: QueryFn) -> QueryFn:
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        QUERY_META[name] = {
            "bench_skip": bench_skip,
            "sf1": sf1,
            "gateoff": gateoff,
            "recheck_round": recheck_round,
        }
        return fn

    return deco


# shared bench_skip reasons
_DRAIN = "multi-batch streaming drain: times the replay harness, not the plan"
_ROUNDS = "driver-coordinated rounds: times the per-round job floor, not the plan"


# DuckDB L2 distance reproducing functions/vector.py bit-for-bit:
# double cast, squared diffs in list order, left-fold sum, sqrt.
_DUCK_L2 = (
    "sqrt(list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))^2), "
    "(acc, x) -> acc + x))"
)
_DUCK_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
    "(acc, x) -> acc + x)"
)
_DUCK_NORM = _DUCK_DOT.format(a="{a}", b="{a}")


def _queries_from_embeddings(spark: SparkSession, sf_dir: str, n: int = 10) -> DataFrame:
    """Deterministic query workload: the first n corpus vectors act as
    queries (FIXTURES.md §4's distance-0 sanity built in)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )


# --------------------------------------------------------------------------
# Vector search (SURVEY §2.I I4/I5, §2.E E1/E2, §2.C C1)
# --------------------------------------------------------------------------

@query(
    "knn_exact_l2",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist
FROM ranked WHERE rank <= 10
""",
)
def knn_exact_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: exact top-10 by L2 — the reference's similarity_search_by_vector
    (doc_embedder.py:196-220) with k=DEFAULT_SEARCH_LIMIT (ob.py:30)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    res = knn_join(q, emb, k=10, metric="l2", corpus_id="vec_id", corpus_vec="embedding")
    return res.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


@query(
    "hard_negatives",
    """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(1, len(q.qe)),
           i -> (CAST(q.qe[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))^2),
           (acc, x) -> acc + x) AS d2
  FROM q, embeddings c),
ranked AS (
  SELECT query_id, neighbor_id, d2,
         row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rank
  FROM pairs WHERE d2 > 0.25)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(sqrt(d2), 6) AS dist
FROM ranked WHERE rank <= 5
""",
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/topk.py::hard_negative_join) — the
    contrastive-training dataset constructor: per anchor, the 5 nearest
    corpus vectors OUTSIDE an exclusion radius of 0.5 (which removes the
    anchor itself at distance 0 and any near-duplicate/paraphrase — the
    false-negative class that poisons contrastive losses). The exclusion
    is pushed into the scan BEFORE ranking, so the result is exact even
    when an anchor has many near-dups (a top-k-then-filter would
    starve); both engines compare on the SQUARED fold so the boundary
    needs no sqrt-rounding agreement."""
    from chatbot_spark.operators.topk import hard_negative_join

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    res = hard_negative_join(
        q, emb, k=5, exclusion_radius=0.5, metric="l2",
        corpus_id="vec_id", corpus_vec="embedding",
    )
    return res.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


@query(
    "radius_search",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c
)
SELECT query_id, neighbor_id, round(d, 6) AS score
FROM pairs WHERE d <= 1.25
""",
)
def radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4 range-search mode (FAISS range_search / score-threshold
    retrieval): every corpus vector within L2 1.25 of each query — no k,
    no ranking window, just the broadcast-query scan with a pushed
    distance filter (embarrassingly parallel; the data-dependent output
    size is why no per-query window exists to skew). The distance fold
    is the same deterministic expression as knn_exact_l2, so the
    threshold comparison agrees bit-for-bit across engines."""
    from chatbot_spark.operators.topk import radius_join

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir, n=5)
    res = radius_join(
        q, emb, radius=1.25, metric="l2", corpus_id="vec_id", corpus_vec="embedding"
    )
    return res.select("query_id", "neighbor_id", F.round("score", 6).alias("score"))


@query(
    "knn_exact_cosine",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_DOT.format(a='q.qe', b='c.embedding')}
           / (sqrt({_DUCK_NORM.format(a='q.qe')}) * sqrt({_DUCK_NORM.format(a='c.embedding')})) AS s
  FROM q, embeddings c
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id ASC) AS rank,
         s
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(s, 6) AS sim
FROM ranked WHERE rank <= 10
""",
)
def knn_exact_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine variant of I4 (cosine is the conventional metric for text
    embeddings; the engine supports l2/cosine/inner_product). knn_join
    ranks by cosine distance; sim = 1 - dist."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    res = knn_join(
        q, emb, k=10, metric="cosine", corpus_id="vec_id", corpus_vec="embedding"
    )
    return res.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round(1.0 - F.col("dist"), 6).alias("sim"),
    )


@query(
    "knn_per_label_quota",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, c.label, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c
),
ranked AS (
  SELECT query_id, label, neighbor_id,
         row_number() OVER (PARTITION BY query_id, label ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, CAST(label AS BIGINT) AS label, neighbor_id,
       CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist
FROM ranked WHERE rank <= 4
""",
)
def knn_per_label_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/I8: per-partition fan-out search with quota — the reference's
    per-component search loop (rag_graph.py:365-417) as ONE windowed scan;
    k=4 = max(3, 13−3·3) for 3 components (rag_graph.py:371-375). `label`
    stands in for component_code."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir, n=5)
    qs = q.select(F.col("query_id").alias("__qid"), F.col("query_embedding").alias("__qvec"))
    from chatbot_spark.functions.vector import sq_l2_distance

    pairs = emb.join(F.broadcast(qs)).select(
        F.col("__qid").alias("query_id"),
        F.col("label"),
        F.col("vec_id").alias("neighbor_id"),
        sq_l2_distance(F.col("__qvec"), F.col("embedding")).alias("__rd"),
    )
    w = Window.partitionBy("query_id", "label").orderBy(F.col("__rd").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 4)
        .select(
            "query_id",
            F.col("label").cast("long").alias("label"),
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round(F.sqrt("__rd"), 6).alias("dist"),
        )
    )


@query(
    "vector_norms",
    f"""
SELECT vec_id, round(sqrt({_DUCK_NORM.format(a='embedding')}), 6) AS norm
FROM embeddings
""",
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector scalar math sanity: per-row L2 norm (zip_with/aggregate fold)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.round(l2_norm(F.col("embedding")), 6).alias("norm"))


@query(
    "embedding_neardup",
    f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_DUCK_DOT.format(a='a.embedding', b='b.embedding')}
         / (sqrt({_DUCK_NORM.format(a='a.embedding')}) * sqrt({_DUCK_NORM.format(a='b.embedding')})), 6) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND {_DUCK_DOT.format(a='a.embedding', b='b.embedding')}
      / (sqrt({_DUCK_NORM.format(a='a.embedding')}) * sqrt({_DUCK_NORM.format(a='b.embedding')})) >= 0.35
""",
    sf1=True,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: ε-ball similarity self-join (embedding-cosine near-dup) — the
    blocked-matmul operator: at or below NEARDUP_DRIVER_SOLVE_ROWS rows
    one chunked BLAS pair pass on the driver, above it parquet tiles plus
    one BLAS matmul per (Arrow batch × tile); both emit the same pair
    set. The expression-form operator embedding_neardup_pairs is its
    exact twin."""
    from chatbot_spark.operators.similarity import embedding_neardup_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    res = embedding_neardup_pairs_blocked(
        emb, id_col="vec_id", vec_col="embedding", min_cosine=0.35
    )
    return res.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@query(
    "semantic_dedup",
    f"""
WITH RECURSIVE
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
    AND {_DUCK_DOT.format(a='a.embedding', b='b.embedding')}
        / (sqrt({_DUCK_NORM.format(a='a.embedding')}) * sqrt({_DUCK_NORM.format(a='b.embedding')})) >= 0.35),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.a, r.r FROM sym s JOIN reach r ON s.b = r.id),
canon AS (SELECT id, min(r) AS canonical FROM reach GROUP BY id)
SELECT e.vec_id,
       CAST(coalesce(c.canonical, e.vec_id) AS BIGINT) AS canonical_id,
       CAST(CASE WHEN coalesce(c.canonical, e.vec_id) = e.vec_id THEN 1 ELSE 0 END AS INT) AS kept
FROM embeddings e LEFT JOIN canon c ON c.id = e.vec_id
""",
    sf1=True,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — embedding-space semantic dedup as
    one composed plan: exact blocked-cosine ε-ball self-join (J3) →
    connected components (J2's label propagation) → keep-min-id policy,
    emitted as a full (vec_id, canonical_id, kept) verdict table for
    every corpus row (singletons keep themselves).

    Scale shape: exact duplicates collapse to min-id representatives
    BEFORE pair generation (collapse_exact_duplicates — duplicate storms
    make any pair generator quadratic on the duplicated content; the
    collapse is exactly semantics-preserving for component dedup, see its
    docstring), the blocked exact operator generates rep pairs (on the
    driver at or below NEARDUP_DRIVER_SOLVE_ROWS reps, tiled above) so
    the DuckDB oracle can replicate the full graph bit-for-bit, and verdicts
    expand back through the (id, rep) mapping: the expanded component's
    min id IS the rep component's min id. At 100 TB swap the tiled
    generator for the LSH/IVF-bucketed one (same downstream). Reference
    has no semantic dedup; this is a §2.J beyond-reference training-data
    op."""
    from chatbot_spark.operators.dedup import resolve_duplicate_clusters
    from chatbot_spark.operators.similarity import (
        collapse_exact_duplicates,
        embedding_neardup_pairs_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    reps, mapping = collapse_exact_duplicates(
        emb.select("vec_id", "embedding"), id_col="vec_id", vec_col="embedding"
    )
    pairs = embedding_neardup_pairs_blocked(
        reps, id_col="vec_id", vec_col="embedding", min_cosine=0.35
    )
    clusters = resolve_duplicate_clusters(pairs.select("id_a", "id_b"))
    return (
        mapping.join(
            clusters.select(F.col("doc_id").alias("__rep_id"), "canonical_id"),
            "__rep_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce("canonical_id", F.col("__rep_id")).cast("long").alias("canonical_id"),
        )
        .withColumn("kept", (F.col("canonical_id") == F.col("vec_id")).cast("int"))
    )

@query(
    "semantic_dedup_bucketed",
    f"""
WITH RECURSIVE
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
    AND {_DUCK_DOT.format(a='a.embedding', b='b.embedding')}
        / (sqrt({_DUCK_NORM.format(a='a.embedding')}) * sqrt({_DUCK_NORM.format(a='b.embedding')})) >= 0.35),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.a, r.r FROM sym s JOIN reach r ON s.b = r.id),
canon AS (SELECT id, min(r) AS canonical FROM reach GROUP BY id)
SELECT e.vec_id,
       CAST(coalesce(c.canonical, e.vec_id) AS BIGINT) AS canonical_id,
       CAST(CASE WHEN coalesce(c.canonical, e.vec_id) = e.vec_id THEN 1 ELSE 0 END AS INT) AS kept
FROM embeddings e LEFT JOIN canon c ON c.id = e.vec_id
""",
    sf1=True,
)
def semantic_dedup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the cluster-blocked pair generator — the 100 TB
    composition: collapse exact duplicates → k-means cells + triangle-
    inequality cell-pair pruning (embedding_neardup_pairs_bucketed, whose
    pair set is provably EQUAL to the exact tiled operator's — the oracle
    is the same brute-force recursive-CTE as semantic_dedup) → connected
    components → expand verdicts. Compute is Σ_blocks |ci||cj| instead of
    N² over distinct reps; on clustered corpora at SemDeDup thresholds
    (τ ≥ 0.9) that is the sub-quadratic plan the tiled default is not."""
    from chatbot_spark.operators.dedup import resolve_duplicate_clusters
    from chatbot_spark.operators.similarity import (
        collapse_exact_duplicates,
        embedding_neardup_pairs_bucketed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    reps, mapping = collapse_exact_duplicates(
        emb.select("vec_id", "embedding"), id_col="vec_id", vec_col="embedding"
    )
    pairs = embedding_neardup_pairs_bucketed(
        reps, id_col="vec_id", vec_col="embedding", min_cosine=0.35, nlist=16
    )
    clusters = resolve_duplicate_clusters(pairs.select("id_a", "id_b"))
    return (
        mapping.join(
            clusters.select(F.col("doc_id").alias("__rep_id"), "canonical_id"),
            "__rep_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce("canonical_id", F.col("__rep_id")).cast("long").alias("canonical_id"),
        )
        .withColumn("kept", (F.col("canonical_id") == F.col("vec_id")).cast("int"))
    )


# --------------------------------------------------------------------------
# Text analysis + dedup (SURVEY §2.J J1/J2/J4, §2.H)
# --------------------------------------------------------------------------

_DUCK_TOKENS = "regexp_extract_all(lower({c}), '\\S+')"
_DUCK_STOP = {
    "en": "['the','a','of','and','in','to','is']",
    "es": "['el','la','de','los','que','y','es']",
    "de": "['der','die','das','und','ist','nicht']",
    "fr": "['le','la','les','des','est','et','une']",
}


def _duck_stophits(lang: str) -> str:
    return (
        f"len(list_filter({_DUCK_TOKENS.format(c='text')}, "
        f"t -> list_contains({_DUCK_STOP[lang]}, t)))"
    )


@query(
    "text_stats",
    f"""
WITH s AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '\\S+')) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
         len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
         length(text) AS n_chars,
         {_duck_stophits('en')} AS hits_en,
         {_duck_stophits('es')} AS hits_es,
         {_duck_stophits('de')} AS hits_de,
         {_duck_stophits('fr')} AS hits_fr,
         len(regexp_extract_all(text, '[一-鿿぀-ヿ가-힯]')) AS cjk,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
  FROM documents)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
       round(CAST(hits_en AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio_en,
       CASE WHEN cjk > 0 THEN 'zh'
            WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr AND hits_en > 0 THEN 'en'
            WHEN hits_es >= hits_de AND hits_es >= hits_fr AND hits_es > 0 THEN 'es'
            WHEN hits_de >= hits_fr AND hits_de > 0 THEN 'de'
            WHEN hits_fr > 0 THEN 'fr'
            ELSE 'unknown' END AS lang_pred,
       fingerprint
FROM s
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: token counting, punctuation/stopword ratios, n-gram-heuristic
    language ID, md5 fingerprint — all JVM-side expressions."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    res = with_text_stats(docs, "text")
    return res.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio_en", 6).alias("stopword_ratio_en"),
        "lang_pred",
        "fingerprint",
    )


@query(
    "dedup_exact",
    """
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
fp AS (
  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
  FROM doubled)
SELECT fingerprint, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
FROM fp GROUP BY fingerprint
""",
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: exact dedup by normalized-content hash. The corpus is doubled
    with shifted ids first so the dedup actually collapses something."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionAll(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    from chatbot_spark.operators.textstats import fingerprint as fp

    return (
        doubled.withColumn("fingerprint", fp(F.col("text")))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


@query(
    "incremental_exact_dedup",
    """
WITH fp AS (
  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
  FROM documents),
seen AS (SELECT DISTINCT f FROM fp WHERE doc_id < 300),
newb AS (
  SELECT doc_id, f FROM fp WHERE doc_id >= 300
  UNION ALL
  SELECT doc_id + 1000 AS doc_id, f FROM fp WHERE doc_id < 100),
w AS (SELECT doc_id, f, min(doc_id) OVER (PARTITION BY f) AS first_id FROM newb)
SELECT w.doc_id,
       CAST(CASE WHEN s.f IS NULL AND w.doc_id = w.first_id THEN 1 ELSE 0 END AS INT) AS kept
FROM w LEFT JOIN seen s ON s.f = w.f
""",
    sf1=True,
)
def incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental dedup (the production crawl shape): a new
    batch — fresh docs plus re-keyed copies of old docs, simulating a
    recrawl — dedups against the prior snapshot's fingerprints via a
    Bloom-filter prefilter (one distributed mergeable-sketch agg,
    broadcast; definitely-unseen rows skip the join entirely) + exact
    left-semi verify of the Bloom positives, then keep-first within the
    batch. The oracle replays the whole verdict table with plain joins;
    the non-Bloom engine path is pinned equal by
    test_incremental_dedup_bloom_equals_plain."""
    from chatbot_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seen = docs.filter(F.col("doc_id") < 300)
    new_batch = docs.filter(F.col("doc_id") >= 300).unionByName(
        docs.filter(F.col("doc_id") < 100).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
    )
    return incremental_dedup(
        new_batch, seen, text_col="text", id_col="doc_id"
    ).select("doc_id", "kept")


@query(
    "paragraph_dedup",
    """
WITH d AS (
  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM documents),
p AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ps)),
                               i -> struct_pack(pos := i, para := ps[i]))) AS s
  FROM d),
pp AS (SELECT doc_id, s.pos AS pos, s.para AS para FROM p),
ranked AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id ASC, pos ASC) AS rn
  FROM pp)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_kept,
       md5(string_agg(para, chr(10) || chr(10) ORDER BY pos ASC)) AS kept_hash
FROM ranked WHERE rn = 1
GROUP BY doc_id
""",
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 at paragraph granularity (the RefinedWeb/CCNet recipe): split
    every document on blank lines, keep only the globally FIRST occurrence
    of each exact paragraph (first = lowest (doc_id, position)), and
    reassemble what survives per document. Corpus-wide paragraph dedup is
    one groupBy-free window over the exploded paragraphs: rank occurrences
    per paragraph hash, keep rank 1 — the shuffle moves (hash, ids),
    never rebuilt documents. Emits a compact verdict (kept-paragraph count
    + md5 of the rebuilt text) per surviving doc."""
    paras = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), "\n\n")).alias("pos", "para"),
        )
    )
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy(
        F.col("doc_id").asc(), F.col("pos").asc()
    )
    kept = paras.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("para")))
                    ),
                    lambda s: s.para,
                ),
            )
        ).alias("kept_hash"),
    )


@query(
    "exact_substring_dedup",
    r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
),
wins AS (
  SELECT tk.doc_id, s, md5(array_to_string(toks[s:s+7], ' ')) AS h
  FROM tk, unnest(generate_series(1, n_tokens - 8 + 1)) AS t(s)
  WHERE n_tokens >= 8
),
dup AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, count(*) OVER (PARTITION BY h) AS cnt FROM wins
  ) WHERE cnt > 1
),
brk AS (
  SELECT doc_id, s,
         CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
                   OR s > lag(s) OVER (PARTITION BY doc_id ORDER BY s) + 8
              THEN 1 ELSE 0 END AS is_break
  FROM dup
),
isl AS (
  SELECT doc_id, s,
         sum(is_break) OVER (PARTITION BY doc_id ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM brk
),
spans AS (
  SELECT doc_id, min(s) AS st, max(s) + 7 AS en
  FROM isl GROUP BY doc_id, island
),
span_agg AS (
  SELECT doc_id, count(*) AS n_spans, sum(en - st + 1) AS dup_toks
  FROM spans GROUP BY doc_id
),
pos AS (
  SELECT tk.doc_id, i, toks[i] AS tok
  FROM tk, unnest(generate_series(1, n_tokens)) AS t(i)
),
kept AS (
  SELECT p.doc_id, md5(string_agg(p.tok, ' ' ORDER BY p.i)) AS km
  FROM pos p
  LEFT JOIN spans sp ON sp.doc_id = p.doc_id AND p.i BETWEEN sp.st AND sp.en
  WHERE sp.doc_id IS NULL
  GROUP BY p.doc_id
)
SELECT tk.doc_id,
       CAST(tk.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(sa.n_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(sa.dup_toks, 0) AS BIGINT) AS dup_tokens,
       coalesce(k.km, md5('')) AS kept_md5
FROM tk
LEFT JOIN span_agg sa ON sa.doc_id = tk.doc_id
LEFT JOIN kept k ON k.doc_id = tk.doc_id
""",
    sf1=True,
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2d: ExactSubstr duplicated-passage removal (Lee et al. 2021) —
    every 8-token shingle occurring more than once in the corpus marks a
    duplicated span; overlapping windows merge into maximal spans, which
    are then cut out of each document. Finer than paragraph_dedup (spans
    need not align to paragraphs), exact where MinHash is probabilistic.
    Verdict per doc: token count, merged-span count, duplicated-token
    count, and md5 of the span-removed reconstruction (whitespace-
    normalized) — so neither tokens nor rebuilt documents ever leave the
    executors. The oracle replays window-hash counting, island merge and
    the positional anti-join reconstruction in full."""
    from chatbot_spark.operators.dedup import duplicated_spans, remove_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    spans = duplicated_spans(docs, id_col="doc_id", text_col="text", window=8)
    # keep_spans_col: span stats read off the SAME plan as the removal —
    # without it the whole shingle pipeline evaluates twice (plan-audited)
    clean = remove_duplicated_spans(
        docs, spans, id_col="doc_id", text_col="text", keep_spans_col="spans"
    )
    return clean.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
        F.coalesce(F.size("spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce(
            F.aggregate(
                "spans",
                F.lit(0).cast("long"),
                lambda acc, b: acc + b["span_end"] - b["span_start"] + 1,
            ),
            F.lit(0),
        ).cast("long").alias("dup_tokens"),
        F.md5("clean_text").alias("kept_md5"),
    )


_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len({t}) - 2, 1)), "
    "i -> concat_ws(' ', {t}[i], {t}[i+1], {t}[i+2])))"
)


@query(
    "neardup_jaccard",
    f"""
WITH sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(t=_DUCK_TOKENS.format(c='text'))} AS shingles
  FROM documents WHERE doc_id < 200),
post AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.1
""",
)
def neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 oracle path: exact 3-gram Jaccard pairs via inverted shingle
    index (the verification operator behind MinHash LSH)."""
    docs = spread(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    )
    res = ngram_jaccard_pairs(docs, id_col="doc_id", text_col="text", shingle_n=3, threshold=0.1)
    return res.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "chunk_fixed",
    """
WITH s AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, greatest((length(text) - 1) // 100, 0)),
           i -> struct_pack(seq := i, chunk := substr(text, i * 100 + 1, 100)))) AS u
  FROM documents)
SELECT doc_id, CAST(u.seq AS BIGINT) AS chunk_seq, u.chunk AS chunk FROM s
""",
)
def chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: fixed-size sub-chunking (reference doc_processing.py:135-158,
    4096 chars there; 100 here so the test corpus actually splits) —
    sequence/transform/posexplode, zero UDF, lossless slices."""
    from chatbot_spark.operators.chunking import subchunk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    res = subchunk(docs, "text", max_chunk_size=100, seq_col="chunk_seq", out_col="chunk")
    return res.select("doc_id", F.col("chunk_seq").cast("long").alias("chunk_seq"), "chunk")

# --------------------------------------------------------------------------
# Relational operators over the TPC-H-ish tables (SURVEY §2.B/C/D/E/F/G —
# the SQL surface Catalyst gives the engine; oracles are classic ANSI SQL)
# --------------------------------------------------------------------------

@query(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_price_e4,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    sf1=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D: hash aggregation with partial (map-side) combine — TPC-H Q1 shape.
    Quantities are integral doubles → exact sums; money sums are rounded to
    BIGINT (see module float discipline)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            # price has 2 decimals / price*(1-disc) has 4 → scale to true
            # integers per row, then the BIGINT sum is exact in any order
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_cents"),
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
            ).alias("sum_disc_price_e4"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


@query(
    "top_orders_by_revenue",
    """
WITH rev AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
  FROM lineitem GROUP BY l_orderkey),
ranked AS (
  SELECT o.o_orderkey, o.o_orderpriority, c.c_mktsegment, rev.revenue_e4,
         row_number() OVER (ORDER BY rev.revenue_e4 DESC, o.o_orderkey ASC) AS rank
  FROM rev
  JOIN orders o ON o.o_orderkey = rev.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment = 'BUILDING')
SELECT o_orderkey, o_orderpriority, c_mktsegment, revenue_e4, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
""",
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C/E/F: agg → equi-join (Catalyst picks broadcast for the dim side) →
    global top-k (TakeOrderedAndProject). Rank orders by (revenue, key) so
    ties are stable; revenue pre-rounded to BIGINT before ranking."""
    li, orders, cust = (
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )
    rev = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
        ).alias("revenue_e4")
    )
    joined = (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .join(cust.filter(F.col("c_mktsegment") == "BUILDING"), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderpriority", "c_mktsegment", "revenue_e4")
    )
    w = Window.orderBy(F.col("revenue_e4").desc(), F.col("o_orderkey").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("o_orderkey", "o_orderpriority", "c_mktsegment", "revenue_e4", F.col("rank").cast("long").alias("rank"))
    )


@query(
    "revenue_by_nation",
    """
SELECT n.n_name, r.r_name,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY n.n_name, r.r_name
""",
    sf1=True,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C: multi-way join chain — fact-to-fact shuffle join (lineitem⋈orders)
    then broadcast-hash joins for the small dims (customer/nation/region),
    exactly the plan you want at 100 TB (verified in test_plans)."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "orders", "customer", "nation", "region")}
    return (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(t["region"]), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
            ).alias("revenue_e4"),
            F.count("*").alias("n_lineitems"),
        )
    )


@query(
    "customers_without_orders",
    """
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
FROM customer c
ANTI JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
    bench_skip="anti-join shape is timed by idle_rich_customers, null_aware_not_in",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C: anti join (NOT EXISTS) — left_anti in Spark."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "parts_ordered_semi",
    """
SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_parts
FROM part p
SEMI JOIN lineitem l ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
    bench_skip="semi-join shape is timed by bulk_part_suppliers",
)
def parts_ordered_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C: semi join (EXISTS) — left_semi in Spark."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


@query(
    "rollup_returns",
    """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D: ROLLUP grouping sets (subtotals + grand total); NULL group keys
    coalesced to 'ALL' so the hash compare is engine-agnostic."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), F.sum("l_quantity").cast("long").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


@query(
    "supplier_running_qty",
    """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(sum(l_quantity) OVER (
         PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty,
       CAST(row_number() OVER (
         PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS BIGINT) AS rn
FROM lineitem WHERE l_suppkey < 20
""",
)
def supplier_running_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E: window frame (running sum) + row_number with a total order —
    quantity is integral so the running sum is exact in double."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 20)
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long").alias("running_qty"),
        F.row_number().over(w).cast("long").alias("rn"),
    )

# --------------------------------------------------------------------------
# Events: time-series / sessionization / JSON ops (SURVEY §2.E/F/G/H; the
# batch shapes mirrored by chatbot_spark.streaming for Structured Streaming)
# --------------------------------------------------------------------------

@query(
    "events_hourly",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY 1, 2
""",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming hourly
    rollup in chatbot_spark.streaming.events)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            # value has 2 decimals → value*100 is a true integer → per-row
            # round is exact, BIGINT sum is exact (no .5-boundary flakiness)
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )


def _drained_event_rollup(spark: SparkSession, sf_dir: str, rollup_fn) -> DataFrame:
    """Shared drain harness for the batch-parity streaming rollups: stage
    events as a file-source stream, apply ``rollup_fn``, drain with
    AvailableNow in complete mode, return the result rows as a DataFrame
    (one copy of the mkdtemp/write/drain plumbing — each streaming twin
    adds only its rollup + column contract)."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import (
        read_event_stream,
        run_stream_once_complete,
    )

    base = tempfile.mkdtemp(prefix="cbs_stream_q_")
    inpath = os.path.join(base, "in")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(inpath)
    stream = rollup_fn(read_event_stream(spark, inpath))
    rows = run_stream_once_complete(stream, os.path.join(base, "ckpt"))
    return local_df(spark, rows, stream.schema)


# one definition for both the batch hopping window and its streaming
# twin — the COVERAGE contract is "same batch oracle, exact parity",
# which a silently-diverging copy would break
_HOPPING_ORACLE = """
WITH w AS (
  SELECT make_timestamp(epoch_us(ts) // 900000000 * 900000000 - j * 900000000)
           AS win_start,
         event_type, value
  FROM events, unnest(generate_series(0, 3)) AS t(j))
SELECT strftime(win_start, '%Y-%m-%d %H:%M:00') AS win_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM w
GROUP BY 1, 2
"""


@query("events_hopping_window", _HOPPING_ORACLE)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (sliding) window aggregation — 1-hour windows every 15
    minutes, the smoothing shape dashboards use where tumbling windows
    alias. Spark's window TVF replicates each row into its
    duration/slide = 4 overlapping windows in-stage (a Generate, never a
    materialized 4× copy); the oracle derives the same 4 slide-aligned
    window starts per event with integer µs arithmetic. Same exact-cents
    discipline as events_hourly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:00").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )


@query("stream_hopping_rollup", _HOPPING_ORACLE, bench_skip=_DRAIN)
def stream_hopping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_hopping_window: real readStream ->
    watermarked OVERLAPPING windows -> AvailableNow drain, hash-matched
    against the same batch oracle (exact parity). State is
    per-(window, type) x 4 overlapping generations; the watermark bounds
    open generations exactly as for tumbling windows."""
    from chatbot_spark.streaming.events import hopping_rollup

    df = _drained_event_rollup(spark, sf_dir, hopping_rollup)
    return df.select(
        "win_start", "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value_cents").cast("long").alias("sum_value_cents"),
    )


@query(
    "sessionize",
    """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged)
SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id
""",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap flag + running sum (30-min gap) — the
    classic batch form; the streaming twin is a session window with
    watermark (chatbot_spark.streaming)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800),
            1,
        ).otherwise(0),
    )
    ws = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(ws))
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "events_json_extract",
    """
SELECT event_type,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
    bench_skip="JSON hop is timed by json_roundtrip",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H8 analog: JSON field extraction + aggregation (props is a JSON
    string column, like the reference's metadata JSON)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count("*").alias("n"),
    )


@query(
    "top_events_per_user",
    """
WITH ranked AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
  FROM events)
SELECT user_id, event_id, value, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
)
def top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E: per-group top-k (no arithmetic on value → raw doubles hash-safe)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "value", F.col("rank").cast("long").alias("rank"))
    )


@query(
    "users_click_and_purchase",
    """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
    bench_skip="set-op shape is timed by user_segments_setops",
)
def users_click_and_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G: INTERSECT set op."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


@query(
    "user_days_click_not_purchase",
    """
SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
FROM events WHERE event_type = 'purchase'
""",
    bench_skip="set-op shape is timed by user_segments_setops",
)
def user_days_click_not_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G: EXCEPT set op at (user, day) grain (subtract = EXCEPT DISTINCT;
    exceptAll would be bag semantics)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "day")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", "day")
    return clicks.subtract(buys)


@query(
    "event_type_pivot",
    """
SELECT user_id % 100 AS user_bucket,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS views,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchases,
       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signups,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS errors
FROM events GROUP BY 1
""",
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D: pivot-style conditional aggregation (FILTER/CASE counts)."""
    ev = load_table(spark, sf_dir, "events").withColumn("user_bucket", F.col("user_id") % 100)
    agg = ev.groupBy("user_bucket").pivot(
        "event_type", ["click", "view", "purchase", "signup", "error"]
    ).count()
    return agg.select(
        "user_bucket",
        F.coalesce("click", F.lit(0)).alias("clicks"),
        F.coalesce("view", F.lit(0)).alias("views"),
        F.coalesce("purchase", F.lit(0)).alias("purchases"),
        F.coalesce("signup", F.lit(0)).alias("signups"),
        F.coalesce("error", F.lit(0)).alias("errors"),
    )


@query(
    "approx_distinct_users",
    """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       1 AS within_slo
FROM events GROUP BY event_type
""",
    bench_skip="HLL shape is timed by incremental_distinct_hll",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: approx_count_distinct (HyperLogLog++). Raw sketch estimates are
    engine-specific by construction, so — like the seed-dependent ANN
    queries — the driver oracle asserts the INVARIANT instead: the exact
    distinct count (portable) plus a thresholded relative-error flag.
    rsd=0.05 is a relative STANDARD DEVIATION, not a bound, so the
    threshold is 3×rsd (15%) — ~3σ, safe across scale factors — rather
    than baking the 1σ value into a hard oracle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id").cast("double")
                - F.countDistinct("user_id").cast("double")
            )
            / F.countDistinct("user_id")
            <= 0.15
        )
        .cast("int")
        .alias("within_slo"),
    )

# --------------------------------------------------------------------------
# ANN + MinHash (SURVEY §2.I I6, §2.J J2 — index-accelerated variants; the
# exact operators above are their oracles)
# --------------------------------------------------------------------------

def _ann_recall_summary(approx: DataFrame, exact: DataFrame, slo: float = 0.95) -> DataFrame:
    """Driver-checkable ANN invariant: approximate results are seed-dependent,
    but the BASELINE.md SLO (recall@10 ≥ 0.95 vs the exact scan) is not.
    Emit the thresholded recall plus structural counts as ONE row that a
    constant SQL oracle can assert. All aggregation stays in the plan — no
    driver-side collect."""
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    hits = e.join(a, ["query_id", "neighbor_id"], "inner")
    return (
        e.agg(F.count("*").alias("__n_exact"))
        .crossJoin(hits.agg(F.count("*").alias("__n_hit")))
        .crossJoin(
            a.agg(
                F.countDistinct("query_id").alias("n_queries"),
                F.count("*").alias("n_rows"),
            )
        )
        .select(
            (F.col("__n_hit") / F.col("__n_exact") >= F.lit(slo)).cast("int").alias("recall_ok"),
            "n_queries",
            "n_rows",
        )
    )


@query(
    "ivf_knn",
    """
SELECT 1 AS recall_ok, CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_rows
""",
    bench_skip="bundles build + exact recall check; timed as ivf_build/ivf_search",
)
def ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6: IVF (KMeans-cell) ANN search — batch analog of the reference's
    HNSW beam search (load.py:26). Scans only nprobe/nlist of the corpus.
    The result set is kmeans-seed-dependent, so the driver oracle asserts
    the recall SLO (≥ 0.95 @ k=10 vs the exact scan, recomputed in-plan)
    rather than the raw neighbor lists; the full-probe variant below pins
    the machinery bit-for-bit."""
    from chatbot_spark.operators.ann import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    # nlist=8/nprobe=7 meets recall ≥ 0.95 on the uniform-random test
    # vectors (worst case for IVF — no cluster structure to prune on);
    # clustered real corpora prune much harder at the same recall.
    index = IVFIndex.build(emb, vec_col="embedding", id_col="vec_id", nlist=8)
    approx = index.search(q, k=10, nprobe=7)
    exact = knn_join(q, emb, k=10, metric="l2", corpus_id="vec_id", corpus_vec="embedding")
    return _ann_recall_summary(approx, exact)


@query(
    "ivf_knn_fullprobe",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist
FROM ranked WHERE rank <= 10
""",
    bench_skip="bundles an IVF build; timed as ivf_build/ivf_search",
)
def ivf_knn_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 correctness envelope, oracle-checked: IVF search probing EVERY
    cell must equal the exact scan bit-for-bit (same fold order, same
    (dist, id) tie-break) — the index only ever prunes, never perturbs.
    Since r11, nprobe >= nlist on the broadcast route takes the
    routing-free fast path (one broadcast-query scan — the shortlist
    machinery buys nothing at full width), so this pins fit + assignment
    + the fast-path scan against the exact-knn SQL oracle; the shortlist
    / cell-join machinery is pinned bit-for-bit by the route="join"
    equivalence tests in tests/test_ann.py, and the pruned nprobe<nlist
    path is recall-gated there."""
    from chatbot_spark.operators.ann import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    index = IVFIndex.build(emb, vec_col="embedding", id_col="vec_id", nlist=8)
    res = index.search(q, k=10, nprobe=8)
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


@query(
    "graph_knn",
    """
SELECT 1 AS recall_ok, CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_rows
""",
    bench_skip="bundles build + exact recall check; timed as nsw_build/nsw_search",
    recheck_round=14,  # NSW build: f32 candidate selection
)
def graph_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6: sharded NSW graph ANN — the direct batch analog of the
    reference's HNSW index (M=16/EF_CONSTRUCTION=256/EF_SEARCH=64,
    load.py:26): coarse k-means shards + one navigable-small-world graph
    per shard, beam-searched executor-side for the nprobe routed shards.
    Seed-dependent like ivf_knn, so the driver oracle asserts the recall
    SLO (≥ 0.95 @ k=10 vs the exact scan, recomputed in-plan); the
    fullprobe variant below pins the machinery bit-for-bit."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    index = NSWGraphIndex.build(
        emb, vec_col="embedding", id_col="vec_id", nlist=8, m=16,
        ef_construction=256,
    )
    approx = index.search(q, k=10, nprobe=7, ef_search=64)
    exact = knn_join(q, emb, k=10, metric="l2", corpus_id="vec_id", corpus_vec="embedding")
    return _ann_recall_summary(approx, exact)


@query(
    "graph_knn_fullprobe",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist
FROM ranked WHERE rank <= 10
""",
    bench_skip="bundles build + exact check; timed as nsw_build/nsw_search",
    recheck_round=14,  # NSW build: f32 candidate selection
)
def graph_knn_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 correctness envelope for the graph index, oracle-checked:
    probing EVERY shard with an unbounded beam must equal the exact scan
    — the NSW graph is connected by construction (each node links into
    the reachable component at insertion), so ef_search ≥ shard size
    walks every node and the index only prunes, never perturbs."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    index = NSWGraphIndex.build(
        emb, vec_col="embedding", id_col="vec_id", nlist=4, m=8,
        ef_construction=64,
    )
    # exact_fallback=False: this pin certifies the BEAM WALK machinery
    # bit-for-bit; the r11 exact-mode fast path has its own pins/tests
    res = index.search(
        q, k=10, nprobe=4, ef_search=1_000_000, exact_fallback=False
    )
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


@query(
    "ivf_append_fullprobe",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist
FROM ranked WHERE rank <= 10
""",
    bench_skip="bundles two IVF builds; timed as ivf_build/ivf_search",
)
def ivf_append_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 index MAINTENANCE, oracle-checked: build IVF on half the corpus,
    ``append`` the other half against the frozen centroids (no refit — the
    FAISS add-after-train contract), then full-probe search the grown
    index. Must equal the exact scan over the whole corpus: append only
    adds rows to cells, never perturbs rankings."""
    from chatbot_spark.operators.ann import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    index = IVFIndex.build(
        emb.filter(F.col("vec_id") % 2 == 0),
        vec_col="embedding", id_col="vec_id", nlist=8,
    )
    grown = index.append(emb.filter(F.col("vec_id") % 2 == 1))
    res = grown.search(q, k=10, nprobe=8)
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


@query(
    "graph_knn_maintained",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist
FROM ranked WHERE rank <= 10
""",
    bench_skip="three OPTIMIZE cycles: times the maintenance harness, not a plan",
    recheck_round=14,  # NSW build: f32 candidate selection
)
def graph_knn_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 cross-run index MAINTENANCE, oracle-checked (round-5 verdict
    item 8): the corpus arrives as 3 batches through nsw_optimize_cycle
    (operators/hnsw.py) — per cycle: load CURRENT version → append into
    touched shards → shard-size-driven rebalance (max_shard_rows forces
    real re-splits as the index grows) → versioned commit with ANALYZE
    stats → vacuum to the retention window. Full-probe search with an
    unbounded beam over the final committed version must equal the
    exact scan over the whole corpus: the whole maintenance loop only
    moves rows between shards and versions, never loses or duplicates
    one."""
    import shutil
    import tempfile

    from chatbot_spark.operators.hnsw import nsw_optimize_cycle

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    n = emb.count()
    state_dir = tempfile.mkdtemp(prefix="cbs_nsw_opt_")
    try:
        idx = None
        for b in range(3):
            idx = nsw_optimize_cycle(
                spark,
                state_dir,
                emb.filter(F.col("vec_id") % 3 == b),
                vec_col="embedding",
                id_col="vec_id",
                nlist=2,
                m=8,
                ef_construction=64,
                # ~n/6 per shard: the 2 initial shards hold ~n/6 rows
                # after batch 0 and MUST split by the final cycle
                max_shard_rows=max(64, n // 6),
                keep_versions=2,
            )
        res = idx.search(
            q, k=10, nprobe=1_000_000, ef_search=1_000_000
        ).select(
            "query_id", "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("dist", 6).alias("dist"),
        )
        rows = res.collect()
        out = local_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    return out


_DUCK_MINHASH_K = 6


def _duck_minhash_sig_cols() -> str:
    return ",\n       ".join(
        f"min(md5('{j}:' || s)) AS sig_{j}" for j in range(_DUCK_MINHASH_K)
    )


@query(
    "minhash_signatures",
    f"""
WITH sh AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES.format(t=_DUCK_TOKENS.format(c='text'))}) AS s
  FROM documents WHERE doc_id < 100)
SELECT doc_id,
       {_duck_minhash_sig_cols()}
FROM sh GROUP BY doc_id
""",
    bench_skip="signatures are timed inside minhash_lsh_neardup",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: portable MinHash signatures — md5 hash family means any engine
    reproduces the signature bit-for-bit (the property the LSH band join
    relies on)."""
    from chatbot_spark.operators.dedup import minhash_signature

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sig = docs.select(
        "doc_id",
        minhash_signature(F.col("text"), num_hashes=_DUCK_MINHASH_K, shingle_n=3).alias("sig"),
    )
    return sig.select(
        "doc_id",
        *[F.element_at("sig", j + 1).alias(f"sig_{j}") for j in range(_DUCK_MINHASH_K)],
    )


@query(
    "minhash_lsh_neardup",
    f"""
WITH sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(t=_DUCK_TOKENS.format(c='text'))} AS shingles
  FROM documents WHERE doc_id < 200),
sigs AS (
  SELECT doc_id,
         [ {', '.join(f"list_min(list_transform(shingles, s -> md5('{j}:' || s)))" for j in range(_DUCK_MINHASH_K))} ] AS sig
  FROM sh),
bands AS (
  SELECT doc_id, unnest([ {', '.join(f"md5(concat_ws('|', '{b}', sig[{2*b+1}], sig[{2*b+2}]))" for b in range(_DUCK_MINHASH_K // 2))} ]) AS bh
  FROM sigs),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bh = b.bh AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM verified WHERE jaccard >= 0.1
""",
)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 full pipeline: MinHash signature → LSH bands (3 bands × 2 rows) →
    bucket-join candidates → exact-Jaccard verification. The md5 hash
    family makes even the BANDING reproducible by the oracle — both engines
    must produce the same candidate set, not just the same verified set."""
    from chatbot_spark.operators.dedup import minhash_lsh_pairs

    docs = spread(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    )
    res = minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text",
        num_hashes=_DUCK_MINHASH_K, bands=_DUCK_MINHASH_K // 2, shingle_n=3,
        jaccard_threshold=0.1,
    )
    return res.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

# --------------------------------------------------------------------------
# SimHash (SURVEY §2.J J2 — the third dedup family; md5-derived bits make
# even the 64-bit signature reproducible by the oracle)
# --------------------------------------------------------------------------

# hex → int for an 8-hex-char string, pure SQL (DuckDB lacks conv()):
# sum of digit_value * 16^(8-d) over the 8 positions, exact in DOUBLE.
# _DUCK_HEX8 takes any 8-char hex expression; _DUCK_HEXWORD is its
# md5-at-offset form (one definition — the arithmetic must never fork).
_DUCK_HEX8 = (
    "list_reduce(list_transform(generate_series(1, 8), "
    "d -> (strpos('0123456789abcdef', substr({h}, d, 1)) - 1) "
    "* 2^(4*(8-d))), (a, x) -> a + x)"
)
_DUCK_HEXWORD = _DUCK_HEX8.format(h="substr(md5({t}), {off}, 8)")


@query(
    "simhash_neardup",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS.format(c='text')}) AS t
  FROM documents WHERE doc_id < 200),
h AS (
  SELECT doc_id,
         {_DUCK_HEXWORD.format(t='t', off=1)} AS w1,
         {_DUCK_HEXWORD.format(t='t', off=9)} AS w2
  FROM tok),
votes AS (
  SELECT doc_id, g.b,
         sum(CASE WHEN CAST(floor((CASE WHEN g.b < 32 THEN w1 ELSE w2 END)
                   / 2^(g.b % 32)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, generate_series(0, 63) g(b)
  GROUP BY doc_id, g.b),
bits AS (
  SELECT doc_id,
         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS s
  FROM votes GROUP BY doc_id),
ham AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_filter(generate_series(1, 64),
                         p -> substr(a.s, p, 1) <> substr(b.s, p, 1))) AS hamming
  FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= 8
""",
    sf1=True,
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (SimHash family): 64-bit md5-derived simhash → block-LSH
    candidates (n_blocks = max_hamming+1 default → pigeonhole-complete) →
    exact hamming verify ≤ 8. The oracle is the brute-force ALL-PAIRS
    hamming scan — deliberately NOT a reproduction of the block pruning,
    so a candidate-generation recall bug (the failure mode of
    under-blocked LSH) shows up as a hash mismatch here."""
    from chatbot_spark.operators.dedup import simhash_pairs

    docs = spread(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    )
    res = simhash_pairs(docs, max_hamming=8, n_bits=64)
    return res.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@query(
    "lsh_knn",
    """
SELECT 1 AS recall_ok, CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_rows
""",
    bench_skip="bundles an LSH fit and the in-plan exact recall check",
)
def lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 (LSH family): MLlib BucketedRandomProjectionLSH bucket-join
    top-k — the reference's euclidean metric (load.py:26 DISTANCE=L2).
    Seeded random hyperplanes aren't portable SQL, so the driver oracle
    asserts the recall SLO (≥ 0.95 @ k=10 vs the in-plan exact scan)."""
    from chatbot_spark.operators.ann import BRPIndex

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    index = BRPIndex.build(
        emb, vec_col="embedding", id_col="vec_id", bucket_length=2.0, num_hash_tables=6
    )
    approx = index.search(q, k=10)
    exact = knn_join(q, emb, k=10, metric="l2", corpus_id="vec_id", corpus_vec="embedding")
    return _ann_recall_summary(approx, exact)

# --------------------------------------------------------------------------
# Hybrid rerank (SURVEY §2.I I7, §2.D D4, §2.E E3/E4) — three lexical
# similarity signals fused with the reference's 0.3/0.2/0.5 weights
# --------------------------------------------------------------------------

_DUCK_NGRAMS = (
    "list_distinct(list_transform(generate_series(1, greatest(len({t}) - {nm1}, 1)), "
    "i -> concat_ws(' ', {parts})))"
)


def _duck_ngrams(t: str, n: int) -> str:
    parts = ", ".join(f"{t}[i+{j}]" for j in range(n))
    return _DUCK_NGRAMS.format(t=t, nm1=n - 1, parts=parts)


@query(
    "hybrid_rerank",
    f"""
WITH q AS (
  SELECT doc_id AS query_id,
         {_duck_ngrams(_DUCK_TOKENS.format(c='text'), 3)} AS tri,
         list_distinct({_DUCK_TOKENS.format(c='text')}) AS uni,
         {_duck_ngrams(_DUCK_TOKENS.format(c='text'), 2)} AS bi
  FROM documents WHERE doc_id < 5),
c AS (
  SELECT doc_id AS neighbor_id,
         {_duck_ngrams(_DUCK_TOKENS.format(c='text'), 3)} AS tri,
         list_distinct({_DUCK_TOKENS.format(c='text')}) AS uni,
         {_duck_ngrams(_DUCK_TOKENS.format(c='text'), 2)} AS bi
  FROM documents WHERE doc_id < 100),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         CAST(len(list_intersect(q.tri, c.tri)) AS DOUBLE) / len(list_distinct(list_concat(q.tri, c.tri))) AS dense,
         CAST(len(list_intersect(q.uni, c.uni)) AS DOUBLE) / len(list_distinct(list_concat(q.uni, c.uni))) AS sparse,
         CAST(len(list_intersect(q.bi, c.bi)) AS DOUBLE) / len(list_distinct(list_concat(q.bi, c.bi))) AS colbert
  FROM q, c),
fused AS (
  SELECT query_id, neighbor_id,
         0.3 * dense + 0.2 * sparse + 0.5 * colbert AS score
  FROM scored),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rerank_rank
  FROM fused)
SELECT query_id, neighbor_id, CAST(rerank_rank AS BIGINT) AS rerank_rank,
       round(score, 6) AS score
FROM ranked WHERE rerank_rank <= 10
""",
)
def hybrid_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7/D4/E3: hybrid rerank with the reference's weight fusion
    (bge.py:29-32 — dense .3 / sparse .2 / colbert .5). The three signals
    here are lexical jaccards at trigram/unigram/bigram granularity (the
    deterministic stand-ins for dense/sparse/colbert model scores)."""
    from chatbot_spark.operators.dedup import shingles
    from chatbot_spark.operators.rerank import fuse_scores, rerank
    from chatbot_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")

    def feat(df, id_alias):
        return df.select(
            F.col("doc_id").alias(id_alias),
            shingles(F.col("text"), 3).alias(f"{id_alias}_tri"),
            F.array_distinct(tokens(F.col("text"))).alias(f"{id_alias}_uni"),
            shingles(F.col("text"), 2).alias(f"{id_alias}_bi"),
        )

    q = feat(docs.filter(F.col("doc_id") < 5), "query_id")
    c = feat(docs.filter(F.col("doc_id") < 100), "neighbor_id")

    def jac(a, b):
        return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))

    pairs = c.join(F.broadcast(q)).select(
        "query_id", "neighbor_id",
        fuse_scores(
            jac(F.col("query_id_tri"), F.col("neighbor_id_tri")),
            jac(F.col("query_id_uni"), F.col("neighbor_id_uni")),
            jac(F.col("query_id_bi"), F.col("neighbor_id_bi")),
        ).alias("score"),
    )
    res = rerank(pairs, query_id="query_id", score_col="score", keep=10)
    return res.select(
        "query_id", "neighbor_id",
        F.col("rerank_rank").cast("long").alias("rerank_rank"),
        F.round("score", 6).alias("score"),
    )

# --------------------------------------------------------------------------
# Temporal / range joins (operators.joins — beyond-reference §2.C scope)
# --------------------------------------------------------------------------

@query(
    "asof_purchase_click",
    """
WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts AS cts, event_id AS click_id FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.ts, p.value, c.cts AS last_click_ts, c.click_id
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.cts
""",
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): every purchase matched to the user's most
    recent prior click. Executed as ONE shuffle (union + running
    last-non-null window) — no range explosion; the oracle is DuckDB's
    native ASOF JOIN."""
    from chatbot_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    res = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="cts",
        right_cols=["click_id"],
    )
    return res.select(
        "event_id", "user_id", "ts", "value",
        F.col("asof_cts").alias("last_click_ts"), "click_id",
    )


@query(
    "range_join_price_bands",
    """
WITH bands(band, lo, hi) AS (
  VALUES ('b900', 900.0, 925.0), ('b925', 925.0, 950.0),
         ('b950', 950.0, 975.0), ('b975', 975.0, 1000.0))
SELECT b.band, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CAST(round(p.p_retailprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM part p JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
GROUP BY b.band
""",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: facts × broadcast interval dimension, non-equi
    predicate evaluated map-side — the fact table never shuffles for the
    join; only the 4-group aggregation does.

    The interval dim is built with SQL VALUES (a JVM LocalTableScan). A
    list-backed ``spark.createDataFrame`` would plan as ``Scan
    ExistingRDD`` over a PythonRDD and pay a Python-worker round trip on
    every execution (the r2 bench regression on this entry) — the cost
    behind the engine-wide rule that driver rows enter a plan only via
    ``io.smallio.local_df`` (Arrow, a LocalTableScan)."""
    from chatbot_spark.operators.joins import range_join

    part = load_table(spark, sf_dir, "part")
    bands = spark.sql(
        "SELECT * FROM VALUES ('b900', 900.0D, 925.0D), ('b925', 925.0D, 950.0D), "
        "('b950', 950.0D, 975.0D), ('b975', 975.0D, 1000.0D) AS t(band, lo, hi)"
    )
    res = range_join(part, bands, value_col="p_retailprice", how="inner")
    return res.groupBy("band").agg(
        F.count("*").alias("n_parts"),
        F.sum(F.round(F.col("p_retailprice") * 100).cast("long")).alias("sum_price_cents"),
    )

# --------------------------------------------------------------------------
# Window families not yet covered: lag/lead, ntile, cube (§2.E/§2.D —
# Catalyst builtins surfaced as checked queries)
# --------------------------------------------------------------------------

@query(
    "events_lag_lead",
    """
WITH e AS (SELECT event_id, user_id, ts, event_type FROM events WHERE user_id < 20)
SELECT event_id, user_id, event_type,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
       lead(event_type) OVER w AS next_type
FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
""",
)
def events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E: lag/lead — per-user inter-event gap (exact integer microseconds)
    and next event type."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id", "user_id", "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "customer_ntile",
    """
SELECT c_custkey, c_mktsegment,
       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal ASC, c_custkey ASC) AS BIGINT) AS balance_quartile
FROM customer
""",
)
def customer_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E: ntile — account-balance quartiles within market segment
    (deterministic tie order by key)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey", "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("balance_quartile"),
    )


@query(
    "orders_cube",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_cents
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D: CUBE grouping sets over (status, priority) — subtotals + grand
    total in one pass (partial aggregation per grouping set)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_total_cents"),
    )

# --------------------------------------------------------------------------
# Markdown / URL rewrites (§2.H H4/H5) as checked queries
# --------------------------------------------------------------------------

@query(
    "setext_atx",
    r"""
WITH md AS (
  SELECT doc_id,
         'Doc ' || doc_id || chr(10) || '====' || chr(10) ||
         'Section ' || source || chr(10) || '----' || chr(10) ||
         substr(text, 1, 80) AS md_text
  FROM documents WHERE doc_id < 100)
SELECT doc_id,
       regexp_replace(
         regexp_replace(md_text, '(?m)^(\S[^\n]*)\n=+[ \t]*$', '# \1', 'g'),
         '(?m)^(\S[^\n]*)\n-+[ \t]*$', '## \1', 'g') AS atx_text
FROM md
""",
)
def setext_atx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4: setext→ATX heading rewrite (reference convert_headings.py:18-19)
    over synthesized setext markdown."""
    from chatbot_spark.operators.chunking import setext_to_atx

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    md = docs.select(
        "doc_id",
        F.concat(
            F.lit("Doc "), F.col("doc_id").cast("string"), F.lit("\n====\n"),
            F.lit("Section "), F.col("source"), F.lit("\n----\n"),
            F.substring("text", 1, 80),
        ).alias("md_text"),
    )
    return md.select("doc_id", setext_to_atx(F.col("md_text")).alias("atx_text"))


@query(
    "doc_url_rewrite",
    r"""
WITH paths AS (
  SELECT doc_id,
         '/clones/' || (CASE WHEN doc_id % 3 = 0 THEN 'oceanbase-doc'
                             WHEN doc_id % 3 = 1 THEN 'ocp-doc'
                             ELSE 'ob-operator' END)
         || '/docs/' || source || '/' || doc_id || '.md' AS path
  FROM documents WHERE doc_id < 100)
SELECT doc_id,
       CASE
         WHEN regexp_matches(path, '^.*?oceanbase-doc/([^#]*)$')
           THEN regexp_replace(path, '^.*?oceanbase-doc/([^#]*)$',
                'https://github.com/oceanbase/oceanbase-doc/blob/V4.3.4/\1')
         WHEN regexp_matches(path, '^.*?ocp-doc/([^#]*)$')
           THEN regexp_replace(path, '^.*?ocp-doc/([^#]*)$',
                'https://github.com/oceanbase/ocp-doc/blob/V4.3.0/\1')
         WHEN regexp_matches(path, '^.*?oms-doc/([^#]*)$')
           THEN regexp_replace(path, '^.*?oms-doc/([^#]*)$',
                'https://github.com/oceanbase/oms-doc/blob/V4.2.5/\1')
         WHEN regexp_matches(path, '^.*?obd-doc/([^#]*)$')
           THEN regexp_replace(path, '^.*?obd-doc/([^#]*)$',
                'https://github.com/oceanbase/obd-doc/blob/V2.10.0/\1')
         WHEN regexp_matches(path, '^.*?ob-operator/([^#]*)$')
           THEN regexp_replace(path, '^.*?ob-operator/([^#]*)$',
                'https://github.com/oceanbase/ob-operator/blob/master/\1')
         WHEN regexp_matches(path, '^.*?odp-doc/([^#]*)$')
           THEN regexp_replace(path, '^.*?odp-doc/([^#]*)$',
                'https://github.com/oceanbase/odp-doc/blob/V4.3.2/\1')
         WHEN regexp_matches(path, '^.*?odc-doc/([^#]*)$')
           THEN regexp_replace(path, '^.*?odc-doc/([^#]*)$',
                'https://github.com/oceanbase/odc-doc/blob/V4.3.2/\1')
         ELSE path END AS url
FROM paths
""",
)
def doc_url_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5: first-matching-rule doc-URL rewrite (reference ob.py:53-64,
    81-93) over synthesized clone paths."""
    from chatbot_spark.functions.text import rewrite_doc_url

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    paths = docs.select(
        "doc_id",
        F.concat(
            F.lit("/clones/"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("oceanbase-doc"))
            .when(F.col("doc_id") % 3 == 1, F.lit("ocp-doc"))
            .otherwise(F.lit("ob-operator")),
            F.lit("/docs/"), F.col("source"), F.lit("/"),
            F.col("doc_id").cast("string"), F.lit(".md"),
        ).alias("path"),
    )
    return paths.select("doc_id", rewrite_doc_url(F.col("path")).alias("url"))

# --------------------------------------------------------------------------
# Multimodal plumbing (§2.J J5) as a checked query — binary columns +
# mapInPandas feature extraction (decode kernel is the documented
# deterministic fake; schema/batch plumbing is the real thing)
# --------------------------------------------------------------------------

_DUCK_MD5BYTE = (
    "((strpos('0123456789abcdef', substr(md5({t}), {p}, 1)) - 1) * 16 "
    "+ (strpos('0123456789abcdef', substr(md5({t}), {p} + 1, 1)) - 1))"
)


@query(
    "media_features",
    f"""
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha,
       CAST(64 + {_DUCK_MD5BYTE.format(t='text', p=1)} % 192 AS BIGINT) AS width,
       CAST(64 + {_DUCK_MD5BYTE.format(t='text', p=3)} % 192 AS BIGINT) AS height
FROM documents WHERE doc_id < 100
""",
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: binary media column → mapInPandas decode/feature kernel.
    Text bytes stand in for image payloads; the fake decoder derives
    dimensions from the md5 digest (multimodal.py), which the oracle
    reproduces byte-for-byte."""
    from chatbot_spark.operators.multimodal import extract_image_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("image/fake").alias("mime"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    feats = extract_image_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "sha",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )

@query(
    "image_phash_neardup",
    """
WITH p AS (SELECT doc_id, doc_id % 5 AS g FROM documents WHERE doc_id < 20),
px AS (
  SELECT doc_id, g, i % 32 AS x, i // 32 AS y,
         least((((i % 32) * (3 + g) + (i // 32) * (5 + 2*g) + 37*g) % 251)
               + CASE WHEN (i + doc_id) % 101 = 0 THEN doc_id % 40 ELSE 0 END, 255) AS v
  FROM p, unnest(generate_series(0, 1023)) AS t(i)
),
blk AS (
  SELECT doc_id, (y // 4) * 8 + (x // 4) AS b, sum(v) AS bs
  FROM px GROUP BY 1, 2
),
tot AS (SELECT doc_id, sum(bs) AS ts FROM blk GROUP BY doc_id),
bits AS (
  SELECT blk.doc_id, b, CASE WHEN bs * 64 > ts THEN 1 ELSE 0 END AS bit
  FROM blk JOIN tot ON tot.doc_id = blk.doc_id
),
ham AS (
  -- pair order follows the STRING media ids ('10' < '2'), matching the
  -- engine's lexicographic id_a < id_b
  SELECT a.doc_id AS ia, b.doc_id AS ib,
         sum(CASE WHEN a.bit != b.bit THEN 1 ELSE 0 END) AS hamming
  FROM bits a JOIN bits b
    ON a.b = b.b AND CAST(a.doc_id AS VARCHAR) < CAST(b.doc_id AS VARCHAR)
  GROUP BY 1, 2
)
SELECT CAST(ia AS VARCHAR) AS id_a, CAST(ib AS VARCHAR) AS id_b,
       CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= 8
""",
)
def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2×J5: perceptual-hash image near-dup, oracle-checked end-to-end.
    Integer-exact synthetic grayscale images (group-keyed pattern + a
    sparse per-image perturbation, 4 near-dup images per group) are
    packed as REAL RAWP bytes; the kernel PARSES the container, computes
    the 64-bit average hash with the division-free bit rule
    (64·block_sum > total_sum), and pairs form via the pigeonhole
    block-LSH + exact hamming verify — never an all-pairs cross join.
    The oracle recomputes every pixel, block sum, bit and hamming from
    the closed-form integer formula, so a header-parse bug, a block-mesh
    bug, a bit-rule bug or an LSH recall bug all surface as mismatches."""
    from chatbot_spark.operators.multimodal import (
        ahash_pairs,
        extract_image_ahash,
        pattern_pixels,
        synth_rawp,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    params = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("doc_id").cast("int").alias("did"),
        (F.col("doc_id") % 5).cast("int").alias("g"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            out = pdf[["media_id"]].copy()
            out["content"] = [
                synth_rawp(pattern_pixels(int(d), 32, 32, int(g)))
                for d, g in zip(pdf["did"], pdf["g"])
            ]
            yield out

    media = params.mapInPandas(synth, "media_id STRING, content BINARY")
    hashes = extract_image_ahash(media, grid=8)
    return ahash_pairs(hashes, max_hamming=8).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@query(
    "audio_features",
    """
WITH p AS (
  SELECT doc_id, 100 + (doc_id % 8) * 50 AS f, 8000 AS r,
         800 + (doc_id % 5) * 80 AS n
  FROM documents WHERE doc_id < 20),
t AS (
  SELECT doc_id, f, r, n, unnest(generate_series(0, n - 1)) AS i FROM p),
s AS (
  SELECT doc_id, r, n, i,
         ((i * f) % r) * 32766 // r - 16383 AS v
  FROM t),
lagged AS (
  SELECT doc_id, r, n, i, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(any_value(r) AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels,
       CAST(16 AS BIGINT) AS bit_depth,
       CAST(any_value(n) AS BIGINT) AS n_frames,
       CAST(any_value(n) * 1000 // any_value(r) AS BIGINT) AS duration_ms,
       CAST(max(abs(v)) AS BIGINT) AS peak,
       CAST(sum(v * v) AS BIGINT) AS sum_sq,
       CAST(sum(CASE WHEN pv IS NOT NULL AND (pv < 0) <> (v < 0) THEN 1 ELSE 0 END) AS BIGINT)
         AS zero_crossings
FROM lagged GROUP BY doc_id
""",
)
def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 audio, oracle-checked end-to-end: integer-exact sawtooth samples
    (freq/length keyed off doc_id) are written as REAL RIFF/WAVE bytes,
    then the audio kernel PARSES the container, decodes PCM16, and
    extracts exact-integer features — the oracle recomputes every sample
    from the closed-form integer formula, so a WAV header bug, a PCM
    decode bug, or a feature bug all surface as mismatches."""
    import pandas as pd_  # noqa: F401

    from chatbot_spark.operators.multimodal import (
        extract_audio_features,
        sawtooth_pcm16,
        synth_wav_pcm16,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    params = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        (F.lit(100) + (F.col("doc_id") % 8) * 50).cast("int").alias("freq"),
        F.lit(8000).alias("rate"),
        (F.lit(800) + (F.col("doc_id") % 5) * 80).cast("int").alias("n"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            out = pdf.copy()
            out["content"] = [
                synth_wav_pcm16(sawtooth_pcm16(int(f), int(r), int(n)), int(r))
                for f, r, n in zip(pdf["freq"], pdf["rate"], pdf["n"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"],
                    "modality": "audio",
                    "content": out["content"],
                    "mime": "audio/wav",
                    "meta": [{} for _ in range(len(out))],
                }
            )

    from chatbot_spark.operators.multimodal import MEDIA_SCHEMA

    media = params.mapInPandas(synth, MEDIA_SCHEMA)
    return extract_audio_features(media)

@query(
    "video_frames",
    """
WITH p AS (
  SELECT doc_id, 16 AS w, 8 AS h, 9 + doc_id % 4 AS n
  FROM documents WHERE doc_id < 10),
fr AS (
  SELECT doc_id, w, h, n, unnest(generate_series(0, n - 1)) AS f FROM p),
sampled AS (SELECT * FROM fr WHERE f % 3 = 0),
px AS (
  SELECT doc_id, w, h, n, f, unnest(generate_series(0, w * h - 1)) AS i
  FROM sampled)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       CAST(any_value(n) AS BIGINT) AS n_frames,
       CAST(sum((7 * i + 13 * f + doc_id) % 256) AS BIGINT) AS pix_sum
FROM px GROUP BY doc_id, f
""",
)
def video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 video, oracle-checked: deterministic RAWV containers (pixel =
    (7i + 13·fr + doc_id) % 256) synthesized per doc, then the frame
    sampler PARSES the header, seeks frame offsets, and decodes every 3rd
    frame — the oracle recomputes each sampled frame's exact pixel sum."""
    from chatbot_spark.operators.multimodal import MEDIA_SCHEMA, frame_sample, synth_rawv

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    params = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        (F.lit(9) + F.col("doc_id") % 4).cast("int").alias("n"),
        F.col("doc_id").cast("int").alias("seed"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": "video",
                    "content": [
                        synth_rawv(16, 8, int(n), int(s))
                        for n, s in zip(pdf["n"], pdf["seed"])
                    ],
                    "mime": "video/rawv",
                    "meta": [{} for _ in range(len(pdf))],
                }
            )

    media = params.mapInPandas(synth, MEDIA_SCHEMA)
    return frame_sample(media, every_n=3)


@query(
    "scene_cuts",
    """
WITH p AS (
  SELECT doc_id, 16 AS w, 8 AS h, 20 + (doc_id % 3) * 5 AS n
  FROM documents WHERE doc_id < 10),
fr AS (
  SELECT doc_id, w, h, n, unnest(generate_series(1, n - 1)) AS f FROM p),
px AS (
  SELECT doc_id, n, f, unnest(generate_series(0, w * h - 1)) AS i FROM fr),
sads AS (
  SELECT doc_id, n, f,
         sum(abs((7 * i + 13 * f + doc_id + 128 * (f // 5)) % 256
               - (7 * i + 13 * (f - 1) + doc_id + 128 * ((f - 1) // 5)) % 256)) AS sad
  FROM px GROUP BY doc_id, n, f)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(sad AS BIGINT) AS sad,
       CAST(n AS BIGINT) AS n_frames
FROM sads WHERE sad > 8000
""",
)
def scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 video segmentation, oracle-checked end-to-end: multi-scene RAWV
    containers (smooth +13 pixel drift inside a 5-frame scene, a 128
    jump at each boundary — the maximally-separated choice under mod-256
    wrap: within-scene SAD ≤ 3.5k vs cut SAD ≥ 16k here) are synthesized
    per doc, then detect_scene_cuts PARSES the container, decodes
    adjacent frame pairs, and emits every frame whose sum-of-absolute-
    differences exceeds the 8000 threshold. The oracle recomputes every
    pixel of every frame pair — a header-walk, decode, or SAD bug all
    surface as mismatches. This is the shot-splitting step of a video
    training-data pipeline (cut crawl footage into shots, then
    sample/caption per shot)."""
    from chatbot_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        detect_scene_cuts,
        synth_rawv_scenes,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    params = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        (F.lit(20) + (F.col("doc_id") % 3) * 5).cast("int").alias("n"),
        F.col("doc_id").cast("int").alias("seed"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": "video",
                    "content": [
                        synth_rawv_scenes(16, 8, int(n), int(s), 5)
                        for n, s in zip(pdf["n"], pdf["seed"])
                    ],
                    "mime": "video/rawv",
                    "meta": [{} for _ in range(len(pdf))],
                }
            )

    media = params.mapInPandas(synth, MEDIA_SCHEMA)
    return detect_scene_cuts(media, threshold=8000)


@query(
    "audio_energy_segments",
    """
WITH p AS (
  SELECT doc_id, 100 + (doc_id % 8) * 50 AS fq, 8000 AS r, 4000 AS n
  FROM documents WHERE doc_id < 10),
t AS (
  SELECT doc_id, fq, r, unnest(generate_series(0, n - 1)) AS i FROM p),
s AS (
  SELECT doc_id, i // 400 AS frame,
         CASE WHEN (i // 800) % 2 = 0
              THEN ((i * fq) % r) * 32766 // r - 16383 ELSE 0 END AS v
  FROM t),
e AS (SELECT doc_id, frame, sum(v * v) AS energy FROM s GROUP BY doc_id, frame),
act AS (
  SELECT doc_id, frame, energy,
         frame - row_number() OVER (PARTITION BY doc_id ORDER BY frame) AS island
  FROM e WHERE energy > 0),
seg AS (
  SELECT doc_id, island, min(frame) AS sf, max(frame) AS ef,
         count(*) AS nf, sum(energy) AS es
  FROM act GROUP BY doc_id, island)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY sf) - 1 AS BIGINT) AS seg_idx,
       CAST(sf AS BIGINT) AS start_frame,
       CAST(ef AS BIGINT) AS end_frame,
       CAST(nf AS BIGINT) AS n_active_frames,
       CAST(es AS BIGINT) AS energy_sum
FROM seg
""",
)
def audio_energy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 audio segmentation, oracle-checked end-to-end: gated sawtooth
    audio (800-sample loud/silent alternation) written as REAL RIFF/WAVE
    bytes, then energy_segments PARSES the container, decodes PCM16,
    computes exact per-400-sample-frame energies, and merges consecutive
    active frames into segments (the VAD-shaped speech-clip extraction
    step of an audio pipeline). The oracle recomputes every sample from
    the closed-form integer formula and replays the island merge as SQL
    gaps-and-islands — expected shape: active frame pairs {0,1}, {4,5},
    {8,9} per doc."""
    from chatbot_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        energy_segments,
        sawtooth_pcm16,
        synth_wav_pcm16,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    params = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        (F.lit(100) + (F.col("doc_id") % 8) * 50).cast("int").alias("freq"),
        F.lit(8000).alias("rate"),
        F.lit(4000).alias("n"),
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            contents = []
            for f, r, n in zip(pdf["freq"], pdf["rate"], pdf["n"]):
                s = sawtooth_pcm16(int(f), int(r), int(n))
                t = np.arange(int(n))
                s = np.where((t // 800) % 2 == 0, s, 0).astype(np.int16)
                contents.append(synth_wav_pcm16(s, int(r)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": "audio",
                    "content": contents,
                    "mime": "audio/wav",
                    "meta": [{} for _ in range(len(pdf))],
                }
            )

    media = params.mapInPandas(synth, MEDIA_SCHEMA)
    return energy_segments(media, frame_len=400, threshold=0)


# --------------------------------------------------------------------------
# End-to-end RAG pipeline (SURVEY §3.2 / §7.1 — the flagship slice) as ONE
# oracle-checked query: chunk → hash-embed → exact L2 top-k. The oracle
# reproduces the md5-chained hash embedder bit-for-bit in SQL, including
# numpy's 8-accumulator pairwise sum for the norm and the float32 rounding
# of the stored vectors.
# --------------------------------------------------------------------------

_E2E_DIM = 16  # 64 bytes = 4 md5 digests per text

# byte b (0..63) of the md5-chained stream for text {t}:
# digest index = b//16, hex chars (b%16)*2+1, +2
_DUCK_HASHBYTE = (
    "((strpos('0123456789abcdef', substr(md5({t} || '|' || CAST(b // 16 AS VARCHAR)), (b % 16) * 2 + 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5({t} || '|' || CAST(b // 16 AS VARCHAR)), (b % 16) * 2 + 2, 1)) - 1))"
)

# numpy pairwise_sum order for n=16 (8 accumulators r[j]=a[j]+a[j+8], then
# ((r0+r1)+(r2+r3))+((r4+r5)+(r6+r7))) over a_i = r[i+1]^2 (1-indexed SQL)
_DUCK_NP16_SUMSQ = (
    "(((({a1}+{a9})+({a2}+{a10}))+(({a3}+{a11})+({a4}+{a12})))"
    "+((({a5}+{a13})+({a6}+{a14}))+(({a7}+{a15})+({a8}+{a16}))))"
).format(**{f"a{i}": f"(r[{i}]*r[{i}])" for i in range(1, 17)})


@query(
    "rag_pipeline_e2e",
    f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
chunks AS (
  SELECT doc_id, u.seq AS chunk_seq, u.chunk AS txt,
         CAST(doc_id AS VARCHAR) || '-' || CAST(u.seq AS VARCHAR) AS id
  FROM (
    SELECT doc_id, unnest(list_transform(
             generate_series(0, greatest((length(text) - 1) // 200, 0)),
             i -> struct_pack(seq := i, chunk := substr(text, i * 200 + 1, 200)))) AS u
    FROM d) s),
inp AS (
  SELECT 'c' AS role, id, txt FROM chunks
  UNION ALL
  SELECT 'q' AS role, CAST(doc_id AS VARCHAR) AS id, text AS txt
  FROM d WHERE doc_id < 3),
bytes AS (
  SELECT role, id,
         list_transform(generate_series(0, 63), b -> {_DUCK_HASHBYTE.format(t='txt')}) AS bs
  FROM inp),
raws AS (
  SELECT role, id,
         list_transform(generate_series(0, {_E2E_DIM - 1}),
           k -> (bs[4*k+1] + bs[4*k+2]*256 + bs[4*k+3]*65536 + bs[4*k+4]*16777216)
                / 2147483648.0 - 1.0) AS r
  FROM bytes),
emb AS (
  SELECT role, id,
         list_transform(r, x -> CAST(CAST(x / sqrt({_DUCK_NP16_SUMSQ}) AS FLOAT) AS DOUBLE)) AS e
  FROM raws),
pairs AS (
  SELECT q.id AS query_id, c.id AS neighbor_id,
         {_DUCK_L2.format(a='q.e', b='c.e')} AS dist
  FROM (SELECT * FROM emb WHERE role = 'q') q,
       (SELECT * FROM emb WHERE role = 'c') c),
ranked AS (
  SELECT query_id, neighbor_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(dist, 6) AS dist
FROM ranked WHERE rank <= 5
""",
)
def rag_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 universal-RAG read path end-to-end, oracle-checked: fixed-size
    chunking (H2) → deterministic hash embedding (I1/I2) → exact L2 top-5
    (I4/E1). The DuckDB oracle recomputes the embeddings themselves — the
    whole pipeline is verified, not just the final join."""
    from chatbot_spark.operators.chunking import subchunk
    from chatbot_spark.operators.embed import embed_documents, embed_queries

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    chunks = subchunk(
        docs.select("doc_id", "text"), "text", max_chunk_size=200,
        seq_col="chunk_seq", out_col="document",
    ).withColumn("id", F.concat_ws("-", "doc_id", "chunk_seq"))
    corpus = embed_documents(chunks, text_col="document", backend="hash", dim=_E2E_DIM)
    queries_df = embed_queries(
        docs.filter(F.col("doc_id") < 3).select(
            F.col("doc_id").cast("string").alias("query_id"),
            F.col("text").alias("query_text"),
        ),
        backend="hash", dim=_E2E_DIM,
    )
    res = knn_join(queries_df, corpus, k=5, metric="l2", corpus_id="id")
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )

# --------------------------------------------------------------------------
# Multi-vector embedding (SURVEY §2.I I3) — sparse lexical weights checked
# by recomputing token-id hashing + term frequencies in SQL
# --------------------------------------------------------------------------

@query(
    "sparse_lexical_weights",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS.format(c='text')}) AS t,
         len({_DUCK_TOKENS.format(c='text')}) AS n
  FROM documents WHERE doc_id < 50),
ids AS (
  SELECT doc_id, n,
         CAST({_DUCK_HEXWORD.format(t='t', off=1)} AS BIGINT) % 2147483648 AS token_id
  FROM tok),
grp AS (
  SELECT doc_id, token_id, CAST(count(*) AS DOUBLE) / any_value(n) AS w
  FROM ids GROUP BY doc_id, token_id)
SELECT doc_id, CAST(token_id AS BIGINT) AS token_id,
       round(CAST(CAST(w AS FLOAT) AS DOUBLE), 6) AS weight
FROM grp
""",
)
def sparse_lexical_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: BGE-M3-style sparse lexical weights (bge.py:178 dict[token_id,
    weight]) — the deterministic hash stand-in, exploded to rows so the
    oracle can recompute ids and term frequencies exactly."""
    from chatbot_spark.operators.embed import multi_embed_documents

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    emb = multi_embed_documents(docs, text_col="text", out_col="me", dim=8)
    return emb.select(
        "doc_id", F.explode(F.col("me.sparse")).alias("token_id", "weight")
    ).select(
        "doc_id",
        F.col("token_id").cast("long").alias("token_id"),
        F.round(F.col("weight").cast("double"), 6).alias("weight"),
    )

# ColBERT late-interaction rerank (SURVEY §2.I I3/I7 — the third BGE-M3
# leg + the real 0.3/0.2/0.5 fusion, reference bge.py:29-32, 254-265).
# The oracle re-derives every token vector, sparse weight, and the MaxSim
# fold from documents — full-pipeline verification like rag_pipeline_e2e.

# dot of two 16-dim vectors in index order (bit-identical to Spark's
# zip_with+aggregate fold: (0+t1)+t2+... == t1+t2+... exactly in IEEE)
_DUCK_DOT16 = (
    "list_reduce(list_transform(generate_series(1, 16), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
)


@query(
    "colbert_rerank",
    f"""
WITH d AS (SELECT doc_id, text, lower(text) AS lt FROM documents WHERE doc_id < 30),
-- dense: md5-chained 16-dim unit embedding of the RAW text (e2e machinery)
inp AS (
  SELECT doc_id, text AS txt FROM d),
bytes AS (
  SELECT doc_id, list_transform(generate_series(0, 63), b -> {_DUCK_HASHBYTE.format(t='txt')}) AS bs
  FROM inp),
raws AS (
  SELECT doc_id, list_transform(generate_series(0, 15),
           k -> (bs[4*k+1] + bs[4*k+2]*256 + bs[4*k+3]*65536 + bs[4*k+4]*16777216)
                / 2147483648.0 - 1.0) AS r
  FROM bytes),
dense AS (
  SELECT doc_id, list_transform(r, x -> CAST(CAST(x / sqrt({_DUCK_NP16_SUMSQ}) AS FLOAT) AS DOUBLE)) AS e
  FROM raws),
-- sparse: token_id -> float32(term frequency), collisions merged pre-division
tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lt, '\\S+')) AS t,
         len(regexp_extract_all(lt, '\\S+')) AS n
  FROM d),
sparse AS (
  SELECT doc_id,
         CAST({_DUCK_HEXWORD.format(t='t', off=1)} AS BIGINT) % 2147483648 AS token_id,
         CAST(CAST(count(*) AS DOUBLE) / any_value(n) AS FLOAT) AS w
  FROM tok GROUP BY doc_id, token_id),
-- colbert: per-token 16-dim unit vectors for the first 16 tokens
ctok AS (
  SELECT doc_id, u.p, u.t
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, least(len(regexp_extract_all(lt, '\\S+')), 16)),
                        i -> struct_pack(p := i, t := regexp_extract_all(lt, '\\S+')[i]))) AS u
        FROM d) s),
cbytes AS (
  SELECT doc_id, p, list_transform(generate_series(0, 63), b -> {_DUCK_HASHBYTE.format(t='t')}) AS bs
  FROM ctok),
craws AS (
  SELECT doc_id, p, list_transform(generate_series(0, 15),
           k -> (bs[4*k+1] + bs[4*k+2]*256 + bs[4*k+3]*65536 + bs[4*k+4]*16777216)
                / 2147483648.0 - 1.0) AS r
  FROM cbytes),
cvecs AS (
  SELECT doc_id, p, list_transform(r, x -> CAST(CAST(x / sqrt({_DUCK_NP16_SUMSQ}) AS FLOAT) AS DOUBLE)) AS e
  FROM craws),
-- pair scoring: queries doc_id < 3 vs all 30 candidates
pairs AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id
          FROM (SELECT doc_id FROM d WHERE doc_id < 3) q, d c),
dense_s AS (
  SELECT p.query_id, p.neighbor_id, {_DUCK_DOT16.format(a='qe.e', b='ce.e')} AS dense_sim
  FROM pairs p JOIN dense qe ON qe.doc_id = p.query_id
               JOIN dense ce ON ce.doc_id = p.neighbor_id),
sparse_terms AS (
  SELECT p.query_id, p.neighbor_id, qs.token_id,
         CAST(qs.w AS DOUBLE) * CAST(cs.w AS DOUBLE) AS term
  FROM pairs p
  JOIN sparse qs ON qs.doc_id = p.query_id
  JOIN sparse cs ON cs.doc_id = p.neighbor_id AND cs.token_id = qs.token_id),
sparse_s AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY token_id)),
                     (acc, x) -> acc + x) AS sparse_dot
  FROM sparse_terms GROUP BY query_id, neighbor_id),
-- maxsim: per query token (in order), max dot vs any candidate token
msim_per_q AS (
  SELECT p.query_id, p.neighbor_id, qv.p AS qp,
         max({_DUCK_DOT16.format(a='qv.e', b='cv.e')}) AS best
  FROM pairs p
  JOIN cvecs qv ON qv.doc_id = p.query_id
  JOIN cvecs cv ON cv.doc_id = p.neighbor_id
  GROUP BY p.query_id, p.neighbor_id, qv.p),
msim AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(best ORDER BY qp)),
                     (acc, x) -> acc + x) / count(*) AS cb
  FROM msim_per_q GROUP BY query_id, neighbor_id),
scored AS (
  SELECT ds.query_id, ds.neighbor_id,
         0.3 * ds.dense_sim + 0.2 * COALESCE(ss.sparse_dot, 0.0) + 0.5 * COALESCE(m.cb, 0.0) AS score
  FROM dense_s ds
  LEFT JOIN sparse_s ss ON ss.query_id = ds.query_id AND ss.neighbor_id = ds.neighbor_id
  LEFT JOIN msim m ON m.query_id = ds.query_id AND m.neighbor_id = ds.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= 5
""",
)
def colbert_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3/I7: the full three-legged BGE-M3 rerank — dense cosine (unit
    vectors → plain dot) + sparse lexical dot + ColBERT MaxSim, fused with
    the reference's 0.3/0.2/0.5 weights (bge.py:29-32, 254-265), top-5 per
    query. The oracle recomputes all three legs from `documents` down to
    the float32 rounding of each weight — candidate scoring, fold orders,
    and the fusion are verified bit-for-bit.

    Determinism contract: every fold (dense dot, sparse dot over ascending
    token_id, MaxSim over query-token order) is a left fold from 0.0 both
    here and in the oracle; max is an exact comparison; ranks tie-break on
    neighbor_id."""
    from chatbot_spark.operators.embed import multi_embed_documents
    from chatbot_spark.operators.rerank import fuse_scores, rerank
    from chatbot_spark.functions.vector import dot_product, maxsim

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    emb = multi_embed_documents(docs, text_col="text", out_col="me", dim=16, max_tokens=16)

    q = emb.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("me").alias("qme")
    )
    c = emb.select(F.col("doc_id").alias("neighbor_id"), F.col("me").alias("cme"))

    pairs = F.broadcast(q).crossJoin(c)
    dense_sim = dot_product(F.col("qme.dense"), F.col("cme.dense"))
    # sparse dot folded in ascending-token_id order (array_sort on entries
    # sorts by key), missing keys contribute 0 — same order as the oracle
    sparse_dot = F.aggregate(
        F.array_sort(F.map_entries(F.col("qme.sparse"))),
        F.lit(0.0).cast("double"),
        lambda acc, e: acc
        + F.coalesce(
            e["value"].cast("double")
            * F.try_element_at(F.col("cme.sparse"), e["key"]).cast("double"),
            F.lit(0.0).cast("double"),
        ),
    )
    cb = maxsim(F.col("qme.colbert"), F.col("cme.colbert"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        fuse_scores(dense_sim, sparse_dot, cb).alias("score"),
    )
    top = rerank(scored, score_col="score", keep=5)
    return top.select(
        "query_id",
        "neighbor_id",
        F.col("rerank_rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )

# --------------------------------------------------------------------------
# Structured Streaming (extension surface) — the hourly rollup drained with
# Trigger.AvailableNow must equal the batch oracle exactly (stream/batch
# parity is the correctness contract for the streaming path)
# --------------------------------------------------------------------------

@query(
    "stream_hourly_rollup",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY 1, 2
""",
    bench_skip=_DRAIN,
)
def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_hourly run as a real readStream →
    watermarked window agg → AvailableNow drain; the batch SQL is the
    oracle (exact parity, not approximate)."""
    from chatbot_spark.streaming.events import hourly_rollup

    df = _drained_event_rollup(spark, sf_dir, hourly_rollup)
    return df.select(
        "hour", "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value_cents").cast("long").alias("sum_value_cents"),
    )

@query(
    "stream_late_data_drop",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
WHERE ts >= TIMESTAMP '2024-01-08'
GROUP BY 1, 2
""",
    bench_skip=_DRAIN,
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark DROP semantics, oracle-proven across RESTARTS: run 1
    drains the bulk of January (ts ≥ Jan 8), committing a ~Jan 30
    watermark to the checkpoint; the Jan 1–7 slice lands BETWEEN runs
    (the production late-arrival shape — a delayed upstream partition)
    and run 2, restoring the watermark from the checkpoint, drops every
    one of its rows (their hourly windows end far below the watermark);
    run 3's far-future sentinel finalizes all on-time windows for append
    emission (the sentinel's own window never finalizes and so excludes
    itself). The oracle is the batch rollup over ONLY the on-time subset
    — equality proves on-time data survived exactly AND late data was
    dropped completely, the contract that bounds state to O(watermark
    horizon) at 100 TB/day.

    Within a single AvailableNow run, Spark 4.1 does NOT apply the
    advancing watermark to late-input filtering (measured:
    numRowsDroppedByWatermark=0 for a late file in the same run even two
    batches after the watermark advanced) — the committed checkpoint
    watermark is what enforces the drop, hence the restart structure."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import (
        hourly_rollup,
        read_event_stream,
        run_stream_once,
    )

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="cbs_late_q_")
    inpath = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    outpath = os.path.join(base, "out")

    def drain():
        run_stream_once(
            hourly_rollup(
                read_event_stream(spark, inpath, max_files_per_trigger=1),
                watermark="1 hour",
            ),
            ckpt,
            outpath,
        )

    cut = F.lit("2024-01-08").cast("timestamp")
    ev.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(inpath)
    drain()  # run 1: on-time bulk; checkpoint commits the ~Jan 30 watermark
    ev.filter(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(inpath)
    drain()  # run 2: the late slice — dropped against the restored watermark
    sent = local_df(
        spark, [(-1, -1, "click")], "event_id BIGINT, user_id BIGINT, event_type STRING"
    ).withColumn("ts", F.lit("2099-06-01 00:00:00").cast("timestamp"))
    for f in ev.schema.fields:
        if f.name not in sent.columns:
            sent = sent.withColumn(f.name, F.lit(None).cast(f.dataType))
    sent.select(ev.columns).coalesce(1).write.mode("append").parquet(inpath)
    drain()  # run 3: sentinel advances the watermark past all real windows
    return (
        spark.read.parquet(outpath)
        .filter(F.col("hour") < "2099")  # defensive: sentinel never finalizes
        .select(
            "hour",
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value_cents").cast("long").alias("sum_value_cents"),
        )
    )


# --------------------------------------------------------------------------
# Quality filtering (SURVEY §2.J J4 — the training-data quality gate)
# --------------------------------------------------------------------------

@query(
    "quality_filter",
    f"""
WITH s AS (
  SELECT doc_id,
         CAST(len({_DUCK_TOKENS.format(c='text')}) AS DOUBLE) AS n_tok,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
           / greatest(length(text), 1) AS punct,
         CAST({_duck_stophits('en')} AS DOUBLE)
           / greatest(len({_DUCK_TOKENS.format(c='text')}), 1) AS stopr
  FROM documents),
q AS (
  SELECT doc_id,
         0.4 * (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
       + 0.2 * (CASE WHEN n_chars / greatest(n_tok, 1.0) >= 2.0
                      AND n_chars / greatest(n_tok, 1.0) <= 12.0 THEN 1.0 ELSE 0.0 END)
       + 0.2 * (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.0 END)
       + 0.2 * (CASE WHEN stopr >= 0.01 THEN 1.0 ELSE 0.0 END) AS quality
  FROM s)
SELECT doc_id, round(CAST(quality AS DOUBLE), 6) AS quality
FROM q WHERE quality >= 0.6
""",
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: composite quality score (length sweet-spot, token shape,
    punctuation, stopword presence) used as a keep/drop gate — the
    training-data quality filter pattern."""
    from chatbot_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("quality", quality_score(F.col("text")))
        .filter(F.col("quality") >= 0.6)
        .select("doc_id", F.round("quality", 6).alias("quality"))
    )

# --------------------------------------------------------------------------
# JSON interchange round-trip (SURVEY §2.A A4/A5) — export → re-load must
# preserve every value bit-for-bit; the oracle reads the ORIGINAL parquet,
# so any loss in the JSON hop shows up as a hash mismatch
# --------------------------------------------------------------------------

@query(
    "json_roundtrip",
    """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(vec_id) AS BIGINT) AS sum_ids,
       CAST(sum(CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_e0_e6,
       CAST(count(DISTINCT label) AS BIGINT) AS n_labels
FROM embeddings
""",
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5: corpus → reference-format JSON records → re-load → aggregate.
    The checksum (per-row scaled first component, exact integer sum) proves
    the embedding floats survive the JSON hop losslessly."""
    import os
    import tempfile

    from chatbot_spark.io.interchange import export_json, load_json_records

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding"),
        F.lit(None).cast("string").alias("document"),
        F.create_map(F.lit("label"), F.col("label").cast("string")).alias("metadata"),
        F.col("label").cast("int").alias("component_code"),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_json_q_"), "export")
    export_json(corpus, path)
    back = load_json_records(spark, path, array_format=False)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("id").cast("long")).alias("sum_ids"),
        F.sum(
            F.round(F.element_at("embedding", 1).cast("double") * 1000000).cast("long")
        ).alias("sum_e0_e6"),
        F.countDistinct("component_code").alias("n_labels"),
    )

# --------------------------------------------------------------------------
# Correlated-subquery shapes (TPC-H Q17/Q4 analogs — Catalyst decorrelates
# them into joins; the oracles keep the subquery form)
# --------------------------------------------------------------------------

@query(
    "small_quantity_revenue",
    """
SELECT CAST(count(*) AS BIGINT) AS n_small,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM lineitem l
WHERE l.l_quantity < (
  SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
""",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average) —
    expressed as an aggregate + equi-join so Catalyst's plan IS the
    decorrelated form (one shuffle on partkey, broadcast of the per-part
    averages if small)."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("__half_avg")
    )
    return (
        li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__half_avg"))
        .agg(
            F.count("*").alias("n_small"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_price_cents"
            ),
        )
    )


@query(
    "late_orders_by_priority",
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
""",
    sf1=True,
)
def late_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join — orders with at least one line
    shipped >90 days after the order date, counted by priority."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(
        o.select("o_orderkey", "o_orderdate"), li.l_orderkey == o.o_orderkey
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
    return (
        o.join(late.select("l_orderkey").distinct(), o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )

# --------------------------------------------------------------------------
# Ingest pipeline (SURVEY §3.3, the write path) — markdown header split →
# title metadata → embed → partitionBy(component_code) write → read back
# with a partition-pruned scan. Rows-only check (writes a temp corpus);
# the per-operator pieces are oracle-checked above.
# --------------------------------------------------------------------------

@query(
    "ingest_pipeline",
    """
WITH d AS (
  SELECT CAST(doc_id % 4 AS INT) AS component_code,
         (length(text) - 1) // 200 + 1 AS n
  FROM documents WHERE doc_id < 100)
SELECT component_code,
       CAST(sum(n) AS BIGINT) AS n_chunks,
       CAST(sum(n) AS BIGINT) AS n_ids,
       CAST(16 AS BIGINT) AS min_dim,
       CAST(16 AS BIGINT) AS max_dim
FROM d WHERE component_code IN (0, 1)
GROUP BY component_code ORDER BY component_code
""",
    bench_skip="write + read-back harness; perfbench times the ingest path",
)
def ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/K1/B2: synthesize markdown from documents, run the reference's
    full ingest (split_documents H1-H3 → hash embed I1 → uuid ids H7 →
    partitioned write), then read the corpus back filtered to half the
    components — the filter must resolve to partition pruning.

    The oracle recomputes the readback invariants from `documents`: the
    synthesized markdown (`# Doc N\\n\\n## Body\\n<text>`) header-splits to
    exactly one section whose content is the (single-line) text, so the
    chunk count per doc is ceil(len/200); uuid ids are distinct; every
    embedding is dim=16."""
    import os
    import tempfile

    from chatbot_spark.operators.chunking import split_documents
    from chatbot_spark.operators.embed import embed_documents
    from chatbot_spark.io.tables import write_corpus

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    md = docs.select(
        F.col("doc_id"),
        (F.col("doc_id") % 4).cast("int").alias("component_code"),
        F.concat(F.lit("/docs/"), F.col("doc_id").cast("string"), F.lit(".md")).alias("doc_url"),
        F.concat(
            F.lit("# Doc "), F.col("doc_id").cast("string"),
            F.lit("\n\n## Body\n"), F.col("text"),
        ).alias("text"),
    )
    chunks = split_documents(md, text_col="text", url_col="doc_url", max_chunk_size=200)
    corpus = embed_documents(chunks, text_col="document", backend="hash", dim=16).select(
        F.expr("uuid()").alias("id"),
        "component_code",
        "embedding",
        "document",
        F.create_map(
            F.lit("chunk_title"), F.col("chunk_title"),
            F.lit("enhanced_title"), F.col("enhanced_title"),
        ).alias("metadata"),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_ingest_q_"), "corpus")
    write_corpus(corpus, path, mode="overwrite")

    back = spark.read.parquet(path).filter(F.col("component_code").isin([0, 1]))
    return (
        back.groupBy("component_code")
        .agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("id").alias("n_ids"),
            F.min(F.size("embedding")).cast("long").alias("min_dim"),
            F.max(F.size("embedding")).cast("long").alias("max_dim"),
        )
        .orderBy("component_code")
    )

# --------------------------------------------------------------------------
# Duplicate-cluster resolution (SURVEY §2.J J2: connected components →
# keep-min-id). The oracle computes components with a recursive CTE.
# --------------------------------------------------------------------------

@query(
    "dedup_clusters",
    f"""
WITH RECURSIVE
sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(t=_DUCK_TOKENS.format(c='text'))} AS shingles
  FROM documents WHERE doc_id < 200),
post AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.1),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.a, r.r FROM sym s JOIN reach r ON s.b = r.id)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
FROM reach GROUP BY id
""",
    sf1=True,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 resolution step: exact-Jaccard near-dup pairs → connected
    components → canonical keeper (min doc_id per cluster). Iterative
    label propagation on Spark; recursive-CTE transitive closure in the
    oracle — both must agree on every component."""
    from chatbot_spark.operators.dedup import resolve_duplicate_clusters

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", shingle_n=3, threshold=0.1
    )
    return resolve_duplicate_clusters(pairs).select(
        "doc_id", F.col("canonical_id").cast("long").alias("canonical_id")
    )

# --------------------------------------------------------------------------
# GROUPING SETS (the explicit form — rollup/cube above are its sugar) via
# the engine's SQL surface (§2.D / §2.K register_views)
# --------------------------------------------------------------------------

@query(
    "revenue_grouping_sets",
    """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D: explicit GROUPING SETS through the SQL surface — one pass
    producing (flag,status), (flag) and grand-total rows (Expand +
    partial aggregation underneath)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )

@query(
    "stream_sessionize",
    """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM e)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sess_id
""",
    bench_skip=_DRAIN,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (built-in session_window, 30-min gap)
    drained with AvailableNow; the oracle rebuilds the same sessions with
    a batch lag/cumsum — window end = last event + gap, Spark's
    session_window contract."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import (
        read_event_stream,
        run_stream_once_complete,
        session_rollup,
    )

    base = tempfile.mkdtemp(prefix="cbs_sess_q_")
    inpath = os.path.join(base, "in")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(inpath)
    stream = session_rollup(read_event_stream(spark, inpath))
    rows = run_stream_once_complete(stream, os.path.join(base, "ckpt"))
    df = local_df(spark, rows, stream.schema)
    return df.select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )

@query(
    "stream_boundary_sessionize",
    """
WITH e AS (
  SELECT user_id, ts, event_type, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
                OR event_type = 'signup'
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM e),
g AS (
  SELECT user_id, sess_id, min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         CAST(count(*) AS BIGINT) AS n_events
  FROM s GROUP BY user_id, sess_id)
SELECT user_id, session_start, session_end, n_events
FROM (SELECT g.*, max(sess_id) OVER (PARTITION BY user_id) AS mx FROM g)
WHERE sess_id < mx
""",
    bench_skip=_DRAIN,
)
def stream_boundary_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    sessions split on a 30-min gap OR a 'signup' boundary event — a
    semantics session_window cannot express. Input is drained as 4
    time-sliced micro-batches so cross-batch state carry is actually
    exercised; the oracle rebuilds the sessions batch-side and keeps
    exactly the closed ones (every session but each user's last — the
    operator's deterministic emission contract)."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import read_event_stream
    from chatbot_spark.streaming.stateful import (
        run_stream_once_append,
        sessionize_with_boundaries,
    )

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="cbs_bsess_q_")
    inpath = os.path.join(base, "in")
    # sequential time slices -> sequential mod-times -> in-order batches
    cuts = ["2024-01-08", "2024-01-16", "2024-01-24", "2099-01-01"]
    lo = "1970-01-01"
    for hi in cuts:
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(inpath)
        lo = hi
    rows = run_stream_once_append(
        sessionize_with_boundaries(
            read_event_stream(spark, inpath, max_files_per_trigger=1)
        ),
        os.path.join(base, "ckpt"),
    )
    df = local_df(
        spark,
        rows,
        schema="user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, n_events BIGINT",
    )
    return df.select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Markdown corpus scan from REAL files (SURVEY §2.A A1-A3 + §2.H H1/H3):
# documents are materialized as .md files, scanned with the distributed
# file source (glob filter + skip pattern + limit), header-split, and the
# oracle recomputes the expected chunks straight from the table
# --------------------------------------------------------------------------

@query(
    "markdown_scan",
    """
SELECT doc_id,
       CAST(1 AS BIGINT) AS n_chunks,
       'Doc ' || doc_id || ' -> Body' AS enhanced_title,
       text AS document
FROM documents
WHERE doc_id < 20 AND doc_id % 3 != 0
""",
)
def markdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A3 end-to-end on the filesystem: write one .md per document
    (every 3rd under a path the skip pattern drops), scan with
    pathGlobFilter + recursiveFileLookup + rlike skip, header-split
    (H1/H3). Synthesized docs have a known shape, so the oracle can state
    the expected chunking exactly."""
    import os
    import tempfile

    from chatbot_spark.operators.chunking import scan_markdown_dir, split_documents

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    base = tempfile.mkdtemp(prefix="cbs_mdscan_q_")
    os.makedirs(os.path.join(base, "skipme"), exist_ok=True)
    for r in docs.select("doc_id", "text").collect():
        sub = "skipme" if r["doc_id"] % 3 == 0 else "keep"
        os.makedirs(os.path.join(base, sub), exist_ok=True)
        with open(os.path.join(base, sub, f"{r['doc_id']}.md"), "w") as f:
            f.write(f"# Doc {r['doc_id']}\n\n## Body\n{r['text']}")
        # a non-markdown file the glob must ignore
        with open(os.path.join(base, sub, f"{r['doc_id']}.txt"), "w") as f:
            f.write("not markdown")

    scanned = scan_markdown_dir(spark, base, skip_patterns=["skipme"])
    chunks = split_documents(scanned, text_col="text", url_col="doc_url")
    return (
        chunks.withColumn(
            "doc_id",
            F.regexp_extract(F.col("doc_url"), r"(\d+)\.md$", 1).cast("long"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.max("enhanced_title").alias("enhanced_title"),
            F.max("document").alias("document"),
        )
    )

# --------------------------------------------------------------------------
# Rolling-hash fingerprints (SURVEY §2.J J4: "document fingerprinting
# (rolling hash)") — Rabin–Karp windows + winnowed min-per-block selection
# --------------------------------------------------------------------------

@query(
    "rolling_fingerprints",
    """
WITH h AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(text) - 7, 1)),
           i -> list_reduce(list_transform(generate_series(0, 7),
                  j -> CAST(coalesce(ascii(substr(text, i + j, 1)), 0) AS BIGINT)),
                (acc, c) -> (acc * 257 + c) % 1000000007)) AS hs
  FROM documents WHERE doc_id < 50),
sel AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
           generate_series(0, CAST(ceil(len(hs) / 4.0) AS BIGINT) - 1),
           b -> list_min(hs[b*4 + 1 : b*4 + 4])))) AS fps
  FROM h)
SELECT doc_id, unnest(fps) AS fp FROM sel
""",
)
def rolling_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: rolling-hash fingerprints, one row per (doc, selected
    fingerprint). The oracle recomputes every polynomial hash and the
    winnowing selection exactly (integer arithmetic, no floats)."""
    from chatbot_spark.operators.textstats import rolling_fingerprints

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        F.explode(rolling_fingerprints(F.col("text"), window=8, block=4)).alias("fp"),
    )


# --------------------------------------------------------------------------
# Relational depth: multi-aliased join chains, disjunctive join predicates,
# conditional aggregation, exact percentiles, rank-distribution windows
# (SURVEY §2.C/§2.D/§2.E — the Catalyst surface a reference user's ad-hoc
# SQL relies on, exercised in TPC-H Q7/Q12/Q14/Q19 shapes over testdata)
# --------------------------------------------------------------------------

@query(
    "volume_shipping",
    """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, ship_year
""",
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the nation dim joined TWICE under different aliases
    (supplier side vs customer side) — exercises Catalyst's attribute
    dedup across self-referenced dims. Plan shape at 100 TB: one
    fact-to-fact shuffle join (lineitem⋈orders); every dim broadcast; the
    nation-pair disjunction applied post-join on broadcast columns."""
    t = {n: load_table(spark, sf_dir, n)
         for n in ("lineitem", "supplier", "orders", "customer", "nation")}
    sn = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
                  .cast("long")).alias("revenue_e4"),
            F.count("*").alias("n_lineitems"),
        )
    )


@query(
    "promo_revenue",
    """
WITH m AS (
  SELECT CAST(month(l.l_shipdate) AS BIGINT) AS ship_month,
         CAST(sum(CASE WHEN p.p_type = 'PROMO'
                       THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS promo_e4,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS BIGINT) AS total_e4
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY ship_month)
SELECT ship_month, promo_e4, total_e4,
       round(100.0 * promo_e4 / total_e4, 4) AS promo_pct
FROM m
""",
)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation (promo share of revenue)
    per ship month. The pct ratio is derived from the two EXACT integer
    sums, so the float output is a deterministic function of identical
    bigints in both engines (see the float-discipline note atop this
    module). Date predicate pushes to the parquet scan; part broadcasts."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev_e4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    m = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.month("l_shipdate").cast("long").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(F.lit(0))).alias("promo_e4"),
            F.sum(rev_e4).alias("total_e4"),
        )
    )
    return m.select(
        "ship_month", "promo_e4", "total_e4",
        F.round(100.0 * F.col("promo_e4") / F.col("total_e4"), 4).alias("promo_pct"),
    )


@query(
    "urgent_late_by_year",
    """
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
GROUP BY order_year
""",
)
def urgent_late_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted to this schema's priority column):
    join-then-conditional-count of lines shipped >90 days after order,
    split by priority class. The non-equi residual (shipdate vs
    orderdate+90d) rides on the equi-join — one shuffle total."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "brand_disjunctive_revenue",
    """
SELECT p.p_brand,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_matched
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
GROUP BY p.p_brand
""",
)
def brand_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive predicate groups mixing join-side
    (brand/size) and fact-side (quantity) columns. Catalyst extracts the
    common sub-predicates it can push (brand IN, size<=35, quantity<=30
    bounds) to each scan and evaluates the residual OR post-join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    band = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        j.filter(band("Brand#1", 15, 1, 11) | band("Brand#2", 25, 10, 20) | band("Brand#3", 35, 20, 30))
        .groupBy("p_brand")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
                  .cast("long")).alias("revenue_e4"),
            F.count("*").alias("n_matched"),
        )
    )


@query(
    "acctbal_percentiles",
    """
SELECT c_mktsegment,
       round(quantile_cont(c_acctbal, 0.5), 4) AS median_bal,
       round(quantile_cont(c_acctbal, 0.95), 4) AS p95_bal,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer
GROUP BY c_mktsegment
""",
)
def acctbal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per segment (SURVEY §2.D extension:
    the sort-based aggregate family). Both engines compute linear
    interpolation at rank (n-1)*p over the sorted values, so round(4) on
    bounded balances is engine-stable. At 100 TB prefer approx_percentile
    (t-digest, mergeable partial aggs) — exact percentile requires a
    per-group sort; here it doubles as the approx oracle."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("median_bal"),
        F.round(F.percentile("c_acctbal", F.lit(0.95)), 4).alias("p95_bal"),
        F.count("*").alias("n_customers"),
    )


@query(
    "supplier_rank_distribution",
    """
SELECT s.s_suppkey, n.n_name,
       round(percent_rank() OVER (PARTITION BY n.n_name ORDER BY s.s_acctbal, s.s_suppkey), 6) AS pr,
       round(cume_dist() OVER (PARTITION BY n.n_name ORDER BY s.s_acctbal, s.s_suppkey), 6) AS cd
FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
""",
)
def supplier_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist (SURVEY §2.E window family): rank
    distributions within nation. Ordering key includes s_suppkey so ties
    can't flip between engines; both compute (rank-1)/(n-1) in double —
    bit-identical."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy("s_acctbal", "s_suppkey")
    return (
        s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            "s_suppkey", "n_name",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
    )


@query(
    "stream_upsert",
    """
WITH ranked AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events WHERE user_id < 50)
SELECT user_id, CAST(event_id AS BIGINT) AS last_event_id,
       event_type AS last_type
FROM ranked WHERE rn = 1
""",
    bench_skip=_DRAIN,
)
def stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE-maintenance (A9's streaming twin): events arrive in
    three micro-batches; each batch upserts into a keep-latest-per-user
    table through the versioned-commit foreachBatch writer (a lakehouse
    MERGE in miniature: merge → write v<batch_id> → atomically repoint
    CURRENT; crash-replay rewrites its own version, idempotent). The
    drained table must equal the batch keep-latest window over all
    events — version = event_id, the monotone ingest sequence."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import (
        read_event_stream,
        read_upsert_state,
        upsert_state_writer,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    base = tempfile.mkdtemp(prefix="cbs_supsert_q_")
    inpath = os.path.join(base, "in")
    # three ingest chunks -> three micro-batches (maxFilesPerTrigger=1)
    n = ev.agg(F.max("event_id")).collect()[0][0]
    for lo, hi in ((0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n + 1)):
        ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(inpath)
    state_dir = os.path.join(base, "state")
    os.makedirs(state_dir, exist_ok=True)
    stream = read_event_stream(spark, inpath, max_files_per_trigger=1).select(
        "user_id", "event_id", "event_type"
    )
    q = (
        stream.writeStream.foreachBatch(
            upsert_state_writer(state_dir, id_col="user_id", version_col="event_id")
        )
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = read_upsert_state(spark, state_dir)
    return state.select(
        "user_id",
        F.col("event_id").cast("long").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
    )


@query(
    "resample_forward_fill",
    """
WITH e AS (
  SELECT user_id, ts, value,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE user_id < 40),
ev AS (SELECT user_id, ts, value FROM e WHERE rn = 1),
b AS (SELECT user_id,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS mn,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS mx
      FROM ev GROUP BY user_id),
grid AS (
  SELECT user_id,
         unnest(generate_series((mn + 21599) // 21600 * 21600, mx // 21600 * 21600, 21600)) AS grid_epoch
  FROM b),
j AS (
  SELECT g.user_id, g.grid_epoch, ev.value,
         row_number() OVER (PARTITION BY g.user_id, g.grid_epoch ORDER BY ev.ts DESC) AS rn
  FROM grid g JOIN ev ON ev.user_id = g.user_id AND epoch(ev.ts) <= g.grid_epoch)
SELECT user_id, CAST(grid_epoch AS BIGINT) AS grid_epoch, value
FROM j WHERE rn = 1
""",
)
def resample_forward_fill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill (beyond-reference §2.J): each
    user's irregular event stream onto a 6-hour epoch-aligned grid,
    forward-filling the last observed value — sequence+explode grid (no
    UDF, no driver loop) + the as-of join operator (one union+window
    shuffle). The oracle replays the fill with an inequality join +
    keep-latest window at full timestamp precision; boundaries use
    floored integer epochs on both sides (Spark's unix_timestamp floors;
    DuckDB epoch keeps fractions). Values pass through untouched —
    bit-identical doubles."""
    from chatbot_spark.operators.timeseries import resample_forward_fill

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return resample_forward_fill(
        ev, key_col="user_id", ts_col="ts", value_col="value",
        step_seconds=21600, tie_col="event_id",
    )


@query(
    "stream_ingest_index",
    """
WITH d AS (
  SELECT CAST(doc_id % 4 AS INT) AS component_code,
         (length(text) - 1) // 200 + 1 AS n
  FROM documents WHERE doc_id < 120)
SELECT component_code,
       CAST(sum(n) AS BIGINT) AS n_chunks,
       CAST(sum(n) AS BIGINT) AS n_ids,
       CAST(16 AS BIGINT) AS min_dim,
       CAST(16 AS BIGINT) AS max_dim
FROM d GROUP BY component_code ORDER BY component_code
""",
    bench_skip=_DRAIN,
)
def stream_ingest_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's write path (§3.3: markdown → split → embed →
    vector-table insert + HNSW maintenance) as a STREAM: documents arrive
    in three micro-batches; each foreachBatch invocation chunks
    (H1-H3), hash-embeds (I1), writes the corpus idempotently
    (batch_id-partitioned dynamic overwrite — replay rewrites, never
    duplicates), and maintains the ANN index — batch 0 BUILDs the IVF
    index, later batches APPEND into its frozen-centroid cells on disk
    (ann.py IVFIndex.append; index appends assume the drain-once
    AvailableNow contract — a lakehouse sink would make them
    transactional).

    Verification is two-sided: the DuckDB oracle recomputes the drained
    corpus invariants from `documents` (chunk count = ceil(len/200) per
    doc, distinct ids, dim 16 — the ingest_pipeline contract), and the
    query itself full-probes the final on-disk index for 5 corpus
    vectors and RAISES unless the result equals the exact scan over the
    drained corpus — a wrong index shows up as a driver error, a wrong
    drain as a hash mismatch."""
    import os
    import tempfile

    from chatbot_spark.io.tables import write_corpus  # noqa: F401 (batch twin)
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.chunking import split_documents
    from chatbot_spark.operators.embed import embed_documents
    from chatbot_spark.operators.topk import knn_join

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    md = docs.select(
        F.col("doc_id"),
        (F.col("doc_id") % 4).cast("int").alias("component_code"),
        F.concat(F.lit("/docs/"), F.col("doc_id").cast("string"), F.lit(".md")).alias(
            "doc_url"
        ),
        F.concat(
            F.lit("# Doc "), F.col("doc_id").cast("string"),
            F.lit("\n\n## Body\n"), F.col("text"),
        ).alias("text"),
    )
    base = tempfile.mkdtemp(prefix="cbs_singest_q_")
    inpath = os.path.join(base, "in")
    for lo, hi in ((0, 40), (40, 80), (80, 120)):
        md.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(inpath)
    corpus_path = os.path.join(base, "corpus")
    idx_path = os.path.join(base, "ivf")

    def ingest_batch(batch_df, batch_id: int) -> None:
        chunks = split_documents(
            batch_df, text_col="text", url_col="doc_url", max_chunk_size=200
        )
        emb = embed_documents(
            chunks, text_col="document", backend="hash", dim=16
        ).select(
            F.md5(F.concat_ws("|", "doc_url", "document")).alias("id"),
            "component_code",
            "embedding",
            "document",
        )
        (
            emb.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "component_code")
            .parquet(corpus_path)
        )
        new_rows = emb.select("id", "embedding")
        if not os.path.exists(os.path.join(idx_path, "centroids")):
            IVFIndex.build(
                new_rows, vec_col="embedding", id_col="id", nlist=4,
                seed=42,
            ).write(idx_path)
        else:
            IVFIndex.load(spark, idx_path, vec_col="embedding", id_col="id").append(
                new_rows, path=idx_path
            )

    stream = (
        spark.readStream.schema(md.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inpath)
    )
    q = (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    corpus = spark.read.parquet(corpus_path)
    index = IVFIndex.load(spark, idx_path, vec_col="embedding", id_col="id")
    assert index.indexed.count() == corpus.count(), "index/corpus row drift"

    queries_df = (
        corpus.orderBy("id")
        .limit(5)
        .select(F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding"))
    )
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in index.search(queries_df, k=5, nprobe=4).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in knn_join(
            queries_df, corpus.select("id", "embedding"), k=5, metric="l2",
            corpus_id="id",
        ).collect()
    }
    if got != want:
        raise RuntimeError(
            f"streamed index fullprobe != exact: {len(got & want)}/{len(want)} overlap"
        )

    return (
        corpus.groupBy("component_code")
        .agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("id").alias("n_ids"),
            F.min(F.size("embedding")).cast("long").alias("min_dim"),
            F.max(F.size("embedding")).cast("long").alias("max_dim"),
        )
        .orderBy("component_code")
    )


@query(
    "stream_dedup",
    """
SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
FROM events
WHERE event_id < 20000
GROUP BY event_type
""",
    bench_skip=_DRAIN,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (J1's streaming twin): the same events are
    delivered TWICE in separate micro-batches (at-least-once delivery);
    dropDuplicates state drops every cross-batch replay, so the drained
    count per type equals batch COUNT(DISTINCT). The watermarked
    state-bounded variant is unit-tested (test_stream_dedup_watermark)."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import dedup_stream, read_event_stream
    from chatbot_spark.streaming.stateful import run_stream_once_append

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    base = tempfile.mkdtemp(prefix="cbs_sdedup_q_")
    inpath = os.path.join(base, "in")
    for _ in range(2):  # duplicate delivery
        ev.coalesce(1).write.mode("append").parquet(inpath)
    rows = run_stream_once_append(
        dedup_stream(read_event_stream(spark, inpath, max_files_per_trigger=1)),
        os.path.join(base, "ckpt"),
    )
    deduped = local_df(
        spark, [(r["event_id"], r["event_type"]) for r in rows],
        schema="event_id BIGINT, event_type STRING",
    )
    return deduped.groupBy("event_type").agg(F.count("*").cast("long").alias("n_unique"))


# --------------------------------------------------------------------------
# Training-data pipeline operators (north-star §2.J extension): deterministic
# train/val/test split, vocabulary building, sequence packing — the three
# steps between "deduped corpus" and "token batches" in an LLM data pipeline
# --------------------------------------------------------------------------

@query(
    "hashed_quality_score",
    f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1])
         ELSE [] END AS grams
  FROM t)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CASE WHEN len(grams) > 0 THEN
         round(list_reduce(
                 list_transform(grams,
                   gr -> ({_DUCK_HEXWORD.format(t='gr', off=1)} - 2147483648.0)
                         / 2147483648.0),
                 (a, x) -> a + x) / len(grams), 6)
       END AS margin
FROM g
""",
)
def hashed_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring, fastText-shaped: hashed word-bigram
    features × a weight table, mean margin per document. The weight of a
    bigram is a deterministic stand-in — md5-derived uniform [-1, 1) — so
    the whole scorer is portable expressions; swapping in REAL fastText
    weights is a broadcast map lookup in the same plan shape (feature
    hash → weight join or closure dict), nothing else moves.

    Float-parity discipline (see module header): weights are exact
    (integer hex word scaled by a power of two), the sum is a LEFT FOLD
    in document order in both engines (Spark ``aggregate`` with 0.0 init;
    DuckDB ``list_reduce`` whose first-element init differs from 0.0+x by
    nothing, exactly), so the oracle matches bit-for-bit before the final
    round(6). No sigmoid: exp() differs across libms — the linear margin
    carries the same ranking information. One narrow scan, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    from chatbot_spark.operators.textstats import tokens

    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    grams = toks.withColumn(
        "grams",
        F.when(
            F.size("toks") >= 2,
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat(toks[i - 1], ' ', toks[i]))"
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    weight = (
        "(cast(conv(substring(md5(gr), 1, 8), 16, 10) as double) - 2147483648.0d)"
        " / 2147483648.0d"
    )
    return grams.select(
        "doc_id",
        F.size("grams").cast("long").alias("n_grams"),
        F.when(
            F.size("grams") > 0,
            F.round(
                F.expr(
                    f"aggregate(grams, cast(0.0 as double), (a, gr) -> a + {weight})"
                )
                / F.size("grams"),
                6,
            ),
        ).alias("margin"),
    )


@query(
    "dsir_select",
    f"""
WITH t AS (
  SELECT doc_id, unnest({_DUCK_TOKENS.format(c='text')}) AS tok FROM documents),
b AS (
  SELECT doc_id,
         CAST({_DUCK_HEXWORD.format(t='tok', off=1)} AS BIGINT) % 1024 AS bucket
  FROM t),
nc AS (SELECT bucket, count(*) AS n_c FROM b GROUP BY bucket),
nt AS (SELECT bucket, count(*) AS n_t FROM b WHERE doc_id % 10 = 0 GROUP BY bucket),
w AS (
  SELECT nc.bucket, coalesce(nt.n_t, 0) * 10 - nc.n_c AS wt
  FROM nc LEFT JOIN nt ON nc.bucket = nt.bucket),
s AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         CAST(sum(w.wt) AS BIGINT) AS score
  FROM b JOIN w ON b.bucket = w.bucket GROUP BY b.doc_id)
SELECT d.doc_id,
       CAST(coalesce(s.n_toks, 0) AS BIGINT) AS n_toks,
       CAST(coalesce(s.score, 0) AS BIGINT) AS score
FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
""",
    sf1=True,
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score each corpus
    document by how much its hashed-token distribution looks like a
    TARGET subset's distribution relative to the corpus's own. Features
    are md5-hashed tokens in 1024 buckets (DSIR's hashed n-gram recipe);
    the per-bucket weight is the INTEGER surrogate
    ``n_target(b)·10 − n_corpus(b)`` (the target here is the doc_id%10
    slice, ~1/10 of the corpus, so the ×10 rescales the target counts to
    corpus volume) — a linear stand-in for DSIR's log-likelihood ratio
    that keeps every value exact BIGINT arithmetic, hash-matchable
    across engines; real log-ratio weights would drop into the same
    plan as a broadcast bucket→double table and feed the same sum.

    Selection composes downstream: feed ``score`` (shifted positive)
    into systematic_weighted_sample for the actual resample — the
    distributed-prefix-sum sampler already oracle-pinned by
    `weighted_sample`.

    Scale shape: token stream → bucket counts (map-side combinable,
    1024-row result), weight table BROADCAST back onto the token
    stream, one per-doc sum — two shuffles total (bucket agg + doc agg),
    no global sort, nothing wider than (doc_id, bucket) ever moves."""
    docs = load_table(spark, sf_dir, "documents")
    from chatbot_spark.operators.textstats import tokens

    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).withColumn(
        "bucket",
        F.expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) % 1024"),
    )
    nc = toks.groupBy("bucket").agg(F.count("*").alias("n_c"))
    nt = (
        toks.filter(F.col("doc_id") % 10 == 0)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_t"))
    )
    w = nc.join(nt, "bucket", "left").select(
        "bucket",
        (F.coalesce("n_t", F.lit(0)) * 10 - F.col("n_c")).alias("wt"),
    )
    s = (
        toks.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum("wt").cast("long").alias("score"),
        )
    )
    return docs.select("doc_id").join(s, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_toks", F.lit(0)).cast("long").alias("n_toks"),
        F.coalesce("score", F.lit(0)).cast("long").alias("score"),
    )


@query(
    "weighted_sample",
    """
WITH c AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents),
t AS (SELECT sum(n_chars) AS total FROM documents)
SELECT doc_id, CAST(n_chars AS BIGINT) AS w, CAST(cum AS BIGINT) AS cum
FROM c, t
WHERE (50 * cum) // total > (50 * (cum - n_chars)) // total
""",
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (k=50, weight =
    n_chars): systematic grid sampling over the cumulative-weight line —
    row selected iff its weight interval contains a grid point, tested
    with pure BIGINT arithmetic (no RNG, no floats), so re-runs and other
    engines reproduce the subset bit-for-bit. The cumulative sum is the
    distributed two-phase prefix scan (range-bucket → within-bucket
    window → broadcast bucket offsets), never a one-task global window —
    the oracle's single ORDER BY window is the semantic spec, not the
    plan."""
    from chatbot_spark.operators.sampling import systematic_weighted_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    picked = systematic_weighted_sample(
        docs, order_col="doc_id", weight_col="n_chars", k=50
    )
    return picked.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("w"),
        F.col("cum").cast("long").alias("cum"),
    )


@query(
    "train_test_split",
    f"""
WITH b AS (
  SELECT source,
         CAST({_DUCK_HEXWORD.format(t="CAST(doc_id AS VARCHAR)", off=1)} AS BIGINT) % 10 AS bucket
  FROM documents)
SELECT source,
       CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM b GROUP BY source, split
""",
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by md5(doc_id) — content-stable
    (re-running over a grown corpus never moves an old doc across splits,
    unlike rand() or zipWithIndex), embarrassingly parallel (no shuffle
    until the audit count), and portable (md5, not engine hash). The
    audit output counts docs per (source, split)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 10
    return (
        docs.select(
            "source",
            F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias("split"),
        )
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "leakage_free_split",
    f"""
WITH RECURSIVE
sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(t=_DUCK_TOKENS.format(c='text'))} AS shingles
  FROM documents WHERE doc_id < 200),
post AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.1),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.a, r.r FROM sym s JOIN reach r ON s.b = r.id),
canon AS (SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id),
assigned AS (
  SELECT d.doc_id,
         coalesce(c.canonical_id, d.doc_id) AS grp,
         CAST({_DUCK_HEXWORD.format(t="CAST(coalesce(c.canonical_id, d.doc_id) AS VARCHAR)", off=1)} AS BIGINT) % 10 AS bucket
  FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
  LEFT JOIN canon c ON c.doc_id = d.doc_id),
folds AS (
  SELECT doc_id, grp,
         CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
  FROM assigned),
spanning AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM (
    SELECT grp FROM folds GROUP BY grp HAVING count(DISTINCT split) > 1))
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       (SELECT n FROM spanning) AS clusters_spanning_splits
FROM folds GROUP BY split
""",
)
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split (GroupKFold by duplicate
    cluster): near-duplicate documents straddling a split boundary leak
    training data into evaluation, so the split key is the doc's
    near-dup CLUSTER canonical id (3-gram-Jaccard pairs -> connected
    components; singletons key by themselves) and the whole cluster
    lands in one fold by construction. The verdict carries per-split
    membership (id checksum) AND the in-plan invariant that zero
    clusters span splits; the oracle replays CC with a recursive CTE
    and the same md5 bucketing."""
    from chatbot_spark.operators.dedup import resolve_duplicate_clusters

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", shingle_n=3, threshold=0.1
    )
    canon = resolve_duplicate_clusters(pairs)
    assigned = (
        docs.select("doc_id")
        .join(canon, "doc_id", "left")
        .withColumn("grp", F.coalesce("canonical_id", "doc_id"))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("grp").cast("string")), 1, 8), 16, 10).cast("long") % 10
    )
    folds = assigned.select(
        "doc_id",
        "grp",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias("split"),
    )
    spanning = (
        folds.groupBy("grp")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").cast("long").alias("clusters_spanning_splits"))
    )
    return (
        folds.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .crossJoin(spanning)
        .select("split", "n_docs", "id_checksum", "clusters_spanning_splits")
    )


def _bpe_oracle_sql(n_merges: int) -> str:
    """Unrolled-CTE replay of the BPE training rounds (operators/bpe.py):
    round r's pair counts come from the merged reps of round r-1, the
    winning pair is the (count DESC, left ASC, right ASC) head, and the
    merge applies as the same wrapped-symbol literal replace. DuckDB's
    replace is left-to-right non-overlapping like Spark's — greedy BPE
    merge order on both sides."""
    parts = [
        r"""
WITH w1 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
         '<' || array_to_string(list_append(list_filter(string_split(word, ''), x -> x != ''), '_'), '><') || '>' AS rep
  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents)
  WHERE word != ''
  GROUP BY word
)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f""",
p{r} AS (
  SELECT p.a AS a, p.b AS b, sum(cnt) AS c
  FROM (
    SELECT cnt,
           unnest(list_transform(generate_series(1, len(syms) - 1),
                                 i -> struct_pack(a := syms[i], b := syms[i+1]))) AS p
    FROM (SELECT cnt, string_split(substr(rep, 2, length(rep) - 2), '><') AS syms FROM w{r})
  )
  GROUP BY 1, 2
),
b{r} AS (SELECT a, b, c FROM p{r} ORDER BY c DESC, a ASC, b ASC LIMIT 1)"""
        )
        if r < n_merges:
            parts.append(
                f""",
w{r + 1} AS (
  SELECT word, cnt, replace(rep, '<'||a||'>'||'<'||b||'>', '<'||a||b||'>') AS rep
  FROM w{r}, b{r}
)"""
            )
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, a AS left_sym, b AS right_sym, "
        f"a||b AS merged, CAST(c AS BIGINT) AS weight FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n" + unions


@query("bpe_train", _bpe_oracle_sql(10), bench_skip=_ROUNDS)
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 learn-side: distributed BPE tokenizer training (Sennrich et al.
    2016) — 10 driver-coordinated merge rounds over the word-count table
    (the corpus collapses to (distinct word, count) once; every round's
    pair statistics weight by word frequency, so they equal corpus-level
    counts at vocabulary cost — ~10M rows at 100 TB, not the corpus).
    Per round one argmax row reaches the driver; merges apply as
    wrapped-symbol literal replaces (greedy left-to-right = BPE merge
    order). The oracle unrolls the identical rounds as CTEs — the
    learned merge table is bit-exact across engines."""
    from chatbot_spark.operators.bpe import merges_df, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges, _words = train_bpe(docs, text_col="text", n_merges=10)
    return merges_df(spark, merges).select(
        F.col("round").cast("long").alias("merge_round"),
        "left_sym",
        "right_sym",
        "merged",
        "weight",
    )


@query(
    "bpe_train_speculative",
    _bpe_oracle_sql(10),
    bench_skip="driver-round floor; its batching win is in BENCH_BPE.json",
)
def bpe_train_speculative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 learn-side, r12 batching form: speculate-then-verify BPE
    (operators/bpe.py::train_bpe_speculative) — the driver speculates a
    ranked merge chain, ONE distributed action computes exact per-step
    pair-count deltas, and the chain's certified prefix is kept (every
    competitor either exactly known or bounded by the ranked window's
    floor), so dozens of merges land per driver round-trip instead of
    one. The merge sequence is PROVABLY the serial greedy order — this
    pin shares bpe_train's oracle verbatim, so the driver certifies the
    equivalence on real documents data."""
    from chatbot_spark.operators.bpe import merges_df, train_bpe_speculative

    docs = load_table(spark, sf_dir, "documents")
    merges, _words = train_bpe_speculative(
        docs, text_col="text", n_merges=10, batch_size=8, spec_chunk=4
    )
    return merges_df(spark, merges).select(
        F.col("round").cast("long").alias("merge_round"),
        "left_sym",
        "right_sym",
        "merged",
        "weight",
    )


@query(
    "vocab_topk",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS.format(c='text')}) AS token
  FROM documents)
SELECT token,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS tf
FROM tok GROUP BY token
ORDER BY df DESC, token
LIMIT 100
""",
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: top-100 tokens by document frequency (ties
    broken by token so the selected set is engine-stable). Map-side
    partial aggregation carries (token → partial df/tf) so the shuffle
    moves one row per distinct token per partition, not one per
    occurrence; the global top-k is a TakeOrdered over the agg output."""
    from chatbot_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"), F.count("*").alias("tf"))
        .orderBy(F.col("df").desc(), "token")
        .limit(100)
    )


def _encode_tokens_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chatbot_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    wv = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        # global window over ~vocab-size rows (tiny) — fine; the row
        # stream below never sees a partition-less window
        .withColumn("tok_id", F.row_number().over(wv))
        .filter(F.col("tok_id") <= 1000)
        .select("tok", "tok_id")
    )
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce("tok_id", F.lit(0)).alias("tok_id")
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum((F.col("tok_id") == 0).cast("long")).alias("n_unk"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok_id")))
                    ),
                    lambda s: s.tok_id.cast("string"),
                ),
            )
        ).alias("ids_md5"),
    )


@query(
    "encode_tokens",
    f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS.format(c='text')} AS ts FROM documents),
p AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ts)),
                               i -> struct_pack(pos := i, tok := ts[i]))) AS s
  FROM toks),
pp AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM p),
vocab AS (
  SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS tok_id
  FROM pp GROUP BY tok
  QUALIFY tok_id <= 1000),
enc AS (
  SELECT pp.doc_id, pp.pos, coalesce(v.tok_id, 0) AS tok_id
  FROM pp LEFT JOIN vocab v USING (tok))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
       md5(string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY pos ASC)) AS ids_md5
FROM enc GROUP BY doc_id
""",
)
def encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text → token-ids encode step (what every training pipeline runs
    between vocab building and sequence packing): corpus-derived top-1000
    vocabulary (deterministic rank: count desc, token asc; id 0 = UNK)
    broadcast onto the exploded token stream, re-assembled per doc in
    position order. Emits a compact verdict (token/UNK counts + md5 of
    the comma-joined id sequence) so the full id arrays never leave the
    executors. One shuffle for the vocab agg, one for the per-doc
    reassembly; the vocab join is map-side."""
    return _encode_tokens_impl(spark, sf_dir)



@query(
    "pack_sequences",
    f"""
WITH t AS (
  SELECT doc_id, doc_id % 16 AS bucket,
         len({_DUCK_TOKENS.format(c='text')}) AS n_tok
  FROM documents),
c AS (
  SELECT bucket, doc_id, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM t)
SELECT CAST(bucket * 1000000 + floor(off / 2048) AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM c GROUP BY seq_id
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk form): docs are concatenated in
    doc_id order within a shard and each doc is assigned to the 2048-token
    sequence containing its start offset. Sharding by doc_id % 16 keeps
    the running-sum window per-shard — at 100 TB each shard packs
    independently (no global sort, no single-partition window; shard count
    scales with the cluster). seq_id = shard * 1e6 + local chunk."""
    docs = load_table(spark, sf_dir, "documents")
    from chatbot_spark.operators.textstats import tokens

    t = docs.select(
        "doc_id",
        (F.col("doc_id") % 16).alias("bucket"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn("off", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    return (
        c.groupBy((F.col("bucket") * 1000000 + F.floor(F.col("off") / 2048)).alias("seq_id"))
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").cast("long").alias("total_tokens"))
    )


@query(
    "length_bucketed_batches",
    f"""
WITH t AS (
  SELECT doc_id, doc_id % 16 AS bucket,
         len({_DUCK_TOKENS.format(c='text')}) AS n_tok
  FROM documents),
r AS (
  SELECT bucket, n_tok,
         row_number() OVER (PARTITION BY bucket ORDER BY n_tok, doc_id) AS rb,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM t),
bb AS (
  SELECT bucket, CAST(floor((rb - 1) / 32) AS BIGINT) AS batch,
         count(*) AS n, max(n_tok) AS mx, sum(n_tok) AS s
  FROM r GROUP BY 1, 2),
nb AS (
  SELECT bucket, CAST(floor((rn - 1) / 32) AS BIGINT) AS batch,
         count(*) AS n, max(n_tok) AS mx, sum(n_tok) AS s
  FROM r GROUP BY 1, 2)
SELECT CAST((SELECT count(*) FROM bb) AS BIGINT) AS n_batches,
       CAST((SELECT sum(mx * n - s) FROM bb) AS BIGINT) AS bucketed_pad_tokens,
       CAST((SELECT sum(mx * n - s) FROM nb) AS BIGINT) AS naive_pad_tokens,
       CAST((SELECT sum(mx * n - s) FROM bb) < (SELECT sum(mx * n - s) FROM nb) AS INT)
         AS bucketed_lt_naive
""",
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly — the PADDED-batch counterpart of
    pack_sequences (concat packing): batch-inference and non-packed
    training pad every sequence in a batch of 32 to the batch max, so
    grouping similar-length docs together is what bounds wasted pad
    tokens. Docs shard by doc_id % 16 (each shard buckets independently
    — no global sort, shard count scales with the cluster), sort by
    (token length, doc_id) within the shard, and chop into batches of
    32; padding waste = Σ_batch (max_len·n − Σlen), reported against
    the naive arrival-order batching of the SAME shards. ONE scan, one
    shuffle on the shard key serving both windows (same partitioning —
    the second Window re-sorts in place), then both schemes unpivot into
    (scheme, batch) rows so a single map-side-combinable aggregate pair
    computes both wastes — no duplicated subtree (the naive two-branch
    crossJoin form compiled to two scans + two exchanges)."""
    docs = load_table(spark, sf_dir, "documents")
    from chatbot_spark.operators.textstats import tokens

    t = docs.select(
        "doc_id",
        (F.col("doc_id") % 16).alias("bucket"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    wb = Window.partitionBy("bucket").orderBy("n_tok", "doc_id")
    wn = Window.partitionBy("bucket").orderBy("doc_id")
    r = t.withColumn("rb", F.row_number().over(wb)).withColumn(
        "rn", F.row_number().over(wn)
    )
    both = r.select(
        "bucket",
        "n_tok",
        F.explode(
            F.array(
                F.struct(
                    F.lit("b").alias("scheme"),
                    F.floor((F.col("rb") - 1) / 32).alias("batch"),
                ),
                F.struct(
                    F.lit("n").alias("scheme"),
                    F.floor((F.col("rn") - 1) / 32).alias("batch"),
                ),
            )
        ).alias("s"),
    )
    per_batch = both.groupBy("s.scheme", "bucket", "s.batch").agg(
        F.count("*").alias("n"),
        F.max("n_tok").alias("mx"),
        F.sum("n_tok").alias("sm"),
    )
    tot = per_batch.groupBy("scheme").agg(
        F.count("*").alias("n_batches"),
        F.sum(F.col("mx") * F.col("n") - F.col("sm")).alias("pad"),
    )
    is_b = F.col("scheme") == "b"
    return tot.agg(
        F.max(F.when(is_b, F.col("n_batches"))).cast("long").alias("n_batches"),
        F.max(F.when(is_b, F.col("pad"))).cast("long").alias("bucketed_pad_tokens"),
        F.max(F.when(~is_b, F.col("pad"))).cast("long").alias("naive_pad_tokens"),
    ).select(
        "n_batches",
        "bucketed_pad_tokens",
        "naive_pad_tokens",
        (F.col("bucketed_pad_tokens") < F.col("naive_pad_tokens"))
        .cast("int")
        .alias("bucketed_lt_naive"),
    )


@query(
    "dataset_card",
    f"""
WITH base AS (
  SELECT source, lang, text, md5(text) AS h,
         len({_DUCK_TOKENS.format(c='text')}) AS n_tok
  FROM documents),
per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(length(text)) AS BIGINT) AS n_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dup_docs,
         round(quantile_cont(n_tok, 0.5), 4) AS p50_tokens,
         round(quantile_cont(n_tok, 0.95), 4) AS p95_tokens
  FROM base GROUP BY source),
vocab AS (
  SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
  FROM (SELECT source, unnest({_DUCK_TOKENS.format(c='text')}) AS tok FROM documents) u
  GROUP BY source)
SELECT p.source, p.n_docs, p.n_tokens, p.n_chars, p.n_langs,
       p.n_exact_dup_docs, p.p50_tokens, p.p95_tokens, v.vocab_size
FROM per_source p JOIN vocab v ON v.source = p.source
""",
)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The publishable DATA CARD — the per-source summary a training-data
    release ships (HuggingFace dataset card / Datasheets-for-Datasets
    shape): doc and token counts, exact character volume, language
    spread, exact-duplicate count (docs beyond the first per md5), exact
    token-length percentiles, and vocabulary size. ONE pass over the
    corpus for everything except the vocabulary leg (which must explode
    tokens — its shuffle carries hashed-width tokens and map-side
    combines); the tiny per-source frames broadcast-join at the end. At
    100 TB each aggregate is map-side-combinable except the exact
    percentiles — swap F.percentile for approx_percentile there (the
    SLO-checked approx path) when exactness stops mattering."""
    from chatbot_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        "text",
        F.md5("text").alias("h"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    per_source = base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        (F.count("*") - F.countDistinct("h")).cast("long").alias("n_exact_dup_docs"),
        F.round(F.percentile("n_tok", F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile("n_tok", F.lit(0.95)), 4).alias("p95_tokens"),
    )
    vocab = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").cast("long").alias("vocab_size"))
    )
    return per_source.join(F.broadcast(vocab), "source")


@query(
    "event_type_unpivot",
    """
WITH p AS (
  SELECT user_id % 100 AS user_bucket,
         CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchases,
         CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signups
  FROM events GROUP BY 1)
SELECT user_bucket, metric, n
FROM p
UNPIVOT (n FOR metric IN (clicks, purchases, signups))
""",
)
def event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (the inverse of event_type_pivot) via
    DataFrame.unpivot / SQL stack() — §2.G set-op family completion. A
    narrow map-side transform: no shuffle beyond the feeding aggregate
    (each wide row explodes to 3 long rows in place). DuckDB's UNPIVOT
    drops NULL cells by default; counts here are never NULL (FILTER
    yields 0), so both engines emit exactly 3 rows per bucket."""
    ev = load_table(spark, sf_dir, "events").withColumn("user_bucket", F.col("user_id") % 100)
    wide = ev.groupBy("user_bucket").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
        F.count(F.when(F.col("event_type") == "signup", 1)).alias("signups"),
    )
    return wide.unpivot(
        ids=["user_bucket"],
        values=["clicks", "purchases", "signups"],
        variableColumnName="metric",
        valueColumnName="n",
    )

# --------------------------------------------------------------------------
# Catalog / orchestration surface as driver-checked queries (SURVEY §2.K
# K1-K5, §2.C C2, §2.G G2, §2.H H6, §2.M M1) — previously pytest-only;
# each is SQL-expressible, so the DuckDB oracle is the hard gate.
# --------------------------------------------------------------------------

@query(
    "catalog_roundtrip",
    """
WITH mapping(component, component_code) AS (
  VALUES ('default_modules', 0), ('observer', 1), ('ocp', 2), ('oms', 3),
         ('obd', 4), ('operator', 5), ('odp', 6), ('odc', 7),
         ('obshell', 9), ('miniob', 10), ('newcomp', 11)),
live AS (SELECT DISTINCT 1 + doc_id % 4 AS code FROM documents WHERE doc_id < 40)
SELECT component,
       CAST(component_code AS BIGINT) AS component_code,
       CAST(CASE WHEN component_code IN (SELECT code FROM live) THEN 1 ELSE 0 END AS BIGINT)
         AS has_partition,
       CAST(1 AS BIGINT) AS table_ok
FROM mapping
""",
    sf1=True,
)
def catalog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1+K3+K4+K5+D3 in one round-trip: extend the component mapping with
    max+1 (ADD PARTITION analog), write a corpus partitioned by
    component_code (CREATE TABLE analog), discover the live partition codes
    from the files (SHOW CREATE parse analog), and existence-check the
    table — the oracle recomputes the mapping, the max+1 code, and the
    expected live-partition set from `documents`."""
    import os
    import tempfile

    from chatbot_spark.plans.catalog import (
        append_partition,
        default_mapping,
        discover_partitions,
        table_exists,
    )

    extended = append_partition(default_mapping(spark), "newcomp")
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    corpus = docs.select(
        "doc_id", "text", (F.lit(1) + F.col("doc_id") % 4).cast("int").alias("component_code")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_catalog_q_"), "corpus")
    corpus.write.mode("overwrite").partitionBy("component_code").parquet(path)

    live = discover_partitions(spark, path).withColumnRenamed("component_code", "live_code")
    ok = 1 if table_exists(spark, path) else 0
    return (
        extended.join(
            F.broadcast(live), extended["component_code"] == live["live_code"], "left"
        )
        .select(
            "component",
            F.col("component_code").cast("long").alias("component_code"),
            F.when(F.col("live_code").isNotNull(), 1).otherwise(0).cast("long").alias("has_partition"),
            F.lit(ok).cast("long").alias("table_ok"),
        )
    )


@query(
    "component_code_join",
    """
WITH names(idx, component) AS (
  VALUES (0, 'observer'), (1, 'ocp'), (2, 'nosuch'), (3, 'odp'), (4, 'miniob'), (5, 'obshell')),
mapping(component, code) AS (
  VALUES ('default_modules', 0), ('observer', 1), ('ocp', 2), ('oms', 3),
         ('obd', 4), ('operator', 5), ('odp', 6), ('odc', 7),
         ('obshell', 9), ('miniob', 10))
SELECT d.doc_id, n.component,
       CAST(COALESCE(m.code, 0) AS BIGINT) AS component_code
FROM (SELECT doc_id, CAST(doc_id % 6 AS INT) AS idx FROM documents WHERE doc_id < 60) d
JOIN names n ON n.idx = d.idx
LEFT JOIN mapping m ON m.component = n.component
""",
)
def component_code_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 set-at-a-time: names → codes via broadcast equi-join against the
    component mapping dimension, unknown names defaulting to 0 (the
    reference's doc_embedder.py:105 fallback)."""
    from chatbot_spark.plans.catalog import default_mapping, join_component_codes

    names = ["observer", "ocp", "nosuch", "odp", "miniob", "obshell"]
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    with_names = docs.select(
        "doc_id",
        F.element_at(F.array(*[F.lit(n) for n in names]), (F.col("doc_id") % 6 + 1).cast("int")).alias("component"),
    )
    out = join_component_codes(with_names, default_mapping(spark))
    return out.select("doc_id", "component", F.col("component_code").cast("long").alias("component_code"))


@query(
    "reference_dedup",
    """
WITH results AS (
  SELECT doc_id % 3 AS query_id,
         CAST(doc_id // 3 + 1 AS BIGINT) AS rank,
         'https://docs/' || CAST(doc_id % 7 AS VARCHAR) AS doc_url
  FROM documents WHERE doc_id < 30),
first_seen AS (
  SELECT query_id, rank, doc_url,
         row_number() OVER (PARTITION BY query_id, doc_url ORDER BY rank) AS fs
  FROM results)
SELECT query_id, rank, doc_url,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY rank) AS BIGINT) AS ref_num
FROM first_seen WHERE fs = 1
""",
)
def reference_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: first-seen-wins URL dedup + stable renumbering for the
    reference list (rag_graph.py:492-504) over a deterministic synthetic
    retrieval result (3 queries × 10 ranks, URLs colliding mod 7)."""
    from chatbot_spark.plans.retrieve import reference_list

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    results = docs.select(
        (F.col("doc_id") % 3).alias("query_id"),
        (F.col("doc_id") / 3 + 1).cast("long").alias("rank"),
        F.concat(F.lit("https://docs/"), (F.col("doc_id") % 7).cast("string")).alias("doc_url"),
    )
    out = reference_list(results)
    return out.select("query_id", "rank", "doc_url", F.col("ref_num").cast("long").alias("ref_num"))


@query(
    "citation_rewrite",
    """
SELECT doc_id,
       replace(replace(
         'Doc ' || CAST(doc_id AS VARCHAR) || ' cites [[@1]] and [@2] and [[@3]].',
         '[[@1]]', '[1](https://a/' || CAST(doc_id AS VARCHAR) || ')'),
         '[@2]', '[2](https://b)') AS answer
FROM documents WHERE doc_id < 50
""",
)
def citation_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6: [[@N]] / [@N] citation markers rewrite to [N](url_N) from a
    per-row URL array (1-indexed; out-of-range orders — [[@3]] here, with
    only 2 URLs — stay untouched, rag_graph.py:530-533)."""
    from chatbot_spark.functions.text import rewrite_citations

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    with_text = docs.select(
        "doc_id",
        F.concat(
            F.lit("Doc "), F.col("doc_id").cast("string"),
            F.lit(" cites [[@1]] and [@2] and [[@3]]."),
        ).alias("answer_raw"),
        F.array(
            F.concat(F.lit("https://a/"), F.col("doc_id").cast("string")),
            F.lit("https://b"),
        ).alias("urls"),
    )
    return with_text.select(
        "doc_id", rewrite_citations(F.col("answer_raw"), F.col("urls")).alias("answer")
    )


_INTENT_PREFIX = (
    "Classify the intent of this OceanBase question as JSON "
    "{type, rewrite, components}: "
)


@query(
    "intents_batch",
    f"""
WITH q AS (
  SELECT doc_id, '{_INTENT_PREFIX}' || text AS prompt
  FROM documents WHERE doc_id < 40),
lp AS (SELECT doc_id, prompt, lower(prompt) AS l FROM q)
SELECT doc_id,
       CASE WHEN strpos(l,'error')>0 OR strpos(l,'fail')>0 OR strpos(l,'diagnos')>0 OR strpos(l,'slow')>0
              THEN 'Diagnosis'
            WHEN strpos(l,'how')>0 OR strpos(l,'what')>0 OR strpos(l,'feature')>0 OR strpos(l,'support')>0
              THEN 'Features'
            ELSE 'Chat' END AS itype,
       substr(prompt, 1, 200) AS rewrite,
       COALESCE(array_to_string(list_filter(
         ['observer','ocp','oms','obd','operator','odp','odc','obshell','miniob'],
         c -> strpos(l, c) > 0), ','), '') AS components
FROM lp
""",
)
def intents_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 set-at-a-time: intent classification over a queries DataFrame
    via the Arrow-batched pandas UDF with the deterministic stub LLM —
    the oracle replays the stub's keyword heuristics, the 200-char
    rewrite truncation, and the ordered component substring scan."""
    from chatbot_spark.plans.agents import classify_intents_batch

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    out = classify_intents_batch(docs.select("doc_id", F.col("text").alias("query_text")))
    return out.select(
        "doc_id",
        F.col("intent.type").alias("itype"),
        F.col("intent.rewrite").alias("rewrite"),
        F.array_join(F.col("intent.components"), ",").alias("components"),
    )

# --------------------------------------------------------------------------
# Lexical TF-IDF retrieval (SURVEY §2.I I5 — the text leg of hybrid
# search). Scores are exact compositions of integer-derived doubles folded
# in sorted term order, so the oracle reproduces them bit-for-bit.
# --------------------------------------------------------------------------

@query(
    "tfidf_topk",
    """
WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
n AS (SELECT count(*) AS n_docs FROM c),
post AS (
  SELECT doc_id AS id, tok AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM c) s
  GROUP BY doc_id, tok),
dfreq AS (SELECT token, count(*) AS df FROM post GROUP BY token),
qterms AS (
  SELECT doc_id AS query_id, unnest(list_distinct(regexp_extract_all(lower(text), '\\S+'))) AS token
  FROM c WHERE doc_id < 3),
contrib AS (
  SELECT q.query_id, p.id AS neighbor_id, q.token,
         CAST(p.tf AS DOUBLE) * (SELECT n_docs FROM n) / d.df AS w
  FROM qterms q
  JOIN dfreq d ON d.token = q.token
  JOIN post p ON p.token = q.token),
scored AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(w ORDER BY token)),
                     (acc, x) -> acc + x) AS score
  FROM contrib GROUP BY query_id, neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= 10
""",
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: lexical top-10 by TF-IDF (rational idf — exact-int derived, see
    operators/lexical.py determinism contract) over a 200-doc corpus with
    the first 3 docs as queries; posting-list joins keyed by token, scores
    folded in sorted term order."""
    from chatbot_spark.operators.lexical import tfidf_topk as _tfidf

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    queries_df = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    res = _tfidf(queries_df, docs, k=10)
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )

# --------------------------------------------------------------------------
# Scale patterns as verifiable queries: salted aggregation (hot-key skew),
# keep-latest upsert, and the approx-percentile SLO — each oracle-checked
# because the pattern is exact by construction (integer partials, window
# dedup, bounded error vs the exact form).
# --------------------------------------------------------------------------

@query(
    "salted_event_counts",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       CAST(max(user_id) AS BIGINT) AS max_user
FROM events GROUP BY event_type
""",
)
def salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation: event_type has 3 hot keys (33 TB/key at
    100 TB); the salted two-phase plan balances the wide shuffle across
    16 sub-groups per key and re-aggregates the tiny partials. The oracle
    is the PLAIN groupBy — integer partials make the salted plan exactly
    equal, which is the point: same answer, balanced shuffle."""
    from chatbot_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        key_cols=["event_type"],
        salt_source=F.col("user_id"),
        aggs={
            "n_events": ("sum", F.count("*")),
            "sum_value_cents": ("sum", F.sum(F.round(F.col("value") * 100).cast("long"))),
            "max_user": ("max", F.max("user_id")),
        },
        n_salts=16,
    ).select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value_cents").cast("long").alias("sum_value_cents"),
        F.col("max_user").cast("long").alias("max_user"),
    )


@query(
    "first_touch_attribution",
    """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'),
att AS (
  SELECT p.event_id, p.user_id,
         min(c.ts) AS first_click_ts
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND c.ts <= p.ts
   AND c.ts >= p.ts - INTERVAL 7 DAY
  GROUP BY p.event_id, p.user_id)
SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
       CAST(count(*) AS BIGINT) AS n_attributed,
       CAST(sum(epoch_us(first_click_ts)) AS BIGINT) AS sum_first_click_us
FROM att GROUP BY user_id % 10
""",
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution, FIRST-touch: each purchase credits the
    EARLIEST click in its trailing 7-day window — the complement of the
    as-of join's last-touch (asof_purchase_click: most recent click).
    Plan: the interval join fans out per (purchase, qualifying click)
    and collapses with min() — map-side combinable, keyed by purchase;
    at scale bound the window (the 7-day cap here) or the fan-out is
    unbounded for always-clicking users. µs-exact sums, no floats."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts")
    )
    att = (
        p.join(
            c,
            (F.col("c_uid") == F.col("user_id"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
        )
        .groupBy("event_id", "user_id")
        .agg(F.min("c_ts").alias("first_click_ts"))
    )
    return att.groupBy((F.col("user_id") % 10).cast("long").alias("user_bucket")).agg(
        F.count("*").alias("n_attributed"),
        F.sum(F.unix_micros("first_click_ts")).cast("long").alias("sum_first_click_us"),
    )


@query(
    "rolling_zscore_anomalies",
    """
WITH c AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
w AS (
  SELECT user_id, event_id, cents,
         count(*)      OVER win AS n,
         sum(cents)    OVER win AS s,
         sum(cents * cents) OVER win AS sq
  FROM c
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
z AS (
  SELECT user_id, event_id,
         (20 * cents - s) / sqrt(CAST(20 * sq - s * s AS DOUBLE)) AS zs
  FROM w
  WHERE n = 20 AND 20 * sq - s * s > 0)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id,
       round(zs, 4) AS zscore
FROM z WHERE abs(zs) > 3
""",
)
def rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly detection: per-user rolling z-score over the
    last 20 events. Everything feeding the statistic is EXACT integer
    arithmetic — cents, rolling sum, rolling sum-of-squares — and the
    algebraic form z = (n·x − Σ)/√(n·Σx² − Σ²) does one division and one
    sqrt on exact BIGINTs, so both engines compute the identical double
    (no mean/std intermediate, no reassociated float sums; the workload
    float discipline applied to streaming statistics). Windows shuffle
    once on user_id; partial windows and zero-variance windows are
    excluded explicitly."""
    ev = load_table(spark, sf_dir, "events")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    c = ev.select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = c.select(
        "user_id", "event_id", "cents",
        F.count("*").over(win).alias("n"),
        F.sum("cents").over(win).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(win).alias("sq"),
    )
    z = (
        w.filter((F.col("n") == 20) & (20 * F.col("sq") - F.col("s") * F.col("s") > 0))
        .withColumn(
            "zs",
            (20 * F.col("cents") - F.col("s"))
            / F.sqrt((20 * F.col("sq") - F.col("s") * F.col("s")).cast("double")),
        )
    )
    return z.filter(F.abs("zs") > 3).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.round("zs", 4).alias("zscore"),
    )


@query(
    "table_stats_orders",
    """
WITH s AS (
  SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
         count(*) - count(o_orderkey) AS n_nulls,
         count(DISTINCT o_orderkey) AS n_distinct,
         CAST(min(o_orderkey) AS VARCHAR) AS min_value,
         CAST(max(o_orderkey) AS VARCHAR) AS max_value
  FROM orders
  UNION ALL
  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
         count(DISTINCT o_custkey),
         CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
         count(DISTINCT o_orderstatus),
         CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
         count(DISTINCT o_orderpriority),
         CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
  FROM orders)
SELECT column_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_nulls AS BIGINT) AS n_nulls,
       CAST(n_distinct AS BIGINT) AS n_distinct, min_value, max_value
FROM s
""",
    sf1=True,
)
def table_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE surface (io/tables.py::collect_table_stats): the
    per-column planner statistics — row/null/distinct counts, native-
    order min/max — computed in ONE scan (all aggregates ride a single
    agg; the wide 1-row result unpivots via stack, so only the k×5
    summary exists anywhere). ndv_mode='exact' here so the oracle is
    bit-exact; 'approx' is the constant-memory 100 TB default."""
    from chatbot_spark.io.tables import collect_table_stats

    orders = load_table(spark, sf_dir, "orders")
    return collect_table_stats(
        orders,
        cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        ndv_mode="exact",
    )


@query(
    "salted_join_enrich",
    """
WITH dim AS (
  SELECT event_type,
         CAST(length(event_type) * 37 + 11 AS BIGINT) AS type_weight
  FROM (SELECT DISTINCT event_type FROM events)
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(d.type_weight * e.event_id) AS BIGINT) AS weighted_checksum
FROM events e JOIN dim d ON d.event_type = e.event_type
GROUP BY e.event_type
""",
)
def salted_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe JOIN (the join-side complement of salted_event_counts):
    the fact side is hot on event_type (3 keys own everything), the
    dimension is replicated 16× and the join runs on (key, salt), so no
    reducer owns a whole hot key. The oracle is the PLAIN join — each
    left row matches through exactly one salt, so equality is exact and
    IS the proof. This is the manual fallback when AQE skew-join can't
    fire; `test_aqe_splits_skewed_join_partition` covers the engine-level
    path, `tools/bench_skew.py` the wall-clock."""
    from chatbot_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.select("event_type").distinct().withColumn(
        "type_weight", (F.length("event_type") * 37 + 11).cast("long")
    )
    joined = salted_join(
        ev, dim, on=["event_type"], salt_source=F.col("event_id"), n_salts=16
    )
    return joined.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("type_weight") * F.col("event_id")).cast("long").alias("weighted_checksum"),
    )


@query(
    "merge_into_changes",
    """
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
src AS (
  SELECT doc_id, 'u:' || text AS text, 'U' AS action FROM documents
  WHERE doc_id < 400 AND doc_id % 7 = 0 AND doc_id % 13 != 0
  UNION ALL
  SELECT doc_id, text, 'D' AS action FROM documents
  WHERE doc_id < 400 AND doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 10000, 'i:' || text, 'I' AS action FROM documents
  WHERE doc_id < 400 AND doc_id % 11 = 0
),
m AS (
  SELECT coalesce(b.doc_id, s.doc_id) AS doc_id,
         CASE WHEN s.doc_id IS NULL THEN b.text
              WHEN b.doc_id IS NULL THEN s.text
              ELSE s.text END AS text,
         CASE WHEN b.doc_id IS NOT NULL AND s.doc_id IS NOT NULL
                   AND s.action = 'D' THEN 1 ELSE 0 END AS deleted
  FROM base b FULL OUTER JOIN src s ON b.doc_id = s.doc_id
)
SELECT doc_id, md5(text) AS text_md5 FROM m WHERE deleted = 0
""",
)
def merge_into_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-family mutation primitive: general MERGE INTO
    (io/tables.py::merge_into) over a deterministic change feed — every
    7th doc updated, every 13th deleted, every 11th re-inserted under a
    new key — one full-outer join + CASE projection, the canonical MERGE
    shuffle (bucket the base on the key and the target-side exchange
    disappears). The oracle replays the same FULL OUTER JOIN emulation;
    the full per-row (doc_id, text_md5) verdict is bit-exact."""
    from chatbot_spark.io.tables import merge_into

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    base = docs.select("doc_id", "text")
    src = (
        docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 13 != 0))
        .select("doc_id", F.concat(F.lit("u:"), "text").alias("text"), F.lit("U").alias("action"))
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                "doc_id", "text", F.lit("D").alias("action")
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 10000).alias("doc_id"),
                F.concat(F.lit("i:"), "text").alias("text"),
                F.lit("I").alias("action"),
            )
        )
    )
    merged = merge_into(
        base,
        src,
        on=["doc_id"],
        when_matched_update={"text": F.col("s.text")},
        when_matched_delete=F.col("s.action") == "D",
    )
    return merged.select("doc_id", F.md5("text").alias("text_md5"))


@query(
    "null_aware_not_in",
    """
WITH probe AS (SELECT DISTINCT o_custkey FROM orders),
lst AS (
  SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_custkey END AS k
  FROM customer),
a AS (
  SELECT count(*) AS n FROM probe
  WHERE o_custkey NOT IN (SELECT k FROM lst)),
b AS (
  SELECT count(*) AS n FROM probe
  WHERE o_custkey NOT IN (SELECT k FROM lst WHERE k IS NOT NULL))
SELECT 'with_nulls' AS variant, CAST(n AS BIGINT) AS n_rows FROM a
UNION ALL
SELECT 'nulls_filtered' AS variant, CAST(n AS BIGINT) AS n_rows FROM b
""",
)
def null_aware_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic NOT IN — the correctness trap of the anti-join
    family: one NULL in the subquery list makes every NOT IN predicate
    UNKNOWN, so the with-nulls arm must return 0 rows while the
    nulls-filtered arm anti-joins normally (Spark plans the former as a
    NULL-aware anti join, the latter as a plain LeftAnti —
    brand_supplier_count documents why its NOT IN could skip the
    null-aware machinery; this query exercises it). Both engines'
    SQL semantics agree exactly, which is the point of pinning it."""
    import uuid

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    vo = f"orders_nai_{uuid.uuid4().hex[:10]}"
    vc = f"customer_nai_{uuid.uuid4().hex[:10]}"
    orders.createOrReplaceTempView(vo)
    cust.createOrReplaceTempView(vc)
    try:
        return spark.sql(f"""
            WITH probe AS (SELECT DISTINCT o_custkey FROM {vo}),
            lst AS (
              SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_custkey END AS k
              FROM {vc}),
            a AS (
              SELECT count(*) AS n FROM probe
              WHERE o_custkey NOT IN (SELECT k FROM lst)),
            b AS (
              SELECT count(*) AS n FROM probe
              WHERE o_custkey NOT IN (SELECT k FROM lst WHERE k IS NOT NULL))
            SELECT 'with_nulls' AS variant, CAST(n AS BIGINT) AS n_rows FROM a
            UNION ALL
            SELECT 'nulls_filtered' AS variant, CAST(n AS BIGINT) AS n_rows FROM b
        """)
    finally:
        spark.catalog.dropTempView(vo)
        spark.catalog.dropTempView(vc)


@query(
    "schema_evolution_read",
    """
WITH unioned AS (
  SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id, text, lang FROM documents WHERE doc_id >= 100 AND doc_id < 200)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_evolution,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM unioned
""",
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the source level: an old batch written WITHOUT
    the lang column and a new batch WITH it land in the same dataset;
    ``mergeSchema`` unifies the footers so old rows surface lang=NULL —
    the additive-column evolution every long-lived ingest dataset goes
    through (at 100 TB you set this per-read, not globally: footer
    merging costs a file-listing pass). Verdict: row counts by schema
    generation, distinct langs, id checksum — the oracle is the
    null-padded UNION the merged read must equal."""
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="cbs_schevo_q_")
    path = os.path.join(base, "data")
    docs.filter(F.col("doc_id") < 100).select("doc_id", "text").write.mode(
        "append"
    ).parquet(path)
    docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)).select(
        "doc_id", "text", "lang"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)).cast("long").alias("n_pre_evolution"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@query(
    "cdc_apply_changes",
    """
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
expected AS (
  -- the oracle encodes CDC semantics per rule-class, independent of the
  -- operator's window/merge mechanism:
  SELECT doc_id, 'u2:' || text AS text FROM base WHERE doc_id % 10 = 0       -- two updates: last wins
  UNION ALL
  SELECT doc_id, 'res:' || text FROM base WHERE doc_id % 10 = 2              -- delete then update: resurrected
  UNION ALL
  SELECT doc_id, text FROM base
  WHERE doc_id % 10 NOT IN (0, 1, 2, 5)                                      -- untouched classes
  UNION ALL
  SELECT doc_id + 1000, 'new:' || text FROM base WHERE doc_id % 10 = 3       -- fresh insert
  -- %10=1: update then delete -> gone; %10=5: same-seq tie -> delete wins;
  -- phantom insert+delete (keys +2000) never appear
)
SELECT doc_id, md5(text) AS text_md5 FROM expected
""",
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (io/tables.py::apply_cdc): a change feed with MULTIPLE
    ordered operations per key — update-then-update (last wins),
    update-then-delete (gone), delete-then-update (resurrected),
    insert-then-delete of a never-existing key (phantom, must not
    appear), and a same-sequence tie where the delete deterministically
    wins. One window compacts the feed to its final op per key, then the
    general MERGE applies it. The oracle states the EXPECTED table per
    rule class — semantics, not mechanism — so a compaction-order or
    clause-routing bug shows up as a hash mismatch."""
    from chatbot_spark.io.tables import apply_cdc

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    base = docs.select("doc_id", "text")

    def feed(pred, key_shift, seq, op, prefix):
        rows = docs.filter(pred).select(
            (F.col("doc_id") + key_shift).alias("doc_id"),
            F.concat(F.lit(prefix), "text").alias("text") if prefix else F.col("text"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
        )
        return rows

    m = F.col("doc_id") % 10
    changes = (
        feed(m == 0, 0, 1, "U", "u1:")
        .unionByName(feed(m == 0, 0, 2, "U", "u2:"))
        .unionByName(feed(m == 1, 0, 1, "U", "u1:"))
        .unionByName(feed(m == 1, 0, 2, "D", None))
        .unionByName(feed(m == 2, 0, 1, "D", None))
        .unionByName(feed(m == 2, 0, 2, "U", "res:"))
        .unionByName(feed(m == 3, 1000, 1, "I", "new:"))
        .unionByName(feed(m == 4, 2000, 1, "I", "ph:"))
        .unionByName(feed(m == 4, 2000, 2, "D", None))
        .unionByName(feed(m == 5, 0, 1, "U", "tie:"))
        .unionByName(feed(m == 5, 0, 1, "D", None))
    )
    applied = apply_cdc(base, changes, on=["doc_id"], seq_col="seq", op_col="op")
    return applied.select("doc_id", F.md5("text").alias("text_md5"))


@query(
    "snapshot_time_travel",
    """
WITH b0 AS (
  SELECT doc_id AS id, 1 AS version, text FROM documents WHERE doc_id < 150),
b1 AS (
  SELECT doc_id AS id, 2 AS version, 'v2:' || text AS text FROM documents
  WHERE doc_id < 150 AND doc_id % 3 = 0),
b2 AS (
  SELECT doc_id AS id, 1 AS version, text FROM documents
  WHERE doc_id >= 150 AND doc_id < 200),
v0 AS (SELECT * FROM b0),
v1 AS (
  SELECT coalesce(u.id, b.id) AS id, coalesce(u.version, b.version) AS version,
         coalesce(u.text, b.text) AS text
  FROM v0 b FULL OUTER JOIN b1 u ON u.id = b.id),
v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM b2),
snaps AS (
  SELECT 'v0' AS snapshot, id, version, text FROM v0
  UNION ALL SELECT 'v1', id, version, text FROM v1
  UNION ALL SELECT 'current', id, version, text FROM v2)
SELECT snapshot,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(version) AS BIGINT) AS sum_version,
       CAST(sum({hex8}) AS BIGINT) AS content_checksum
FROM snaps GROUP BY snapshot
""".format(
        hex8=_DUCK_HEX8.format(
            h="md5(CAST(id AS VARCHAR) || ':' || CAST(version AS VARCHAR) || ':' || text)"
        )
    ),
    bench_skip="three commit cycles: times the commit harness, not a plan",
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the versioned-commit table: three batches commit
    through the lakehouse-miniature protocol (merge → write v<batch> →
    atomically repoint CURRENT); because commits are immutable
    directories, reading v0/v1 AFTER the third commit returns the exact
    historical tables — the verdict hashes all three snapshots and the
    oracle replays the merge algebra (keep-latest full-outer per batch).
    At scale the only extra operator duty is retention (VACUUM of old
    v* dirs); readers never block writers and vice versa."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import read_upsert_state, upsert_state_writer

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") < 150).select(
        F.col("doc_id").alias("id"), F.lit(1).alias("version"), "text"
    )
    b1 = docs.filter((F.col("doc_id") < 150) & (F.col("doc_id") % 3 == 0)).select(
        F.col("doc_id").alias("id"),
        F.lit(2).alias("version"),
        F.concat(F.lit("v2:"), "text").alias("text"),
    )
    b2 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200)).select(
        F.col("doc_id").alias("id"), F.lit(1).alias("version"), "text"
    )
    state_dir = tempfile.mkdtemp(prefix="cbs_travel_q_")
    writer = upsert_state_writer(state_dir, id_col="id", version_col="version")
    for i, b in enumerate((b0, b1, b2)):
        writer(b, i)

    def verdict(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum("version").cast("long").alias("sum_version"),
            F.sum(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("id").cast("string"), F.lit(":"),
                                F.col("version").cast("string"), F.lit(":"),
                                F.col("text"),
                            )
                        ),
                        1, 8,
                    ),
                    16, 10,
                ).cast("long")
            ).cast("long").alias("content_checksum"),
        ).select(F.lit(label).alias("snapshot"), "n_rows", "sum_version", "content_checksum")

    return (
        verdict(read_upsert_state(spark, state_dir, 0), "v0")
        .unionByName(verdict(read_upsert_state(spark, state_dir, 1), "v1"))
        .unionByName(verdict(read_upsert_state(spark, state_dir), "current"))
    )


@query(
    "upsert_latest",
    """
WITH base AS (
  SELECT doc_id AS id, 1 AS version, text FROM documents WHERE doc_id < 150),
updates AS (
  SELECT doc_id AS id, 2 AS version, 'v2:' || text AS text
  FROM documents WHERE doc_id >= 100 AND doc_id < 200),
unioned AS (
  SELECT id, version, text, 0 AS src FROM base
  UNION ALL SELECT id, version, text, 1 AS src FROM updates),
ranked AS (
  SELECT id, version, text,
         row_number() OVER (PARTITION BY id ORDER BY version DESC, src DESC) AS rn
  FROM unioned)
SELECT id, CAST(version AS BIGINT) AS version, md5(text) AS content_md5
FROM ranked WHERE rn = 1
""",
)
def upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 upsert: rows 100-199 get a v2 rewrite; keep-latest must retain
    v1 only for 0-99, v2 for 100-199 — one window over the id-keyed union
    (the reference's replace-by-id add_documents, doc_embedder.py:90-114)."""
    from chatbot_spark.io.tables import upsert_latest as _upsert

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") < 150).select(
        F.col("doc_id").alias("id"), F.lit(1).alias("version"), "text"
    )
    updates = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)).select(
        F.col("doc_id").alias("id"),
        F.lit(2).alias("version"),
        F.concat(F.lit("v2:"), F.col("text")).alias("text"),
    )
    out = _upsert(base, updates, id_col="id", version_col="version")
    return out.select(
        "id", F.col("version").cast("long").alias("version"), F.md5("text").alias("content_md5")
    )


@query(
    "approx_percentile_slo",
    """
SELECT 1 AS within_tolerance, CAST(count(*) AS BIGINT) AS n_groups
FROM (SELECT o_orderpriority FROM orders GROUP BY o_orderpriority) g
""",
)
def approx_percentile_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.D approx family: approx_percentile (the 100 TB path — mergeable
    sketches, no global sort) vs the exact percentile, per order priority.
    Sketch values are engine-specific AND nearest-rank (the exact form
    interpolates — on small groups the two legitimately diverge by more
    than any relative tolerance), so the driver invariant is the BRACKET
    SLO: in every group the approx p50 must lie within the exact
    [p40, p60] and the approx p90 within the exact [p80, p100]. The
    oracle asserts the flag and the group count."""
    o = load_table(spark, sf_dir, "orders")
    both = o.groupBy("o_orderpriority").agg(
        F.expr("approx_percentile(o_totalprice, array(0.5, 0.9), 10000)").alias("ap"),
        F.expr("percentile(o_totalprice, array(0.4, 0.6, 0.8, 1.0))").alias("ep"),
    )
    checked = both.select(
        F.when(
            (F.col("ap")[0] >= F.col("ep")[0]) & (F.col("ap")[0] <= F.col("ep")[1])
            & (F.col("ap")[1] >= F.col("ep")[2]) & (F.col("ap")[1] <= F.col("ep")[3]),
            1,
        )
        .otherwise(0)
        .alias("ok")
    )
    return checked.agg(
        F.min("ok").cast("int").alias("within_tolerance"),
        F.count("*").alias("n_groups"),
    )

@query(
    "csv_orc_roundtrip",
    """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
       CAST(count(DISTINCT o_orderdate) AS BIGINT) AS n_dates
FROM orders
""",
    sf1=True,
)
def csv_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A source formats beyond parquet/JSON: orders → CSV (header,
    explicit schema on re-read — never inferSchema in production) → ORC →
    aggregate. Exact integer checksums prove decimals, dates, and strings
    survive both hops; a lossy format hop (float formatting, date parsing)
    breaks the cents sum immediately."""
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderdate"
    )
    base = tempfile.mkdtemp(prefix="cbs_fmt_q_")
    csv_path = os.path.join(base, "csv")
    orc_path = os.path.join(base, "orc")
    o.write.mode("overwrite").option("header", True).csv(csv_path)
    back_csv = (
        spark.read.option("header", True)
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING, o_orderdate DATE")
        .csv(csv_path)
    )
    back_csv.write.mode("overwrite").orc(orc_path)
    back = spark.read.orc(orc_path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_keys"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_price_cents"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.countDistinct("o_orderdate").alias("n_dates"),
    )

@query(
    "stream_static_join",
    """
WITH dim AS (SELECT DISTINCT user_id, user_id % 10 AS cohort FROM events)
SELECT e.event_type, d.cohort,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events e JOIN dim d ON d.user_id = e.user_id
GROUP BY e.event_type, d.cohort
""",
    sf1=True,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming enrich: a real readStream joined per micro-batch to a
    static broadcast dimension (user → cohort), then aggregated and
    drained with AvailableNow — the batch join+groupBy SQL is the exact
    oracle (stream/batch parity, not approximate)."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import (
        enrich_join_static,
        read_event_stream,
        run_stream_once_complete,
    )

    ev = load_table(spark, sf_dir, "events")
    dim = ev.select("user_id").distinct().withColumn(
        "cohort", (F.col("user_id") % 10).cast("long")
    )
    base = tempfile.mkdtemp(prefix="cbs_stream_sj_")
    inpath = os.path.join(base, "in")
    ev.write.mode("overwrite").parquet(inpath)
    stream = enrich_join_static(read_event_stream(spark, inpath), dim)
    agg = stream.groupBy("event_type", "cohort").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
    )
    rows = run_stream_once_complete(agg, os.path.join(base, "ckpt"))
    df = local_df(spark, rows, agg.schema)
    return df.select(
        "event_type",
        F.col("cohort").cast("long").alias("cohort"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value_cents").cast("long").alias("sum_value_cents"),
    )

# --------------------------------------------------------------------------
# Deep decorrelation coverage (TPC-H Q8/Q11/Q13/Q15/Q18/Q20/Q21/Q22 shapes)
# — the remaining classic subquery forms: outer-join distributions, scalar
# subqueries in HAVING/WHERE, nested IN over grouped HAVING, and the
# EXISTS + NOT EXISTS combination. Spark side expresses each as the
# decorrelated join/aggregate plan Catalyst would produce; the oracle keeps
# the subquery form. All money stays in exact integer cents/e4 units.
# --------------------------------------------------------------------------

@query(
    "order_count_distribution",
    """
SELECT CAST(n_orders AS BIGINT) AS n_orders, CAST(count(*) AS BIGINT) AS n_customers
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey) pc
GROUP BY n_orders
""",
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join survives an aggregation twice —
    per-customer order counts (customers with zero orders kept), then the
    distribution of those counts. Both aggregations are map-side
    combinable; the join shuffles once on custkey."""
    cust = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(o, cust.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .select(
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_customers").cast("long").alias("n_customers"),
        )
    )


@query(
    "idle_rich_customers",
    """
WITH c AS (
  SELECT c_custkey, c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer),
t AS (SELECT sum(bal_cents) AS tot, count(*) AS n FROM c WHERE bal_cents > 0)
SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(c.bal_cents) AS BIGINT) AS sum_bal_cents
FROM c, t
WHERE c.bal_cents * t.n > t.tot
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_nationkey
""",
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global scalar subquery (mean positive balance) +
    anti join (no RECENT orders — the date filter keeps the anti side
    non-trivial on this data). The mean comparison is done in exact
    integers — bal*n > total — so no float average ever exists to disagree
    on; the scalar aggregate is a 1-row broadcast, the anti join shuffles
    on custkey with its date filter pushed below the join."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.expr("TIMESTAMP '2000-01-01'")
    )
    t = cust.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("tot"), F.count("*").alias("n")
    )
    rich = cust.crossJoin(F.broadcast(t)).filter(
        F.col("bal_cents") * F.col("n") > F.col("tot")
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"), F.sum("bal_cents").alias("sum_bal_cents")
    ).select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        F.col("n_customers").cast("long").alias("n_customers"),
        F.col("sum_bal_cents").cast("long").alias("sum_bal_cents"),
    )


@query(
    "late_sole_supplier",
    """
SELECT s.s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS n_orders
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name
""",
    sf1=True,
)
def late_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact table —
    suppliers who were the ONLY late shipper in a multi-supplier order.
    Instead of two correlated semi/anti joins (three scans) — or round 5's
    two-branch plan that re-scanned the lineitem⋈orders join for the late
    (orderkey, suppkey) pairs — ONE grouped pass per order computes
    distinct-supplier count, distinct-late-supplier count, AND
    max(late suppkey); when n_late_supp = 1 that max IS the sole late
    supplier, so no second scan or self-join is needed. One lineitem
    scan, one shuffle on orderkey, then a broadcast supplier lookup."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load_table(spark, sf_dir, "supplier")
    # r14 (guide §2.3 aggregate before you shuffle): pre-aggregate the
    # fact table to one row per (order, supplier) BEFORE the orders join
    # — a supplier is late in an order iff its LATEST shipment is late,
    # so max(l_shipdate) carries everything the lateness test needs. The
    # two countDistincts then become plain counts over already-distinct
    # rows, which drops the Expand (3x row multiplication through the
    # aggregate) the distinct-aggregate plan paid on the full join
    # output. Exact: same integer counts, same sole-supplier argmax.
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("__max_ship")
    )
    flagged = per_os.join(o, per_os.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        (F.col("__max_ship") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast(
            "int"
        ),
    )
    late_supp = F.when(F.col("is_late") == 1, F.col("l_suppkey"))
    per_order = flagged.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.count(late_supp).alias("n_late_supp"),
        F.max(late_supp).alias("sole_suppkey"),
    )
    sole = per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    return (
        sole.join(F.broadcast(s), sole.sole_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )


@query(
    "top_supplier_revenue",
    """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS total_rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
       CAST(rev.total_rev_e4 AS BIGINT) AS total_rev_e4
FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
WHERE rev.total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
""",
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate once, then keep the argmax rows via a
    scalar-subquery max — expressed as the aggregate joined to its own
    1-row max (broadcast), no second scan of lineitem. Revenue in exact
    e4 units so max-equality has no float ambiguity. The e4 int comes
    from floor(x*1e4 + 0.5), NOT round(): round-on-double tie behavior
    is engine/version-dependent (Spark HALF_UP vs DuckDB's shifting
    semantics), and one ULP of disagreement flips the argmax row; floor
    has no rounding-mode ambiguity (all inputs positive)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1996-04-01'"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
                ).cast("long")
            ).alias("total_rev_e4")
        )
    )
    mx = rev.agg(F.max("total_rev_e4").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev_e4") == F.col("__mx"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "total_rev_e4",
        )
    )


@query(
    "nation_revenue_share",
    """
WITH rev AS (
  SELECT n.n_name,
         sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5) AS BIGINT)) AS rev_e4
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY n.n_name)
SELECT n_name, CAST(rev_e4 AS BIGINT) AS rev_e4,
       CAST(floor(CAST(rev_e4 AS DOUBLE) / (SELECT sum(rev_e4) FROM rev) * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS share
FROM rev
WHERE rev_e4 * 50 > (SELECT sum(rev_e4) FROM rev)
""",
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: grouped aggregate filtered against a global scalar
    subquery (HAVING share-of-total). The global total re-aggregates the
    per-group partials (no second lineitem scan) and broadcasts; the
    threshold compares exact ints (rev*50 > total). Both the e4 unit
    conversion and the 6-digit share rounding use floor(x + 0.5) instead
    of round(): round-on-double semantics are engine/version-dependent,
    while IEEE division + floor is bit-identical on any engine (all
    values positive)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
                ).cast("long")
            ).alias("rev_e4")
        )
    )
    tot = rev.agg(F.sum("rev_e4").alias("__tot"))
    return (
        rev.crossJoin(F.broadcast(tot))
        .filter(F.col("rev_e4") * 50 > F.col("__tot"))
        .select(
            "n_name",
            "rev_e4",
            (
                F.floor(
                    F.col("rev_e4").cast("double") / F.col("__tot") * 1000000 + 0.5
                ).cast("long")
                / 1000000.0
            ).alias("share"),
        )
    )


@query(
    "bulk_part_suppliers",
    """
WITH q AS (
  SELECT l_suppkey, l_partkey
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
  GROUP BY l_suppkey, l_partkey
  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 70)
SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
       CAST(b.n_bulk_parts AS BIGINT) AS n_bulk_parts
FROM supplier s
JOIN (SELECT l_suppkey, count(*) AS n_bulk_parts FROM q GROUP BY l_suppkey) b
  ON b.l_suppkey = s.s_suppkey
""",
)
def bulk_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN — suppliers shipping bulk volume
    (>70 units) of any 'red' part. The inner IN becomes a broadcast
    semi-join on the pruned part list; the grouped HAVING is one shuffle
    on (suppkey, partkey); quantities are summed as exact ints."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    q = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sq"))
        .filter(F.col("sq") > 70)
    )
    per_supp = q.groupBy("l_suppkey").agg(F.count("*").alias("n_bulk_parts"))
    return s.join(per_supp, s.s_suppkey == per_supp.l_suppkey).select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        "s_name",
        F.col("n_bulk_parts").cast("long").alias("n_bulk_parts"),
    )


@query(
    "market_share",
    """
WITH base AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT) AS rev_e4,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey AND cn.n_regionkey = 2
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev_e4 ELSE 0 END) AS BIGINT) AS target_rev_e4,
       CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev_e4 ELSE 0 END) AS DOUBLE)
             / sum(rev_e4), 6) AS share
FROM base GROUP BY o_year
""",
    sf1=True,
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share — NATION_7's fraction of ECONOMY-part
    revenue sold to region-2 customers, per order year. Conditional sums
    stay exact ints; the share is one double division. Dimension sides
    (part filter, nation, supplier, customer) broadcast; the only wide
    shuffle is the final groupBy on year."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    cn = n.filter(F.col("n_regionkey") == 2).select(
        F.col("n_nationkey").alias("cn_key")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    base = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
            .cast("long")
            .alias("rev_e4"),
            "supp_nation",
        )
    )
    tgt = F.when(F.col("supp_nation") == "NATION_7", F.col("rev_e4")).otherwise(F.lit(0))
    return base.groupBy("o_year").agg(
        F.sum(tgt).cast("long").alias("target_rev_e4"),
        F.sum("rev_e4").cast("long").alias("total_rev_e4"),
    ).select(
        "o_year",
        "target_rev_e4",
        "total_rev_e4",
        F.round(
            F.col("target_rev_e4").cast("double") / F.col("total_rev_e4"), 6
        ).alias("share"),
    )


@query(
    "big_orders",
    """
WITH big AS (
  SELECT l_orderkey, sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) > 200)
SELECT c.c_name, CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS o_totalprice_cents,
       CAST(big.total_qty AS BIGINT) AS total_qty
FROM orders o
JOIN big ON big.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o_totalprice_cents DESC, o_orderkey ASC
LIMIT 10
""",
)
def big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a grouped HAVING — the top 10 largest
    orders whose total quantity exceeds 200 units. The HAVING aggregate is
    one shuffle on orderkey (map-side combinable); customer broadcasts;
    the top-10 is a TakeOrdered with a tie-free (price, orderkey) key.
    Integerization uses floor(x + 0.5), not round(): the top-10 sort key
    is a rounded double product, and round-on-double tie behavior is
    engine/version-dependent — one ULP flips top-10 membership."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("o_totalprice_cents"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice_cents").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )

@query(
    "stream_interval_join",
    """
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT CAST(c.user_id % 10 AS BIGINT) AS user_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS sum_delay_us
FROM c JOIN p
  ON p.user_id = c.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
GROUP BY c.user_id % 10
""",
    bench_skip=_DRAIN,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (the funnel/attribution shape): click
    and purchase streams joined on user within a 2-hour event-time window.
    The input replays as 4 time-sliced micro-batches (maxFilesPerTrigger=1)
    so the join state actually buffers across batches; the drained pairs
    are aggregated batch-side and the batch interval-join SQL is the exact
    oracle — stream/batch parity with microsecond-exact delay sums."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import (
        read_event_stream,
        run_stream_once,
        stream_interval_join as _sij,
    )

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="cbs_sij_q_")
    inpath = os.path.join(base, "in")
    cuts = ["2024-01-08", "2024-01-16", "2024-01-24", "2099-01-01"]
    lo = "1970-01-01"
    for hi in cuts:
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(inpath)
        lo = hi
    clicks = read_event_stream(spark, inpath, max_files_per_trigger=1).filter(
        F.col("event_type") == "click"
    )
    purchases = read_event_stream(spark, inpath, max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    )
    outpath = os.path.join(base, "out")
    run_stream_once(_sij(clicks, purchases), os.path.join(base, "ckpt"), outpath)
    pairs = spark.read.parquet(outpath)
    return pairs.groupBy((F.col("user_id") % 10).cast("long").alias("user_bucket")).agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.unix_micros("right_ts") - F.unix_micros("left_ts")).alias(
            "sum_delay_us"
        ),
    )

@query(
    "pq_knn",
    """
SELECT 1 AS recall_ok, CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_rows
""",
    sf1=True,
)
def pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 memory-scale path: product-quantized ANN (operators/pq.py) —
    the corpus is scanned as 16-byte codes (16× smaller than the raw
    64-d float32 vectors), ADC-scored per query, and the top-100 shortlist
    exact-re-ranked. Codebooks are seed-dependent like the IVF centroids,
    so the driver oracle asserts the recall SLO (≥ 0.95 @ k=10 vs the
    exact scan, computed in-plan); the zero-quantization-error pytest pins
    the ADC machinery against the exact operator."""
    from chatbot_spark.operators.pq import PQIndex

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    index = PQIndex.build(emb, vec_col="embedding", id_col="vec_id", m=16, ksub=32)
    approx = index.search(q, k=10, rerank=100, corpus=emb)
    exact = knn_join(q, emb, k=10, metric="l2", corpus_id="vec_id", corpus_vec="embedding")
    return _ann_recall_summary(approx, exact)

@query(
    "sq_knn",
    """
SELECT 1 AS recall_ok, CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_rows
""",
)
def sq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 compression family, SQ8 rung (operators/sq.py): each dimension
    stored as one uint8 against exact per-dimension min/max bounds — 4×
    smaller than float32 at zero training cost (one distributed agg, no
    k-means, no sampling). The decoded-L2 scan shortlists top-100, exact
    re-rank restores the top-10. Unlike PQ the quantizer is fully
    deterministic (no seed), but the workload embeddings aren't on the
    256-point grid, so the driver oracle asserts the family recall SLO;
    the zero-quantization-error pytest pins ADC ≡ exact (same top-k,
    distances to 1e-9)."""
    from chatbot_spark.operators.sq import SQIndex

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    index = SQIndex.build(emb, vec_col="embedding", id_col="vec_id")
    approx = index.search(q, k=10, rerank=100, corpus=emb)
    exact = knn_join(q, emb, k=10, metric="l2", corpus_id="vec_id", corpus_vec="embedding")
    return _ann_recall_summary(approx, exact)


# --------------------------------------------------------------------------
# Table maintenance + deterministic sampling (100 TB ops surface):
# small-file compaction with lossless-content proof, and content-hash
# stratified sampling that any engine reproduces exactly
# --------------------------------------------------------------------------

@query(
    "compact_small_files",
    f"""
SELECT CAST(64 AS BIGINT) AS files_before, CAST(4 AS BIGINT) AS files_after,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({_DUCK_HEXWORD.format(t='text', off=1)}) AS BIGINT) AS content_checksum
FROM documents WHERE doc_id < 400
""",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table maintenance: 400 docs written as 64 tiny files (the shape a
    micro-batch sink leaves behind), compacted to 4 in one distributed
    pass. The oracle pins the file counts AND a content checksum
    recomputed from the source table — compaction must be byte-lossless
    and the file-count claim is measured from the filesystem, not
    assumed."""
    import glob
    import os
    import tempfile

    from chatbot_spark.io.tables import compact_parquet

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400).select(
        "doc_id", "text"
    )
    base = tempfile.mkdtemp(prefix="cbs_compact_q_")
    src = os.path.join(base, "src")
    dst = os.path.join(base, "dst")
    docs.repartition(64).write.mode("overwrite").parquet(src)
    files_before = len(glob.glob(os.path.join(src, "*.parquet")))
    back = compact_parquet(spark, src, dst, n_files=4)
    files_after = len(glob.glob(os.path.join(dst, "*.parquet")))
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")).alias(
            "content_checksum"
        ),
    ).select(
        F.lit(files_before).cast("long").alias("files_before"),
        F.lit(files_after).cast("long").alias("files_after"),
        "n_rows",
        "content_checksum",
    )


@query(
    "stratified_sample",
    f"""
WITH keyed AS (
  SELECT event_type, value,
         CAST({_DUCK_HEXWORD.format(t='CAST(event_id AS VARCHAR)', off=1)} AS BIGINT) % 10000 AS hp
  FROM events),
thresholds AS (
  SELECT * FROM (VALUES ('click', 4000), ('view', 1000), ('purchase', 10000))
  AS t(event_type, keep_below)),
sampled AS (
  SELECT k.event_type, k.value
  FROM keyed k JOIN thresholds t ON t.event_type = k.event_type
  WHERE k.hp < t.keep_below)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM sampled GROUP BY event_type
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (operators/sampling.py):
    clicks kept at 40%, views at 10%, purchases at 100%, everything else
    dropped — decided by content hash, so the EXACT subset is the oracle
    (sampleBy's RNG sample would be layout-dependent and unverifiable).
    This is the downsample-by-source shape of training-data curation,
    retry-safe by construction."""
    from chatbot_spark.operators.sampling import hash_stratified_sample

    ev = load_table(spark, sf_dir, "events")
    sampled = hash_stratified_sample(
        ev,
        strata_col="event_type",
        fractions={"click": 0.4, "view": 0.1, "purchase": 1.0},
        key="event_id",
    )
    return sampled.groupBy("event_type").agg(
        F.count("*").alias("n_sampled"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
    )

@query(
    "incremental_rollup",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       CAST(max(user_id) AS BIGINT) AS max_user
FROM events GROUP BY event_type
""",
)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: three ingest batches (time
    slices) each produce per-key PARTIALS (count/sum/max — all mergeable),
    and the stored partials re-aggregate to the final rollup without ever
    rescanning earlier batches. The oracle is the full recompute — exact
    equality of integer partials IS the maintenance invariant. At 100 TB
    this is the nightly-rollup shape: each day aggregates only its own
    data; the merge touches keys × days rows."""
    ev = load_table(spark, sf_dir, "events")
    cuts = [("1970-01-01", "2024-01-11"), ("2024-01-11", "2024-01-21"), ("2024-01-21", "2099-01-01")]
    partials = None
    for lo, hi in cuts:
        p = (
            ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            .groupBy("event_type")
            .agg(
                F.count("*").alias("p_n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("p_sum"),
                F.max("user_id").alias("p_max"),
            )
        )
        partials = p if partials is None else partials.unionByName(p)
    return partials.groupBy("event_type").agg(
        F.sum("p_n").cast("long").alias("n_events"),
        F.sum("p_sum").cast("long").alias("sum_value_cents"),
        F.max("p_max").cast("long").alias("max_user"),
    )


@query(
    "capped_class_sample",
    """
WITH ranked AS (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
  FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(event_id) AS BIGINT) AS id_checksum
FROM ranked WHERE rn <= 500
GROUP BY event_type
""",
)
def capped_class_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balancing downsample (operators/sampling.py::capped_sample):
    at most 500 events per type, the subset chosen by content-hash order
    — deterministic and growth-stable where rand() ordering is neither.
    The engine path is the skew-safe two-phase window (hot classes rank
    within (class, partition) first); the oracle is the single-window
    form — equality proves the two-phase selection exact, and the id
    checksum pins the exact membership, not just counts."""
    from chatbot_spark.operators.sampling import capped_sample

    ev = load_table(spark, sf_dir, "events")
    kept = capped_sample(ev, ["event_type"], "event_id", cap=500)
    return kept.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("event_id").cast("long").alias("id_checksum"),
    )


@query(
    "kmv_distinct_users",
    f"""
WITH h AS (
  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h),
sk AS (
  SELECT event_type, count(*) AS n_kept,
         max(CASE WHEN rn = 128 THEN h END) AS hk
  FROM r WHERE rn <= 128 GROUP BY event_type),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type)
SELECT sk.event_type,
       CAST(n_kept AS BIGINT) AS n_kept,
       round(CASE WHEN n_kept < 128 THEN CAST(n_kept AS DOUBLE)
                  WHEN CAST({_DUCK_HEX8.format(h='hk')} AS BIGINT) > 0
                  THEN 127.0 * 4294967296.0 / CAST({_DUCK_HEX8.format(h='hk')} AS BIGINT)
                  ELSE CAST(n_kept AS DOUBLE)
             END, 4) AS est_distinct,
       CAST(exact_distinct AS BIGINT) AS exact_distinct
FROM sk JOIN ex ON ex.event_type = sk.event_type
""",
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch (operators/sketch.py): per event type, the
    128 smallest distinct user-id md5s; estimate = (k−1)/θ. Unlike HLL
    (whose register layout no oracle can replay — its query asserts an
    SLO), KMV is a deterministic function of the data: the oracle
    recomputes the sketch AND the estimate bit-for-bit. In-plan exact
    distinct rides along as the accuracy witness."""
    from chatbot_spark.operators.sketch import kmv_estimate, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, ["event_type"], "user_id", k=128)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return sk.join(exact, "event_type").select(
        "event_type",
        F.size("kmv").cast("long").alias("n_kept"),
        F.round(kmv_estimate(F.col("kmv"), 128), 4).alias("est_distinct"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


@query(
    "incremental_kmv_distinct",
    f"""
WITH h AS (SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h FROM events),
r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h),
sk AS (SELECT count(*) AS n_kept, max(CASE WHEN rn = 128 THEN h END) AS hk
       FROM r WHERE rn <= 128),
ex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events)
SELECT CAST(n_kept AS BIGINT) AS n_kept,
       round(CASE WHEN n_kept < 128 THEN CAST(n_kept AS DOUBLE)
                  WHEN CAST({_DUCK_HEX8.format(h='hk')} AS BIGINT) > 0
                  THEN 127.0 * 4294967296.0 / CAST({_DUCK_HEX8.format(h='hk')} AS BIGINT)
                  ELSE CAST(n_kept AS DOUBLE)
             END, 4) AS est_distinct,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       1 AS merged_equals_direct
FROM sk, ex
""",
)
def incremental_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct maintenance with EXACT merge semantics — the
    bit-exact counterpart of incremental_distinct_hll: each day's events
    build an independent KMV sketch (the nightly-batch shape); the 30
    daily sketches fold together with the closed-form merge (k smallest
    of the union), and closure is EXACT — the merged sketch must equal
    the sketch built directly over the whole table, asserted in-plan and
    driver-checked. Where HLL's query can only bound the error (5% SLO),
    the KMV estimate itself replays bit-for-bit in the oracle."""
    from chatbot_spark.operators.sketch import kmv_estimate, kmv_sketch

    k = 128
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = kmv_sketch(ev, ["day"], "user_id", k=k)
    merged = daily.agg(
        F.aggregate(
            F.collect_list("kmv"),
            F.array().cast("array<string>"),
            lambda acc, x: F.slice(F.array_sort(F.array_union(acc, x)), 1, k),
        ).alias("kmv")
    )
    direct = kmv_sketch(ev, [], "user_id", k=k).select(
        F.col("kmv").alias("direct_kmv")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return (
        merged.crossJoin(direct)
        .crossJoin(exact)
        .select(
            F.size("kmv").cast("long").alias("n_kept"),
            F.round(kmv_estimate(F.col("kmv"), k), 4).alias("est_distinct"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            (F.col("kmv") == F.col("direct_kmv")).cast("int").alias("merged_equals_direct"),
        )
    )


@query(
    "kmv_jaccard_userdays",
    f"""
WITH ud AS (
  SELECT event_type, user_id * 1000 + date_part('day', ts) AS ud FROM events
  WHERE event_type IN ('click', 'purchase')),
h AS (SELECT DISTINCT event_type, md5(CAST(ud AS VARCHAR)) AS h FROM ud),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h),
ab AS (SELECT event_type, h FROM r WHERE rn <= 128),
u AS (
  SELECT h FROM (
    SELECT DISTINCT h FROM ab) t ORDER BY h LIMIT 128),
flags AS (
  SELECT u.h,
         CASE WHEN EXISTS (SELECT 1 FROM ab WHERE ab.h = u.h AND event_type = 'click')
               AND EXISTS (SELECT 1 FROM ab WHERE ab.h = u.h AND event_type = 'purchase')
              THEN 1 ELSE 0 END AS in_both
  FROM u),
est AS (
  SELECT CAST(sum(in_both) AS DOUBLE) / count(*) AS jac_est,
         count(*) AS nu,
         max(CASE WHEN rnu = 128 THEN h END) AS hk
  FROM (SELECT h, in_both, row_number() OVER (ORDER BY h) AS rnu FROM flags)),
ex AS (
  SELECT CAST(count(CASE WHEN a = 1 AND b = 1 THEN 1 END) AS DOUBLE)
           / count(*) AS jac_exact
  FROM (
    SELECT ud, max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
    FROM ud GROUP BY ud))
SELECT round(jac_est, 6) AS jaccard_est,
       round(CASE WHEN nu < 128 THEN CAST(nu AS DOUBLE)
                  WHEN CAST({_DUCK_HEX8.format(h='hk')} AS BIGINT) > 0
                  THEN 127.0 * 4294967296.0 / CAST({_DUCK_HEX8.format(h='hk')} AS BIGINT)
                  ELSE CAST(nu AS DOUBLE)
             END, 4) AS est_union,
       round(jac_exact, 6) AS exact_jaccard
FROM est, ex
""",
)
def kmv_jaccard_userdays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV capability HLL lacks: SET INTERSECTION. Click vs purchase
    user-day sets sketch independently (mergeable per-batch shape); the
    Jaccard estimate is the both-members fraction of the merged sketch,
    and est_union comes from the merged sketch's own θ — all
    deterministic, all replayed bit-for-bit by the oracle, with the
    in-plan exact Jaccard as the accuracy witness."""
    from chatbot_spark.operators.sketch import kmv_estimate, kmv_jaccard, kmv_merge, kmv_sketch

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    ud = ev.select(
        "event_type",
        (F.col("user_id") * 1000 + F.dayofmonth("ts")).alias("ud"),
    )
    sk = kmv_sketch(ud, ["event_type"], "ud", k=128)
    a = sk.filter(F.col("event_type") == "click").select(F.col("kmv").alias("a"))
    b = sk.filter(F.col("event_type") == "purchase").select(F.col("kmv").alias("b"))
    exact = (
        ud.groupBy("ud")
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("ca"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("cb"),
        )
        .agg(
            (
                F.sum(F.when((F.col("ca") == 1) & (F.col("cb") == 1), 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("jac_exact")
        )
    )
    return (
        a.crossJoin(b)
        .crossJoin(exact)
        .select(
            F.round(kmv_jaccard(F.col("a"), F.col("b"), 128), 6).alias("jaccard_est"),
            F.round(
                kmv_estimate(kmv_merge(F.col("a"), F.col("b"), 128), 128), 4
            ).alias("est_union"),
            F.round("jac_exact", 6).alias("exact_jaccard"),
        )
    )


@query(
    "incremental_distinct_hll",
    """
SELECT (SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM events) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       1 AS merged_within_5pct, 1 AS global_within_5pct
FROM events
""",
)
def incremental_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (the only way COUNT(DISTINCT)
    scales to incremental 100 TB pipelines): one HLL sketch per day,
    union-merged into the month's estimate — no day ever rescanned, state
    is days × 1 sketch. Sketch bytes are engine-specific, so the driver
    invariant is the accuracy SLO: merged and single-pass estimates both
    within 5% of the exact distinct (computed in-plan), plus the exact
    count itself which the oracle recomputes."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.count("*").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est"),
    )
    glob = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("global_est"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    return (
        merged.crossJoin(glob)
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            (
                F.abs(F.col("merged_est") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).cast("int").alias("merged_within_5pct"),
            (
                F.abs(F.col("global_est") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).cast("int").alias("global_within_5pct"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H completion (Q2/Q6/Q9/Q10/Q16 shapes — with these, all 22 TPC-H
# query shapes are covered, adapted to the testdata schema which has no
# partsupp table: lineitem's (l_partkey, l_suppkey) pairs stand in for
# part-supplier relationships and s_acctbal / p_retailprice stand in for
# ps_supplycost where a cost column is needed)
# --------------------------------------------------------------------------

@query(
    "forecast_revenue",
    """
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, no joins — the query
    where pushdown IS the plan. All three predicates (shipdate range,
    discount band, quantity cap) push to the parquet scan as
    PushedFilters, ReadSchema carries only the 4 referenced columns, and
    the aggregate is a map-side partial + single-row final. At 100 TB
    this reads only row groups whose min/max stats overlap 1996."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000)
                  .cast("long")).alias("revenue_e4"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "min_cost_supplier",
    """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
cand AS (
  SELECT p.p_partkey, s.s_suppkey, s.s_name, n.n_name AS nation,
         CAST(round(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents
  FROM part p
  JOIN ps ON ps.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = ps.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE' AND p.p_size <= 15),
m AS (SELECT p_partkey, min(acctbal_cents) AS min_cents FROM cand GROUP BY p_partkey)
SELECT c.p_partkey, c.s_suppkey, c.s_name, c.nation, c.acctbal_cents
FROM cand c JOIN m ON m.p_partkey = c.p_partkey AND c.acctbal_cents = m.min_cents
ORDER BY c.acctbal_cents DESC, c.p_partkey ASC, c.s_suppkey ASC
LIMIT 100
""",
    sf1=True,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar-min subquery (the lowest-balance
    European supplier actually shipping each part; s_acctbal stands in
    for ps_supplycost). Decorrelated Spark-side as ONE window min over
    the candidate set — a single shuffle on p_partkey instead of the
    aggregate-then-rejoin the SQL spells out. Dims (supplier, nation,
    region) broadcast onto the distinct part-supplier pairs; exact-cents
    comparison so the min matches bit-for-bit. Deterministic full order
    key + LIMIT keeps the 100-row set identical in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    cand = (
        ps.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select(
            "p_partkey", "s_suppkey", "s_name",
            F.col("n_name").alias("nation"),
            F.round(F.col("s_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("__min", F.min("acctbal_cents").over(w))
        .filter(F.col("acctbal_cents") == F.col("__min"))
        .drop("__min")
        .orderBy(F.col("acctbal_cents").desc(), F.col("p_partkey").asc(), F.col("s_suppkey").asc())
        .limit(100)
    )


@query(
    "nation_year_profit",
    """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount) - p.p_retailprice * 0.1 * l.l_quantity) * 10000) AS BIGINT)) AS BIGINT) AS profit_e4
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY nation, o_year
""",
)
def nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by nation and order year.
    Profit = revenue − cost, with p_retailprice*0.1*l_quantity standing
    in for ps_supplycost*l_quantity (no partsupp table). The p_name
    contains-filter prunes part BEFORE the join (Catalyst pushes it to
    the broadcast build side), lineitem⋈orders is the one fact-fact
    shuffle, every dim broadcasts. Per-row profit is rounded to exact
    integer e4 units before the (order-dependent) sum, per the float
    discipline atop this module."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    profit_e4 = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("p_retailprice") * 0.1 * F.col("l_quantity")
        )
        * 10000
    ).cast("long")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit_e4).alias("profit_e4"))
    )


@query(
    "returned_item_revenue",
    """
WITH r AS (
  SELECT c.c_custkey, c.c_name, n.n_name AS nation,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1996-10-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
    AND l.l_returnflag = 'R'
  GROUP BY c.c_custkey, c.c_name, nation)
SELECT c_custkey, c_name, nation, revenue_e4
FROM r ORDER BY revenue_e4 DESC, c_custkey ASC LIMIT 20
""",
)
def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    one quarter. The orderdate range prunes orders at the scan; the
    returnflag filter prunes lineitem; customer/nation broadcast. The
    top-20 is a TakeOrderedAndProject (partial per-partition top-k →
    driver merge), never a full sort, and the (revenue, custkey) order
    key is tie-free so the 20-row set is engine-stable."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
                  .cast("long")).alias("revenue_e4")
        )
        .orderBy(F.col("revenue_e4").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "brand_supplier_count",
    """
SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p_size
""",
)
def brand_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    with a NOT IN exclusion list (negative-balance suppliers standing in
    for the complaints subquery). l_suppkey is non-nullable so NOT IN is
    exactly a left ANTI join — no null-aware single-partition fallback.
    The part predicates (brand/type/size IN) prune the broadcast side
    before the join; count(DISTINCT) expands to a two-phase partial
    (group on key+suppkey, then count) under AQE."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# End-to-end LLM training-data-prep pipeline (§2.J composite): quality gate
# → exact dedup → near-dup cluster removal → deterministic split → token
# audit. Each stage is an oracle-checked operator above; this query proves
# the COMPOSITION (each stage consuming the previous stage's survivors)
# agrees end-to-end, which is the shape an actual 100 TB pretraining-data
# job runs as one DAG.
# --------------------------------------------------------------------------

@query(
    "dataprep_pipeline",
    f"""
WITH st AS (
  SELECT doc_id,
         CAST(len({_DUCK_TOKENS.format(c='text')}) AS DOUBLE) AS n_tok,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
           / greatest(length(text), 1) AS punct,
         CAST({_duck_stophits('en')} AS DOUBLE)
           / greatest(len({_DUCK_TOKENS.format(c='text')}), 1) AS stopr
  FROM documents),
qs AS (
  SELECT doc_id,
         0.4 * (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
       + 0.2 * (CASE WHEN n_chars / greatest(n_tok, 1.0) >= 2.0
                      AND n_chars / greatest(n_tok, 1.0) <= 12.0 THEN 1.0 ELSE 0.0 END)
       + 0.2 * (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.0 END)
       + 0.2 * (CASE WHEN stopr >= 0.01 THEN 1.0 ELSE 0.0 END) AS quality
  FROM st),
qd AS (
  SELECT d.doc_id, d.source, d.text FROM documents d
  JOIN qs ON qs.doc_id = d.doc_id WHERE qs.quality >= 0.6),
fp AS (
  SELECT doc_id, source, text,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
  FROM qd),
keepmin AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f),
d1 AS (
  SELECT fp.doc_id, fp.source, fp.text FROM fp
  JOIN keepmin k ON k.f = fp.f AND k.keep_id = fp.doc_id),
sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(t=_DUCK_TOKENS.format(c='text'))} AS shingles
  FROM d1),
post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.1),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
drop_ids AS (
  SELECT DISTINCT s.a AS doc_id FROM sym s
  WHERE EXISTS (SELECT 1 FROM sym t WHERE t.a = s.a AND t.b < s.a)),
final AS (
  SELECT * FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)),
b AS (
  SELECT source, text,
         CAST({_DUCK_HEXWORD.format(t="CAST(doc_id AS VARCHAR)", off=1)} AS BIGINT) % 10 AS bucket
  FROM final)
SELECT CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({_DUCK_TOKENS.format(c='text')})) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM b GROUP BY split
""",
    sf1=True,
)
def dataprep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-data-prep DAG as ONE composed Spark plan:

      documents → quality gate (≥0.6 composite score, J4)
                → exact dedup (normalized-md5 keep-min-id, J1)
                → near-dup removal (3-gram Jaccard ≥0.1 pairs → drop every
                  doc that near-dups a lower id, J2)
                → deterministic md5 80/10/10 split (content-stable)
                → per-split doc/token/source audit.

    Near-dup drop policy: a doc is dropped iff it pairs with ANY lower
    doc_id — the keep-min-per-cluster rule restated pairwise, so a chain
    a—b—c keeps only its minimum. (For transitive clusters this equals
    connected components with keep-min: every non-min member pairs with
    the min or with an intermediate lower id.)

    Scale shape: the quality gate and fingerprint are per-row map work;
    exact dedup shuffles once on the fingerprint; near-dup candidates come
    from the shingle posting-list join (bucketed, never all-pairs); the
    split is shuffle-free. One DAG, three shuffles total before the audit
    agg — no intermediate materialization."""
    from chatbot_spark.operators.dedup import exact_dedup
    from chatbot_spark.operators.textstats import quality_score, tokens

    # spread: the quality gate + shingle build are CPU per row on a
    # one-split compressed scan (the per_lang_neardup pattern — r13 §3)
    docs = spread(load_table(spark, sf_dir, "documents"))
    passed = docs.filter(quality_score(F.col("text")) >= 0.6).select("doc_id", "source", "text")
    # d1 feeds three consumers (both posting-join sides via the index,
    # and the final anti-join); persist it — and the posting index — so
    # the quality+dedup subtree runs once, not 4x. MEMORY_AND_DISK: at
    # 100 TB the deduped corpus spills instead of OOMing.
    from pyspark import StorageLevel

    d1 = exact_dedup(passed).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = ngram_jaccard_pairs(
        d1, id_col="doc_id", text_col="text", shingle_n=3, threshold=0.1,
        persist_index=True,
    )
    # drop every doc that near-dups a LOWER id (keep-min pairwise)
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    final = d1.join(drops, "doc_id", "left_anti")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 10
    )
    return (
        final.select(
            "source",
            "text",
            F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias("split"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join — the "clicks that never
# converted" half of attribution. Outer results only emit once the
# watermark proves no match can still arrive, so the bounded drain appends
# a far-future sentinel to both streams to push the watermark past all
# real data (see stream_interval_join's docstring).
# --------------------------------------------------------------------------

@query(
    "stream_left_outer_join",
    """
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT CAST(c.user_id % 10 AS BIGINT) AS user_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN p.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unconverted,
       CAST(coalesce(sum(epoch_us(p.ts) - epoch_us(c.ts)), 0) AS BIGINT) AS sum_delay_us
FROM c LEFT JOIN p
  ON p.user_id = c.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
GROUP BY c.user_id % 10
""",
    bench_skip=_DRAIN,
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join, drained with
    AvailableNow over 4 time-sliced micro-batches plus a sentinel batch
    (one 2099 click+purchase for user −1 on both streams) that advances
    the watermark past every real row so all unmatched-left results are
    EVICTED and emitted before the drain ends. The batch LEFT JOIN SQL is
    the exact oracle — stream and batch must agree on both the matched
    delays (µs-exact) and the per-bucket count of never-converted clicks.
    State at scale: watermark (1 h above the 2 h match window) bounds the
    buffer to O(events per 3 h horizon) regardless of stream length."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import (
        read_event_stream,
        run_stream_once,
        stream_interval_join as _sij,
    )

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="cbs_slo_q_")
    inpath = os.path.join(base, "in")
    cuts = ["2024-01-08", "2024-01-16", "2024-01-24", "2099-01-01"]
    lo = "1970-01-01"
    for hi in cuts:
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(inpath)
        lo = hi
    # sentinel: far-future click AND purchase for user -1 — advances both
    # watermarks past all real data, flushing buffered outer-join state
    sent = local_df(
        spark, [(-1, -1, "click"), (-2, -1, "purchase")],
        "event_id BIGINT, user_id BIGINT, event_type STRING",
    ).withColumn("ts", F.lit("2099-06-01 00:00:00").cast("timestamp"))
    for f in ev.schema.fields:
        if f.name not in sent.columns:
            sent = sent.withColumn(f.name, F.lit(None).cast(f.dataType))
    sent.select(ev.columns).coalesce(1).write.mode("append").parquet(inpath)

    clicks = read_event_stream(spark, inpath, max_files_per_trigger=1).filter(
        F.col("event_type") == "click"
    )
    purchases = read_event_stream(spark, inpath, max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    )
    outpath = os.path.join(base, "out")
    run_stream_once(
        _sij(clicks, purchases, watermark="1 hour", how="left_outer"),
        os.path.join(base, "ckpt"),
        outpath,
    )
    pairs = spark.read.parquet(outpath).filter(F.col("user_id") >= 0)
    return pairs.groupBy((F.col("user_id") % 10).cast("long").alias("user_bucket")).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("right_ts").isNull(), 1).otherwise(0)).cast("long").alias("n_unconverted"),
        F.coalesce(
            F.sum(F.unix_micros("right_ts") - F.unix_micros("left_ts")), F.lit(0)
        ).cast("long").alias("sum_delay_us"),
    )


# --------------------------------------------------------------------------
# Data layout / clustering (the OPTIMIZE-ZORDER-lite of table maintenance):
# range-cluster a table on its hot filter key so point/range predicates
# touch O(1) files instead of O(all). At 100 TB this is the difference
# between a scan that opens 4 files and one that opens 40 000.
# --------------------------------------------------------------------------

@query(
    "range_layout_pruning",
    """
SELECT 1 AS clustered_le_2_files, 1 AS clustered_lt_unclustered,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(user_id * 1000003 + event_id) AS BIGINT) AS content_checksum
FROM events WHERE user_id < 2
""",
    sf1=True,
)
def range_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout clustering: the same events written two ways — round-robin
    ``repartition(16)`` (every file holds every key range) vs
    ``repartitionByRange(16, user_id).sortWithinPartitions(user_id, ts)``
    (each file owns one contiguous key range, rows sorted within). A
    selective user_id predicate then touches ~every file in the first
    layout but ≤2 files in the clustered one (≤2, not 1, because a range
    boundary can split the filtered keys) — measured in-plan via
    ``count(DISTINCT input_file_name())`` over the filtered rows.

    The sort also tightens parquet row-group min/max stats, so the pushed
    user_id filter skips row groups inside non-matching files — the
    data-skipping half that input_file_name can't see.

    Invariants the driver checks: file-locality flags, plus exact row
    count and content checksum of the clustered readback against the
    ORIGINAL table (clustering must be lossless)."""
    import os
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="cbs_layout_q_")
    scattered, clustered = os.path.join(base, "scat"), os.path.join(base, "clus")
    ev.repartition(16).write.parquet(scattered)
    (
        ev.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.parquet(clustered)
    )
    pred = F.col("user_id") < 2
    files_scat = (
        spark.read.parquet(scattered)
        .filter(pred)
        .withColumn("__f", F.input_file_name())
        .agg(F.countDistinct("__f").alias("nf"))
    )
    back = spark.read.parquet(clustered).filter(pred)
    files_clus = back.withColumn("__f", F.input_file_name()).agg(
        F.countDistinct("__f").alias("nf")
    )
    stats = back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("user_id") * 1000003 + F.col("event_id")).cast("long").alias("content_checksum"),
    )
    return (
        files_clus.select(F.col("nf").alias("nf_clus"))
        .crossJoin(files_scat.select(F.col("nf").alias("nf_scat")))
        .crossJoin(stats)
        .select(
            (F.col("nf_clus") <= 2).cast("int").alias("clustered_le_2_files"),
            (F.col("nf_clus") < F.col("nf_scat")).cast("int").alias("clustered_lt_unclustered"),
            "n_rows",
            "content_checksum",
        )
    )


@query(
    "zorder_layout_pruning",
    """
SELECT 1 AS z_user_le_8_files, 1 AS z_time_le_8_files, 1 AS z_beats_onedim_on_time,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(user_id * 1000003 + event_id) AS BIGINT) AS content_checksum
FROM events
WHERE user_id < 2 AND ts < TIMESTAMP '2024-01-05'
""",
    sf1=True,
)
def zorder_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional layout clustering (OPTIMIZE ZORDER BY): events
    written on the Morton curve of (user_id, unix_micros(ts)) — 8 bits
    per dimension, scale-before-truncate min-max normalization, 16
    range-partitioned files — versus the single-key range layout. Each z file owns a 2-D
    tile, so a selective predicate on EITHER dimension touches ~4-5 of 16
    files (measured in-plan via count(DISTINCT input_file_name) over
    matching rows), where the user-clustered layout answers user
    predicates with 1 file but time predicates with ~all 16 (every user's
    events span the whole month). Measured at sf0.001/0.01/0.1: z gives
    4-5 files on both dimensions; one-dim gives 14-16 on time.

    Driver-checked invariants: both-dimension file bounds (≤8 of 16), z
    strictly beating the one-dim layout on the non-clustered dimension,
    and exact row count + content checksum of the 2-D box readback
    against the original table (clustering must be lossless)."""
    import os
    import tempfile

    from chatbot_spark.operators.zorder import zorder_write

    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    base = tempfile.mkdtemp(prefix="cbs_zorder_q_")
    zpath, rpath = os.path.join(base, "z"), os.path.join(base, "r")
    zorder_write(ev, zpath, ["user_id", "ts_us"], n_files=16, bits=8)
    (
        ev.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.parquet(rpath)
    )
    p_user = F.col("user_id") < 2
    p_time = F.col("ts") < F.lit("2024-01-05").cast("timestamp")

    def n_files(path: str, pred) -> DataFrame:
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name().alias("__f"))
            .agg(F.countDistinct("__f").alias("nf"))
        )

    box = spark.read.parquet(zpath).filter(p_user & p_time)
    stats = box.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("user_id") * 1000003 + F.col("event_id"))
        .cast("long")
        .alias("content_checksum"),
    )
    return (
        n_files(zpath, p_user)
        .select(F.col("nf").alias("zu"))
        .crossJoin(n_files(zpath, p_time).select(F.col("nf").alias("zt")))
        .crossJoin(n_files(rpath, p_time).select(F.col("nf").alias("rt")))
        .crossJoin(stats)
        .select(
            (F.col("zu") <= 8).cast("int").alias("z_user_le_8_files"),
            (F.col("zt") <= 8).cast("int").alias("z_time_le_8_files"),
            (F.col("zt") < F.col("rt")).cast("int").alias("z_beats_onedim_on_time"),
            "n_rows",
            "content_checksum",
        )
    )


@query(
    "warc_ingest",
    f"""
SELECT CAST(count(*) AS BIGINT) AS n_records,
       1 AS four_files,
       CAST(sum(doc_id * 1000003 + CAST({_DUCK_HEX8.format(h="substr(md5(text), 1, 8)")} AS BIGINT)) AS BIGINT) AS content_checksum
FROM documents WHERE doc_id < 200
""",
)
def warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common Crawl-format ingestion (io/warc.py): documents doc_id<200
    serialize to 4 spec-conformant .warc.gz files (one gzip member per
    record — the CC layout; fixture synthesis is driver-side test
    plumbing like markdown_scan's staging), each file salted with a
    non-content 'metadata' record; the DISTRIBUTED parser (binaryFile →
    one mapInPandas framing pass, Content-Length-exact bodies,
    multi-member gzip) must recover every document byte-for-byte and
    prune the non-content records — any framing slip or pruning failure
    breaks the md5-based checksum against the original table."""
    import os
    import shutil
    import tempfile

    from chatbot_spark.io.warc import parse_warc, write_warc_fixture

    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(
        (r["doc_id"], r["text"])
        for r in docs.filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
        .collect()
    )
    base = tempfile.mkdtemp(prefix="cbs_warc_q_")
    try:
        for b in range(4):
            recs = [
                (f"https://corpus.example/doc/{d}", "2024-01-01T00:00:00Z", t)
                for d, t in rows
                if d % 4 == b
            ]
            # a non-content record the parser must drop (else the url
            # regexp yields NULL doc_id and the checksum goes NULL-loud)
            recs.append(
                ("", "2024-01-01T00:00:00Z", "ignore me", "metadata")
            )
            write_warc_fixture(os.path.join(base, f"seg{b}.warc.gz"), recs)
        parsed = parse_warc(spark, os.path.join(base, "*.warc.gz"))
        agg = parsed.select(
            F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
            F.conv(F.substring(F.md5("content"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
            "file",
        ).agg(
            F.count("*").cast("long").alias("n_records"),
            (F.countDistinct("file") == 4).cast("int").alias("four_files"),
            F.sum(F.col("doc_id") * 1000003 + F.col("h"))
            .cast("long")
            .alias("content_checksum"),
        )
        out = local_df(spark, agg.collect(), agg.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "bloom_layout_pruning",
    """
SELECT 1 AS bloom_le_half_files, 1 AS bloom_matches_full_scan,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(user_id * 1000003 + event_id) AS BIGINT) AS content_checksum
FROM events WHERE event_id IN (7, 123, 991)
""",
)
def bloom_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level Bloom skipping index (operators/bloomindex.py) — the
    layout family's point-lookup leg. Events are written round-robin
    across 16 files (the min/max-stats worst case: every file's
    [min, max] on event_id spans everything, so range stats prune
    NOTHING); a per-file Bloom sidecar on event_id then answers a
    3-key point lookup touching only the candidate files (~3 of 16 at
    fpp=0.01; ≤8 is the driver-checked bound).

    Driver-checked invariants: the file bound, pruned-read ≡ full-scan
    filter in-plan (Bloom has no false negatives — the flag compares
    row sets, not counts), and exact row count + content checksum of
    the pruned read against the ORIGINAL table via the oracle."""
    import os
    import shutil
    import tempfile

    from chatbot_spark.operators.bloomindex import (
        build_bloom_index,
        prune_files,
        read_with_bloom,
    )

    keys = [7, 123, 991]
    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="cbs_bloom_q_")
    data = os.path.join(base, "data")
    try:
        ev.repartition(16).write.parquet(data)
        build_bloom_index(spark, data, "event_id", fpp=0.01)
        n_candidates = len(prune_files(spark, data, "event_id", keys))
        # the lookup result is point-lookup-sized (3 rows) — collect both
        # sides and compare driver-side (one job each, no anti-join job)
        pruned_rows = sorted(
            (r["event_id"], r["user_id"])
            for r in read_with_bloom(spark, data, "event_id", keys)
            .select("event_id", "user_id")
            .collect()
        )
        full_rows = sorted(
            (r["event_id"], r["user_id"])
            for r in spark.read.parquet(data)
            .filter(F.col("event_id").isin(keys))
            .select("event_id", "user_id")
            .collect()
        )
        out = local_df(
            spark,
            [
                (
                    int(n_candidates <= 8),
                    int(pruned_rows == full_rows),
                    len(pruned_rows),
                    sum(u * 1000003 + e for e, u in pruned_rows),
                )
            ],
            "bloom_le_half_files INT, bloom_matches_full_scan INT, "
            "n_rows BIGINT, content_checksum BIGINT",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# BM25 lexical retrieval (I5 family — the production keyword scorer:
# TF-IDF + tf saturation + doc-length normalization). Rational-idf mode so
# every factor is a division/product of exact-int-derived doubles — no
# transcendentals, engine-reproducible (lexical.py::bm25_topk docstring).
# --------------------------------------------------------------------------

@query(
    "bm25_topk",
    """
WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM c),
post AS (
  SELECT doc_id AS id, tok AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM c) s
  GROUP BY doc_id, tok),
dfreq AS (SELECT token, count(*) AS df FROM post GROUP BY token),
dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY id),
ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
qterms AS (
  SELECT doc_id AS query_id, unnest(list_distinct(regexp_extract_all(lower(text), '\\S+'))) AS token
  FROM c WHERE doc_id < 3),
contrib AS (
  SELECT q.query_id, p.id AS neighbor_id, q.token,
         (((SELECT n_docs FROM n) - d.df + 0.5) / (d.df + 0.5))
         * ((CAST(p.tf AS DOUBLE) * (1.2 + 1.0))
            / (CAST(p.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (SELECT avgdl FROM ad)))) AS w
  FROM qterms q
  JOIN dfreq d ON d.token = q.token
  JOIN post p ON p.token = q.token
  JOIN dl l ON l.id = p.id),
scored AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(w ORDER BY token)),
                     (acc, x) -> acc + x) AS score
  FROM contrib GROUP BY query_id, neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= 10
""",
    sf1=True,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: BM25 top-10 (k1=1.2, b=0.75, rational idf) over the same
    200-doc corpus / 3-query workload as tfidf_topk — posting-list joins
    on token, doc-length side input, sorted-term fold. The oracle spells
    the identical arithmetic shape (same association order per the float
    discipline atop this module); 'lucene' log-idf mode exists for
    production but is not oracle-gated (libm last-ulp variance)."""
    from chatbot_spark.operators.lexical import bm25_topk as _bm25

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    queries_df = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    res = _bm25(queries_df, docs, k=10, idf_mode="rational")
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


@query(
    "ivfpq_knn",
    """
SELECT 1 AS recall_ok, CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_rows
""",
    bench_skip="bundles build + recall check; timed as ivfpq_build/ivfpq_search",
)
def ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 composed scale path: IVF-PQ (operators/ivfpq.py) — coarse cells
    prune WHICH rows are scanned (nprobe/nlist), residual PQ codes shrink
    WHAT each scanned row costs (m bytes vs 4·d), exact re-rank of the
    shortlist restores recall. Seed-dependent like IVF/PQ, so the driver
    oracle asserts the recall SLO (≥ 0.95 @ k=10 vs the in-plan exact
    scan); the zero-residual-error pytest pins the ADC machinery."""
    from chatbot_spark.operators.ivfpq import IVFPQIndex

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    index = IVFPQIndex.build(
        emb, vec_col="embedding", id_col="vec_id", nlist=8, m=16, ksub=32
    )
    approx = index.search(q, k=10, nprobe=7, rerank=100, corpus=emb)
    exact = knn_join(q, emb, k=10, metric="l2", corpus_id="vec_id", corpus_vec="embedding")
    return _ann_recall_summary(approx, exact)


# --------------------------------------------------------------------------
# Rollup hierarchy reuse (the continuous-aggregate ladder): hour partials
# are the ONLY thing computed from raw events; day and month levels
# re-aggregate the level below. At 100 TB the raw table is touched once
# per refresh window, and each coarser level costs rows(finer level).
# --------------------------------------------------------------------------

@query(
    "rollup_hierarchy",
    """
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY day, event_type)
SELECT CAST(month(day) AS BIGINT) AS month, event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_value_cents
FROM d GROUP BY month, event_type
""",
)
def rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate ladder: events → hour partials → day partials
    → month summary, each level aggregating ONLY the level below (the raw
    table is scanned exactly once). count/sum are mergeable, so the
    ladder is exact — the oracle computes day→month directly from raw
    events and must agree to the integer. The n_days audit column counts
    day rows per (month, type), proving the intermediate level's
    granularity survived the re-aggregation."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    daily = hourly.groupBy(
        F.to_date(F.date_trunc("day", "hour")).alias("day"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    return daily.groupBy(
        F.month("day").cast("long").alias("month"), "event_type"
    ).agg(
        F.count("*").alias("n_days"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("sum_value_cents"),
    )


@query(
    "scd2_user_state",
    """
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE user_id < 50),
ch AS (
  SELECT user_id, event_type, ts, event_id FROM e
  WHERE prev IS NULL OR event_type <> prev),
iv AS (
  SELECT user_id, event_type, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM ch)
SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
       CAST(epoch_us(valid_from) AS BIGINT) AS valid_from_us,
       CAST(coalesce(epoch_us(valid_to), -1) AS BIGINT) AS valid_to_us
FROM iv
""",
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension maintenance (operators/scd.py): each user's event
    stream becomes attribute-validity intervals — consecutive duplicate
    states collapse (a no-op update opens no version), the latest row
    stays open. Both window passes share one (user, ts, id) partitioning
    → a single exchange in the plan. µs-exact interval bounds; -1 marks
    the open row (NULL would be dropped by the hash compare)."""
    from chatbot_spark.operators.scd import scd2_intervals

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    iv = scd2_intervals(
        ev, key_col="user_id", attr_col="event_type", ts_col="ts",
        tiebreak_col="event_id",
    )
    return iv.select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.coalesce(F.unix_micros("valid_to"), F.lit(-1)).cast("long").alias("valid_to_us"),
    )


# --------------------------------------------------------------------------
# Mixture-weighted resampling (the pretraining data-mixing op): per-source
# target weights, deterministic content-hash acceptance, >1x weights emit
# integer replicas + a hash-chosen fractional subset — epoch-stable.
# --------------------------------------------------------------------------

@query(
    "source_mixture",
    f"""
WITH w(source, base, extra_below) AS (
  VALUES ('src0', 2, 5000), ('src1', 0, 2500), ('src2', 1, 0), ('src3', 0, 7500)),
j AS (
  SELECT d.source, d.doc_id, w.base, w.extra_below,
         CAST({_DUCK_HEXWORD.format(t="CAST(doc_id AS VARCHAR)", off=1)} AS BIGINT) % 10000 AS h
  FROM documents d JOIN w ON w.source = d.source),
rep AS (
  SELECT source, doc_id,
         unnest(range(0, base + CASE WHEN h < extra_below THEN 1 ELSE 0 END)) AS copy_idx
  FROM j)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(max(copy_idx) AS BIGINT) AS max_copy,
       CAST(sum(doc_id * (copy_idx + 1)) AS BIGINT) AS membership_checksum
FROM rep GROUP BY source
""",
)
def source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weights {src0: 2.5, src1: 0.25, src2: 1.0, src3: 0.75}:
    src0 rows appear 2 or 3 times (hash-chosen half gets the 3rd copy),
    src1 keeps a quarter, src2 passes through exactly once, src3 keeps
    three quarters; every other source drops. The checksum is over
    (doc_id, copy_idx) pairs, so the oracle verifies the exact multiset
    — which docs, with how many copies — not just counts."""
    from chatbot_spark.operators.sampling import weighted_mixture

    docs = load_table(spark, sf_dir, "documents")
    mixed = weighted_mixture(
        docs.select("doc_id", "source"),
        strata_col="source",
        weights={"src0": 2.5, "src1": 0.25, "src2": 1.0, "src3": 0.75},
        key="doc_id",
    )
    return mixed.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.max("copy_idx").cast("long").alias("max_copy"),
        F.sum(F.col("doc_id") * (F.col("copy_idx") + 1)).cast("long").alias("membership_checksum"),
    )


@query(
    "asof_forward_next_purchase",
    """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT c.event_id AS click_id, CAST(c.user_id AS BIGINT) AS user_id,
       CAST(coalesce(epoch_us(min(p.ts)), -1) AS BIGINT) AS next_purchase_us
FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.ts >= c.ts
GROUP BY c.event_id, c.user_id
""",
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/joins.py direction="forward"): each
    click matched to the user's NEXT purchase at-or-after it — the
    time-to-conversion primitive. Same one-shuffle union+window plan as
    the backward form, traversing each user's timeline descending. The
    oracle is the min-over-qualifying-rows SQL, which is the forward
    as-of definition spelled relationally; -1 marks never-converted."""
    from chatbot_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    res = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="pts",
        right_cols=[], direction="forward",
    )
    return res.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.coalesce(F.unix_micros("asof_pts"), F.lit(-1)).cast("long").alias("next_purchase_us"),
    )


# --------------------------------------------------------------------------
# Hybrid retrieval via Reciprocal Rank Fusion — the standard production
# combiner for dense + lexical retrievers (score = Σ 1/(60 + rank_i);
# rank-based, so no score normalization across retrievers is needed).
# The oracle recomputes BOTH retrievers from scratch: the dense side's
# hash embeddings byte-for-byte (the rag_pipeline_e2e machinery) and the
# BM25 side's rational-idf scores, then replays the fusion arithmetic.
# --------------------------------------------------------------------------

@query(
    "rrf_hybrid",
    f"""
WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
inp AS (
  SELECT 'c' AS role, doc_id, text AS txt FROM c
  UNION ALL
  SELECT 'q' AS role, doc_id, text AS txt FROM c WHERE doc_id < 3),
bytes AS (
  SELECT role, doc_id,
         list_transform(generate_series(0, 63), b -> {_DUCK_HASHBYTE.format(t='txt')}) AS bs
  FROM inp),
raws AS (
  SELECT role, doc_id,
         list_transform(generate_series(0, {_E2E_DIM - 1}),
           k -> (bs[4*k+1] + bs[4*k+2]*256 + bs[4*k+3]*65536 + bs[4*k+4]*16777216)
                / 2147483648.0 - 1.0) AS r
  FROM bytes),
emb AS (
  SELECT role, doc_id,
         list_transform(r, x -> CAST(CAST(x / sqrt({_DUCK_NP16_SUMSQ}) AS FLOAT) AS DOUBLE)) AS e
  FROM raws),
dpairs AS (
  SELECT q.doc_id AS query_id, cc.doc_id AS neighbor_id,
         {_DUCK_L2.format(a='q.e', b='cc.e')} AS dist
  FROM (SELECT * FROM emb WHERE role = 'q') q,
       (SELECT * FROM emb WHERE role = 'c') cc),
dense AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rank
  FROM dpairs QUALIFY rank <= 20),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM c),
post AS (
  SELECT doc_id AS id, tok AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM c) s
  GROUP BY doc_id, tok),
dfreq AS (SELECT token, count(*) AS df FROM post GROUP BY token),
dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY id),
ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
qterms AS (
  SELECT doc_id AS query_id, unnest(list_distinct(regexp_extract_all(lower(text), '\\S+'))) AS token
  FROM c WHERE doc_id < 3),
contrib AS (
  SELECT q.query_id, p.id AS neighbor_id, q.token,
         (((SELECT n_docs FROM n) - d.df + 0.5) / (d.df + 0.5))
         * ((CAST(p.tf AS DOUBLE) * (1.2 + 1.0))
            / (CAST(p.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (SELECT avgdl FROM ad)))) AS w
  FROM qterms q
  JOIN dfreq d ON d.token = q.token
  JOIN post p ON p.token = q.token
  JOIN dl l ON l.id = p.id),
bscored AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(w ORDER BY token)),
                     (acc, x) -> acc + x) AS score
  FROM contrib GROUP BY query_id, neighbor_id),
lex AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM bscored QUALIFY rank <= 20),
fused AS (
  SELECT coalesce(d.query_id, l.query_id) AS query_id,
         coalesce(d.neighbor_id, l.neighbor_id) AS neighbor_id,
         coalesce(1.0 / (60 + d.rank), 0.0) + coalesce(1.0 / (60 + l.rank), 0.0) AS score
  FROM dense d FULL JOIN lex l
    ON l.query_id = d.query_id AND l.neighbor_id = d.neighbor_id),
franked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM fused)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rank AS BIGINT) AS rank, round(score, 6) AS score
FROM franked WHERE rank <= 10
""",
    sf1=True,
)
def rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, fused by RRF (k=60): dense top-20 (deterministic
    hash embeddings, exact L2) ∪ BM25 top-20 (rational idf), score =
    1/(60+rank_dense) + 1/(60+rank_bm25) with absent ranks contributing
    0 — a FULL OUTER join of two rank lists, never a score-scale
    normalization (the reason RRF is the production default). Plan: both
    retrievers share the docs scan; the fusion join is (queries × ≤40)
    rows — trivially broadcast; the final top-10 is one window."""
    from chatbot_spark.operators.embed import embed_documents, embed_queries
    from chatbot_spark.operators.lexical import bm25_topk as _bm25

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    corpus = embed_documents(docs.select("doc_id", "text"), text_col="text",
                             backend="hash", dim=_E2E_DIM)
    queries_df = embed_queries(
        docs.filter(F.col("doc_id") < 3).select(
            F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
        ),
        backend="hash", dim=_E2E_DIM,
    )
    dense = knn_join(
        queries_df, corpus, k=20, metric="l2", corpus_id="doc_id", corpus_vec="embedding"
    ).select("query_id", "neighbor_id", F.col("rank").alias("__rd"))
    lex = _bm25(
        queries_df.select("query_id", "query_text"), docs, k=20, idf_mode="rational"
    ).select("query_id", "neighbor_id", F.col("rank").alias("__rl"))
    fused = dense.join(lex, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id", "neighbor_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("__rd")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("__rl")), F.lit(0.0))
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 6).alias("score"),
        )
    )


# --------------------------------------------------------------------------
# Explicit set operations through the SQL surface (§2.G): INTERSECT /
# EXCEPT compile to aggregate-backed semi/anti joins in Catalyst — the
# same plan the hand-written forms above produce, here exercised as the
# literal operators.
# --------------------------------------------------------------------------

@query(
    "user_segments_setops",
    """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
both_u AS (SELECT user_id FROM c INTERSECT SELECT user_id FROM p),
click_only AS (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
SELECT 'both' AS segment, CAST(count(*) AS BIGINT) AS n_users,
       CAST(coalesce(sum(user_id), 0) AS BIGINT) AS id_checksum FROM both_u
UNION ALL
SELECT 'click_only', CAST(count(*) AS BIGINT), CAST(coalesce(sum(user_id), 0) AS BIGINT) FROM click_only
""",
)
def user_segments_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G literal INTERSECT / EXCEPT via the engine's SQL surface:
    clickers ∩ purchasers and clickers ∖ purchasers. Catalyst rewrites
    both to (distinct) semi/anti joins — one shuffle each on user_id;
    the id checksum proves the exact membership, not just the counts."""
    import uuid

    ev = load_table(spark, sf_dir, "events")
    # unique view name (a fixed one would collide across concurrent queries
    # sharing this session), dropped right after spark.sql resolves the
    # plan eagerly — no catalog entry leaks in a long-lived session
    view = f"events_setops_{uuid.uuid4().hex[:10]}"
    ev.createOrReplaceTempView(view)
    try:
        return spark.sql(f"""
            WITH c AS (SELECT DISTINCT user_id FROM {view} WHERE event_type = 'click'),
            p AS (SELECT DISTINCT user_id FROM {view} WHERE event_type = 'purchase'),
            both_u AS (SELECT user_id FROM c INTERSECT SELECT user_id FROM p),
            click_only AS (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
            SELECT 'both' AS segment, CAST(count(*) AS BIGINT) AS n_users,
                   CAST(coalesce(sum(user_id), 0) AS BIGINT) AS id_checksum FROM both_u
            UNION ALL
            SELECT 'click_only', CAST(count(*) AS BIGINT), CAST(coalesce(sum(user_id), 0) AS BIGINT) FROM click_only
        """)
    finally:
        spark.catalog.dropTempView(view)


# --------------------------------------------------------------------------
# Fuzzy entity matching (§2.H extension — the entity-resolution primitive
# of data cleaning): edit-distance self-join under a length-difference
# prefilter. At 100 TB the prefilter is the point: levenshtein(a, b) ≥
# abs(len(a) − len(b)), so bucketing by length bands prunes the
# quadratic candidate space before any distance is computed.
# --------------------------------------------------------------------------

@query(
    "fuzzy_name_pairs",
    """
WITH s AS (SELECT s_suppkey, s_name, length(s_name) AS ln FROM supplier),
cand AS (
  SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
         levenshtein(a.s_name, b.s_name) AS dist
  FROM s a JOIN s b
    ON a.s_suppkey < b.s_suppkey AND abs(a.ln - b.ln) <= 2)
SELECT id_a, id_b, CAST(dist AS BIGINT) AS dist
FROM cand WHERE dist <= 2
""",
    sf1=True,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution pairs: supplier names within edit distance 2, via
    SymSpell deletion-neighborhood blocking (operators/fuzzy.py) — an
    equi-join on shared <=2-deletion variants, complete for dist <= 2,
    then levenshtein-verified. The oracle keeps the declarative all-pairs
    form (with the free length-band prefilter); results are identical
    because blocking is exact. levenshtein is a JVM builtin in both
    engines — exact integer parity."""
    from chatbot_spark.operators.fuzzy import fuzzy_pairs

    # spread: the deletion-neighborhood expansion is CPU per row on a
    # one-split scan — neutral at sf0.1 (2.30 vs 2.26 s A/B), −14% at the
    # sf1 point (24.6 → 21.2 s), a no-op-ish rebalance at real file counts
    s = spread(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    pairs = fuzzy_pairs(s, id_col="s_suppkey", text_col="s_name", max_dist=2)
    return pairs.select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))


# --------------------------------------------------------------------------
# Benchmark decontamination (§2.J beyond-reference — the GPT-3/PaLM
# "13-gram overlap" rule, parameterized at n=8 for the synthetic corpus)
# --------------------------------------------------------------------------

@query(
    "decontaminate",
    f"""
WITH bench AS (
  SELECT substr(text, 50, 200) AS btext FROM documents WHERE doc_id % 10 = 0),
bt AS (SELECT {_DUCK_TOKENS.format(c='btext')} AS toks FROM bench),
bg AS (SELECT DISTINCT unnest({_duck_ngrams('toks', 8)}) AS gram FROM bt),
ct AS (SELECT doc_id, {_DUCK_TOKENS.format(c='text')} AS toks FROM documents),
cg AS (SELECT doc_id, unnest({_duck_ngrams('toks', 8)}) AS gram FROM ct)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
FROM cg JOIN bg USING (gram)
GROUP BY doc_id
""",
)
def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word 8-gram
    with a "leaked benchmark" (here: substrings of every 10th doc, so the
    leak is guaranteed and the flag set is non-trivial). Benchmark n-grams
    are broadcast — the 100 TB corpus side never shuffles until the tiny
    hit aggregation."""
    from chatbot_spark.operators.decontam import ngram_overlap_flags

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.substring("text", 50, 200).alias("text")
    )
    # the corpus-side n-gram explode is the CPU; spread it across cores
    flags = ngram_overlap_flags(spread(docs), bench, text_col="text", id_col="doc_id", n=8)
    return flags.select("doc_id", F.col("n_hit_grams").cast("long").alias("n_hit_grams"))


@query(
    "containment_decontam",
    f"""
WITH bench AS (
  SELECT doc_id AS bench_id, substr(text, 50, 200) AS btext
  FROM documents WHERE doc_id % 10 = 0),
bt AS (SELECT bench_id, {_DUCK_TOKENS.format(c='btext')} AS toks FROM bench),
bg AS (SELECT DISTINCT bench_id, unnest({_duck_ngrams('toks', 8)}) AS gram FROM bt),
sizes AS (SELECT bench_id, count(*) AS nb FROM bg GROUP BY bench_id),
ct AS (SELECT doc_id, {_DUCK_TOKENS.format(c='text')} AS toks FROM documents),
cg AS (SELECT DISTINCT doc_id, unnest({_duck_ngrams('toks', 8)}) AS gram FROM ct),
pair AS (
  SELECT doc_id, bench_id, count(*) AS n_common
  FROM cg JOIN bg USING (gram) GROUP BY doc_id, bench_id),
scored AS (
  SELECT p.doc_id, p.bench_id, p.n_common,
         CAST(p.n_common AS DOUBLE) / s.nb AS containment,
         row_number() OVER (PARTITION BY p.doc_id
                            ORDER BY CAST(p.n_common AS DOUBLE) / s.nb DESC,
                                     p.bench_id ASC) AS rn
  FROM pair p JOIN sizes s USING (bench_id))
SELECT doc_id, bench_id, round(containment, 6) AS containment,
       CAST(n_common AS BIGINT) AS n_common
FROM scored WHERE rn = 1
""",
)
def containment_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded decontamination (the Dolma-style containment rule): for each
    corpus doc, the fraction of its best-matching benchmark ITEM's 8-gram
    set that the doc contains — 1.0 means the benchmark item is fully
    inside the doc (as with the planted every-10th-doc substrings here),
    fractional values grade partial leaks that the binary any-gram rule
    can't rank. Benchmark grams + sizes broadcast; ties break to the
    lowest bench_id."""
    from chatbot_spark.operators.decontam import containment_scores

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.substring("text", 50, 200).alias("text"),
    )
    res = containment_scores(
        spread(docs), bench, text_col="text", id_col="doc_id", n=8
    )
    return res.select(
        "doc_id",
        "bench_id",
        F.round("containment", 6).alias("containment"),
        F.col("n_common").cast("long").alias("n_common"),
    )


# --------------------------------------------------------------------------
# Repetition quality signals (§2.J J4 extension — Gopher/C4 filters)
# --------------------------------------------------------------------------

_DUCK_REP_TOKS = _DUCK_TOKENS.format(c="text")

@query(
    "repetition_stats",
    f"""
WITH t AS (
  SELECT doc_id, {_DUCK_REP_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, toks, len(toks) AS n_tok,
         list_transform(generate_series(1, greatest(len(toks) - 1, 1)),
                        i -> concat_ws(' ', toks[i], toks[i+1])) AS grams
  FROM t)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       round(CAST(len(list_distinct(toks)) AS DOUBLE)
             / CAST(greatest(n_tok, 1) AS DOUBLE), 6) AS distinct_token_ratio,
       CAST(list_max(list_transform(list_distinct(toks),
                                    s -> len(list_filter(toks, x -> x = s)))) AS BIGINT)
         AS top_token_count,
       round(CAST(list_max(list_transform(list_distinct(toks),
                                          s -> len(list_filter(toks, x -> x = s)))) AS DOUBLE)
             / CAST(greatest(n_tok, 1) AS DOUBLE), 6) AS top_token_frac,
       round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                   / CAST(greatest(len(grams), 1) AS DOUBLE), 6) AS dup_ngram_frac
FROM g
""",
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals per doc (duplicate-phrase and dominant-token
    ratios) — one narrow JVM-side map, no shuffle, no UDF."""
    from chatbot_spark.operators.textstats import with_repetition_stats

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    out = with_repetition_stats(docs, text_col="text", ngram_n=2)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("distinct_token_ratio", 6).alias("distinct_token_ratio"),
        "top_token_count",
        F.round("top_token_frac", 6).alias("top_token_frac"),
        F.round("dup_ngram_frac", 6).alias("dup_ngram_frac"),
    )


# --------------------------------------------------------------------------
# PII redaction (§2.J beyond-reference — the pre-release corpus scrub)
# --------------------------------------------------------------------------

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE = "\\b\\d{3}-\\d{3,4}-\\d{4}\\b"

@query(
    "pii_redact",
    f"""
WITH synth AS (
  SELECT doc_id,
         concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                '@mail.example.com from 10.', CAST(doc_id % 200 AS VARCHAR),
                '.3.7 call 555-010-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS s
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(s, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(s, '{_PII_IP}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(s, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(s,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_IP}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
FROM synth
""",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: per-doc match counts + md5 of the redacted text. The PII
    is synthesized deterministically from doc_id (the corpus is word soup),
    so both engines construct — and must redact — the identical input.
    Rule order (email before IP) is part of the contract; patterns are
    restricted to Java-regex/RE2-common syntax (functions/text.py:PII_RULES).
    Pure regexp chain: the 100 TB scrub is one scan, zero shuffle."""
    from chatbot_spark.functions.text import count_pii, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".3.7 call 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("s"),
    )
    return synth.select(
        "doc_id",
        count_pii(F.col("s"), _PII_EMAIL).cast("long").alias("n_emails"),
        count_pii(F.col("s"), _PII_IP).cast("long").alias("n_ips"),
        count_pii(F.col("s"), _PII_PHONE).cast("long").alias("n_phones"),
        F.md5(redact_pii(F.col("s"))).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# Count–min sketch heavy hitters (§2.J beyond-reference — mergeable
# counter state; the CMS counterpart of incremental_distinct_hll)
# --------------------------------------------------------------------------

_CMS_DEPTH, _CMS_WIDTH = 4, 64
# one cell coordinate: CAST(hexword(md5('j:key')) AS BIGINT) % width
_DUCK_CMS_BUCKET = (
    "CAST(CAST("
    + _DUCK_HEXWORD.format(t="concat(CAST({j} AS VARCHAR), ':', CAST({k} AS VARCHAR))", off=1)
    + " AS BIGINT) % {w} AS INT)"
)

@query(
    "cms_heavy_hitters",
    f"""
WITH j AS (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS row_idx),
cells AS (
  SELECT row_idx,
         {_DUCK_CMS_BUCKET.format(j='row_idx', k='user_id', w=_CMS_WIDTH)} AS bucket,
         count(*) AS cnt
  FROM events CROSS JOIN j
  GROUP BY 1, 2),
exact AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
coords AS (
  SELECT user_id, row_idx,
         {_DUCK_CMS_BUCKET.format(j='row_idx', k='user_id', w=_CMS_WIDTH)} AS bucket
  FROM exact CROSS JOIN j),
est AS (
  SELECT c.user_id, min(cells.cnt) AS est
  FROM coords c JOIN cells USING (row_idx, bucket)
  GROUP BY 1)
SELECT e.user_id, CAST(x.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(e.est AS BIGINT) AS est,
       CAST(e.est - x.exact_cnt AS BIGINT) AS overcount
FROM est e JOIN exact x USING (user_id)
ORDER BY exact_cnt DESC, user_id ASC
LIMIT 20
""",
    sf1=True,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heavy hitters with CMS estimates beside exact counts. The
    md5-derived hash family makes every counter bit-reproducible by the
    oracle, so the CMS contract (est ≥ exact, bounded overcount) is
    verified per row rather than asserted. The sketch itself is ≤
    depth·width rows — the mergeable, broadcastable state a 100 TB
    heavy-hitter pass ships between stages instead of per-key counts."""
    from chatbot_spark.operators.sketch import cms_build, cms_estimate

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    est = cms_estimate(sketch, exact.select("user_id"), "user_id",
                       depth=_CMS_DEPTH, width=_CMS_WIDTH)
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            F.col("est").cast("long").alias("est"),
            (F.col("est") - F.col("exact_cnt")).cast("long").alias("overcount"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# Funnel analysis (events family — ordered-stage attribution over chained
# per-user windows; all three stages share ONE exchange)
# --------------------------------------------------------------------------

@query(
    "funnel_analysis",
    """
WITH s1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
             OVER (PARTITION BY user_id) AS t_view
  FROM events),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                OVER (PARTITION BY user_id) AS t_click
  FROM s1),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
                OVER (PARTITION BY user_id) AS t_purchase
  FROM s2),
pu AS (
  SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
         max(t_purchase) AS t_purchase
  FROM s3 GROUP BY user_id)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(t_view) AS BIGINT) AS n_view,
       CAST(count(t_click) AS BIGINT) AS n_view_click,
       CAST(count(t_purchase) AS BIGINT) AS n_full_funnel,
       round(CAST(count(t_click) AS DOUBLE) / CAST(count(t_view) AS DOUBLE), 6)
         AS view_to_click,
       round(CAST(count(t_purchase) AS DOUBLE) / CAST(count(t_click) AS DOUBLE), 6)
         AS click_to_purchase
FROM pu
""",
    bench_skip="window shape is timed by sessionize, first_touch_attribution",
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: each stage's timestamp is the
    min event AFTER the previous stage's timestamp, computed by three
    chained whole-partition windows that share one partitioning — Catalyst
    plans a single exchange on user_id, then one tiny global rollup. The
    strictly-ordered semantics ('click counts only after the first view')
    is what a naive per-type min/EXISTS gets wrong."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    s = (
        ev.withColumn(
            "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    pu = s.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return pu.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_full_funnel"),
        F.round(
            F.count("t_click").cast("double") / F.count("t_view").cast("double"), 6
        ).alias("view_to_click"),
        F.round(
            F.count("t_purchase").cast("double") / F.count("t_click").cast("double"), 6
        ).alias("click_to_purchase"),
    )


# --------------------------------------------------------------------------
# URL canonicalization (§2.J beyond-reference — the web-crawl dedup key)
# --------------------------------------------------------------------------

@query(
    "url_canonicalize",
    """
WITH raw AS (
  SELECT doc_id,
         concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Example' ELSE 'http://example' END,
                CAST(doc_id % 5 AS VARCHAR),
                CASE WHEN doc_id % 2 = 0 THEN '.COM:443' ELSE '.com:80' END,
                '/Docs/Page', CAST(doc_id % 7 AS VARCHAR),
                '?utm_source=feed&b=', CAST(doc_id % 3 AS VARCHAR),
                '&a=1&gclid=xyz#sec', CAST(doc_id % 4 AS VARCHAR)) AS url
  FROM documents),
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
         regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM raw),
canon AS (
  SELECT doc_id,
         concat(scheme, '://',
                CASE WHEN scheme = 'https' AND hostport LIKE '%:443'
                       THEN regexp_replace(hostport, ':443$', '')
                     WHEN scheme = 'http' AND hostport LIKE '%:80'
                       THEN regexp_replace(hostport, ':80$', '')
                     ELSE hostport END,
                CASE WHEN path0 = '' THEN '/' ELSE path0 END,
                CASE WHEN array_to_string(list_sort(list_filter(str_split(q, '&'),
                       p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') = ''
                     THEN ''
                     ELSE concat('?', array_to_string(list_sort(list_filter(str_split(q, '&'),
                       p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&'))
                END) AS canonical_url
  FROM parts)
SELECT doc_id, canonical_url FROM canon
""",
    bench_skip="URL rewrite shape is timed by doc_url_rewrite",
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl URL canonicalization: scheme/host lowercased, default
    port stripped, tracking params dropped, surviving params sorted,
    fragment removed, path case preserved. URLs are synthesized
    deterministically from doc_id (mixed-case hosts, both default-port
    forms, tracking params, fragments) so both engines canonicalize the
    identical input. One narrow regex/array map — zero shuffle."""
    from chatbot_spark.functions.text import canonicalize_url

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://Example")).otherwise(
                F.lit("http://example")
            ),
            (F.col("doc_id") % 5).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".COM:443")).otherwise(
                F.lit(".com:80")
            ),
            F.lit("/Docs/Page"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("?utm_source=feed&b="),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("&a=1&gclid=xyz#sec"),
            (F.col("doc_id") % 4).cast("string"),
        ).alias("url"),
    )
    return raw.select("doc_id", canonicalize_url(F.col("url")).alias("canonical_url"))


# ---------------------------------------------------------------------------
# Host-level PageRank (§2.J beyond-reference — link-graph authority scoring,
# the Common Crawl host-rank / OpenWebText inbound-link curation signal).
# Bit-exact: the whole iteration runs in BIGINT fixed-point (graph.py::
# pagerank_integer docstring), so the oracle unrolls the supersteps as CTEs
# and must agree hash-for-hash.


def _pagerank_oracle(iterations: int, n_hosts: int, scale: int, num: int, den: int) -> str:
    sql = f"""
WITH links AS (
  SELECT doc_id % {n_hosts} AS src, (doc_id * 7 + 1) % {n_hosts} AS dst FROM documents
  UNION ALL
  SELECT doc_id % {n_hosts}, (doc_id * 13 + 2) % {n_hosts} FROM documents WHERE doc_id % 3 = 0),
edges AS (SELECT DISTINCT src, dst FROM links WHERE src <> dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
base AS (SELECT CAST({scale} // (SELECT count(*) FROM nodes) AS BIGINT) AS r0),
it0 AS (SELECT node, (SELECT r0 FROM base) AS rank FROM nodes)"""
    for i in range(1, iterations + 1):
        sql += f""",
it{i} AS (
  SELECT n.node,
         CAST((({den - num}) * (SELECT r0 FROM base)) // {den}
              + ({num} * coalesce(s.inc, 0)) // {den} AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank // d.outdeg) AS inc
    FROM edges e JOIN it{i - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst) s ON s.node = n.node)"""
    sql += f"""
SELECT CAST(node AS BIGINT) AS host, rank AS rank_scaled FROM it{iterations}
"""
    return sql


@query("host_pagerank", _pagerank_oracle(5, 50, 10**12, 85, 100))
def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-authority PageRank over a deterministic link graph: hosts are
    doc_id residues mod 50, every doc links its host to (7*doc_id+1)%50
    and every third doc adds (13*doc_id+2)%50 — a connected multiplicative
    scramble with no self-loops (6h+1 is never 0 mod 50) and full in-degree
    coverage (h -> 7h+1 is a bijection mod 50). Five supersteps of
    operators/graph.py::pagerank_integer, damping 85/100, scale 1e12 —
    pure-BIGINT fixed point, so the unrolled-CTE oracle matches bit for
    bit. Plan: each superstep is edges ⋈ rank (map-side combinable
    contribution sum on dst) + a left join back to nodes — the standard
    2-shuffle Pregel round, state O(hosts) never O(edges)."""
    from chatbot_spark.operators.graph import pagerank_integer

    docs = load_table(spark, sf_dir, "documents")
    h = F.col("doc_id") % 50
    links = docs.select(
        h.alias("src"), ((F.col("doc_id") * 7 + 1) % 50).alias("dst")
    ).union(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            h.alias("src"), ((F.col("doc_id") * 13 + 2) % 50).alias("dst")
        )
    )
    ranks = pagerank_integer(links, iterations=5, scale=10**12)
    return ranks.select(
        F.col("node").cast("long").alias("host"), F.col("rank").alias("rank_scaled")
    )


# ---------------------------------------------------------------------------
# HTML boilerplate removal (§2.J beyond-reference — jusText-shaped main-
# content extraction; operators/html.py). The synthetic page wraps each
# document in a nav bar (all links), two content paragraphs (the second
# with one inline link), a too-short block and a link-heavy footer; the
# integer link-density rule must keep exactly the content paragraphs.

_HTML_NAV = '<div><a href="/a">home site</a> <a href="/b">about page</a></div>'
_HTML_FOOT = (
    '<div>copyright <a href="/c">terms of use</a>'
    ' <a href="/d">privacy policy</a></div>'
)


@query(
    "html_main_content",
    f"""
WITH raw AS (
  SELECT doc_id,
         '{_HTML_NAV}'
         || '<p>' || substr(text, 1, 120) || '</p>'
         || '<p>ok</p>'
         || '<p>' || substr(text, 121, 120)
         || ' see <a href="/x">docs</a></p>'
         || '{_HTML_FOOT}' AS html
  FROM documents),
blk AS (
  SELECT doc_id,
         regexp_extract_all(html, '<(?:p|div)>.*?</(?:p|div)>') AS blocks
  FROM raw),
kept AS (
  SELECT doc_id, blocks,
         list_filter(blocks, b ->
           length(regexp_replace(b, '<[^>]*>', '', 'g')) >= 20
           AND 3 * coalesce(list_sum(list_transform(
                 regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1),
                 x -> length(x))), 0)
               < length(regexp_replace(b, '<[^>]*>', '', 'g'))) AS keep
  FROM blk)
SELECT doc_id,
       CAST(len(blocks) AS BIGINT) AS n_blocks,
       CAST(len(keep) AS BIGINT) AS n_kept,
       CAST(length(array_to_string(list_transform(keep,
         b -> regexp_replace(b, '<[^>]*>', '', 'g')), chr(10))) AS BIGINT)
         AS content_len,
       md5(array_to_string(list_transform(keep,
         b -> regexp_replace(b, '<[^>]*>', '', 'g')), chr(10))) AS content_md5
FROM kept
""",
)
def html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction from synthesized HTML: the nav (100% link
    text) and footer (link chars x3 >= text) are classified boilerplate,
    the 'ok' block fails min_len, and the two text paragraphs survive
    (the second keeps its small inline link under the 1/3 density rule;
    for short docs its tail paragraph drops below min_len — both engines
    agree since substr clamps identically). One narrow regex/array map,
    zero shuffle, zero UDFs; the verdict carries block counts plus the
    md5 of the reassembled content so full pages never leave executors."""
    from chatbot_spark.operators.html import extract_main_content

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit(_HTML_NAV),
            F.lit("<p>"), F.substring("text", 1, 120), F.lit("</p>"),
            F.lit("<p>ok</p>"),
            F.lit("<p>"), F.substring("text", 121, 120),
            F.lit(' see <a href="/x">docs</a></p>'),
            F.lit(_HTML_FOOT),
        ).alias("html"),
    )
    cols = extract_main_content(F.col("html"))
    return raw.select(
        "doc_id",
        F.size(cols["blocks"]).cast("long").alias("n_blocks"),
        F.size(cols["kept"]).cast("long").alias("n_kept"),
        F.length(cols["content"]).cast("long").alias("content_len"),
        F.md5(cols["content"]).alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# CCNet-style LM quality bucketing (§2.J beyond-reference — operators/lm.py).
# Integer "bits" scoring (bitlen surrogate of -log2 P) so the oracle replays
# the model training AND the scoring bit-for-bit; fixed head/middle/tail
# cutoffs exactly as CCNet applies precomputed per-language thresholds.


@query(
    "lm_quality_buckets",
    """
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
         unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i + 1])) AS w2
  FROM toks),
train AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS bg_cnt
  FROM big WHERE doc_id % 10 < 3 GROUP BY w1, w2),
pre AS (SELECT w1, CAST(sum(bg_cnt) AS BIGINT) AS pre_cnt FROM train GROUP BY w1),
model AS (SELECT t.w1, t.w2, t.bg_cnt, p.pre_cnt FROM train t JOIN pre p USING (w1)),
scored AS (
  SELECT b.doc_id,
         count(*) AS n_bigrams,
         sum(CASE WHEN m.bg_cnt IS NULL THEN 20
                  ELSE length(bin(m.pre_cnt)) - length(bin(m.bg_cnt)) END) AS total_bits
  FROM big b LEFT JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
  GROUP BY b.doc_id)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(total_bits AS BIGINT) AS total_bits,
       CAST(total_bits * 1000 // n_bigrams AS BIGINT) AS score_milli,
       CASE WHEN total_bits * 1000 // n_bigrams < 5200 THEN 'head'
            WHEN total_bits * 1000 // n_bigrams < 5300 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored
""",
    sf1=True,
)
def lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet quality bucketing: a bigram count LM trained on the clean
    residue slice (doc_id%10 < 3) scores EVERY document in integer bits
    (bitlen(prefix)-bitlen(bigram) per seen pair, flat 20-bit backoff for
    unseen), then fixed milli-bit cutoffs split head/middle/tail — no
    global sort, thresholds are config exactly as CCNet applies
    precomputed per-language cutoffs. Model = vocabulary-sized broadcast;
    scoring = one transient bigram explode + broadcast join + one groupBy
    on doc_id. Every quantity is BIGINT: the oracle replays training and
    scoring verbatim and must match hash-for-hash."""
    from chatbot_spark.operators.lm import (
        doc_bigrams,
        score_lm_bits,
        train_bigram_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    # one persisted bigram explode shared by training and scoring — the
    # corpus is scanned once, not once per consumer
    bg = doc_bigrams(docs).persist()
    model = train_bigram_counts(None, bigrams=bg.filter(F.col("__id") % 10 < 3))
    scored = score_lm_bits(None, model, bigrams=bg)
    return scored.select(
        "doc_id",
        "n_bigrams",
        "total_bits",
        "score_milli",
        F.when(F.col("score_milli") < 5200, F.lit("head"))
        .when(F.col("score_milli") < 5300, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Positional phrase search (§2.I I5 family extension — the exact-phrase AND
# of a positional inverted index; operators/lexical.py::phrase_search).

_PHRASES = [
    (0, "batch batch"),
    (1, "data merge"),
    (2, "slow hash batch"),
    (3, "the fast key"),
]


@query(
    "phrase_search",
    """
WITH phrases AS (
  SELECT * FROM (VALUES {vals}) AS p(phrase_id, phrase)),
terms AS (
  SELECT phrase_id,
         unnest(list_transform(generate_series(1, len(regexp_extract_all(lower(phrase), '\\S+'))), i -> i - 1)) AS idx,
         unnest(regexp_extract_all(lower(phrase), '\\S+')) AS token
  FROM phrases),
toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk FROM documents),
post AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tk)), i -> i - 1)) AS pos,
         unnest(tk) AS token
  FROM toks),
votes AS (
  SELECT t.phrase_id, p.doc_id, p.pos - t.idx AS anchor, t.idx
  FROM post p JOIN terms t ON t.token = p.token
  WHERE p.pos - t.idx >= 0),
hits AS (
  SELECT phrase_id, doc_id, anchor, count(*) AS n
  FROM votes GROUP BY phrase_id, doc_id, anchor),
lens AS (SELECT phrase_id, count(*) AS plen FROM terms GROUP BY phrase_id)
SELECT CAST(h.phrase_id AS BIGINT) AS phrase_id, h.doc_id,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM hits h JOIN lens l ON l.phrase_id = h.phrase_id AND h.n = l.plen
GROUP BY h.phrase_id, h.doc_id
""".format(
        vals=", ".join(f"({i}, '{p}')" for i, p in _PHRASES)
    ),
)
def phrase_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching by positional-index intersection: every
    (term, idx) of a phrase joined against the corpus positional
    postings votes for anchor pos-idx; anchors with all DISTINCT slots
    present are occurrences (overlapping matches count separately —
    standard positional-AND semantics; 'batch batch batch' exercises the
    duplicate-term path). ONE equi-join on token (phrase side broadcast,
    so only phrase terms survive the postings explode) + one map-side-
    combinable anchor aggregate — documents themselves never shuffle."""
    from chatbot_spark.operators.lexical import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    phrases = local_df(spark, _PHRASES, "phrase_id long, phrase string")
    return phrase_search(docs, phrases)


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture (§2.J beyond-reference — the mT5/XLM-R
# alpha-sampling rate computation, alpha = 0.5). Pairs with source_mixture
# (observed mix) and dsir_select (importance reweighting): this is the
# POLICY side — per-source sampling weights n^alpha and integer target
# allocations for a fixed budget.


@query(
    "alpha_source_mixture",
    """
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT) AS w_alpha
  FROM counts),
tot AS (SELECT CAST(sum(w_alpha) AS BIGINT) AS w_tot FROM w)
SELECT source, n_docs, w_alpha,
       CAST(w_alpha * 1000000 // (SELECT w_tot FROM tot) AS BIGINT) AS p_micro,
       CAST(w_alpha * 1000 // (SELECT w_tot FROM tot) AS BIGINT) AS take_of_1000
FROM w
""",
)
def alpha_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style temperature sampling (alpha = 0.5): per-source weight
    w = floor(sqrt(n_docs * 1e6)) — n*1e6 stays double-exact below 2^53
    and IEEE sqrt is correctly rounded, so floor is deterministic on any
    engine — then micro-probabilities and a 1000-doc budget allocation by
    integer division. One map-side-combinable count + a broadcast 1-row
    total: the policy table is O(sources), computed in two tiny shuffles
    regardless of corpus size. Upsampling rare sources / downsampling
    dominant ones follows by feeding take_of_N into capped_sample /
    systematic_weighted_sample."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    w = counts.select(
        "source",
        "n_docs",
        F.floor(F.sqrt((F.col("n_docs") * 1000000).cast("double")))
        .cast("long")
        .alias("w_alpha"),
    )
    tot = w.agg(F.sum("w_alpha").cast("long").alias("w_tot"))
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "w_alpha",
        F.expr("w_alpha * 1000000 div w_tot").alias("p_micro"),
        F.expr("w_alpha * 1000 div w_tot").alias("take_of_1000"),
    )


# ---------------------------------------------------------------------------
# Incremental PageRank (warm-start after a link-graph delta) — the
# incremental-maintenance twin of host_pagerank: crawl batch 2 arrives,
# ranks resume from the previous fixed point instead of uniform.


def _pr_round(out: str, prev: str, edges: str, deg: str, base: str, den: int, num: int) -> str:
    return f"""
{out} AS (
  SELECT n.node,
         CAST((({den - num}) * (SELECT r0 FROM {base})) // {den}
              + ({num} * coalesce(s.inc, 0)) // {den} AS BIGINT) AS rank
  FROM {edges}_nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank // d.outdeg) AS inc
    FROM {edges} e JOIN {prev} r ON r.node = e.src JOIN {deg} d ON d.src = e.src
    GROUP BY e.dst) s ON s.node = n.node)"""


def _incr_pagerank_oracle() -> str:
    num, den, scale, H = 85, 100, 10**12, 50
    sql = f"""
WITH l1 AS (
  SELECT doc_id % {H} AS src, (doc_id * 7 + 1) % {H} AS dst
  FROM documents WHERE doc_id % 4 = 0),
e1 AS (SELECT DISTINCT src, dst FROM l1 WHERE src <> dst),
e1_nodes AS (SELECT src AS node FROM e1 UNION SELECT dst FROM e1),
d1 AS (SELECT src, count(*) AS outdeg FROM e1 GROUP BY src),
base1 AS (SELECT CAST({scale} // (SELECT count(*) FROM e1_nodes) AS BIGINT) AS r0),
a0 AS (SELECT node, (SELECT r0 FROM base1) AS rank FROM e1_nodes)"""
    for i in range(1, 5):
        sql += "," + _pr_round(f"a{i}", f"a{i - 1}", "e1", "d1", "base1", den, num)
    sql += f""",
l2 AS (
  SELECT doc_id % {H} AS src, (doc_id * 7 + 1) % {H} AS dst FROM documents
  UNION ALL
  SELECT doc_id % {H}, (doc_id * 13 + 2) % {H} FROM documents WHERE doc_id % 3 = 0),
e2 AS (SELECT DISTINCT src, dst FROM l2 WHERE src <> dst),
e2_nodes AS (SELECT src AS node FROM e2 UNION SELECT dst FROM e2),
d2 AS (SELECT src, count(*) AS outdeg FROM e2 GROUP BY src),
base2 AS (SELECT CAST({scale} // (SELECT count(*) FROM e2_nodes) AS BIGINT) AS r0),
b0 AS (
  SELECT n.node, CAST(coalesce(a4.rank, (SELECT r0 FROM base2)) AS BIGINT) AS rank
  FROM e2_nodes n LEFT JOIN a4 ON a4.node = n.node)"""
    for i in range(1, 3):
        sql += "," + _pr_round(f"b{i}", f"b{i - 1}", "e2", "d2", "base2", den, num)
    sql += """
SELECT CAST(node AS BIGINT) AS host, rank AS rank_scaled FROM b2
"""
    return sql


@query("incremental_pagerank", _incr_pagerank_oracle(), sf1=True, gateoff=True)
def incremental_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-started PageRank after a crawl delta: batch 1 (every 4th doc's
    rule-1 links) ranks for 4 supersteps; the full graph then arrives and
    ranks refine for just 2 more rounds FROM the previous fixed point —
    newly discovered hosts fall back to the new graph's uniform r0 via
    coalesce. Identical BIGINT recurrence (graph.py::pagerank_integer
    init path), so the oracle unrolls both phases — 4 cold + 2 warm CTE
    rounds with the edge set swapped between them — and matches bit for
    bit. The scale win mirrors the other incremental operators: per
    delta you pay 2 rounds (4 shuffles) instead of a full cold restart."""
    from chatbot_spark.operators.graph import pagerank_integer

    docs = load_table(spark, sf_dir, "documents")
    h = F.col("doc_id") % 50
    e1 = docs.filter(F.col("doc_id") % 4 == 0).select(
        h.alias("src"), ((F.col("doc_id") * 7 + 1) % 50).alias("dst")
    )
    warm = pagerank_integer(e1, iterations=4)
    e2 = docs.select(
        h.alias("src"), ((F.col("doc_id") * 7 + 1) % 50).alias("dst")
    ).union(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            h.alias("src"), ((F.col("doc_id") * 13 + 2) % 50).alias("dst")
        )
    )
    final = pagerank_integer(e2, iterations=2, init=warm)
    return final.select(
        F.col("node").cast("long").alias("host"), F.col("rank").alias("rank_scaled")
    )


# ---------------------------------------------------------------------------
# Composed web-curation pipeline (flagship composition of the r6 web ops):
# boilerplate removal → CCNet LM bucketing over the EXTRACTED text → keep
# head+middle → per-host rollup joined with PageRank authority. Mirrors the
# RefinedWeb/CCNet curation chain end-to-end; every stage is individually
# oracle-pinned (html_main_content, lm_quality_buckets, host_pagerank), and
# the composition is replayed in full here.


def _web_curation_oracle() -> str:
    num, den, scale, H = 85, 100, 10**12, 50
    sql = f"""
WITH raw AS (
  SELECT doc_id,
         '{_HTML_NAV}'
         || '<p>' || substr(text, 1, 120) || '</p>'
         || '<p>ok</p>'
         || '<p>' || substr(text, 121, 120)
         || ' see <a href="/x">docs</a></p>'
         || '{_HTML_FOOT}' AS html
  FROM documents),
blocks AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(html, '<(?:p|div)>.*?</(?:p|div)>'), b ->
           length(regexp_replace(b, '<[^>]*>', '', 'g')) >= 20
           AND 3 * coalesce(list_sum(list_transform(
                 regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1),
                 x -> length(x))), 0)
               < length(regexp_replace(b, '<[^>]*>', '', 'g'))) AS keep
  FROM raw),
clean AS (
  SELECT doc_id,
         replace(array_to_string(list_transform(keep,
           b -> regexp_replace(b, '<[^>]*>', '', 'g')), chr(10)),
           chr(10), ' ') AS text
  FROM blocks),
toks AS (SELECT doc_id, str_split(text, ' ') AS w FROM clean),
big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
         unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i + 1])) AS w2
  FROM toks),
train AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS bg_cnt
  FROM big WHERE doc_id % 10 < 3 GROUP BY w1, w2),
pre AS (SELECT w1, CAST(sum(bg_cnt) AS BIGINT) AS pre_cnt FROM train GROUP BY w1),
model AS (SELECT t.w1, t.w2, t.bg_cnt, p.pre_cnt FROM train t JOIN pre p USING (w1)),
scored AS (
  SELECT b.doc_id,
         count(*) AS n_bigrams,
         sum(CASE WHEN m.bg_cnt IS NULL THEN 20
                  ELSE length(bin(m.pre_cnt)) - length(bin(m.bg_cnt)) END) AS total_bits
  FROM big b LEFT JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
  GROUP BY b.doc_id),
kept AS (
  SELECT doc_id, total_bits FROM scored
  WHERE total_bits * 1000 // n_bigrams < 5300),
links AS (
  SELECT doc_id % {H} AS src, (doc_id * 7 + 1) % {H} AS dst FROM documents
  UNION ALL
  SELECT doc_id % {H}, (doc_id * 13 + 2) % {H} FROM documents WHERE doc_id % 3 = 0),
edges AS (SELECT DISTINCT src, dst FROM links WHERE src <> dst),
edges_nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
basepr AS (SELECT CAST({scale} // (SELECT count(*) FROM edges_nodes) AS BIGINT) AS r0),
it0 AS (SELECT node, (SELECT r0 FROM basepr) AS rank FROM edges_nodes)"""
    for i in range(1, 6):
        sql += "," + _pr_round(f"it{i}", f"it{i - 1}", "edges", "deg", "basepr", den, num)
    sql += """
SELECT CAST(k.doc_id % 50 AS BIGINT) AS host,
       r.rank AS rank_scaled,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(k.total_bits) AS BIGINT) AS sum_bits
FROM kept k JOIN it5 r ON r.node = k.doc_id % 50
GROUP BY k.doc_id % 50, r.rank
"""
    return sql


@query("web_curation_pipeline", _web_curation_oracle(), sf1=True)
def web_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web curation in ONE lazy DAG: (1) jusText boilerplate
    removal over the synthesized pages, (2) CCNet bigram-LM scoring of
    the EXTRACTED text (model trained on the clean residue slice of the
    same extracted corpus — the stage order matters and the oracle
    replays it), (3) keep head+middle, (4) per-host rollup joined with
    5-round PageRank authority. Stage shapes are each the individually
    pinned plans (narrow regex map; broadcast model join + doc groupBy;
    Pregel rounds; broadcast rank join) — composing them adds no new
    wide shuffle beyond the per-host aggregate."""
    from chatbot_spark.operators.graph import pagerank_integer
    from chatbot_spark.operators.html import extract_main_content
    from chatbot_spark.operators.lm import (
        doc_bigrams,
        score_lm_bits,
        train_bigram_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit(_HTML_NAV),
            F.lit("<p>"), F.substring("text", 1, 120), F.lit("</p>"),
            F.lit("<p>ok</p>"),
            F.lit("<p>"), F.substring("text", 121, 120),
            F.lit(' see <a href="/x">docs</a></p>'),
            F.lit(_HTML_FOOT),
        ).alias("html"),
    )
    clean = raw.select(
        "doc_id",
        F.regexp_replace(
            extract_main_content(F.col("html"))["content"], "\n", " "
        ).alias("text"),
    )
    bg = doc_bigrams(clean).persist()
    model = train_bigram_counts(None, bigrams=bg.filter(F.col("__id") % 10 < 3))
    scored = score_lm_bits(None, model, bigrams=bg)
    kept = scored.filter(F.col("score_milli") < 5300).select(
        "doc_id", "total_bits"
    )
    h = F.col("doc_id") % 50
    links = docs.select(
        h.alias("src"), ((F.col("doc_id") * 7 + 1) % 50).alias("dst")
    ).union(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            h.alias("src"), ((F.col("doc_id") * 13 + 2) % 50).alias("dst")
        )
    )
    ranks = pagerank_integer(links, iterations=5)
    per_host = (
        kept.select((F.col("doc_id") % 50).alias("host"), "total_bits")
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("total_bits").cast("long").alias("sum_bits"),
        )
    )
    return per_host.join(
        F.broadcast(ranks.withColumnRenamed("node", "host")), "host"
    ).select(
        F.col("host").cast("long").alias("host"),
        F.col("rank").alias("rank_scaled"),
        "n_kept",
        "sum_bits",
    )


# ---------------------------------------------------------------------------
# SFT pair assembly (§2.J beyond-reference — operators/sft.py): replay the
# event log into (context, completion) instruction-tuning pairs.


@query(
    "sft_pair_assembly",
    """
WITH t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 'assistant' ELSE 'user' END AS role,
         event_type || '#' || (props->>'k') AS content
  FROM events),
ctxed AS (
  SELECT user_id, ts, event_id, role, content,
         list(role || ': ' || content)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS ctx
  FROM t),
pairs AS (
  SELECT user_id, ts, event_id,
         len(ctx) AS n_context,
         array_to_string(ctx, chr(10)) AS context,
         content AS completion
  FROM ctxed WHERE role = 'assistant' AND len(ctx) >= 1)
SELECT user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
         AS pair_idx,
       CAST(n_context AS BIGINT) AS n_context, context, completion
FROM pairs
""",
)
def sft_pair_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning pair assembly from the event log: purchases are
    assistant turns, everything else user turns, content carries the
    JSON payload; each assistant turn yields one training pair whose
    context is the last 4 turns formatted 'role: content'. ONE frame
    window per user (ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING collected
    in sort order — unique (ts, event_id) key) + the pair-numbering
    window reusing the same partitioning: per-row state is bounded by K
    lines however long the conversation, the property that keeps this
    safe on 100 TB of logs. First-event purchases (empty frame) are
    skipped identically on both engines (NULL frame list vs empty
    array both fail len >= 1)."""
    from chatbot_spark.operators.sft import assemble_sft_pairs

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit("assistant"))
        .otherwise(F.lit("user"))
        .alias("role"),
        F.concat(
            "event_type", F.lit("#"), F.get_json_object("props", "$.k")
        ).alias("content"),
    )
    return assemble_sft_pairs(
        ev, "user_id", ["ts", "event_id"], context_turns=4
    )


# ---------------------------------------------------------------------------
# Exact equi-depth histogram (§2.K ANALYZE family — operators/histogram.py):
# optimizer-grade bucket boundaries with no global sort and no driver value
# list; bit-exact because every quantity is BIGINT.


@query(
    "equi_depth_histogram",
    """
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
c AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM src GROUP BY cents),
cum AS (SELECT cents, cnt, CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum FROM c),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
ranks AS (
  SELECT CAST(i AS BIGINT) AS i,
         CAST(greatest(i * (SELECT n FROM tot) // 8, 1) AS BIGINT) AS rank_target
  FROM generate_series(1, 7) t(i))
SELECT r.i, r.rank_target, c.cents AS boundary, c.cum AS cum_at_boundary
FROM cum c JOIN ranks r ON c.cum - c.cnt < r.rank_target AND r.rank_target <= c.cum
""",
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bucket exact equi-depth histogram over order totals (scaled to
    exact cents): value-frequency groupBy → distributed prefix sum (the
    two-phase range-bucket scan, never a one-task global window) → each
    target rank i*N div 8 extracted by a broadcast range join on its
    (cum-cnt, cum] interval — the discrete lower quantile, integer-exact
    on both engines. The oracle replays it with a window cumsum; at
    scale the only wide exchanges are the value groupBy and the
    prefix-sum bucket shuffle."""
    from chatbot_spark.operators.histogram import equi_depth_boundaries

    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents")
    )
    return equi_depth_boundaries(src, "cents", n_buckets=8)


# ---------------------------------------------------------------------------
# Corpus drift monitor (§2.J beyond-reference — the PSI-shaped snapshot
# comparison a recurring crawl pipeline gates on). Integer discipline: the
# classic PSI needs ln(); this stat compares per-cell MILLI-proportIONS
# (n_i*1000 div N) and reports their exact squared-difference sum — order-
# independent BIGINT arithmetic, same monotone signal, zero transcendentals.


@query(
    "corpus_drift_monitor",
    """
WITH labeled AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'B' END AS snapshot,
         source,
         CASE WHEN n_chars < 200 THEN 'short'
              WHEN n_chars < 350 THEN 'mid' ELSE 'long' END AS len_bucket
  FROM documents),
cells AS (
  SELECT snapshot, source, len_bucket, CAST(count(*) AS BIGINT) AS n
  FROM labeled GROUP BY snapshot, source, len_bucket),
tots AS (SELECT snapshot, CAST(sum(n) AS BIGINT) AS tot FROM cells GROUP BY snapshot),
props AS (
  SELECT c.source, c.len_bucket, c.snapshot,
         CAST(c.n * 1000 // t.tot AS BIGINT) AS p_milli
  FROM cells c JOIN tots t ON t.snapshot = c.snapshot),
wide AS (
  SELECT source, len_bucket,
         CAST(coalesce(sum(CASE WHEN snapshot = 'A' THEN p_milli END), 0) AS BIGINT) AS p_a,
         CAST(coalesce(sum(CASE WHEN snapshot = 'B' THEN p_milli END), 0) AS BIGINT) AS p_b
  FROM props GROUP BY source, len_bucket)
SELECT source, len_bucket, p_a, p_b,
       CAST((p_a - p_b) * (p_a - p_b) AS BIGINT) AS sq_milli_diff
FROM wide
""",
)
def corpus_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report: the corpus split into snapshots A/B (even/
    odd ids standing in for crawl t and t+1), feature cells = source x
    length bucket, per-cell milli-proportions by integer division, and
    the exact squared milli-difference per cell (sum it for the
    PSI-shaped scalar gate). Two map-side-combinable aggregates + a
    broadcast totals join; cells absent from one snapshot coalesce to 0
    — the case real drift gates most need to catch. All BIGINT, oracle
    replayed verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias(
            "snapshot"
        ),
        "source",
        F.when(F.col("n_chars") < 200, F.lit("short"))
        .when(F.col("n_chars") < 350, F.lit("mid"))
        .otherwise(F.lit("long"))
        .alias("len_bucket"),
    )
    cells = labeled.groupBy("snapshot", "source", "len_bucket").agg(
        F.count("*").cast("long").alias("n")
    )
    tots = cells.groupBy("snapshot").agg(F.sum("n").cast("long").alias("tot"))
    props = cells.join(F.broadcast(tots), "snapshot").select(
        "source",
        "len_bucket",
        "snapshot",
        F.expr("n * 1000 div tot").alias("p_milli"),
    )
    wide = props.groupBy("source", "len_bucket").agg(
        F.coalesce(
            F.sum(F.when(F.col("snapshot") == "A", F.col("p_milli"))), F.lit(0)
        )
        .cast("long")
        .alias("p_a"),
        F.coalesce(
            F.sum(F.when(F.col("snapshot") == "B", F.col("p_milli"))), F.lit(0)
        )
        .cast("long")
        .alias("p_b"),
    )
    return wide.select(
        "source",
        "len_bucket",
        "p_a",
        "p_b",
        ((F.col("p_a") - F.col("p_b")) * (F.col("p_a") - F.col("p_b")))
        .cast("long")
        .alias("sq_milli_diff"),
    )


# ---------------------------------------------------------------------------
# Masked-LM example construction (§2.J beyond-reference): BERT-style
# pretraining pairs built deterministically — the mask decision is a pure
# function of (doc_id, position) through md5, so both engines construct
# the identical example and the verdict hashes input AND targets.


@query(
    "mlm_example_build",
    f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk FROM documents),
built AS (
  SELECT doc_id,
         len(tk) AS n_tokens,
         list_transform(generate_series(1, len(tk)), i ->
           CASE WHEN CAST({_DUCK_HEX8.format(h="substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8)")} AS BIGINT) % 1000 < 150
                THEN '<mask>' ELSE tk[i] END) AS pieces,
         list_filter(list_transform(generate_series(1, len(tk)), i ->
           CASE WHEN CAST({_DUCK_HEX8.format(h="substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8)")} AS BIGINT) % 1000 < 150
                THEN CAST(i - 1 AS VARCHAR) || '=' || tk[i] END),
           x -> x IS NOT NULL) AS targets
  FROM toks)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(targets) AS BIGINT) AS n_masked,
       md5(coalesce(array_to_string(pieces, ' '), '')) AS input_md5,
       -- DuckDB array_to_string([]) is NULL, Spark array_join([]) is ''
       md5(coalesce(array_to_string(targets, ' '), '')) AS targets_md5
FROM built
""",
)
def mlm_example_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style MLM example construction: position i is masked iff the
    first 32 bits of md5(doc_id:i) mod 1000 < 150 (a deterministic 15%
    — reproducible example sets are what make pretraining runs
    comparable; swap the hash threshold per epoch seed string for fresh
    masks). Input = tokens with masked slots replaced by <mask>;
    targets = 'pos=token' pairs in position order. ONE narrow
    transform/filter pass over the token array — no explode, no
    shuffle, embarrassingly parallel at 100 TB — and the verdict hashes
    both the corrupted input and the target list."""
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    from chatbot_spark.operators.textstats import let, tokens

    def mask_hash(i):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            i.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1000
            < 150
        )

    # let-bound: the token array and the per-position mask bits are each
    # computed ONCE per row (tk was referenced by 4 output columns and the
    # mask md5 ran twice per position — the r13 no-CSE-through-lambdas
    # finding); the four outputs project fields of one bound struct.
    def _mlm(tk):
        def _with_mask(mask):
            pieces = F.zip_with(
                tk, mask, lambda x, m: F.when(m, F.lit("<mask>")).otherwise(x)
            )
            targets = F.filter(
                F.transform(
                    tk,
                    lambda x, i: F.when(
                        F.element_at(mask, i + F.lit(1)),
                        F.concat(i.cast("string"), F.lit("="), x),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
            return F.struct(
                F.size(tk).cast("long").alias("n_tokens"),
                F.size(targets).cast("long").alias("n_masked"),
                F.md5(F.array_join(pieces, " ")).alias("input_md5"),
                F.md5(F.array_join(targets, " ")).alias("targets_md5"),
            )

        return let(
            F.transform(tk, lambda x, i: mask_hash(i)), _with_mask
        )

    out = docs.select("doc_id", let(tokens(F.col("text")), _mlm).alias("__m"))
    return out.select(
        "doc_id",
        F.col("__m")["n_tokens"].alias("n_tokens"),
        F.col("__m")["n_masked"].alias("n_masked"),
        F.col("__m")["input_md5"].alias("input_md5"),
        F.col("__m")["targets_md5"].alias("targets_md5"),
    )


# ---------------------------------------------------------------------------
# T5 span corruption (§2.J beyond-reference — operators/spancorrupt.py).

_T5_HASH = _DUCK_HEX8.format(
    h="substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 8)"
)


@query(
    "t5_span_corrupt",
    f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk FROM documents),
post AS (
  SELECT doc_id, len(tk) AS n,
         unnest(list_transform(generate_series(1, len(tk)), i -> i - 1)) AS pos,
         unnest(tk) AS tok
  FROM toks),
hashed AS (
  SELECT doc_id, n, pos, CAST({_T5_HASH} AS BIGINT) AS h FROM post),
masked_raw AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, CAST(least(h % 3, n - 1 - pos) AS BIGINT)),
                               j -> pos + j)) AS mpos
  FROM hashed WHERE h % 1000 < 60),
masked AS (SELECT DISTINCT doc_id, mpos FROM masked_raw),
maskt AS (
  SELECT m.doc_id, m.mpos, p.tok
  FROM masked m JOIN post p ON p.doc_id = m.doc_id AND p.pos = m.mpos),
runs AS (
  SELECT doc_id, mpos, tok,
         mpos - row_number() OVER (PARTITION BY doc_id ORDER BY mpos) AS grp
  FROM maskt),
spans AS (
  SELECT doc_id, grp, min(mpos) AS span_start, count(*) AS span_len,
         array_to_string(list(tok ORDER BY mpos), ' ') AS span_text
  FROM runs GROUP BY doc_id, grp),
spansx AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY span_start) AS span_idx
  FROM spans),
pieces AS (
  SELECT p.doc_id, p.pos, p.n,
         CASE WHEN sx.span_idx IS NOT NULL
                THEN '<extra_id_' || CAST(sx.span_idx - 1 AS VARCHAR) || '>'
              WHEN m.mpos IS NOT NULL THEN NULL
              ELSE p.tok END AS piece
  FROM post p
  LEFT JOIN masked m ON m.doc_id = p.doc_id AND m.mpos = p.pos
  LEFT JOIN spansx sx ON sx.doc_id = p.doc_id AND sx.span_start = p.pos),
inputs AS (
  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
         coalesce(array_to_string(
           list(piece ORDER BY pos) FILTER (WHERE piece IS NOT NULL), ' '), '')
           AS input
  FROM pieces GROUP BY doc_id),
targets AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(span_len) AS BIGINT) AS n_masked,
         array_to_string(
           list('<extra_id_' || CAST(span_idx - 1 AS VARCHAR) || '> ' || span_text
                ORDER BY span_idx), ' ') AS target
  FROM spansx GROUP BY doc_id)
SELECT i.doc_id, i.n_tokens,
       CAST(coalesce(t.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(t.n_masked, 0) AS BIGINT) AS n_masked,
       md5(i.input) AS input_md5,
       md5(coalesce(t.target, '')) AS target_md5
FROM inputs i LEFT JOIN targets t USING (doc_id)
""",
    sf1=True,
)
def t5_span_corrupt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 denoising example construction: deterministic md5-seeded spans
    (6% of positions seed a 1-3 token span; overlapping seeds merge into
    ONE sentinel island — exactly T5's contiguous-span contract, pinned
    by the gaps-and-islands window), input with <extra_id_k> sentinels,
    target with the cut spans after their sentinels. Every window and
    join is keyed by doc/(doc,pos); per-doc strings reassemble through
    sorted struct collects, never shuffle order. The verdict hashes the
    exact input AND target text of all 500 examples."""
    from chatbot_spark.operators.spancorrupt import t5_span_corrupt

    # spread: the tokenize+posexplode feeding the persisted postings is a
    # CPU-bound narrow map over a single ~600 KB scan split — one task
    # without the rebalance (guide §2: parallelism from rows, not bytes).
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    res = t5_span_corrupt(docs)
    return res.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        "n_masked",
        F.md5("input").alias("input_md5"),
        F.md5("target").alias("target_md5"),
    )


# ---------------------------------------------------------------------------
# Fill-in-the-middle example construction (§2.J beyond-reference — the
# FIM transform of Bavarian et al. 2022 applied at corpus scale; the PSM
# reordering that code models pretrain on). Deterministic: both cut points
# derive from md5(doc_id), so engines build identical examples.


@query(
    "fim_example_build",
    f"""
WITH cuts AS (
  SELECT doc_id, text, length(text) AS n,
         1 + CAST({_DUCK_HEX8.format(h="substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 1, 8)")} AS BIGINT)
             % greatest(length(text) - 1, 1) AS c1r,
         1 + CAST({_DUCK_HEX8.format(h="substr(md5(CAST(doc_id AS VARCHAR) || ':b'), 1, 8)")} AS BIGINT)
             % greatest(length(text) - 1, 1) AS c2r
  FROM documents),
ordered AS (
  SELECT doc_id, text, n,
         least(c1r, c2r) AS c1, greatest(c1r, c2r) AS c2
  FROM cuts),
built AS (
  SELECT doc_id, n, c1, c2,
         '<PRE>' || substr(text, 1, c1)
         || '<SUF>' || substr(text, c2 + 1)
         || '<MID>' || substr(text, c1 + 1, c2 - c1) AS fim
  FROM ordered)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       CAST(c1 AS BIGINT) AS cut1, CAST(c2 AS BIGINT) AS cut2,
       md5(fim) AS fim_md5
FROM built
""",
)
def fim_example_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIM/PSM example construction: two md5-derived cut points split
    each document into prefix/middle/suffix and the example is emitted
    in prefix-suffix-middle order with sentinel markers — the exact
    reordering code models pretrain on, deterministic per document so
    example sets reproduce across runs and engines (per-epoch variety =
    swap the ':a'/':b' seed strings). One narrow projection: no explode,
    no shuffle, scales with the scan. Degenerate cuts (c1 = c2, empty
    middle) are kept — matching FIM training where ~some examples have
    empty spans."""
    docs = load_table(spark, sf_dir, "documents")

    def cut(seed: str):
        return 1 + F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(seed))), 1, 8
            ),
            16,
            10,
        ).cast("long") % F.greatest(F.length("text") - 1, F.lit(1))

    cuts = docs.select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        cut(":a").alias("c1r"),
        cut(":b").alias("c2r"),
    )
    ordered = cuts.select(
        "doc_id",
        "text",
        "n",
        F.least("c1r", "c2r").alias("c1"),
        F.greatest("c1r", "c2r").alias("c2"),
    )
    fim = F.concat(
        F.lit("<PRE>"),
        F.expr("substr(text, 1, c1)"),
        F.lit("<SUF>"),
        F.expr("substr(text, c2 + 1)"),
        F.lit("<MID>"),
        F.expr("substr(text, c1 + 1, c2 - c1)"),
    )
    return ordered.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        F.col("c1").cast("long").alias("cut1"),
        F.col("c2").cast("long").alias("cut2"),
        F.md5(fim).alias("fim_md5"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty scoring (§2.J beyond-reference): per-document fraction of
# corpus-unique word 8-grams — the cheap data-valuation signal ("how much
# text does this doc contribute that nothing else has") that complements
# dedup (which REMOVES repeats) by SCORING originality for mixture/pruning
# decisions. Self-repetition counts against novelty by design (a doc
# repeating its own 8-gram makes the corpus count >= 2).


@query(
    "ngram_novelty",
    """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(tk) - 7, 0)), i ->
           md5(array_to_string(list_transform(generate_series(i, i + 7), j -> tk[j]), ' ')))) AS h
  FROM toks),
cnt AS (SELECT h, count(*) AS c FROM sh GROUP BY h),
per_doc AS (
  SELECT s.doc_id,
         count(*) AS n_shingles,
         sum(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS n_unique
  FROM sh s JOIN cnt c ON c.h = s.h
  GROUP BY s.doc_id)
SELECT doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_unique AS BIGINT) AS n_unique,
       CAST(n_unique * 1000 // n_shingles AS BIGINT) AS novelty_milli
FROM per_doc
""",
    sf1=True,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty: the milli-fraction of its word 8-grams that occur
    exactly once corpus-wide. Shingles hash to md5 IN the narrow stage,
    so the two wide exchanges (corpus count keyed by hash, per-doc
    reduce keyed by doc) move 32-byte hashes + ids, never text — the
    same exchange discipline as the dedup family. Docs under 8 tokens
    drop identically on both engines (empty shingle list)."""
    from chatbot_spark.operators.textstats import let, tokens

    # spread: the per-row kernel (tokenize + per-position md5) is CPU-bound
    # while the scan is one ~600 KB split — without the rebalance the whole
    # corpus hashes in one task. let-binding the token array keeps the
    # tokenization O(len) per row (inlined it re-runs per shingle position);
    # unhex halves the hash exchange (16-byte binary vs 32-char hex,
    # bijective so every count is unchanged).
    #
    # r14 (guide §2.4 — remove shuffles outright): the former plan joined
    # the shingle stream BACK onto its own corpus-count aggregate, so the
    # tokenize+md5 kernel ran twice (once per consumer) and the shingle
    # rows crossed TWO h-keyed exchanges plus a doc-keyed one. A corpus-
    # unique shingle (c = 1) has exactly one occurrence, so min(doc_id)
    # within its hash group IS the owning doc: one grouped pass over the
    # shingle stream yields (h, c, owner), unique hashes reduce straight
    # to per-doc n_unique, and n_shingles is a pure per-row function of
    # the token count (greatest(len-7, 0) — exactly the number of slice
    # positions the explode emits), recomputed narrowly instead of
    # re-aggregated. Same integer outputs row-for-row: docs under 8
    # tokens drop on both forms (explode of an empty array ⟷ the
    # n_shingles >= 1 filter), and every (doc, count) is unchanged.
    # doc_id is assumed unique per documents row (the testdata key): base
    # emits one row per document, where the oracle's GROUP BY doc_id would
    # merge duplicate ids into one row.
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = spread(docs).select(
        "doc_id",
        F.explode(
            let(
                tokens(F.col("text")),
                lambda tk: F.transform(
                    F.slice(tk, 1, F.greatest(F.size(tk) - 7, F.lit(0))),
                    lambda x, i: F.unhex(
                        F.md5(F.concat_ws(" ", F.slice(tk, i + 1, 8)))
                    ),
                ),
            )
        ).alias("h"),
    )
    uniq = (
        sh.groupBy("h")
        .agg(F.count("*").alias("c"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("c") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_unique"))
    )
    # base is a per-row map: no spread. n_shingles is tokenized once —
    # exploding the one-element array filtered on n >= 1 drops short docs
    # without a Filter that Catalyst would inline the regexp into
    n_shingles = F.greatest(F.size(tokens(F.col("text"))) - 7, F.lit(0))
    base = docs.select(
        "doc_id",
        F.explode(F.filter(F.array(n_shingles.cast("long")), lambda n: n >= 1))
        .alias("n_shingles"),
    )
    return (
        base.join(uniq, "doc_id", "left")
        .withColumn("n_unique", F.coalesce("n_unique", F.lit(0)).cast("long"))
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.expr("n_unique * 1000 div n_shingles").alias("novelty_milli"),
        )
    )


# ---------------------------------------------------------------------------
# DPO preference-pair mining (§2.J beyond-reference): construct (chosen,
# rejected) training pairs from a ranking — the preference-data side of
# alignment pipelines, composing the bit-exact BM25 ranking the same way
# sft_pair_assembly composes the event log.


@query(
    "dpo_pair_mining",
    """
WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM c),
post AS (
  SELECT doc_id AS id, tok AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM c) s
  GROUP BY doc_id, tok),
dfreq AS (SELECT token, count(*) AS df FROM post GROUP BY token),
dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY id),
ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
qterms AS (
  SELECT doc_id AS query_id, unnest(list_distinct(regexp_extract_all(lower(text), '\\S+'))) AS token
  FROM c WHERE doc_id < 3),
contrib AS (
  SELECT q.query_id, p.id AS neighbor_id, q.token,
         (((SELECT n_docs FROM n) - d.df + 0.5) / (d.df + 0.5))
         * ((CAST(p.tf AS DOUBLE) * (1.2 + 1.0))
            / (CAST(p.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (SELECT avgdl FROM ad)))) AS w
  FROM qterms q
  JOIN dfreq d ON d.token = q.token
  JOIN post p ON p.token = q.token
  JOIN dl l ON l.id = p.id),
scored AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(w ORDER BY token)),
                     (acc, x) -> acc + x) AS score
  FROM contrib GROUP BY query_id, neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored),
top10 AS (SELECT * FROM ranked WHERE rank <= 10)
SELECT c1.query_id, CAST(c1.rank AS BIGINT) AS pair_idx,
       c1.neighbor_id AS chosen_id, c2.neighbor_id AS rejected_id,
       round(c1.score - c2.score, 6) AS margin
FROM top10 c1 JOIN top10 c2
  ON c2.query_id = c1.query_id AND c2.rank = 11 - c1.rank
WHERE c1.rank <= 3
""",
)
def dpo_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF reward data: from each
    query's bit-exact BM25 top-10, pair rank r with rank 11-r for
    r = 1..3 — strong positives against the weakest retrieved
    candidates, the standard margin-maximizing mining heuristic (true
    random negatives compose with mlm/fim-style hash sampling instead).
    The margin is a difference of two sorted-fold scores, so it is
    bit-identical before the display rounding. One extra self-join on
    the tiny ranked table beyond the audited BM25 plan."""
    from chatbot_spark.operators.lexical import bm25_topk as _bm25

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    queries_df = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    # res feeds both pair sides; persist so the BM25 plan (and its
    # corpus scans) executes once, not once per side
    res = _bm25(queries_df, docs, k=10, idf_mode="rational").persist()
    chosen = res.filter(F.col("rank") <= 3).select(
        "query_id",
        F.col("rank").cast("long").alias("pair_idx"),
        F.col("neighbor_id").alias("chosen_id"),
        F.col("score").alias("__cs"),
    )
    rejected = res.filter(F.col("rank") >= 8).select(
        F.col("query_id").alias("__rq"),
        (11 - F.col("rank")).cast("long").alias("__ri"),
        F.col("neighbor_id").alias("rejected_id"),
        F.col("score").alias("__rs"),
    )
    return chosen.join(
        rejected,
        (F.col("query_id") == F.col("__rq")) & (F.col("pair_idx") == F.col("__ri")),
    ).select(
        "query_id",
        "pair_idx",
        "chosen_id",
        "rejected_id",
        F.round(F.col("__cs") - F.col("__rs"), 6).alias("margin"),
    )


# ---------------------------------------------------------------------------
# Incremental MinHash near-dup (§2.J — the near-dup sibling of
# incremental_exact_dedup; operators/dedup.py::incremental_minhash_pairs).


@query(
    "incremental_minhash_neardup",
    f"""
WITH sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(t=_DUCK_TOKENS.format(c='text'))} AS shingles
  FROM documents WHERE doc_id < 250),
sigs AS (
  SELECT doc_id,
         [ {', '.join(f"list_min(list_transform(shingles, s -> md5('{j}:' || s)))" for j in range(_DUCK_MINHASH_K))} ] AS sig
  FROM sh),
bands AS (
  SELECT doc_id, unnest([ {', '.join(f"md5(concat_ws('|', '{b}', sig[{2 * b + 1}], sig[{2 * b + 2}]))" for b in range(_DUCK_MINHASH_K // 2))} ]) AS bh
  FROM sigs),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bh = b.bh AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM verified
WHERE jaccard >= 0.1 AND id_b >= 150  -- pairs touching the new batch
""",
)
def incremental_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: docs 150-249 arrive as a new crawl batch and
    dedup against the 0-149 snapshot WITHOUT re-pairing the snapshot —
    new×seen candidates come from joining the batch's band buckets
    against the stored (bucket, id) index, new×new from the batch's
    self-join; per-delta cost scales with the delta, not the corpus.
    The oracle states the semantics: the full-corpus LSH pipeline's
    verified pairs restricted to those touching the batch (id_b >= 150
    suffices since id_a < id_b and the seen ids are all lower) — bucket
    joins are symmetric, so the incremental candidate set provably
    equals that restriction."""
    from chatbot_spark.operators.dedup import incremental_minhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") < 150)
    new = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 250))
    res = incremental_minhash_pairs(
        new, seen, id_col="doc_id", text_col="text",
        num_hashes=_DUCK_MINHASH_K, bands=_DUCK_MINHASH_K // 2, shingle_n=3,
        jaccard_threshold=0.1,
    )
    return res.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# Language-scoped near-dup (§2.J — per-language dedup as CCNet/RefinedWeb
# run it; the scope rides the LSH bucket id, so cross-language rows never
# co-bucket and the restriction costs nothing at the join).


@query(
    "per_lang_neardup",
    f"""
WITH sh AS (
  SELECT doc_id, lang, {_DUCK_SHINGLES.format(t=_DUCK_TOKENS.format(c='text'))} AS shingles
  FROM documents),
sigs AS (
  SELECT doc_id, lang,
         [ {', '.join(f"list_min(list_transform(shingles, s -> md5('{j}:' || s)))" for j in range(_DUCK_MINHASH_K))} ] AS sig
  FROM sh),
bands AS (
  SELECT doc_id, unnest([ {', '.join(f"lang || '|' || md5(concat_ws('|', '{b}', sig[{2 * b + 1}], sig[{2 * b + 2}]))" for b in range(_DUCK_MINHASH_K // 2))} ]) AS bh
  FROM sigs),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bh = b.bh AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM verified WHERE jaccard >= 0.1
""",
)
def per_lang_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language near-dup (the CCNet scoping): identical MinHash/LSH
    pipeline with the language folded into the bucket id — cross-language
    rows never co-bucket, never meet in the join, never pay a Jaccard;
    the scope restriction is free at the shuffle rather than a post-hoc
    pair filter. The oracle replays the scoped bucket ids verbatim."""
    from chatbot_spark.operators.dedup import minhash_lsh_pairs

    # spread: the shingle+signature kernel is CPU-bound on a one-split scan
    docs = spread(load_table(spark, sf_dir, "documents"))
    res = minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text",
        num_hashes=_DUCK_MINHASH_K, bands=_DUCK_MINHASH_K // 2, shingle_n=3,
        jaccard_threshold=0.1, scope_col="lang",
    )
    return res.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# Streaming heavy hitters (J6+ — streaming/stateful.py::heavy_hitters_stream):
# capacity-bounded SpaceSaving counters per shard across micro-batches, run
# in the exact regime (capacity >= distinct keys per shard) so the plain
# GROUP BY oracle pins the whole stateful pipeline bit-for-bit.


@query(
    "stream_heavy_hitters",
    """
SELECT CAST(CAST(props->>'k' AS BIGINT) % 8 AS BIGINT) AS shard,
       CAST(props->>'k' AS BIGINT) AS key,
       CAST(count(*) AS BIGINT) AS cnt
FROM events
GROUP BY CAST(props->>'k' AS BIGINT) % 8, CAST(props->>'k' AS BIGINT)
""",
    bench_skip=_DRAIN,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SpaceSaving: the event payload key (0-99) sharded mod 8,
    counter tables of capacity 16 maintained with applyInPandasWithState
    across 4 time-sliced micro-batches. 12-13 distinct keys per shard <
    capacity, so no eviction fires and the final counters are EXACT —
    the GROUP BY oracle checks the complete stateful pipeline (state
    carry, re-emission contract, final-table selection by max n_seen)
    hash-for-hash; the eviction path itself is unit-tested against a
    serial reference at capacity 2. State is O(shards × capacity)
    however long the stream runs."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import read_event_stream
    from chatbot_spark.streaming.stateful import (
        heavy_hitters_stream,
        run_stream_once_append,
    )

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="cbs_hh_q_")
    inpath = os.path.join(base, "in")
    cuts = ["2024-01-08", "2024-01-16", "2024-01-24", "2099-01-01"]
    lo = "1970-01-01"
    for hi in cuts:
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(inpath)
        lo = hi
    stream = read_event_stream(spark, inpath, max_files_per_trigger=1).select(
        (F.get_json_object("props", "$.k").cast("long") % 8).alias("shard"),
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("key"),
    )
    rows = run_stream_once_append(
        heavy_hitters_stream(stream, capacity=16), os.path.join(base, "ckpt")
    )
    df = local_df(
        spark, rows, schema="shard BIGINT, n_seen BIGINT, key BIGINT, cnt BIGINT"
    )
    final = df.groupBy("shard").agg(F.max("n_seen").alias("__f"))
    return (
        df.join(final, "shard")
        .filter(F.col("n_seen") == F.col("__f"))
        .select("shard", "key", "cnt")
    )


# ---------------------------------------------------------------------------
# Incremental embedding maintenance (§2.I I1 + the incremental family): the
# embedding cache — re-embed ONLY changed/new documents, reuse stored
# vectors by content fingerprint. At production scale the embed UDF is the
# pipeline's dominant cost (a GPU model, not md5); content-hash reuse is
# what makes recurrent snapshots affordable.


@query(
    "incremental_embed",
    f"""
WITH snap AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS txt
  FROM documents WHERE doc_id < 400),
bytes AS (
  SELECT doc_id,
         list_transform(generate_series(0, 63), b -> {_DUCK_HASHBYTE.format(t='txt')}) AS bs
  FROM snap),
raws AS (
  SELECT doc_id,
         list_transform(generate_series(0, {_E2E_DIM - 1}),
           k -> (bs[4*k+1] + bs[4*k+2]*256 + bs[4*k+3]*65536 + bs[4*k+4]*16777216)
                / 2147483648.0 - 1.0) AS r
  FROM bytes),
emb AS (
  SELECT doc_id,
         list_transform(r, x -> CAST(CAST(x / sqrt({_DUCK_NP16_SUMSQ}) AS FLOAT) AS DOUBLE)) AS e
  FROM raws)
SELECT doc_id,
       CAST(CASE WHEN doc_id < 300 AND doc_id % 7 != 0 THEN 1 ELSE 0 END AS BIGINT) AS reused,
       CAST(list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, {_E2E_DIM}),
                  k -> CAST(floor(e[k] * 1000000) AS BIGINT) * k)),
              (a, x) -> a + x) AS BIGINT) AS emb_digest
FROM emb
""",
)
def incremental_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cache: the seen snapshot (docs 0-299, original text) has
    stored (fingerprint → vector) rows; the new snapshot (0-399, every
    7th doc's text changed) embeds ONLY cache misses — changed + brand-
    new docs — and reuses the rest by md5 fingerprint join. Because the
    embedder is content-deterministic, the merged table must equal a
    full recompute of the new snapshot: the oracle recomputes every
    vector from scratch and the position-weighted integer digest
    matches bit-for-bit, while the reused flag pins WHICH docs skipped
    the embed kernel (the dominant cost at production scale, where the
    kernel is a GPU model rather than md5)."""
    from chatbot_spark.operators.embed import embed_documents

    docs = load_table(spark, sf_dir, "documents")
    snap = docs.filter(F.col("doc_id") < 400).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" updated"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    seen = docs.filter(F.col("doc_id") < 300).select("doc_id", "text")
    cache = (
        embed_documents(
            seen.select(F.md5("text").alias("fp"), "text"),
            text_col="text", backend="hash", dim=_E2E_DIM,
        )
        .select("fp", F.col("embedding").alias("__cached"))
        .dropDuplicates(["fp"])
    )
    snap_fp = snap.withColumn("fp", F.md5("text"))
    joined = snap_fp.join(F.broadcast(cache), "fp", "left").persist()
    hits = joined.filter(F.col("__cached").isNotNull()).select(
        "doc_id", F.col("__cached").alias("embedding"), F.lit(1).alias("reused")
    )
    fresh = embed_documents(
        joined.filter(F.col("__cached").isNull()).select("doc_id", "text"),
        text_col="text", backend="hash", dim=_E2E_DIM,
    ).select("doc_id", "embedding", F.lit(0).alias("reused"))
    final = hits.unionByName(fresh)
    digest = F.aggregate(
        F.zip_with(
            "embedding",
            F.sequence(F.lit(1), F.lit(_E2E_DIM)),
            lambda x, k: F.floor(x * 1000000).cast("long") * k.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return final.select(
        "doc_id",
        F.col("reused").cast("long").alias("reused"),
        digest.cast("long").alias("emb_digest"),
    )


# ---------------------------------------------------------------------------
# Streaming drift monitor (streaming twin of corpus_drift_monitor — the
# live data-quality gate: streaming cell counts vs a static baseline).


@query(
    "stream_drift_monitor",
    """
WITH cells AS (
  SELECT event_type,
         CASE WHEN value < 5 THEN 'low' WHEN value < 20 THEN 'mid' ELSE 'high' END
           AS val_bucket,
         CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-15') AS BIGINT) AS n_base,
         CAST(count(*) AS BIGINT) AS n_live
  FROM events GROUP BY 1, 2),
tots AS (
  SELECT CAST(sum(n_base) AS BIGINT) AS t_base, CAST(sum(n_live) AS BIGINT) AS t_live
  FROM cells)
SELECT event_type, val_bucket,
       CAST(n_base * 1000 // (SELECT t_base FROM tots) AS BIGINT) AS p_base,
       CAST(n_live * 1000 // (SELECT t_live FROM tots) AS BIGINT) AS p_live,
       CAST((n_base * 1000 // (SELECT t_base FROM tots)
             - n_live * 1000 // (SELECT t_live FROM tots))
            * (n_base * 1000 // (SELECT t_base FROM tots)
               - n_live * 1000 // (SELECT t_live FROM tots)) AS BIGINT)
         AS sq_milli_diff
FROM cells
""",
    bench_skip=_DRAIN,
)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live drift gate: the event stream's (event_type × value-bucket)
    cell counts — a complete-mode streaming aggregation drained with
    AvailableNow — compared against the static pre-2024-01-15 baseline
    via the same integer milli-proportion math as the batch drift
    monitor. At deployment the streaming side emits per micro-batch and
    the comparison join is against a broadcast baseline table; the
    drained end-state is exact, so the batch GROUP BY oracle pins the
    streaming aggregation, the baseline join and the drift arithmetic
    hash-for-hash."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import (
        read_event_stream,
        run_stream_once_complete,
    )

    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 5, F.lit("low"))
        .when(F.col("value") < 20, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    base_cells = (
        ev.filter(F.col("ts") < F.expr("TIMESTAMP '2024-01-15'"))
        .groupBy("event_type", bucket.alias("val_bucket"))
        .agg(F.count("*").cast("long").alias("n_base"))
    )
    staging = tempfile.mkdtemp(prefix="cbs_drift_q_")
    inpath = os.path.join(staging, "in")
    ev.write.mode("overwrite").parquet(inpath)
    live = read_event_stream(spark, inpath).groupBy(
        "event_type", bucket.alias("val_bucket")
    ).agg(F.count("*").cast("long").alias("n_live"))
    rows = run_stream_once_complete(live, os.path.join(staging, "ckpt"))
    live_df = local_df(spark, rows, "event_type string, val_bucket string, n_live long")
    cells = live_df.join(F.broadcast(base_cells), ["event_type", "val_bucket"], "left").select(
        "event_type", "val_bucket",
        F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
        "n_live",
    )
    tots = cells.agg(
        F.sum("n_base").cast("long").alias("t_base"),
        F.sum("n_live").cast("long").alias("t_live"),
    )
    with_p = cells.crossJoin(F.broadcast(tots)).select(
        "event_type", "val_bucket",
        F.expr("n_base * 1000 div t_base").alias("p_base"),
        F.expr("n_live * 1000 div t_live").alias("p_live"),
    )
    return with_p.select(
        "event_type", "val_bucket", "p_base", "p_live",
        ((F.col("p_base") - F.col("p_live")) * (F.col("p_base") - F.col("p_live")))
        .cast("long")
        .alias("sq_milli_diff"),
    )


# ---------------------------------------------------------------------------
# Join cardinality estimation (§2.K capstone — what the ANALYZE statistics
# are FOR: the textbook System-R estimate |A ⋈ B| ≈ |A|·|B| / max(ndv_A,
# ndv_B) computed from per-column stats, checked against the true join
# count in the same query. Pure integers — the estimate, the actual and
# their ratio are all BIGINT).


@query(
    "join_cardinality_estimate",
    """
WITH s AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_o,
         (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS ndv_o,
         (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_c,
         (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer) AS ndv_c,
         (SELECT CAST(count(*) AS BIGINT)
          FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey) AS actual)
SELECT n_o, ndv_o, n_c, ndv_c,
       CAST(n_o * n_c // greatest(ndv_o, ndv_c) AS BIGINT) AS estimate,
       actual,
       CAST(n_o * n_c // greatest(ndv_o, ndv_c) * 1000 // actual AS BIGINT)
         AS ratio_milli
FROM s
""",
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The System-R selectivity formula driven by the engine's own
    statistics: |orders ⋈ customer| estimated as n_o·n_c / max(ndv)
    from exactly the quantities collect_table_stats gathers, then
    compared to the true join count in the same result row (ratio in
    exact milli-units — 1000 means the estimate is perfect, which holds
    here because o_custkey is a proper FK). Three tiny aggregates + one
    counted join; at scale the stats come from the stored ANALYZE table
    and the formula costs nothing — this query exists to pin the
    arithmetic the planner-facing stats feed."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    stats = (
        o.agg(
            F.count("*").cast("long").alias("n_o"),
            F.count_distinct("o_custkey").cast("long").alias("ndv_o"),
        )
        .crossJoin(
            c.agg(
                F.count("*").cast("long").alias("n_c"),
                F.count_distinct("c_custkey").cast("long").alias("ndv_c"),
            )
        )
        .crossJoin(
            o.join(c, o.o_custkey == c.c_custkey)
            .agg(F.count("*").cast("long").alias("actual"))
        )
    )
    return stats.select(
        "n_o", "ndv_o", "n_c", "ndv_c",
        F.expr("n_o * n_c div greatest(ndv_o, ndv_c)").alias("estimate"),
        "actual",
        F.expr("n_o * n_c div greatest(ndv_o, ndv_c) * 1000 div actual").alias(
            "ratio_milli"
        ),
    )


@query(
    "frequent_pairs",
    """
WITH b AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey % 100 AS item FROM lineitem),
ic AS (
  SELECT item, CAST(count(*) AS BIGINT) AS item_count FROM b
  GROUP BY item HAVING count(*) >= 40),
nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM b),
fq AS (SELECT b.basket, b.item FROM b JOIN ic USING (item)),
p AS (
  SELECT a.item AS item_a, c.item AS item_b,
         CAST(count(*) AS BIGINT) AS pair_count
  FROM fq a JOIN fq c ON a.basket = c.basket AND a.item < c.item
  GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT p.item_a, p.item_b, p.pair_count,
       CAST(p.pair_count * 1000000 // ca.item_count AS BIGINT) AS conf_ab_ppm,
       CAST(p.pair_count * 1000000 // cb.item_count AS BIGINT) AS conf_ba_ppm,
       CAST(p.pair_count * 1000000 * (SELECT n FROM nb)
            // (ca.item_count * cb.item_count) AS BIGINT) AS lift_ppm
FROM p
JOIN ic ca ON ca.item = p.item_a
JOIN ic cb ON cb.item = p.item_b
""",
    sf1=True,
)
def frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent-pair mining (operators/basket.py): orders
    are baskets, part-category (l_partkey % 100) the item — exact
    integer confidence and lift in ppm. r14 plan: ONE grouped pass
    builds each basket's sorted distinct item array (map-side partial
    collect_set), the C(k,2) combination explode streams into a
    partially-aggregated pair count, and the a-priori item prune
    (>= 40) is enforced by the inner joins onto the support-filtered
    item counts — same output set, no self-join, no candidate exchange.
    All outputs are BIGINT counts or BIGINT floor-divisions, so the
    DuckDB oracle replays the identical algebra bit-for-bit."""
    from chatbot_spark.operators.basket import frequent_pairs as fp

    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("item_cat")
    )
    return fp(
        baskets,
        basket_col="l_orderkey",
        item_col="item_cat",
        min_item_support=40,
        min_pair_support=5,
    )


@query(
    "host_triangles",
    """
WITH d AS (SELECT doc_id FROM documents),
raw AS (
  SELECT doc_id % 120 AS u, (doc_id + 1) % 120 AS v FROM d
  UNION ALL SELECT doc_id % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 2 = 0
  UNION ALL SELECT (doc_id + 1) % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 3 = 0
  UNION ALL SELECT doc_id % 120, (doc_id * 7 + 13) % 120 FROM d WHERE doc_id % 5 = 0),
e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      FROM raw WHERE u <> v),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS node FROM tri)
GROUP BY node
""",
    sf1=True,
)
def host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle counts (operators/graph.py::triangle_count) over
    a deterministic ring-with-chords link graph on 120 hosts — triangle
    density is a standard web-graph spam/community signal. The operator
    runs the degree-ordered orientation algorithm (wedges enumerated only
    at the lowest-order corner, closed against the oriented edge set —
    out-degree bounded O(sqrt(m)) so celebrity hosts cannot explode the
    wedge join); the oracle enumerates triangles the naive a<b<c way.
    Same triangle set either way, exact BIGINT counts, bit-exact hash."""
    from chatbot_spark.operators.graph import triangle_count

    docs = load_table(spark, sf_dir, "documents")
    h = F.col("doc_id") % 120
    raw = (
        docs.select(h.alias("u"), ((F.col("doc_id") + 1) % 120).alias("v"))
        .union(
            docs.filter(F.col("doc_id") % 2 == 0).select(
                h.alias("u"), ((F.col("doc_id") + 2) % 120).alias("v")
            )
        )
        .union(
            docs.filter(F.col("doc_id") % 3 == 0).select(
                ((F.col("doc_id") + 1) % 120).alias("u"),
                ((F.col("doc_id") + 2) % 120).alias("v"),
            )
        )
        .union(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                h.alias("u"), ((F.col("doc_id") * 7 + 13) % 120).alias("v")
            )
        )
    )
    return triangle_count(raw, src="u", dst="v")


@query(
    "event_transitions",
    """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events),
t AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_trans
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2),
tot AS (
  SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
  FROM t GROUP BY from_type)
SELECT t.from_type, t.to_type, t.n_trans,
       CAST(t.n_trans * 1000000 // tot.n_from AS BIGINT) AS p_ppm
FROM t JOIN tot USING (from_type)
""",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the standard behavioral-model / next-event-prediction feature. One
    lead() window per user (shuffle on user_id, ordered by (ts,
    event_id) so timestamp ties never flip engines), one transition
    count agg, and the per-source normalizer a window-sum
    OVER the counts themselves (rides the same DAG: events is scanned
    exactly once, no shared-subtree recompute).
    Probabilities in exact integer ppm (BIGINT div) — bit-exact oracle.
    At 100 TB the state is O(|types|^2), the window is per-user local
    ordering (no global sort), and the normalizer window runs on the
    already-aggregated |types|^2-row table."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n_trans")
    )
    wt = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n_trans",
        (F.col("n_trans") * 1000000).alias("__num"),
        F.sum("n_trans").over(wt).cast("long").alias("__n_from"),
    ).select(
        "from_type",
        "to_type",
        "n_trans",
        F.expr("__num div __n_from").alias("p_ppm"),
    )


@query(
    "cohort_retention",
    """
WITH w AS (
  SELECT user_id, ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END)
           OVER (PARTITION BY user_id) AS first_ts
  FROM events),
j AS (
  SELECT user_id,
         CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
         datediff('day', CAST(date_trunc('week', first_ts) AS DATE),
                  CAST(date_trunc('week', ts) AS DATE)) // 7 AS week_offset
  FROM w WHERE first_ts IS NOT NULL AND ts >= first_ts)
SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM j GROUP BY 1, 2
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the canonical product-analytics rollup:
    users cohorted by the ISO week of their FIRST PURCHASE, counted
    distinct in every later week they show any activity (never-purchasers
    and pre-acquisition activity drop out). The per-user first
    timestamp is a window-min riding the same shuffle as the event rows
    (ONE events scan — no self-join back to the source, which is how
    the textbook SQL does it and what the oracle replays via the same
    window). Week offset is exact day arithmetic div 7 (both endpoints
    week-truncated, so the division is always exact). At 100 TB:
    one shuffle on user_id, then one count-distinct agg on the
    (cohort, offset) pairs — state O(weeks^2)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    first_ts = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    j = ev.select(
        "user_id",
        "ts",
        first_ts.alias("first_ts"),
        F.to_date(F.date_trunc("week", first_ts)).alias("cohort_week"),
        (
            F.datediff(
                F.to_date(F.date_trunc("week", F.col("ts"))),
                F.to_date(F.date_trunc("week", first_ts)),
            )
            / 7
        ).cast("long").alias("week_offset"),
    ).filter(F.col("first_ts").isNotNull() & (F.col("ts") >= F.col("first_ts")))
    return j.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("user_id").cast("long").alias("n_users")
    )


def _peel_oracle(rounds: int, k: int) -> str:
    """Unrolled CTE chain replaying peel_layers' synchronized-round
    recurrence; idempotent after convergence, so ``rounds`` only needs
    to exceed the true peel depth (15 on this graph at both SFs)."""
    ctes = [
        "d AS (SELECT doc_id FROM documents)",
        """e0 AS MATERIALIZED (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM (
    SELECT doc_id % 120 AS u, (doc_id + 1) % 120 AS v FROM d
    UNION ALL SELECT doc_id % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 2 = 0
    UNION ALL SELECT (doc_id + 1) % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 3 = 0
    UNION ALL SELECT doc_id % 120, (doc_id * 7 + 13) % 120 FROM d WHERE doc_id % 5 = 0
    UNION ALL SELECT doc_id % 120, (doc_id * 11 + 29) % 120 FROM d WHERE doc_id % 7 = 0
    UNION ALL SELECT doc_id % 120, (doc_id * 13 + 37) % 120 FROM d WHERE doc_id % 4 = 0
  ) WHERE u <> v)""",
        "n0 AS (SELECT a AS node FROM e0 UNION SELECT b FROM e0)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""deg{r} AS MATERIALIZED (
  SELECT n.node, coalesce(c.c, 0) AS c FROM n{p} n LEFT JOIN (
    SELECT node, count(*) AS c FROM (
      SELECT a AS node FROM e{p} UNION ALL SELECT b FROM e{p}) GROUP BY node
  ) c USING (node))"""
        )
        ctes.append(f"rm{r} AS MATERIALIZED (SELECT node FROM deg{r} WHERE c < {k})")
        ctes.append(f"n{r} AS MATERIALIZED (SELECT node FROM deg{r} WHERE c >= {k})")
        ctes.append(
            f"""e{r} AS MATERIALIZED (
  SELECT a, b FROM e{p}
  WHERE a IN (SELECT node FROM n{r}) AND b IN (SELECT node FROM n{r}))"""
        )
    removed = "\nUNION ALL ".join(
        f"SELECT node, CAST({r} AS BIGINT) AS layer FROM rm{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\n{removed}"
        + f"\nUNION ALL SELECT node, CAST(0 AS BIGINT) AS layer FROM n{rounds}"
    )


@query("host_peel_layers", _peel_oracle(18, 4), bench_skip=_ROUNDS)
def host_peel_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core onion decomposition (operators/graph.py::peel_layers) of a
    dense deterministic host graph (six chord generators on 120 hosts):
    every host labeled with the synchronized peel round at which its
    degree fell below k=4 — a 15-round cascade at both SFs, so the
    driver-coordinated loop, the degree-0-by-attrition edge case, and
    the lineage-truncation discipline (localCheckpoint per round; the
    unbounded plan OOMed the driver before) are all exercised. The
    oracle unrolls the same recurrence as a fixed CTE chain (idempotent
    past convergence). Exact BIGINT layers, bit-exact hash."""
    from chatbot_spark.operators.graph import peel_layers

    docs = load_table(spark, sf_dir, "documents")
    h = F.col("doc_id") % 120

    def gen(pred, ucol, vcol):
        base = docs.filter(pred) if pred is not None else docs
        return base.select(ucol.alias("u"), vcol.alias("v"))

    raw = (
        gen(None, h, (F.col("doc_id") + 1) % 120)
        .union(gen(F.col("doc_id") % 2 == 0, h, (F.col("doc_id") + 2) % 120))
        .union(
            gen(
                F.col("doc_id") % 3 == 0,
                (F.col("doc_id") + 1) % 120,
                (F.col("doc_id") + 2) % 120,
            )
        )
        .union(gen(F.col("doc_id") % 5 == 0, h, (F.col("doc_id") * 7 + 13) % 120))
        .union(gen(F.col("doc_id") % 7 == 0, h, (F.col("doc_id") * 11 + 29) % 120))
        .union(gen(F.col("doc_id") % 4 == 0, h, (F.col("doc_id") * 13 + 37) % 120))
    )
    return peel_layers(raw, k=4, src="u", dst="v")


@query(
    "retrieval_eval",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS doc,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS dl2,
         {_DUCK_DOT.format(a='q.qe', b='c.embedding')} AS dotv
  FROM q, embeddings c),
truth AS (
  SELECT query_id, doc FROM (
    SELECT query_id, doc,
           row_number() OVER (PARTITION BY query_id ORDER BY dl2 ASC, doc ASC) AS r
    FROM pairs) WHERE r <= 10),
sys AS (
  SELECT query_id, doc, r AS rank FROM (
    SELECT query_id, doc,
           row_number() OVER (PARTITION BY query_id ORDER BY dotv DESC, doc ASC) AS r
    FROM pairs) WHERE r <= 10),
j AS (
  SELECT s.query_id, s.rank,
         CASE WHEN t.doc IS NULL THEN 0 ELSE 1 END AS rel
  FROM sys s LEFT JOIN truth t ON t.query_id = s.query_id AND t.doc = s.doc),
sc AS (
  SELECT query_id, rank, rel,
         sum(rel) OVER (PARTITION BY query_id ORDER BY rank) AS cum,
         CASE WHEN rel = 1 THEN CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630929 WHEN 3 THEN 500000 WHEN 4 THEN 430676 WHEN 5 THEN 386852 WHEN 6 THEN 356207 WHEN 7 THEN 333333 WHEN 8 THEN 315464 WHEN 9 THEN 301029 WHEN 10 THEN 289064 ELSE 0 END ELSE 0 END AS gain
  FROM j),
per AS (
  SELECT query_id,
         CAST(sum(rel) AS BIGINT) AS n_hits,
         CAST(sum(CASE WHEN rel = 1 THEN cum * 1000000 // rank ELSE 0 END) AS BIGINT) AS ap_num,
         min(CASE WHEN rel = 1 THEN rank END) AS first_hit,
         CAST(count(*) AS BIGINT) AS n_ret,
         CAST(sum(gain) AS BIGINT) AS dcg
  FROM sc GROUP BY query_id)
SELECT query_id, n_hits,
       CAST(ap_num // 10 AS BIGINT) AS ap_ppm,
       CAST(coalesce(1000000 // first_hit, 0) AS BIGINT) AS mrr_ppm,
       CAST(n_hits * 1000000 // n_ret AS BIGINT) AS p_at_k_ppm,
       CAST(dcg * 1000000 // 4543554 AS BIGINT) AS ndcg_ppm
FROM per
""",
)
def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation (operators/evalmetrics.py): the
    inner-product top-10 ranking scored against the exact-L2 top-10
    relevance set — per-query average precision, reciprocal rank, and
    precision@k in exact integer ppm (BIGINT floor algebra, so the
    metric layer itself is bit-reproducible; the oracle replays both
    rankings and the same integer algebra). n_rel is exactly 10 per
    query here (truth k=10 over a >=10-row corpus), which the oracle's
    //10 mirrors. The metric operator only touches ranked result lists
    (Q x k rows) — at 100 TB the corpus cost lives in the upstream
    search operators, not the eval. NDCG@10 uses floor(1e6/log2(r+1))
    gain constants embedded identically in plan and oracle (n_rel is 10,
    so the oracle's IDCG is the matching constant prefix sum)."""
    from chatbot_spark.operators.evalmetrics import ranking_metrics

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    truth = knn_join(
        q, emb, k=10, metric="l2", corpus_id="vec_id",
        corpus_vec="embedding", include_distance=False,
    ).select("query_id", "neighbor_id")
    system = knn_join(
        q, emb, k=10, metric="inner_product", corpus_id="vec_id",
        corpus_vec="embedding", include_distance=False,
    )
    return ranking_metrics(system, truth, ndcg_k=10)


def _bfs_oracle(rounds: int, seeds: tuple[int, ...]) -> str:
    """Unrolled MATERIALIZED-CTE replay of bfs_layers' level-synchronous
    recurrence on the ring-chord host graph (true depth 9 from seeds
    {0,77} at both SFs; ``rounds`` only needs to exceed it)."""
    seed_rows = " UNION ALL ".join(f"SELECT {s} AS node" for s in seeds)
    ctes = [
        "d AS (SELECT doc_id FROM documents)",
        """e AS MATERIALIZED (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM (
    SELECT doc_id % 120 AS u, (doc_id + 1) % 120 AS v FROM d
    UNION ALL SELECT doc_id % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 2 = 0
    UNION ALL SELECT (doc_id + 1) % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 3 = 0
    UNION ALL SELECT doc_id % 120, (doc_id * 7 + 13) % 120 FROM d WHERE doc_id % 5 = 0
  ) WHERE u <> v)""",
        """adj AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e)""",
        f"f0 AS MATERIALIZED ({seed_rows})",
        "v0 AS MATERIALIZED (SELECT node FROM f0)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""f{r} AS MATERIALIZED (
  SELECT DISTINCT adj.v AS node FROM adj JOIN f{p} ON f{p}.node = adj.u
  WHERE adj.v NOT IN (SELECT node FROM v{p}))"""
        )
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT node FROM v{p} UNION SELECT node FROM f{r})"
        )
    layers = "\nUNION ALL ".join(
        f"SELECT node, CAST({r} AS BIGINT) AS dist FROM f{r}"
        for r in range(0, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\n{layers}"


@query("host_hops_from_seeds", _bfs_oracle(12, (0, 77)), bench_skip=_ROUNDS)
def host_hops_from_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (operators/graph.py::bfs_layers)
    from trusted seed hosts {0, 77} over the ring-chord host graph — the
    TrustRank-style seed-distance prior (pages far from every trusted
    seed get downweighted in web curation). Level-synchronous frontier
    expansion, one adjacency⋈frontier join + one anti-join per round,
    localCheckpoint lineage truncation; 9 real rounds at both SFs, all
    120 hosts reached (layer histogram 2/7/12/16/22/21/23/11/5/1).
    Exact BIGINT distances; oracle unrolls 12 MATERIALIZED CTE rounds."""
    from chatbot_spark.operators.graph import bfs_layers

    docs = load_table(spark, sf_dir, "documents")
    h = F.col("doc_id") % 120
    raw = (
        docs.select(h.alias("u"), ((F.col("doc_id") + 1) % 120).alias("v"))
        .union(
            docs.filter(F.col("doc_id") % 2 == 0).select(
                h.alias("u"), ((F.col("doc_id") + 2) % 120).alias("v")
            )
        )
        .union(
            docs.filter(F.col("doc_id") % 3 == 0).select(
                ((F.col("doc_id") + 1) % 120).alias("u"),
                ((F.col("doc_id") + 2) % 120).alias("v"),
            )
        )
        .union(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                h.alias("u"), ((F.col("doc_id") * 7 + 13) % 120).alias("v")
            )
        )
    )
    return bfs_layers(raw, seeds=[0, 77], src="u", dst="v")


def _host_signals_oracle(
    pr_iters: int = 5,
    scale: int = 10**12,
    num: int = 85,
    den: int = 100,
    peel_k: int = 3,
    peel_rounds: int = 4,
    bfs_rounds: int = 12,
    seeds: tuple[int, ...] = (0, 77),
) -> str:
    """One-graph composite oracle: the pagerank linear unroll, the naive
    triangle join, the MATERIALIZED peel unroll and the MATERIALIZED BFS
    unroll, all over the same raw edge CTE, joined on the node id."""
    ctes = [
        "d AS (SELECT doc_id FROM documents)",
        """raw AS MATERIALIZED (
  SELECT doc_id % 120 AS u, (doc_id + 1) % 120 AS v FROM d
  UNION ALL SELECT doc_id % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 2 = 0
  UNION ALL SELECT (doc_id + 1) % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 3 = 0
  UNION ALL SELECT doc_id % 120, (doc_id * 7 + 13) % 120 FROM d WHERE doc_id % 5 = 0)""",
        # --- pagerank over the DIRECTED dedup (pagerank_integer contract)
        "pe AS MATERIALIZED (SELECT DISTINCT u AS src, v AS dst FROM raw WHERE u <> v)",
        "pn AS MATERIALIZED (SELECT src AS node FROM pe UNION SELECT dst FROM pe)",
        "pdeg AS (SELECT src, count(*) AS outdeg FROM pe GROUP BY src)",
        f"pbase AS (SELECT CAST({scale} // (SELECT count(*) FROM pn) AS BIGINT) AS r0)",
        "it0 AS (SELECT node, (SELECT r0 FROM pbase) AS rank FROM pn)",
    ]
    for i in range(1, pr_iters + 1):
        ctes.append(
            f"""it{i} AS (
  SELECT n.node,
         CAST((({den - num}) * (SELECT r0 FROM pbase)) // {den}
              + ({num} * coalesce(s.inc, 0)) // {den} AS BIGINT) AS rank
  FROM pn n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank // d.outdeg) AS inc
    FROM pe e JOIN it{i - 1} r ON r.node = e.src JOIN pdeg d ON d.src = e.src
    GROUP BY e.dst) s ON s.node = n.node)"""
        )
    ctes += [
        # --- canonical undirected edges for triangles / peel / BFS
        """ce AS MATERIALIZED (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM raw WHERE u <> v)""",
        """tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ce e1 JOIN ce e2 ON e2.a = e1.b
  JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b)""",
        """tcnt AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node)""",
        "pl_n0 AS MATERIALIZED (SELECT a AS node FROM ce UNION SELECT b FROM ce)",
        "pl_e0 AS MATERIALIZED (SELECT a, b FROM ce)",
    ]
    for r in range(1, peel_rounds + 1):
        p = r - 1
        ctes.append(
            f"""pl_deg{r} AS MATERIALIZED (
  SELECT n.node, coalesce(c.c, 0) AS c FROM pl_n{p} n LEFT JOIN (
    SELECT node, count(*) AS c FROM (
      SELECT a AS node FROM pl_e{p} UNION ALL SELECT b FROM pl_e{p}) GROUP BY node
  ) c USING (node))"""
        )
        ctes.append(
            f"pl_rm{r} AS MATERIALIZED (SELECT node FROM pl_deg{r} WHERE c < {peel_k})"
        )
        ctes.append(
            f"pl_n{r} AS MATERIALIZED (SELECT node FROM pl_deg{r} WHERE c >= {peel_k})"
        )
        ctes.append(
            f"""pl_e{r} AS MATERIALIZED (
  SELECT a, b FROM pl_e{p}
  WHERE a IN (SELECT node FROM pl_n{r}) AND b IN (SELECT node FROM pl_n{r}))"""
        )
    peel_union = "\n  UNION ALL ".join(
        f"SELECT node, CAST({r} AS BIGINT) AS layer FROM pl_rm{r}"
        for r in range(1, peel_rounds + 1)
    )
    ctes.append(
        f"""peel AS MATERIALIZED (
  {peel_union}
  UNION ALL SELECT node, CAST(0 AS BIGINT) AS layer FROM pl_n{peel_rounds})"""
    )
    seed_rows = " UNION ALL ".join(f"SELECT {s} AS node" for s in seeds)
    ctes += [
        "adj AS MATERIALIZED (SELECT a AS u, b AS v FROM ce UNION SELECT b, a FROM ce)",
        f"bf0 AS MATERIALIZED ({seed_rows})",
        "bv0 AS MATERIALIZED (SELECT node FROM bf0)",
    ]
    for r in range(1, bfs_rounds + 1):
        p = r - 1
        ctes.append(
            f"""bf{r} AS MATERIALIZED (
  SELECT DISTINCT adj.v AS node FROM adj JOIN bf{p} ON bf{p}.node = adj.u
  WHERE adj.v NOT IN (SELECT node FROM bv{p}))"""
        )
        ctes.append(
            f"bv{r} AS MATERIALIZED (SELECT node FROM bv{p} UNION SELECT node FROM bf{r})"
        )
    bfs_union = "\n  UNION ALL ".join(
        f"SELECT node, CAST({r} AS BIGINT) AS dist FROM bf{r}"
        for r in range(0, bfs_rounds + 1)
    )
    ctes.append(f"bfs AS MATERIALIZED (\n  {bfs_union})")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(p.node AS BIGINT) AS host,
       p.rank AS rank_scaled,
       coalesce(t.n_triangles, 0) AS n_triangles,
       pl.layer AS core_layer,
       coalesce(b.dist, -1) AS seed_dist
FROM it{pr_iters} p
LEFT JOIN tcnt t ON t.node = p.node
LEFT JOIN peel pl ON pl.node = p.node
LEFT JOIN bfs b ON b.node = p.node
"""
    )


@query("host_signals", _host_signals_oracle(), bench_skip=_ROUNDS)
def host_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph-curation capstone: ONE host link graph, FOUR authority /
    structure signals joined into the per-host curation table a FineWeb-
    style web pipeline feeds into its keep/drop policy — BIGINT-fixed-
    point PageRank (authority), triangle count (community density),
    k-core onion layer (coreness; spam farms are high-degree but
    low-core), and BFS hop distance from trusted seeds (TrustRank
    prior). All four run over the SAME persisted edge derivation —
    documents is scanned once for the graph, each operator persists or
    checkpoints its own state, and every signal is exact-integer so the
    composed 50-CTE oracle (linear pagerank unroll + naive triangle
    join + MATERIALIZED peel and BFS unrolls) matches bit for bit."""
    from chatbot_spark.operators.graph import (
        bfs_layers,
        pagerank_integer,
        peel_layers,
        triangle_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = F.col("doc_id") % 120
    raw = (
        docs.select(h.alias("u"), ((F.col("doc_id") + 1) % 120).alias("v"))
        .union(
            docs.filter(F.col("doc_id") % 2 == 0).select(
                h.alias("u"), ((F.col("doc_id") + 2) % 120).alias("v")
            )
        )
        .union(
            docs.filter(F.col("doc_id") % 3 == 0).select(
                ((F.col("doc_id") + 1) % 120).alias("u"),
                ((F.col("doc_id") + 2) % 120).alias("v"),
            )
        )
        .union(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                h.alias("u"), ((F.col("doc_id") * 7 + 13) % 120).alias("v")
            )
        )
        .persist()
    )
    pr = pagerank_integer(raw, iterations=5, scale=10**12, src="u", dst="v")
    tc = triangle_count(raw, src="u", dst="v")
    pl = peel_layers(raw, k=3, src="u", dst="v")
    bf = bfs_layers(raw, seeds=[0, 77], src="u", dst="v")
    out = (
        pr.select(F.col("node").cast("long").alias("host"), F.col("rank").alias("rank_scaled"))
        .join(tc.withColumnRenamed("node", "host"), "host", "left")
        .join(pl.select(F.col("node").alias("host"), F.col("layer").alias("core_layer")), "host", "left")
        .join(bf.select(F.col("node").alias("host"), F.col("dist").alias("seed_dist")), "host", "left")
        .select(
            "host",
            "rank_scaled",
            F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"),
            "core_layer",
            F.coalesce("seed_dist", F.lit(-1).cast("long")).alias("seed_dist"),
        )
    )
    out = out.localCheckpoint(eager=True)
    raw.unpersist()
    return out


@query(
    "active_user_stickiness",
    """
WITH ud AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
  FROM events),
days AS (SELECT DISTINCT day FROM ud),
dau AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM ud GROUP BY day),
wau AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day),
mau AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - 29 AND d.day
  GROUP BY d.day)
SELECT dau.day, dau.dau, wau.wau, mau.mau,
       CAST(dau.dau * 1000000 // mau.mau AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau USING (day) JOIN mau USING (day)
""",
)
def active_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active-user metrics — trailing DAU / WAU(7d) / MAU(30d)
    per day plus the DAU/MAU stickiness ratio in exact ppm. Engine
    shape: dedup to (day, user) grain once, EXPLODE each row to the
    trailing window days it contributes to (offsets 0..29 — the
    window-expansion trick), then ONE groupBy(day) with three
    conditional count-distincts — no per-horizon range join, one
    count-distinct exchange total. Expansion factor = the largest
    window (30×) on the deduped day grain, the standard exact-windowed-
    distinct cost; for 365-day windows switch to the KMV/HLL sketch
    family this repo ships. Target days restricted to observed days via
    a broadcast semi-join (trailing windows past the last day would
    otherwise fabricate rows). Oracle replays with per-horizon range
    joins — different plan, identical exact counts."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "user_id"
    ).distinct()
    days = ud.select("day").distinct()
    expanded = ud.select(
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("off"), "day", "user_id"
    ).select(
        F.date_add("day", F.col("off")).alias("t_day"), "off", "user_id"
    ).join(F.broadcast(days.withColumnRenamed("day", "t_day")), "t_day", "left_semi")
    agg = expanded.groupBy("t_day").agg(
        F.count_distinct(F.when(F.col("off") == 0, F.col("user_id")))
        .cast("long").alias("dau"),
        F.count_distinct(F.when(F.col("off") <= 6, F.col("user_id")))
        .cast("long").alias("wau"),
        F.count_distinct("user_id").cast("long").alias("mau"),
    )
    return agg.select(
        F.col("t_day").alias("day"),
        "dau",
        "wau",
        "mau",
        F.expr("dau * 1000000 div mau").alias("stickiness_ppm"),
    )


@query(
    "conversion_time_quartiles",
    """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
  FROM events GROUP BY user_id),
src AS (
  SELECT CAST(first_purchase_us - first_click_us AS BIGINT) AS dur_us
  FROM per_user
  WHERE first_click_us IS NOT NULL AND first_purchase_us IS NOT NULL
    AND first_purchase_us >= first_click_us),
c AS (SELECT dur_us, CAST(count(*) AS BIGINT) AS cnt FROM src GROUP BY dur_us),
cum AS (SELECT dur_us, cnt, CAST(sum(cnt) OVER (ORDER BY dur_us) AS BIGINT) AS cum FROM c),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
ranks AS (
  SELECT CAST(i AS BIGINT) AS i,
         CAST(greatest(i * (SELECT n FROM tot) // 4, 1) AS BIGINT) AS rank_target
  FROM generate_series(1, 3) t(i))
SELECT r.i, r.rank_target, c.dur_us AS boundary, c.cum AS cum_at_boundary
FROM cum c JOIN ranks r ON c.cum - c.cnt < r.rank_target AND r.rank_target <= c.cum
""",
)
def conversion_time_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion quartiles: per user, microseconds from first
    click to first purchase (users converting after their first click),
    quartile boundaries extracted by the EXACT distributed equi-depth
    machinery (operators/histogram.py) — value-frequency groupBy,
    two-phase prefix sum (no one-task global window), broadcast
    range-join rank extraction. One events scan for the per-user
    min-pair agg; durations in exact BIGINT epoch_us so both engines
    agree bit for bit. The funnel-latency question every product
    pipeline asks, answered without a global sort."""
    from chatbot_spark.operators.histogram import equi_depth_boundaries

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.unix_micros("ts"))
        ).alias("first_click_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("first_purchase_us"),
    )
    src = per_user.filter(
        F.col("first_click_us").isNotNull()
        & F.col("first_purchase_us").isNotNull()
        & (F.col("first_purchase_us") >= F.col("first_click_us"))
    ).select(
        (F.col("first_purchase_us") - F.col("first_click_us"))
        .cast("long")
        .alias("dur_us")
    )
    return equi_depth_boundaries(src, "dur_us", n_buckets=4)


@query(
    "source_overlap_matrix",
    """
WITH m AS (
  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
  FROM documents),
fp AS (
  SELECT CAST(0 AS BIGINT) AS source, f FROM m WHERE doc_id % 10 < 6
  UNION ALL SELECT CAST(1 AS BIGINT), f FROM m WHERE doc_id % 10 >= 4
  UNION ALL SELECT CAST(2 AS BIGINT), f FROM m WHERE doc_id % 3 = 0
  UNION ALL SELECT CAST(3 AS BIGINT), f FROM m WHERE doc_id % 5 = 0),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY source),
ix AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
  GROUP BY 1, 2)
SELECT ix.source_a, ix.source_b, sa.n AS n_a, sb.n AS n_b, ix.n_common,
       CAST(ix.n_common * 1000000 // (sa.n + sb.n - ix.n_common) AS BIGINT)
         AS jaccard_ppm,
       CAST(ix.n_common * 1000000 // least(sa.n, sb.n) AS BIGINT)
         AS containment_ppm
FROM ix
JOIN sz sa ON sa.source = ix.source_a
JOIN sz sb ON sb.source = ix.source_b
""",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise dataset-overlap matrix — the mixing-table question every
    multi-source training corpus asks before weighting sources: exact
    Jaccard and containment (of the smaller side) between every source
    pair — four overlapping membership selections of the corpus
    (60%/60%/third/fifth slices) — computed on the md5 fingerprint grain
    (the exact-dedup key: the shuffle moves 16-byte hashes + source
    ids, never text). One fingerprint dedup, one fp-keyed self-join
    emitting only same-hash cross-source rows, union sizes by
    inclusion-exclusion — no S-way cross join, and at 100 TB the join
    input is |distinct fingerprints|, already the dedup working set.
    All counts and ppm ratios exact BIGINT."""
    from chatbot_spark.operators.textstats import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    m = docs.select("doc_id", fingerprint(F.col("text")).alias("f"))
    members = [
        (0, F.col("doc_id") % 10 < 6),
        (1, F.col("doc_id") % 10 >= 4),
        (2, F.col("doc_id") % 3 == 0),
        (3, F.col("doc_id") % 5 == 0),
    ]
    parts = [
        m.filter(pred).select(F.lit(s).cast("long").alias("source"), "f")
        for s, pred in members
    ]
    fp = parts[0]
    for p_ in parts[1:]:
        fp = fp.unionByName(p_)
    fp = fp.distinct().persist()
    sz = fp.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = fp.select(F.col("source").alias("source_a"), "f")
    b = fp.select(F.col("source").alias("source_b"), "f")
    ix = (
        a.join(b, "f")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    out = (
        ix.join(
            F.broadcast(sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr("n_common * 1000000 div (n_a + n_b - n_common)").alias(
                "jaccard_ppm"
            ),
            F.expr("n_common * 1000000 div least(n_a, n_b)").alias(
                "containment_ppm"
            ),
        )
    )
    out = out.localCheckpoint(eager=True)
    fp.unpersist()
    return out


def _hits_oracle(iterations: int, n_hosts: int, scale: int) -> str:
    """Linear MATERIALIZED unroll of hits_integer's sum-normalized
    recurrence on the host_pagerank link graph."""
    ctes = [
        f"""links AS (
  SELECT doc_id % {n_hosts} AS src, (doc_id * 7 + 1) % {n_hosts} AS dst FROM documents
  UNION ALL
  SELECT doc_id % {n_hosts}, (doc_id * 13 + 2) % {n_hosts} FROM documents WHERE doc_id % 3 = 0)""",
        "pe AS MATERIALIZED (SELECT DISTINCT src, dst FROM links WHERE src <> dst)",
        "nds AS MATERIALIZED (SELECT src AS node FROM pe UNION SELECT dst FROM pe)",
        f"""h0 AS MATERIALIZED (
  SELECT node, CAST({scale} // (SELECT count(*) FROM nds) AS BIGINT) AS score FROM nds)""",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(
            f"""ar{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.score) AS raw
  FROM pe e JOIN h{p} h ON h.node = e.src GROUP BY e.dst)"""
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(coalesce(r.raw, 0) * {scale} // (SELECT sum(raw) FROM ar{i}) AS BIGINT) AS score
  FROM nds n LEFT JOIN ar{i} r ON r.node = n.node)"""
        )
        ctes.append(
            f"""hr{i} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.score) AS raw
  FROM pe e JOIN a{i} a ON a.node = e.dst GROUP BY e.src)"""
        )
        ctes.append(
            f"""h{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(coalesce(r.raw, 0) * {scale} // (SELECT sum(raw) FROM hr{i}) AS BIGINT) AS score
  FROM nds n LEFT JOIN hr{i} r ON r.node = n.node)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(h.node AS BIGINT) AS host, h.score AS hub, a.score AS authority
FROM h{iterations} h JOIN a{iterations} a ON a.node = h.node
"""
    )


@query("host_hits", _hits_oracle(5, 50, 10**8), bench_skip=_ROUNDS)
def host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the host_pagerank link graph
    (operators/graph.py::hits_integer): hubs (link out to good
    authorities) vs authorities (linked from good hubs) — the directed
    complement PageRank can't express (a directory page is a great hub
    and a worthless authority). Sum-normalized integer fixed point
    (scale 1e8; L2 norm would need sqrt) so the 5-round unrolled oracle
    matches bit for bit. Two Pregel passes per round, 1-row total
    broadcast for the renormalization, state O(hosts)."""
    from chatbot_spark.operators.graph import hits_integer

    docs = load_table(spark, sf_dir, "documents")
    h = F.col("doc_id") % 50
    links = docs.select(
        h.alias("src"), ((F.col("doc_id") * 7 + 1) % 50).alias("dst")
    ).union(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            h.alias("src"), ((F.col("doc_id") * 13 + 2) % 50).alias("dst")
        )
    )
    res = hits_integer(links, iterations=5, scale=10**8)
    return res.select(
        F.col("node").cast("long").alias("host"), "hub", "authority"
    )


@query(
    "snapshot_diff",
    """
WITH old AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 300 AND doc_id % 7 <> 0),
new AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 5 = 0 THEN 'v2:' || text ELSE text END AS text
  FROM documents WHERE doc_id < 300 AND doc_id % 11 <> 0),
j AS (
  SELECT coalesce(o.id, n.id) AS id, o.text AS o_text, n.text AS n_text
  FROM old o FULL OUTER JOIN new n ON n.id = o.id)
SELECT id,
       CASE WHEN o_text IS NULL THEN 'I'
            WHEN n_text IS NULL THEN 'D'
            ELSE 'U' END AS op,
       md5(coalesce(n_text, o_text)) AS text_md5
FROM j
WHERE o_text IS NULL OR n_text IS NULL OR o_text <> n_text
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed GENERATION — the inverse of cdc_apply_changes: diff
    two table snapshots into the minimal I/U/D feed (insert when the key
    is new, delete when it vanished, update only when the payload
    actually changed — unchanged rows emit nothing). One full-outer join
    on the key; at scale both snapshots bucket on the key so the diff is
    a co-partitioned zip, and the emitted feed is the DELTA, which is
    what makes downstream incremental consumers (the repo's apply_cdc,
    upsert writers, index maintenance) affordable. Deterministic
    synthetic divergence (%5 rewrites, %7/%11 membership) exercises all
    three op classes plus the suppressed-no-op class."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    old = docs.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("id"), "text"
    )
    new = docs.filter(F.col("doc_id") % 11 != 0).select(
        F.col("doc_id").alias("id"),
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.lit("v2:"), "text")
        ).otherwise(F.col("text")).alias("text"),
    )
    j = old.withColumnRenamed("text", "o_text").join(
        new.withColumnRenamed("text", "n_text"), "id", "full_outer"
    )
    return (
        j.filter(
            F.col("o_text").isNull()
            | F.col("n_text").isNull()
            | (F.col("o_text") != F.col("n_text"))
        )
        .select(
            "id",
            F.when(F.col("o_text").isNull(), F.lit("I"))
            .when(F.col("n_text").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.md5(F.coalesce("n_text", "o_text")).alias("text_md5"),
        )
    )


@query(
    "revenue_wow_growth",
    """
WITH wk AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1),
lagged AS (
  SELECT week, rev_cents,
         lag(rev_cents) OVER (ORDER BY week) AS prev_cents
  FROM wk)
SELECT week, rev_cents, prev_cents,
       CAST((rev_cents - prev_cents) * 1000000 // prev_cents AS BIGINT)
         AS growth_ppm
FROM lagged WHERE prev_cents IS NOT NULL
""",
)
def revenue_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth in exact signed ppm — the
    period-over-period report every revenue dashboard leads with.
    Revenue in exact cents (floor(x*100+0.5): round-on-double is
    engine-dependent), one week rollup, one ordered lag over the tiny
    week table (the global window runs on |weeks| rows, never the fact
    table), growth as signed integer division — Spark `div`
    and DuckDB `//` BOTH truncate toward zero on BIGINT (verified on
    172 negative non-exact weeks in this data), so shrinking weeks
    agree exactly too."""
    orders = load_table(spark, sf_dir, "orders")
    wk = orders.groupBy(
        F.to_date(F.date_trunc("week", F.col("o_orderdate"))).alias("week")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("week")
    lagged = wk.select(
        "week", "rev_cents", F.lag("rev_cents").over(w).alias("prev_cents")
    ).filter(F.col("prev_cents").isNotNull())
    return lagged.select(
        "week",
        "rev_cents",
        "prev_cents",
        F.expr("(rev_cents - prev_cents) * 1000000 div prev_cents").alias(
            "growth_ppm"
        ),
    )


@query(
    "stream_event_transitions",
    """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events),
t AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_trans
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2),
tot AS (
  SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
  FROM t GROUP BY from_type)
SELECT t.from_type, t.to_type, t.n_trans,
       CAST(t.n_trans * 1000000 // tot.n_from AS BIGINT) AS p_ppm
FROM t JOIN tot USING (from_type)
""",
    bench_skip=_DRAIN,
)
def stream_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_transitions: the custom stateful operator
    (streaming/stateful.py::transition_counter) carries ONE string per
    user across micro-batches and emits per-batch transition-count
    slivers; drained over 4 time-sliced micro-batches (cross-batch
    state carry exercised at every slice boundary) and aggregated
    batch-side, the matrix must equal the batch lead()-window oracle
    EXACTLY — the state contract, not just the plan, is what the hash
    pins. State O(users); emission O(|types|^2) per user-batch."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import read_event_stream
    from chatbot_spark.streaming.stateful import (
        run_stream_once_append,
        transition_counter,
    )

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="cbs_trans_q_")
    inpath = os.path.join(base, "in")
    cuts = ["2024-01-08", "2024-01-16", "2024-01-24", "2099-01-01"]
    lo = "1970-01-01"
    for hi in cuts:
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(inpath)
        lo = hi
    rows = run_stream_once_append(
        transition_counter(read_event_stream(spark, inpath, max_files_per_trigger=1)),
        os.path.join(base, "ckpt"),
    )
    df = local_df(
        spark, rows, schema="user_id BIGINT, from_type STRING, to_type STRING, n BIGINT"
    )
    t = df.groupBy("from_type", "to_type").agg(
        F.sum("n").cast("long").alias("n_trans")
    )
    wt = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n_trans",
        (F.col("n_trans") * 1000000).alias("__num"),
        F.sum("n_trans").over(wt).cast("long").alias("__n_from"),
    ).select(
        "from_type",
        "to_type",
        "n_trans",
        F.expr("__num div __n_from").alias("p_ppm"),
    )


@query(
    "ann_ranking_eval",
    """
SELECT 1 AS ap_ok, 1 AS ndcg_ok, 1 AS mrr_ok, CAST(10 AS BIGINT) AS n_queries
""",
)
def ann_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval layer pointed at a REAL index: IVF (nprobe=7/8) rankings
    scored by operators/evalmetrics.py::ranking_metrics against the
    exact-L2 truth — mean AP / NDCG@10 / MRR in exact ppm, asserted
    against a 0.9 SLO in-plan (measured 1.0 at both SFs; the threshold
    absorbs k-means seed variance, the same contract as the recall-SLO
    ANN queries — the metric algebra itself is bit-pinned separately by
    retrieval_eval). This is the closed loop a production vector store
    runs nightly: build, search, score against exact, gate."""
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.evalmetrics import ranking_metrics

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    index = IVFIndex.build(emb, vec_col="embedding", id_col="vec_id", nlist=8)
    approx = index.search(q, k=10, nprobe=7)
    exact = knn_join(
        q, emb, k=10, metric="l2", corpus_id="vec_id",
        corpus_vec="embedding", include_distance=False,
    )
    m = ranking_metrics(
        approx.select("query_id", "neighbor_id", "rank"),
        exact.select("query_id", "neighbor_id"),
        ndcg_k=10,
    )
    return m.agg(
        (F.avg("ap_ppm") >= 900000).cast("int").alias("ap_ok"),
        (F.avg("ndcg_ppm") >= 900000).cast("int").alias("ndcg_ok"),
        (F.avg("mrr_ppm") >= 900000).cast("int").alias("mrr_ok"),
        F.count("*").cast("long").alias("n_queries"),
    )


@query(
    "frequent_triples",
    """
WITH b AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey % 100 AS item FROM lineitem),
t AS (
  SELECT a.item AS item_a, c.item AS item_b, d.item AS item_c,
         CAST(count(*) AS BIGINT) AS triple_count
  FROM b a
  JOIN b c ON a.basket = c.basket AND a.item < c.item
  JOIN b d ON a.basket = d.basket AND c.item < d.item
  GROUP BY 1, 2, 3 HAVING count(*) >= 3)
SELECT item_a, item_b, item_c, triple_count FROM t
""",
    sf1=True,
)
def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent item triples (operators/basket.py::frequent_triples).
    r14 plan: per-basket sorted distinct item arrays (one grouped pass,
    map-side partial collect_set), C(k,3) combination explode streaming
    into a partially-aggregated count — the exchange carries distinct
    triples per map partition, never candidate rows (the naive cubic
    join the oracle runs would be the 100 TB killer). The a-priori
    downward-closure prune is subsumed by the final support filter — a
    triple with an infrequent sub-pair cannot reach min_support. Counts
    exact BIGINT, result provably equal to the naive HAVING."""
    from chatbot_spark.operators.basket import frequent_triples as ft

    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", (F.col("l_partkey") % 100).alias("item_cat"))
    return ft(baskets, basket_col="l_orderkey", item_col="item_cat", min_support=3)


@query(
    "rfm_segments",
    """
WITH cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', max(CAST(o_orderdate AS DATE)), DATE '2026-01-01') AS BIGINT) AS r_v,
         CAST(count(*) AS BIGINT) AS f_v,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m_v
  FROM orders GROUP BY o_custkey),
rc AS (SELECT r_v AS v, CAST(count(*) AS BIGINT) AS cnt FROM cust GROUP BY 1),
rcum AS (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM rc),
rb AS (
  SELECT max(CASE WHEN i = 1 THEN v END) AS b1, max(CASE WHEN i = 2 THEN v END) AS b2
  FROM (SELECT c.v, r.i FROM rcum c
        JOIN (SELECT i, CAST(greatest(i * (SELECT sum(cnt) FROM rc) // 3, 1) AS BIGINT) AS t
              FROM generate_series(1, 2) s(i)) r
          ON c.cum - c.cnt < r.t AND r.t <= c.cum)),
fc AS (SELECT f_v AS v, CAST(count(*) AS BIGINT) AS cnt FROM cust GROUP BY 1),
fcum AS (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM fc),
fb AS (
  SELECT max(CASE WHEN i = 1 THEN v END) AS b1, max(CASE WHEN i = 2 THEN v END) AS b2
  FROM (SELECT c.v, r.i FROM fcum c
        JOIN (SELECT i, CAST(greatest(i * (SELECT sum(cnt) FROM fc) // 3, 1) AS BIGINT) AS t
              FROM generate_series(1, 2) s(i)) r
          ON c.cum - c.cnt < r.t AND r.t <= c.cum)),
mc AS (SELECT m_v AS v, CAST(count(*) AS BIGINT) AS cnt FROM cust GROUP BY 1),
mcum AS (SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM mc),
mb AS (
  SELECT max(CASE WHEN i = 1 THEN v END) AS b1, max(CASE WHEN i = 2 THEN v END) AS b2
  FROM (SELECT c.v, r.i FROM mcum c
        JOIN (SELECT i, CAST(greatest(i * (SELECT sum(cnt) FROM mc) // 3, 1) AS BIGINT) AS t
              FROM generate_series(1, 2) s(i)) r
          ON c.cum - c.cnt < r.t AND r.t <= c.cum))
SELECT CAST(
         (CASE WHEN r_v <= (SELECT b1 FROM rb) THEN 1
               WHEN r_v <= (SELECT b2 FROM rb) THEN 2 ELSE 3 END) * 100
       + (CASE WHEN f_v <= (SELECT b1 FROM fb) THEN 1
               WHEN f_v <= (SELECT b2 FROM fb) THEN 2 ELSE 3 END) * 10
       + (CASE WHEN m_v <= (SELECT b1 FROM mb) THEN 1
               WHEN m_v <= (SELECT b2 FROM mb) THEN 2 ELSE 3 END)
       AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS n_customers
FROM cust GROUP BY 1
""",
    sf1=True,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation at scale: recency (days to a fixed
    anchor), frequency (orders), monetary (exact cents) terciled NOT by
    a global ntile — a one-task global sort at 10^9 customers — but by
    the exact equi-depth boundary machinery (value-frequency groupBy +
    two-phase prefix sum + broadcast rank extraction), then a pure CASE
    assignment against the two broadcast boundary values per metric.
    Segment code = 100r + 10f + m; exact BIGINT counts per segment.
    Boundary semantics are the discrete lower quantile, so heavy ties
    (frequency is small-integer-valued) land deterministically on both
    engines — the oracle replays the identical boundary algebra."""
    from chatbot_spark.operators.histogram import equi_depth_boundaries

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2026-01-01").cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        ).cast("long").alias("r_v"),
        F.count("*").cast("long").alias("f_v"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long").alias("m_v"),
    ).persist()

    def bounds(col: str):
        eb = equi_depth_boundaries(cust.select(col), col, n_buckets=3)
        return eb.agg(
            F.max(F.when(F.col("i") == 1, F.col("boundary"))).alias(f"{col}_b1"),
            F.max(F.when(F.col("i") == 2, F.col("boundary"))).alias(f"{col}_b2"),
        )

    withb = (
        cust.crossJoin(F.broadcast(bounds("r_v")))
        .crossJoin(F.broadcast(bounds("f_v")))
        .crossJoin(F.broadcast(bounds("m_v")))
    )

    def bucket(col: str):
        return (
            F.when(F.col(col) <= F.col(f"{col}_b1"), F.lit(1))
            .when(F.col(col) <= F.col(f"{col}_b2"), F.lit(2))
            .otherwise(F.lit(3))
        )

    out = (
        withb.select(
            (bucket("r_v") * 100 + bucket("f_v") * 10 + bucket("m_v"))
            .cast("long")
            .alias("segment")
        )
        .groupBy("segment")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )
    out = out.localCheckpoint(eager=True)
    cust.unpersist()
    return out


@query(
    "event_trigrams",
    """
WITH seq AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events)
SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1, 2, 3 HAVING count(*) >= 10
""",
)
def event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order sequential patterns: contiguous event-type trigrams
    per user (the Markov-2 features next to event_transitions' first-
    order matrix) — two lead() offsets riding ONE user_id window
    exchange (same sort, zero extra shuffles), exact counts with a
    support floor. The (ts, event_id) tie-break keeps engines
    identical."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= 10)
    )


@query(
    "stream_approx_distinct_hourly",
    """
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_hours,
       CAST(sum(exact_users) AS BIGINT) AS sum_exact,
       1 AS all_within_slo
FROM h
""",
    bench_skip=_DRAIN,
)
def stream_approx_distinct_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly approx-distinct users: HLL++ inside a watermarked
    streaming aggregation (state O(hours x sketch), never O(users) — the
    cardinality-in-motion problem exact distinct cannot afford on an
    unbounded stream), drained AvailableNow and compared hour-by-hour to
    the exact batch distinct. Sketch estimates are engine-specific, so —
    the approx_distinct_users contract — the oracle pins the exact
    per-hour counts (portable) plus an ALL-hours error flag computed
    in-plan: relative error <= 15% OR absolute error <= 3 users. The
    absolute floor matters because hourly cardinalities here are tiny
    (~13 users) and Spark's HLL++ is not exact at small n (measured
    up to 20% relative = 3 users absolute at rsd=0.05); at production
    cardinalities the relative bound is the binding one."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import read_event_stream, run_stream_once_complete

    base = tempfile.mkdtemp(prefix="cbs_hllstream_q_")
    inpath = os.path.join(base, "in")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(inpath)
    stream = read_event_stream(spark, inpath)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.approx_count_distinct("user_id", rsd=0.05).alias("approx_users"))
    )
    rows = run_stream_once_complete(agg, os.path.join(base, "ckpt"))
    approx = local_df(spark, rows, agg.schema)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count_distinct("user_id").cast("long").alias("exact_users"))
    )
    j = exact.join(approx, "hour")
    return j.agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("exact_users").cast("long").alias("sum_exact"),
        F.min(
            (
                (
                    F.abs(
                        F.col("approx_users").cast("double")
                        - F.col("exact_users").cast("double")
                    )
                    / F.col("exact_users")
                    <= 0.15
                )
                | (
                    F.abs(F.col("approx_users") - F.col("exact_users")) <= 3
                )
            ).cast("int")
        ).alias("all_within_slo"),
    )


# --------------------------------------------------------------------------
# Diversity-aware selection (operators/diversify.py): MMR rerank and greedy
# k-center coreset — the retrieval-diversity and dataset-pruning shapes.
# Both greedy loops replay EXACTLY in SQL (rounds unrolled, MATERIALIZED
# per the iterative-oracle discipline), so the driver check is bit-exact.
# --------------------------------------------------------------------------

_MMR_K = 8
_MMR_N = 20


def _mmr_oracle() -> str:
    """Unrolled MMR greedy: round i's argmax over the remaining candidates
    of 0.7*rel - (1.0-0.7)*max_sim_to_selected, ties on ascending cid —
    the exact expression shape the pandas kernel computes (same IEEE ops,
    same order), so doubles agree bit-for-bit."""
    dot_qc = _DUCK_DOT.format(a="q.qe", b="c.embedding")
    norm_q = _DUCK_NORM.format(a="q.qe")
    norm_c = _DUCK_NORM.format(a="c.embedding")
    dot_ab = _DUCK_DOT.format(a="ea.embedding", b="eb.embedding")
    norm_a = _DUCK_NORM.format(a="ea.embedding")
    norm_b = _DUCK_NORM.format(a="eb.embedding")
    parts = [
        f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS cid,
         {dot_qc} / (sqrt({norm_q}) * sqrt({norm_c})) AS rel
  FROM q, embeddings c),
cands AS MATERIALIZED (
  SELECT query_id, cid, rel FROM (
    SELECT query_id, cid, rel,
           row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cid ASC) AS rn
    FROM scored) WHERE rn <= {_MMR_N}),
sims AS MATERIALIZED (
  SELECT a.query_id, a.cid AS ca, b.cid AS cb,
         {dot_ab} / (sqrt({norm_a}) * sqrt({norm_b})) AS s
  FROM cands a
  JOIN cands b ON b.query_id = a.query_id AND b.cid <> a.cid
  JOIN embeddings ea ON ea.vec_id = a.cid
  JOIN embeddings eb ON eb.vec_id = b.cid),
sel_1 AS MATERIALIZED (
  SELECT query_id, cid, 1 AS rank, 0.7 * rel - (1.0 - 0.7) * 0.0 AS score, rel
  FROM (SELECT query_id, cid, rel,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY 0.7 * rel - (1.0 - 0.7) * 0.0 DESC, cid ASC) AS rn
        FROM cands) WHERE rn = 1)"""
    ]
    for i in range(2, _MMR_K + 1):
        p = i - 1
        parts.append(
            f""",
sel_{i} AS MATERIALIZED (
  SELECT * FROM sel_{p}
  UNION ALL
  SELECT query_id, cid, {i} AS rank, score, rel FROM (
    SELECT c.query_id, c.cid,
           0.7 * c.rel - (1.0 - 0.7) * m.ms AS score, c.rel,
           row_number() OVER (PARTITION BY c.query_id
             ORDER BY 0.7 * c.rel - (1.0 - 0.7) * m.ms DESC, c.cid ASC) AS rn
    FROM cands c
    JOIN (SELECT s.query_id, s.ca AS cid, max(s.s) AS ms
          FROM sims s JOIN sel_{p} pr ON pr.query_id = s.query_id AND pr.cid = s.cb
          GROUP BY s.query_id, s.ca) m
      ON m.query_id = c.query_id AND m.cid = c.cid
    WHERE NOT EXISTS (SELECT 1 FROM sel_{p} x
                      WHERE x.query_id = c.query_id AND x.cid = c.cid)
  ) WHERE rn = 1)"""
        )
    parts.append(
        f"""
SELECT query_id, CAST(rank AS BIGINT) AS rank, cid AS neighbor_id,
       round(score, 6) AS mmr_score, round(rel, 6) AS rel
FROM sel_{_MMR_K}
"""
    )
    return "".join(parts)


@query("mmr_diversified", _mmr_oracle(), sf1=True)
def mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified rerank (operators/diversify.py::mmr_select) over
    the standard 5-query workload: stage 1 is the exact top-20 by cosine
    (knn_join's scan_topk pass, rel = 1 - cosine distance); stage 2 builds the within-shortlist pair sims JVM-side and runs the
    greedy (lam=0.7, k=8) in ONE applyInPandas pass keyed by query — the
    shape that parallelizes over millions of queries. Bit-exact oracle:
    all 8 rounds unrolled."""
    from chatbot_spark.operators.diversify import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir, n=5)
    top = knn_join(
        q, emb, k=_MMR_N, metric="cosine", corpus_id="vec_id",
        corpus_vec="embedding",
    )
    cands = top.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id",
    ).select(
        "query_id", "neighbor_id", "embedding", (1.0 - F.col("dist")).alias("rel")
    )
    res = mmr_select(cands, k=_MMR_K, lam=0.7)
    return res.select(
        "query_id", "rank", "neighbor_id",
        F.round("mmr_score", 6).alias("mmr_score"),
        F.round("rel", 6).alias("rel"),
    )


_KC_K = 5
_KC_MAX_ID = 250


def _kcenter_oracle() -> str:
    """Unrolled Gonzalez farthest-first: seed = smallest vec_id per label,
    each round adds the argmax of min-distance-to-selected (ties on
    ascending id). Distances are the same list-order L2 fold as every
    vector oracle, so the replay is bit-exact."""
    l2_ab = _DUCK_L2.format(a="a.embedding", b="b.embedding")
    parts = [
        f"""
WITH pts AS (SELECT CAST(label AS BIGINT) AS label, vec_id, embedding
             FROM embeddings WHERE vec_id < {_KC_MAX_ID}),
d AS MATERIALIZED (
  SELECT a.label, a.vec_id AS pa, b.vec_id AS pb, {l2_ab} AS dist
  FROM pts a JOIN pts b ON b.label = a.label AND b.vec_id <> a.vec_id),
sel_1 AS MATERIALIZED (
  SELECT label, min(vec_id) AS cid, 1 AS rank, 0.0 AS radius
  FROM pts GROUP BY label)"""
    ]
    for i in range(2, _KC_K + 1):
        p = i - 1
        parts.append(
            f""",
sel_{i} AS MATERIALIZED (
  SELECT * FROM sel_{p}
  UNION ALL
  SELECT label, cid, {i} AS rank, radius FROM (
    SELECT m.label, m.cid, m.md AS radius,
           row_number() OVER (PARTITION BY m.label ORDER BY m.md DESC, m.cid ASC) AS rn
    FROM (SELECT d.label, d.pa AS cid, min(d.dist) AS md
          FROM d JOIN sel_{p} s ON s.label = d.label AND s.cid = d.pb
          WHERE NOT EXISTS (SELECT 1 FROM sel_{p} x
                            WHERE x.label = d.label AND x.cid = d.pa)
          GROUP BY d.label, d.pa) m
  ) WHERE rn = 1)"""
        )
    parts.append(
        f"""
SELECT label, CAST(rank AS BIGINT) AS rank, cid AS vec_id,
       round(radius, 6) AS radius
FROM sel_{_KC_K}
"""
    )
    return "".join(parts)


@query("coreset_kcenter", _kcenter_oracle())
def coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (operators/diversify.py::k_center_select):
    per label, the Gonzalez farthest-first sweep picks k=5 maximally
    spread exemplars — the dataset-pruning step that keeps coverage while
    dropping redundant mass. Pool-blocked (label here, a k-means cell at
    100 TB — the semantic_dedup machinery), so the pair block stays N²
    per pool, never all-pairs. Bit-exact oracle: all rounds unrolled."""
    from chatbot_spark.operators.diversify import k_center_select

    pts = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _KC_MAX_ID)
    res = k_center_select(pts, k=_KC_K, pool_col="label", id_col="vec_id",
                          vec_col="embedding")
    return res.select(
        "label", "rank", "vec_id", F.round("radius", 6).alias("radius")
    )


_RM3_W = (
    "(((SELECT n_docs FROM n) - d.df + 0.5) / (d.df + 0.5))"
    " * ((CAST(p.tf AS DOUBLE) * (1.2 + 1.0))"
    " / (CAST(p.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (SELECT avgdl FROM ad))))"
)

@query(
    "rm3_expanded_search",
    f"""
WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM c),
post AS (
  SELECT doc_id AS id, tok AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM c) s
  GROUP BY doc_id, tok),
dfreq AS (SELECT token, count(*) AS df FROM post GROUP BY token),
dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY id),
ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
qraw AS (SELECT doc_id AS query_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS token
         FROM c WHERE doc_id < 3),
qterms AS (SELECT DISTINCT query_id, token FROM qraw),
contrib AS (
  SELECT q.query_id, p.id AS neighbor_id, q.token, {_RM3_W} AS w
  FROM qterms q
  JOIN dfreq d ON d.token = q.token
  JOIN post p ON p.token = q.token
  JOIN dl l ON l.id = p.id),
scored1 AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(w ORDER BY token)),
                     (acc, x) -> acc + x) AS score
  FROM contrib GROUP BY query_id, neighbor_id),
fb AS MATERIALIZED (
  SELECT query_id, neighbor_id AS fb_id, score AS fb_score, fb_rank FROM (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS fb_rank
    FROM scored1) WHERE fb_rank <= 5),
rm1 AS (
  SELECT f.query_id, p.token,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(CAST(p.tf AS DOUBLE) / CAST(l.dl AS DOUBLE) * f.fb_score ORDER BY f.fb_rank)),
           (acc, x) -> acc + x) AS rm1w
  FROM fb f JOIN post p ON p.id = f.fb_id JOIN dl l ON l.id = p.id
  GROUP BY f.query_id, p.token),
kept AS MATERIALIZED (
  SELECT query_id, token, rm1w FROM (
    SELECT query_id, token, rm1w,
           row_number() OVER (PARTITION BY query_id ORDER BY rm1w DESC, token ASC) AS tr
    FROM rm1) WHERE tr <= 10),
nrm AS (
  SELECT query_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(rm1w ORDER BY token)),
                     (acc, x) -> acc + x) AS z
  FROM kept GROUP BY query_id),
expansion AS (
  SELECT k2.query_id, k2.token, k2.rm1w / n2.z AS rm1n
  FROM kept k2 JOIN nrm n2 ON n2.query_id = k2.query_id),
qlen AS (SELECT query_id, count(*) AS qlen FROM qraw GROUP BY query_id),
qtf AS (SELECT query_id, token, count(*) AS qtf FROM qraw GROUP BY query_id, token),
orig AS (
  SELECT t.query_id, t.token, CAST(t.qtf AS DOUBLE) / CAST(ql.qlen AS DOUBLE) AS ow
  FROM qtf t JOIN qlen ql ON ql.query_id = t.query_id),
weights AS MATERIALIZED (
  SELECT COALESCE(o.query_id, e.query_id) AS query_id,
         COALESCE(o.token, e.token) AS token,
         0.5 * COALESCE(o.ow, 0.0) + (1.0 - 0.5) * COALESCE(e.rm1n, 0.0) AS qw
  FROM orig o FULL OUTER JOIN expansion e
    ON e.query_id = o.query_id AND e.token = o.token),
contrib2 AS (
  SELECT q.query_id, p.id AS neighbor_id, q.token, q.qw * ({_RM3_W}) AS ww
  FROM weights q
  JOIN dfreq d ON d.token = q.token
  JOIN post p ON p.token = q.token
  JOIN dl l ON l.id = p.id),
scored2 AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(ww ORDER BY token)),
                     (acc, x) -> acc + x) AS score
  FROM contrib2 GROUP BY query_id, neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored2)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= 10
""",
)
def rm3_expanded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 + RM3 pseudo-relevance feedback
    (operators/lexical.py::bm25_rm3_topk) over the same 200-doc corpus /
    3-query workload as bm25_topk: 5 feedback docs, 10 expansion terms,
    alpha=0.5 interpolation, rational idf. The oracle replays BOTH
    retrieval passes, the RM1 estimation (folded over feedback rank), the
    top-term cut, the normalizer and the interpolation — bit-exact."""
    from chatbot_spark.operators.lexical import bm25_rm3_topk

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    queries_df = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    res = bm25_rm3_topk(queries_df, docs, k=10, n_fb=5, m_terms=10, alpha=0.5)
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


@query(
    "incremental_join_view",
    """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents,
       CAST(sum(o.o_orderkey) AS BIGINT) AS key_checksum
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
""",
    sf1=True,
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance (operators/ivm.py::delta_join_view):
    orders arrive in 3 date-sliced batches while customer grows in 3
    keyed batches; the view is maintained purely from the delta algebra
    ΔA⋈B_prev ∪ A_prev⋈ΔB ∪ ΔA⋈ΔB — no rebuild, no rescan of the
    previously-materialized view. The oracle is the full join recompute:
    exact equality (count + integer checksums per segment) IS the
    maintenance invariant — it proves the 3-term tiling covers every
    (order, customer) pair exactly once."""
    from chatbot_spark.operators.ivm import delta_join_view

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cuts = [
        ("1970-01-01", "1997-04-01"),
        ("1997-04-01", "1999-07-01"),
        ("1999-07-01", "2099-01-01"),
    ]
    o_slices = [
        o.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)).select(
            F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
        )
        for lo, hi in cuts
    ]
    c_slices = [
        c.filter(F.col("c_custkey") % 3 == i).select(
            F.col("c_custkey").alias("custkey"), "c_mktsegment"
        )
        for i in range(3)
    ]
    view = delta_join_view(o_slices, c_slices, on="custkey")
    return view.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("price_cents"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


@query(
    "incremental_join_view_stored",
    """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents,
       CAST(sum(o.o_orderkey) AS BIGINT) AS key_checksum
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
""",
)
def incremental_join_view_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED-base-table twin of incremental_join_view
    (operators/ivm.py::delta_join_refresh_stored): both sides are first
    WRITTEN as parquet tables partitioned by an integer batch column —
    the state a production maintenance pipeline actually owns — and each
    refresh reads Δ (batch == t) and the accumulated prev side
    (batch < t) straight from storage with PARTITION PRUNING, instead of
    holding every prior in-memory slice in one O(T²)-scan lazy union.
    The oracle is the full join recompute: exact equality per segment
    proves the per-refresh tiling over stored partitions covers every
    (order, customer) pair exactly once. At 100 TB this is the shape
    that matters: a refresh shuffles |Δ| plus matched base keys, and the
    scan's PartitionFilters keep it from ever re-reading the whole
    fact table."""
    import tempfile

    from chatbot_spark.operators.ivm import delta_join_view_stored

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cuts = [
        ("1970-01-01", "1997-04-01"),
        ("1997-04-01", "1999-07-01"),
        ("1999-07-01", "2099-01-01"),
    ]
    batch_expr = F.when(F.col("o_orderdate") < cuts[0][1], 0).when(
        F.col("o_orderdate") < cuts[1][1], 1
    ).otherwise(2)
    base = tempfile.mkdtemp(prefix="cbs_ivm_stored_")
    o_path, c_path = f"{base}/orders", f"{base}/customer"
    (
        o.withColumn("__batch", batch_expr.cast("int"))
        .select(
            F.col("o_custkey").alias("custkey"),
            "o_orderkey",
            "o_totalprice",
            "__batch",
        )
        .write.partitionBy("__batch")
        .parquet(o_path)
    )
    (
        c.withColumn("__batch", (F.col("c_custkey") % 3).cast("int"))
        .select(F.col("c_custkey").alias("custkey"), "c_mktsegment", "__batch")
        .write.partitionBy("__batch")
        .parquet(c_path)
    )
    view = delta_join_view_stored(
        spark.read.parquet(o_path),
        spark.read.parquet(c_path),
        batch_col="__batch",
        on="custkey",
        n_batches=3,
    )
    return view.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("price_cents"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


@query(
    "k_anonymity_audit",
    """
WITH cls AS (
  SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         count(*) AS class_size,
         count(DISTINCT c_mktsegment) AS n_sensitive
  FROM customer GROUP BY c_nationkey, bal_band)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_k,
       CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS rows_below_k,
       CAST(sum(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_l,
       CAST(sum(CASE WHEN n_sensitive < 2 THEN class_size ELSE 0 END) AS BIGINT) AS rows_below_l,
       CAST(min(class_size) AS BIGINT) AS min_class_size,
       CAST(min(n_sensitive) AS BIGINT) AS min_l
FROM cls
""",
    sf1=True,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release audit
    (operators/privacy.py::k_anonymity_report): quasi-identifiers are
    (nation, account-balance band), the sensitive attribute is market
    segment, k=5, l=2 — the pre-release re-identification risk gate that
    complements the pii_redact scrub. One shuffle on the QI tuple, one
    summary fold, exact integers end to end."""
    from chatbot_spark.operators.privacy import k_anonymity_report

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    return k_anonymity_report(
        cust, ["c_nationkey", "bal_band"], "c_mktsegment", k=5, l=2
    )


_LPA_ROUNDS = 4


_LPA_RAW_SQL = """
  SELECT doc_id % 120 AS u, (doc_id + 1) % 120 AS v FROM d
  UNION ALL SELECT doc_id % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 2 = 0
  UNION ALL SELECT (doc_id + 1) % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 3 = 0
  UNION ALL SELECT doc_id % 120, (doc_id * 7 + 13) % 120 FROM d WHERE doc_id % 5 = 0"""


def _lpa_oracle(raw_sql: str = _LPA_RAW_SQL) -> str:
    """Unrolled deterministic LPA: each round every node adopts its
    neighbors' most frequent label (count DESC, label ASC). Each round
    references the previous one twice (carry + join) → MATERIALIZED per
    the iterative-oracle discipline. ``raw_sql`` selects the (u, v) edge
    list from the ``d`` doc-id CTE — the incremental variant replays the
    SAME from-scratch recurrence on its UPDATED edge set, which is
    exactly the equality incremental_lpa claims."""
    parts = [
        f"""
WITH d AS (SELECT doc_id FROM documents),
raw AS ({raw_sql}),
e0 AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM raw WHERE u <> v
    UNION ALL
    SELECT v, u FROM raw WHERE u <> v)),
lab_0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS label FROM e0)"""
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        p = r - 1
        parts.append(
            f""",
lab_{r} AS MATERIALIZED (
  SELECT n.node, COALESCE(b.label, n.label) AS label
  FROM lab_{p} n
  LEFT JOIN (
    SELECT node, label FROM (
      SELECT e.u AS node, l.label, count(*) AS cnt,
             row_number() OVER (PARTITION BY e.u
               ORDER BY count(*) DESC, l.label ASC) AS rn
      FROM e0 e JOIN lab_{p} l ON l.node = e.v
      GROUP BY e.u, l.label) WHERE rn = 1) b
  ON b.node = n.node)"""
        )
    parts.append(
        f"""
SELECT label AS community, CAST(count(*) AS BIGINT) AS size,
       CAST(sum(node) AS BIGINT) AS member_checksum
FROM lab_{_LPA_ROUNDS} GROUP BY label
"""
    )
    return "".join(parts)


@query("lpa_communities", _lpa_oracle(), sf1=True)
def lpa_communities_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation
    (operators/graph.py::lpa_communities, 4 rounds) over the same
    120-host ring-with-chords graph as host_triangles — the community
    detection signal of web-graph curation (link farms / topical
    clusters). Ties go to the smallest label so the run is a pure
    function of the edge set; the oracle replays all 4 synchronous
    rounds exactly. Per round: one shuffle-join keyed by node + one
    grouped count + per-node argmax over a persisted symmetrized edge
    set, with per-round localCheckpoint (graph.iterate) so the plan
    stays O(1) deep however many rounds run."""
    from chatbot_spark.operators.graph import lpa_communities

    docs = load_table(spark, sf_dir, "documents")
    h = F.col("doc_id") % 120
    raw = (
        docs.select(h.alias("src"), ((F.col("doc_id") + 1) % 120).alias("dst"))
        .union(
            docs.filter(F.col("doc_id") % 2 == 0).select(
                h.alias("src"), ((F.col("doc_id") + 2) % 120).alias("dst")
            )
        )
        .union(
            docs.filter(F.col("doc_id") % 3 == 0).select(
                ((F.col("doc_id") + 1) % 120).alias("src"),
                ((F.col("doc_id") + 2) % 120).alias("dst"),
            )
        )
        .union(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                h.alias("src"), ((F.col("doc_id") * 7 + 13) % 120).alias("dst")
            )
        )
    )
    labels = lpa_communities(raw, rounds=_LPA_ROUNDS)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").cast("long").alias("size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


_LPA_UPD_RAW_SQL = """
  SELECT doc_id % 120 AS u, (doc_id + 1) % 120 AS v FROM d
  UNION ALL SELECT doc_id % 120, (doc_id + 2) % 120 FROM d WHERE doc_id % 2 = 0
  UNION ALL SELECT doc_id % 120, (doc_id * 7 + 13) % 120 FROM d WHERE doc_id % 5 = 0"""


@query("incremental_lpa", _lpa_oracle(_LPA_UPD_RAW_SQL), sf1=True, gateoff=True)
def incremental_lpa_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental community maintenance
    (operators/graph.py::incremental_lpa): the previous snapshot ran LPA
    on ring + %2-chords + %3-chords and stored its per-round label
    history (lpa_with_history); the crawl delta REMOVES the %3 chord
    family and ADDS the %5 scramble family. The refresh recomputes only
    the frontier — nodes within r hops of a changed edge at round r —
    reading off-frontier neighbor labels from the stored history. The
    oracle is the FULL from-scratch unrolled recurrence on the updated
    graph: hash equality is the induction proof that frontier refresh ≡
    rebuild. changed_edges is passed as the union of both differing
    families (a superset of the true symmetric difference is always
    safe — the frontier only widens)."""
    from chatbot_spark.operators.graph import incremental_lpa, lpa_with_history

    docs = load_table(spark, sf_dir, "documents")
    h = F.col("doc_id") % 120
    ring = docs.select(h.alias("src"), ((F.col("doc_id") + 1) % 120).alias("dst"))
    two = docs.filter(F.col("doc_id") % 2 == 0).select(
        h.alias("src"), ((F.col("doc_id") + 2) % 120).alias("dst")
    )
    three = docs.filter(F.col("doc_id") % 3 == 0).select(
        ((F.col("doc_id") + 1) % 120).alias("src"),
        ((F.col("doc_id") + 2) % 120).alias("dst"),
    )
    five = docs.filter(F.col("doc_id") % 5 == 0).select(
        h.alias("src"), ((F.col("doc_id") * 7 + 13) % 120).alias("dst")
    )
    base = ring.union(two).union(three)
    upd = ring.union(two).union(five)
    changed = three.union(five)
    hist = lpa_with_history(base, rounds=_LPA_ROUNDS)
    labels = incremental_lpa(upd, changed, hist)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").cast("long").alias("size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


@query(
    "constraint_audit",
    """
WITH n AS (SELECT count(*) AS n_rows FROM orders),
t AS (
  SELECT 'complete(o_orderdate)' AS check_name,
         (SELECT count(*) FROM orders WHERE o_orderdate IS NULL) AS v
  UNION ALL
  SELECT 'complete(o_custkey)',
         (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
  UNION ALL
  SELECT 'unique(o_orderkey)',
         (SELECT count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders)
  UNION ALL
  SELECT 'range(o_totalprice,[0,200000])',
         (SELECT count(*) FROM orders
          WHERE o_totalprice IS NOT NULL
            AND o_totalprice NOT BETWEEN 0 AND 200000)
  UNION ALL
  SELECT 'in_set(o_orderstatus)',
         (SELECT count(*) FROM orders
          WHERE o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('O', 'F'))
  UNION ALL
  SELECT 'fk(o_custkey)',
         (SELECT count(*) FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)))
SELECT t.check_name, CAST(n.n_rows AS BIGINT) AS n_rows,
       CAST(t.v AS BIGINT) AS n_violations,
       CAST(CASE WHEN t.v = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM t, n
""",
    sf1=True,
)
def constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/quality.py): five
    in-table constraints compiled into ONE aggregation scan of orders
    (completeness, uniqueness, a range band chosen to actually catch
    rows, and a membership set that flags the rare 'P' status) plus
    referential integrity to customer as a broadcast anti-join — the
    Deequ-shaped pre-publish audit. Exact integer violation counts."""
    from chatbot_spark.operators.quality import (
        audit_table,
        fk_violations,
        union_audits,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    table_part = audit_table(
        o,
        completeness=["o_orderdate", "o_custkey"],
        unique=["o_orderkey"],
        ranges={"o_totalprice": (0, 200000)},
        memberships={"o_orderstatus": ["O", "F"]},
    )
    return union_audits([table_part, fk_violations(o, "o_custkey", c, "c_custkey")])


@query(
    "ols_daily_trend",
    """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS x,
         sum(CAST(round(value * 100) AS BIGINT)) AS y
  FROM events GROUP BY event_type, x),
s AS (
  SELECT event_type,
         count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM daily GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6) AS slope,
       round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             THEN (CAST(sy AS DOUBLE)
                   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) END, 6) AS intercept,
       round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                   AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
             THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END, 6) AS r2
FROM s
""",
    sf1=True,
)
def ols_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise closed-form OLS (operators/timeseries.py::groupwise_ols):
    per event type, regress daily revenue-cents on the day index via
    exact-BIGINT sufficient statistics — two shuffles total (daily
    rollup, then the per-group fold), no iteration, the distributed
    regression primitive of metric trending/forecasting at 100 TB. The
    oracle replays the identical double-expression shape on the same
    integer statistics — bit-exact at round(6)."""
    from chatbot_spark.operators.timeseries import groupwise_ols

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.lit("2024-01-01").cast("date"),
            ).alias("x"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    )
    res = groupwise_ols(daily, ["event_type"], "x", "y")
    return res.select(
        "event_type", "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )


@query(
    "point_in_time_features",
    """
WITH feed AS (
  SELECT user_id, ts, event_type, event_id FROM (
    SELECT user_id, ts, event_type, event_id,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rr
    FROM events) WHERE rr = 1),
chg AS (
  SELECT user_id, ts, event_type FROM (
    SELECT user_id, ts, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
    FROM feed) WHERE rn = 1 OR event_type <> prev),
iv AS (
  SELECT user_id, event_type AS state, ts AS valid_from FROM chg),
p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
pit AS (
  SELECT event_id, user_id, value, state FROM (
    SELECT p.event_id, p.user_id, p.value, iv.state,
           row_number() OVER (PARTITION BY p.event_id ORDER BY iv.valid_from DESC) AS rn
    FROM p LEFT JOIN iv ON iv.user_id = p.user_id AND iv.valid_from < p.ts)
  WHERE rn = 1)
SELECT COALESCE(state, '__none') AS prior_state,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM pit GROUP BY prior_state
""",
)
def point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: every purchase is enriched with
    the user's SCD2 state version valid STRICTLY BEFORE the purchase
    instant — the label-leakage guard of training-set assembly (a
    feature computed AT the label's own timestamp may already contain
    the label). Composes scd2_intervals (one exchange) with the strict
    backward as-of join (operators/joins.py:28 — one union+window pass,
    never a per-row range probe); the change feed is deduped to one row
    per (user, ts) with the max event id so interval starts are unique
    and the as-of match is deterministic. At 100 TB both passes shuffle
    on user_id only."""
    from chatbot_spark.operators.joins import asof_join
    from chatbot_spark.operators.scd import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    wdup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    feed = (
        ev.withColumn("__rr", F.row_number().over(wdup))
        .filter(F.col("__rr") == 1)
        .select("user_id", "ts", "event_type", "event_id")
    )
    iv = scd2_intervals(feed, key_col="user_id", attr_col="event_type", ts_col="ts").select(
        "user_id", F.col("event_type").alias("state"), "valid_from"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    pit = asof_join(
        purchases, iv, on="user_id", left_ts="ts", right_ts="valid_from",
        right_cols=["state"], strict=True,
    )
    return pit.groupBy(
        F.coalesce(F.col("state"), F.lit("__none")).alias("prior_state")
    ).agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("value_cents"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "retractable_rollup",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN event_id % 100 = 0 THEN CAST(round(value * 100) AS BIGINT) + 13
                     WHEN event_id % 10 = 0 THEN CAST(round(value * 100) AS BIGINT) + 7
                     ELSE CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS total,
       CAST(sum(CASE WHEN event_id % 100 = 0 THEN 2
                     WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_retractions
FROM events GROUP BY event_type
""",
)
def retractable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-aware aggregate maintenance
    (operators/ivm.py::retractable_rollup): batch 1 reports every event;
    batch 2 CORRECTS every 10th event (+7 cents) as a (-1, old)/(+1, new)
    retraction pair; batch 3 re-corrects every 100th (+13 over the
    original, retracting the +7 version). The maintained signed partials
    must equal the direct recompute of the final corrected state — and
    n_retractions pins that corrections flowed through the retract
    algebra (an upsert rewrite would report zero). This is the z-set /
    Flink-retract shape that append-only incremental_rollup cannot
    express: aggregates move DOWN without rescanning earlier batches."""
    from chatbot_spark.operators.ivm import retractable_rollup as _rr

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    b1 = ev.select("event_type", F.lit(1).alias("mult"), F.col("cents").alias("v"))
    c10 = ev.filter(F.col("event_id") % 10 == 0)
    b2 = c10.select("event_type", F.lit(-1).alias("mult"), F.col("cents").alias("v")).unionByName(
        c10.select("event_type", F.lit(1).alias("mult"), (F.col("cents") + 7).alias("v"))
    )
    c100 = ev.filter(F.col("event_id") % 100 == 0)
    b3 = c100.select(
        "event_type", F.lit(-1).alias("mult"), (F.col("cents") + 7).alias("v")
    ).unionByName(
        c100.select("event_type", F.lit(1).alias("mult"), (F.col("cents") + 13).alias("v"))
    )
    return _rr([b1, b2, b3], ["event_type"], "mult", "v")


@query(
    "stream_retract_rollup",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN event_id % 100 = 0 THEN CAST(round(value * 100) AS BIGINT) + 13
                     WHEN event_id % 10 = 0 THEN CAST(round(value * 100) AS BIGINT) + 7
                     ELSE CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS total,
       CAST(sum(CASE WHEN event_id % 100 = 0 THEN 2
                     WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_retractions
FROM events GROUP BY event_type
""",
    bench_skip=_DRAIN,
)
def stream_retract_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming retract-stream maintenance (streaming/events.py::
    signed_partials_writer): the same three-batch correction changelog as
    retractable_rollup, delivered as micro-batches (maxFilesPerTrigger=1)
    through a foreachBatch sink that collapses each batch to SIGNED
    partials under a batch_id partition (dynamic overwrite — replay
    rewrites its own attempt). The drained partial log re-aggregates to
    the exact twice-corrected state: streaming delivery + restart
    idempotency + the retract algebra, oracle identical to the batch
    twin — stream/batch parity for corrections, not just appends."""
    import os
    import tempfile

    from chatbot_spark.streaming.events import signed_partials_writer

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    b1 = ev.select("event_type", F.lit(1).alias("mult"), F.col("cents").alias("v"))
    c10 = ev.filter(F.col("event_id") % 10 == 0)
    b2 = c10.select("event_type", F.lit(-1).alias("mult"), F.col("cents").alias("v")).unionByName(
        c10.select("event_type", F.lit(1).alias("mult"), (F.col("cents") + 7).alias("v"))
    )
    c100 = ev.filter(F.col("event_id") % 100 == 0)
    b3 = c100.select(
        "event_type", F.lit(-1).alias("mult"), (F.col("cents") + 7).alias("v")
    ).unionByName(
        c100.select("event_type", F.lit(1).alias("mult"), (F.col("cents") + 13).alias("v"))
    )
    base = tempfile.mkdtemp(prefix="cbs_sretract_q_")
    inpath = os.path.join(base, "in")
    for b in (b1, b2, b3):
        b.coalesce(1).write.mode("append").parquet(inpath)
    stream = (
        spark.readStream.schema("event_type string, mult int, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(inpath)
    )
    partials_dir = os.path.join(base, "partials")
    q = (
        stream.writeStream.foreachBatch(
            signed_partials_writer(partials_dir, ["event_type"], "mult", "v")
        )
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    partials = spark.read.parquet(partials_dir)
    return partials.groupBy("event_type").agg(
        F.sum("p_n").cast("long").alias("n"),
        F.sum("p_sum").cast("long").alias("total"),
        F.sum("p_retr").cast("long").alias("n_retractions"),
    )


@query(
    "graph_knn_deleted",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
rem AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 0),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, rem c),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs),
topk AS (
  SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist
  FROM ranked WHERE rank <= 10)
SELECT ph.phase, t.query_id, t.neighbor_id, t.rank, t.dist
FROM topk t CROSS JOIN (SELECT 'tombstoned' AS phase UNION ALL SELECT 'compacted') ph
""",
    bench_skip="bundles build + two full-probe phases; timed as nsw_build/nsw_search",
    recheck_round=14,  # NSW build: f32 candidate selection
)
def graph_knn_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector deletes on the graph index (hnsw.py::delete /
    compact_deletes) — the CRUD leg build/append/rebalance don't cover:
    every 7th vector is tombstoned (stays a ROUTING node, never a
    result), then the affected shards are compacted away. BOTH phases
    are full-probed and must equal the exact scan over the REMAINING
    corpus bit-for-bit — the tombstone filter and the shard-local
    rebuild each preserve exactness, proven independently in one query."""
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_from_embeddings(spark, sf_dir)
    index = NSWGraphIndex.build(
        emb, vec_col="embedding", id_col="vec_id", nlist=4, m=8,
        ef_construction=64,
    )
    del_ids = [
        int(r[0])
        for r in emb.filter(F.col("vec_id") % 7 == 0).select("vec_id").collect()
    ]
    deleted = index.delete(del_ids)
    def run(ix, phase):
        # exact_fallback=False: certifies the walk + tombstone routing
        res = ix.search(
            q, k=10, nprobe=4, ef_search=1_000_000, exact_fallback=False
        )
        return res.select(
            F.lit(phase).alias("phase"), "query_id", "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("dist", 6).alias("dist"),
        )
    compacted = deleted.compact_deletes(m=8, ef_construction=64)
    return run(deleted, "tombstoned").unionByName(run(compacted, "compacted"))


@query(
    "stream_point_in_time",
    """
WITH feed AS (
  SELECT user_id, ts, event_type, event_id FROM (
    SELECT user_id, ts, event_type, event_id,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rr
    FROM events) WHERE rr = 1),
chg AS (
  SELECT user_id, ts, event_type FROM (
    SELECT user_id, ts, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
    FROM feed) WHERE rn = 1 OR event_type <> prev),
iv AS (
  SELECT user_id, event_type AS state, ts AS valid_from FROM chg),
p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
pit AS (
  SELECT event_id, user_id, value, state FROM (
    SELECT p.event_id, p.user_id, p.value, iv.state,
           row_number() OVER (PARTITION BY p.event_id ORDER BY iv.valid_from DESC) AS rn
    FROM p LEFT JOIN iv ON iv.user_id = p.user_id AND iv.valid_from < p.ts)
  WHERE rn = 1)
SELECT COALESCE(state, '__none') AS prior_state,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM pit GROUP BY prior_state
""",
    bench_skip=_DRAIN,
)
def stream_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming feature materialization: the purchase stream replays as
    3 time-sliced micro-batches; EACH batch runs the strict backward
    as-of against the static SCD2 dimension inside foreachBatch (the
    feature-store online-materialization pattern — Spark's stream-static
    join is equi-only, so the temporal lookup runs batch-side per
    trigger) and lands in the batch_id-partitioned idempotent sink. The
    drained enriched rows aggregate to EXACTLY the batch
    point_in_time_features answer — stream/batch parity for the
    leakage-safe temporal join."""
    import os
    import tempfile

    from chatbot_spark.operators.joins import asof_join
    from chatbot_spark.operators.scd import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    wdup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    feed = (
        ev.withColumn("__rr", F.row_number().over(wdup))
        .filter(F.col("__rr") == 1)
        .select("user_id", "ts", "event_type", "event_id")
    )
    iv = scd2_intervals(feed, key_col="user_id", attr_col="event_type", ts_col="ts").select(
        "user_id", F.col("event_type").alias("state"), "valid_from"
    ).persist()
    iv.count()  # the static dimension is materialized once, before the stream

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    base = tempfile.mkdtemp(prefix="cbs_spit_q_")
    inpath = os.path.join(base, "in")
    cuts = ["2024-01-11", "2024-01-21", "2099-01-01"]
    lo = "1970-01-01"
    for hi in cuts:
        purchases.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(inpath)
        lo = hi
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(inpath)
    )
    out_path = os.path.join(base, "enriched")

    def enrich_batch(batch_df: DataFrame, batch_id: int) -> None:
        pit = asof_join(
            batch_df, iv, on="user_id", left_ts="ts", right_ts="valid_from",
            right_cols=["state"], strict=True,
        )
        (
            pit.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    q = (
        stream.writeStream.foreachBatch(enrich_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    enriched = spark.read.parquet(out_path)
    return enriched.groupBy(
        F.coalesce(F.col("state"), F.lit("__none")).alias("prior_state")
    ).agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("value_cents"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Mergeable HdrHistogram-style quantile sketch (beyond-reference §2.D family —
# operators/hdrsketch.py): fixed-size log-bucket percentiles with bounded
# relative error, built per batch and merged at question time.


@query(
    "hdr_quantile_sketch",
    """
WITH src AS (
  SELECT l_returnflag AS returnflag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
  FROM lineitem),
q AS (
  SELECT returnflag,
         v - v % CAST(pow(2.0, GREATEST(length(bin(v)) - 1 - 5, 0)) AS BIGINT) AS qv
  FROM src),
s AS (SELECT returnflag, qv, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY returnflag, qv),
cum AS (
  SELECT returnflag, qv, cnt,
         CAST(sum(cnt) OVER (PARTITION BY returnflag ORDER BY qv) AS BIGINT) AS cum
  FROM s),
tot AS (SELECT returnflag, CAST(sum(cnt) AS BIGINT) AS n FROM s GROUP BY returnflag),
ranks AS (
  SELECT t.returnflag, CAST(p.q_ppm AS BIGINT) AS q_ppm,
         CAST(greatest((p.q_ppm * t.n + 999999) // 1000000, 1) AS BIGINT) AS rank_target
  FROM tot t CROSS JOIN (SELECT unnest([500000, 900000, 990000]) AS q_ppm) p)
SELECT c.returnflag, r.q_ppm, r.rank_target, c.qv AS quantile
FROM cum c
JOIN ranks r ON c.returnflag = r.returnflag
            AND c.cum - c.cnt < r.rank_target AND r.rank_target <= c.cum
""",
    sf1=True,
)
def hdr_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of lineitem price-in-cents per returnflag via the
    mergeable log-bucket sketch (operators/hdrsketch.py): ONE map-side-
    combinable scan builds per-(returnflag, linenumber) sketches — the
    per-batch store shape a 100 TB pipeline persists — then the batch
    dimension is merged away (groupBy-sum; associative, any merge tree)
    and each quantile is the (cum-cnt, cum] interval probe of a
    broadcast rank table, O(buckets) work. All-BIGINT quantize
    (binary-length exponent + exact pow-of-two step), so the DuckDB
    oracle replays it bit-for-bit; the returned quantile is the bucket
    lower bound, within relative 2^-5 of the true discrete quantile by
    construction. At 100 TB: raw data is scanned once per ingest batch,
    every later percentile question touches only (groups x <=1900
    buckets) stored rows — the rescan-free property is the operator."""
    from chatbot_spark.operators.hdrsketch import (
        hdr_merge,
        hdr_quantiles,
        hdr_sketch,
    )

    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linenumber").alias("batch"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("v"),
    )
    per_batch = hdr_sketch(src, "v", ["returnflag", "batch"], sub_bits=5)
    merged = hdr_merge(per_batch.drop("batch"))
    return hdr_quantiles(merged, [500000, 900000, 990000], ["returnflag"])


# ---------------------------------------------------------------------------
# Connected components (operators/components.py): hash-to-min + pointer
# jumping — the component primitive dedup clustering / crawl-island
# detection key on, as a first-class graph query.

_CC_ROUNDS = 5

_CC_RAW_SQL = """
  SELECT u, u - (u % 50) + ((u % 50 + 1) % 50) AS v FROM d
  UNION ALL
  SELECT u, u - (u % 50) + ((u % 50 + 7) % 50) FROM d WHERE doc_id % 3 = 0"""


def _cc_oracle(rounds: int = _CC_ROUNDS, raw_sql: str = _CC_RAW_SQL) -> str:
    """Unrolled hash-to-min + pointer-jump recurrence: per round a
    neighbor-min aggregation then a label-keyed shortcut self-join. Each
    round references the previous one multiple times → MATERIALIZED per
    the iterative-oracle discipline. ``raw_sql`` selects the (u, v) edge
    list from the ``d`` host CTE — the incremental variant replays the
    SAME from-scratch recurrence on its union edge set, which is exactly
    the contraction-equality incremental_components claims."""
    parts = [
        f"""
WITH d AS (SELECT doc_id % 500 AS u, doc_id FROM documents),
raw AS ({raw_sql}),
und AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM raw WHERE u <> v
    UNION ALL SELECT v AS u, u AS v FROM raw WHERE u <> v)),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM raw UNION ALL SELECT v AS node FROM raw)),
adj AS MATERIALIZED (
  SELECT u, v FROM und UNION ALL SELECT node AS u, node AS v FROM nodes),
l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
m{r} AS MATERIALIZED (
  SELECT a.u AS node, min(l.lbl) AS m
  FROM adj a JOIN l{r - 1} l ON l.node = a.v GROUP BY a.u),
l{r} AS MATERIALIZED (
  SELECT s.node, least(s.m, coalesce(t.m, s.m)) AS lbl
  FROM m{r} s LEFT JOIN m{r} t ON t.node = s.m)"""
        )
    parts.append(
        f"""
SELECT lbl AS component, CAST(count(*) AS BIGINT) AS size,
       CAST(sum(node) AS BIGINT) AS member_checksum
FROM l{rounds} GROUP BY lbl"""
    )
    return "".join(parts)


@query("host_components", _cc_oracle())
def host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (operators/components.py) over a
    deterministic 10-island host graph (500 hosts: per-island 50-node
    ring + %3-gated +7 chords, no cross-island edges) — the crawl-island
    / dedup-cluster primitive. Hash-to-min with pointer jumping: per
    round one neighbor-min aggregation plus one label-keyed shortcut
    join, so reach doubles per round (O(log diameter) rounds — measured:
    a 64-node chain converges in 6, this graph in 4; 5 pinned for
    margin). Labels are min node ids — pure integer function of the edge
    set, so the unrolled oracle replays all 5 rounds bit-for-bit. Runs
    under graph.iterate (per-round localCheckpoint): plan stays O(1)
    deep despite each round referencing the labels three times. At
    100 TB every exchange is keyed (node or label), state O(V), never
    all-pairs."""
    from chatbot_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    u = F.col("doc_id") % 500
    blk = u - (u % 50)
    ring = docs.select(u.alias("src"), (blk + (u % 50 + 1) % 50).alias("dst"))
    chord = docs.filter(F.col("doc_id") % 3 == 0).select(
        u.alias("src"), (blk + (u % 50 + 7) % 50).alias("dst")
    )
    labels = connected_components(ring.union(chord), rounds=_CC_ROUNDS)
    return labels.groupBy("component").agg(
        F.count("*").cast("long").alias("size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


@query(
    "stream_hdr_quantiles",
    """
WITH src AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events),
q AS (
  SELECT day,
         v - v % CAST(pow(2.0, GREATEST(length(bin(v)) - 1 - 5, 0)) AS BIGINT) AS qv
  FROM src),
s AS (SELECT day, qv, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY day, qv),
cum AS (
  SELECT day, qv, cnt,
         CAST(sum(cnt) OVER (PARTITION BY day ORDER BY qv) AS BIGINT) AS cum
  FROM s),
tot AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS n FROM s GROUP BY day),
ranks AS (
  SELECT t.day, CAST(p.q_ppm AS BIGINT) AS q_ppm,
         CAST(greatest((p.q_ppm * t.n + 999999) // 1000000, 1) AS BIGINT) AS rank_target
  FROM tot t CROSS JOIN (SELECT unnest([500000, 990000]) AS q_ppm) p)
SELECT c.day, r.q_ppm, r.rank_target, c.qv AS quantile
FROM cum c
JOIN ranks r ON c.day = r.day
            AND c.cum - c.cnt < r.rank_target AND r.rank_target <= c.cum
""",
)
def stream_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming percentile maintenance (streaming/events.py::
    hdr_sketch_writer over operators/hdrsketch.py): the events table is
    delivered as three date-sliced micro-batches (maxFilesPerTrigger=1);
    each batch collapses to its own per-day log-bucket sketch under a
    batch_id partition (dynamic overwrite — restart-idempotent), and the
    drained partial log merges by plain groupBy-sum to EXACTLY the sketch
    of the full table — hdr_merge's associativity is what makes
    stream/batch parity a theorem here, not an approximation SLO. p50 and
    p99 of per-day spend-cents are then O(buckets) interval probes; the
    oracle replays the whole quantize+cumsum+rank pipeline on the raw
    table, so the driver hash pins batch ≡ streaming bit-for-bit. At
    100 TB the raw stream is touched once per micro-batch and every later
    percentile question reads days x ~1900 stored rows."""
    import os
    import tempfile

    from chatbot_spark.operators.hdrsketch import hdr_merge, hdr_quantiles
    from chatbot_spark.streaming.events import hdr_sketch_writer

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date(F.col("ts")).alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
        F.col("ts"),
    )
    base = tempfile.mkdtemp(prefix="cbs_shdr_q_")
    inpath = os.path.join(base, "in")
    for lo, hi in (("2024-01-01", "2024-01-11"), ("2024-01-11", "2024-01-21"),
                   ("2024-01-21", "2024-02-01")):
        (
            ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
            .drop("ts").coalesce(1).write.mode("append").parquet(inpath)
        )
    stream = (
        spark.readStream.schema("day date, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(inpath)
    )
    partials_dir = os.path.join(base, "partials")
    q = (
        stream.writeStream.foreachBatch(
            hdr_sketch_writer(partials_dir, "v", ["day"])
        )
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = hdr_merge(spark.read.parquet(partials_dir).drop("batch_id"))
    return hdr_quantiles(merged, [500000, 990000], ["day"])


@query(
    "pmi_collocations",
    """
WITH c AS (SELECT regexp_extract_all(lower(text), '\\S+') AS toks FROM documents
           WHERE len(regexp_extract_all(lower(text), '\\S+')) >= 1),
uni AS (SELECT unnest(toks) AS w FROM c),
ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY w),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM uni),
bi AS (
  SELECT unnest(list_transform(generate_series(1, len(toks)-1), i -> toks[i])) AS w1,
         unnest(list_transform(generate_series(1, len(toks)-1), i -> toks[i+1])) AS w2
  FROM c WHERE len(toks) >= 2),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM bi),
pcnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
         FROM bi GROUP BY w1, w2 HAVING count(*) >= 5),
strong AS (SELECT w, c_w FROM ucnt WHERE c_w >= 10)
SELECT p.w1, p.w2, p.c_xy,
       round(((CAST(p.c_xy AS DOUBLE) * CAST(n.n_tok AS DOUBLE)) / CAST(nb.n_bi AS DOUBLE))
             * (CAST(n.n_tok AS DOUBLE)
                / (CAST(x.c_w AS DOUBLE) * CAST(y.c_w AS DOUBLE))), 6) AS pmi_ratio
FROM pcnt p
JOIN strong x ON x.w = p.w1
JOIN strong y ON y.w = p.w2
CROSS JOIN n CROSS JOIN nb
""",
)
def pmi_collocations_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (operators/collocations.py): adjacent-pair
    association strength over the documents corpus — tokenizer-vocab
    candidates / boilerplate-phrase discovery. One persisted tokenize
    pass feeds the unigram and bigram aggregations (map-side combinable,
    token-keyed — only ADJACENT pairs, never all-pairs, so exchange
    volume is O(tokens)); support floors (pair >= 5, unigram >= 10) cut
    the tail before the scoring join; the reported statistic is the PMI
    ratio p(x,y)/(p(x)p(y)) = exp(PMI) — transcendental-free, computed
    in a pinned DOUBLE multiply/divide order the oracle replays
    bit-for-bit (the module float discipline)."""
    from chatbot_spark.operators.collocations import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, "text", min_pair=5, min_unigram=10)


_CC_UNION_RAW_SQL = _CC_RAW_SQL + """
  UNION ALL
  SELECT u, u + 50 AS v FROM d WHERE doc_id % 100 = 0"""


@query(
    "incremental_components",
    _cc_oracle(rounds=8, raw_sql=_CC_UNION_RAW_SQL),
    sf1=True,
)
def incremental_components_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components under edge additions
    (operators/components.py::incremental_components): the previous
    snapshot solved the 10-island graph; the crawl delta ADDS five
    bridges (hosts 0-50, 100-150, 200-250, 300-350, 400-450), merging
    island pairs into five 100-node components. The refresh contracts
    each new edge to (label(u), label(v)) — two label-keyed joins — and
    solves CC on the CONTRACTED graph (10 representative nodes, not 500
    hosts), then stitches through one label-keyed join; untouched
    components pass through. The oracle is the FULL from-scratch
    unrolled recurrence on the union graph (8 rounds — the bridged
    100-node components have diameter ~51, log2-covered): hash equality
    is the proof that contraction refresh ≡ rebuild. Edge REMOVALS are
    documented as requiring recompute (splits), the same honest contract
    as incremental_lpa's superset frontier."""
    from chatbot_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    u = F.col("doc_id") % 500
    blk = u - (u % 50)
    ring = docs.select(u.alias("src"), (blk + (u % 50 + 1) % 50).alias("dst"))
    chord = docs.filter(F.col("doc_id") % 3 == 0).select(
        u.alias("src"), (blk + (u % 50 + 7) % 50).alias("dst")
    )
    bridges = docs.filter(F.col("doc_id") % 100 == 0).select(
        u.alias("src"), (u + 50).alias("dst")
    )
    prev = connected_components(
        ring.union(chord), rounds=_CC_ROUNDS, assert_converged=True
    )
    labels = incremental_components(
        prev, bridges, rounds=3, assert_converged=True
    )
    return labels.groupBy("component").agg(
        F.count("*").cast("long").alias("size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


@query(
    "mad_outlier_audit",
    """
WITH src AS (
  SELECT o_orderpriority AS priority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders),
c AS (SELECT priority, v, CAST(count(*) AS BIGINT) AS cnt FROM src GROUP BY priority, v),
cum AS (
  SELECT priority, v, cnt,
         CAST(sum(cnt) OVER (PARTITION BY priority ORDER BY v) AS BIGINT) AS cum
  FROM c),
rt AS (SELECT priority, CAST((sum(cnt) + 1) // 2 AS BIGINT) AS rt FROM c GROUP BY priority),
med AS (
  SELECT c.priority, c.v AS median
  FROM cum c JOIN rt ON rt.priority = c.priority
                    AND c.cum - c.cnt < rt.rt AND rt.rt <= c.cum),
dev AS (
  SELECT s.priority, m.median, abs(s.v - m.median) AS dv
  FROM src s JOIN med m ON m.priority = s.priority),
dc AS (SELECT priority, dv, CAST(count(*) AS BIGINT) AS cnt FROM dev GROUP BY priority, dv),
dcum AS (
  SELECT priority, dv, cnt,
         CAST(sum(cnt) OVER (PARTITION BY priority ORDER BY dv) AS BIGINT) AS cum
  FROM dc),
drt AS (SELECT priority, CAST((sum(cnt) + 1) // 2 AS BIGINT) AS rt FROM dc GROUP BY priority),
mad AS (
  SELECT d.priority, d.dv AS mad
  FROM dcum d JOIN drt ON drt.priority = d.priority
                      AND d.cum - d.cnt < drt.rt AND drt.rt <= d.cum)
SELECT v.priority, v.median, m.mad,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN 1 * v.dv > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(sum(CASE WHEN 1 * v.dv > 3 * m.mad THEN v.dv ELSE 0 END) AS BIGINT) AS outlier_dev_sum
FROM dev v JOIN mad m ON m.priority = v.priority
GROUP BY v.priority, v.median, m.mad
""",
)
def mad_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit (operators/robust.py::mad_outliers): Hampel
    flags over order totals (exact cents) per order priority — median
    and MAD both have 50% breakdown, so a corrupted tail cannot inflate
    the spread estimate and mask itself (the failure mode of mean/sigma
    z-scores). Two passes of the equi-depth interval-join median (values,
    then absolute deviations), flag is the pure-integer comparison
    den·|x−med| > num·MAD — every quantity BIGINT, both exchanges keyed
    and map-side combinable, no global sort; the oracle replays both
    cumsum+rank phases bit-for-bit."""
    from chatbot_spark.operators.robust import mad_outliers

    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("v"),
    )
    return mad_outliers(src, "v", ["priority"], k_num=3, k_den=1)


# Deterministic Zipf-ish synthetic corpus for the prefix-Jaccard family's
# REALISTIC benchmark path (round-7 verdict: the raw `text` column's
# 31-token vocabulary is the adversarial worst case — every shingle is
# corpus-frequent, the prefix filter legitimately cannot prune, and the
# bench only ever measured that). Natural text is Zipf: a tiny stopword
# head carries ~half the token mass and the tail is rare — the regime the
# prefix lemma exploits (rarest-first prefixes hit tail shingles, df≈1).
# Construction, identical in both engines (pure BIGINT LCG, no RNG):
# 24 tokens/doc; h(j) = ((seed·24 + j) · 2654435761) mod 2147483647;
# token = stopword h%5 when h%10 < 5 (5 types, 50% mass — "the/of/and"
# scale) else tail word 5 + (h div 10) % 100000. Docs with doc_id ≡ 1
# (mod 10) reuse their predecessor's seed for positions 1..22 (own seed
# past that): shingle Jaccard 20/24 = 5/6 ≥ 4/5, a 10% planted near-dup
# rate. The worst case stays pinned by prefix_jaccard_adversarial.
_ZIPF_D_CTE = """d AS (
  SELECT doc_id, list_transform(
    list_transform(generate_series(1, 24), j ->
      ((((CASE WHEN doc_id % 10 = 1 AND j <= 22 THEN doc_id - 1 ELSE doc_id END)
         % 100000007) * 24 + j) * 2654435761) % 2147483647),
    h -> 'w' || CAST(CASE WHEN h % 10 < 5 THEN (h // 10) % 5
                     ELSE 5 + (h // 10) % 100000 END AS VARCHAR)) AS toks
  FROM documents)"""

# the seed is reduced mod the prime 1e8+7 BEFORE the LCG multiply so the
# partial product stays <= (1e8+7-1)*24*2654435761 ≈ 6.4e18 < 2^63 at ANY
# doc_id (sf1's 10x replication shifts ids by i*1e8 — the unreduced form
# overflowed there under ANSI mode); consecutive ids stay distinct mod p,
# so the predecessor near-dup pairing is unaffected
_ZIPF_TEXT_EXPR = """array_join(transform(
  transform(sequence(1, 24), j ->
    (((if(doc_id % 10 = 1 and j <= 22, doc_id - 1, doc_id)
       % 100000007) * 24 + j) * 2654435761) % 2147483647),
  h -> concat('w', cast(if(h % 10 < 5, (h div 10) % 5,
                           5 + (h div 10) % 100000) as string))), ' ')"""


def _zipf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) — the Zipf synthetic corpus above, as a text column
    (the shingle operators re-tokenize on whitespace, so array_join here
    and direct token lists in the oracle meet at identical shingles)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_ZIPF_TEXT_EXPR).alias("text")
    )


@query(
    "prefix_jaccard_neardup",
    """
WITH """
    + _ZIPF_D_CTE
    + """,
sh AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(toks) - 2, 1)),
    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
  FROM d),
post AS (SELECT doc_id, unnest(s) AS tok FROM sh),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM post GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS i
  FROM post a JOIN post b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT t.id_a, t.id_b,
       CAST((t.i * 1000000) // (x.n + y.n - t.i) AS BIGINT) AS jaccard_ppm
FROM inter t
JOIN sizes x ON x.doc_id = t.id_a
JOIN sizes y ON y.doc_id = t.id_b
WHERE t.i * 5 >= (x.n + y.n - t.i) * 4
""",
    sf1=True,
    recheck_round=8,  # repointed onto the Zipf corpus
)
def prefix_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete exact near-dup join (operators/dedup.py::
    prefix_jaccard_pairs): all document pairs with 3-gram-shingle
    Jaccard >= 4/5, found by prefix filtering — docs' shingle sets
    ordered rarest-first, only the first |s|−ceil(0.8|s|)+1 shingles
    enter the self-join, so bucket fan-out is driven by the rare end of
    the vocabulary while the prefix lemma keeps the pair set COMPLETE
    (minhash can miss; the naive complete join fans out on stopword
    shingles). Runs on the deterministic Zipf corpus (_zipf_docs above)
    — natural-vocabulary statistics, the operator's design regime, with
    a 10% planted near-dup rate; the 31-token worst case stays pinned by
    prefix_jaccard_adversarial. The oracle is the NAIVE all-pairs join —
    hash equality IS the completeness proof. All threshold math integer
    (inter·5 >= union·4; jaccard_ppm BIGINT)."""
    from chatbot_spark.operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(
        _zipf_docs(spark, sf_dir), "doc_id", "text",
        shingle_n=3, t_num=4, t_den=5,
    )


@query(
    "prefix_jaccard_adversarial",
    """
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks FROM documents),
sh AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(toks) - 2, 1)),
    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
  FROM d),
post AS (SELECT doc_id, unnest(s) AS tok FROM sh),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM post GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS i
  FROM post a JOIN post b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT t.id_a, t.id_b,
       CAST((t.i * 1000000) // (x.n + y.n - t.i) AS BIGINT) AS jaccard_ppm
FROM inter t
JOIN sizes x ON x.doc_id = t.id_a
JOIN sizes y ON y.doc_id = t.id_b
WHERE t.i * 5 >= (x.n + y.n - t.i) * 4
""",
    bench_skip="small correctness pin; prefix_jaccard_neardup is benched",
)
def prefix_jaccard_adversarial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefix join's ADVERSARIAL worst case, kept as a small
    correctness pin (driver-checked at sf0.01; not a headline bench
    entry): the raw documents.text column has a ~31-token vocabulary, so
    every 3-gram shingle is corpus-frequent and the prefix filter
    legitimately cannot prune — completeness must hold anyway. Same
    operator, same naive all-pairs oracle; the realistic-regime twin is
    prefix_jaccard_neardup (Zipf corpus), benchmarked in
    BENCH_PREFIXJOIN.json."""
    from chatbot_spark.operators.dedup import prefix_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, t_num=4, t_den=5
    )


@query(
    "hdr_sketch_slice",
    """
WITH src AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
  WHERE CAST(ts AS DATE) >= DATE '2024-01-08' AND CAST(ts AS DATE) < DATE '2024-01-22'),
q AS (
  SELECT v - v % CAST(pow(2.0, GREATEST(length(bin(v)) - 1 - 5, 0)) AS BIGINT) AS qv
  FROM src),
s AS (SELECT qv, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY qv),
cum AS (SELECT qv, cnt, CAST(sum(cnt) OVER (ORDER BY qv) AS BIGINT) AS cum FROM s),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM s),
ranks AS (
  SELECT CAST(p.q_ppm AS BIGINT) AS q_ppm,
         CAST(greatest((p.q_ppm * t.n + 999999) // 1000000, 1) AS BIGINT) AS rank_target
  FROM tot t CROSS JOIN (SELECT unnest([500000, 900000, 990000]) AS q_ppm) p)
SELECT r.q_ppm, r.rank_target, c.qv AS quantile
FROM cum c JOIN ranks r ON c.cum - c.cnt < r.rank_target AND r.rank_target <= c.cum
""",
    sf1=True,
)
def hdr_sketch_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-sketch-table contract (operators/hdrsketch.py): per-day
    sketches are WRITTEN as a day-partitioned parquet store (one ingest
    scan, ~<=1900 rows/day), and a later percentile question over an
    arbitrary two-week slice reads ONLY that slice's partitions — the
    day filter prunes at the store listing, the raw corpus is never
    rescanned. Merge is groupBy-sum over days x buckets rows; p50/p90/p99
    drop out of the broadcast interval probe. The oracle recomputes from
    the raw table restricted to the same slice — bit-equality proves the
    store round-trip (write → prune → merge) is lossless. This is the
    percentile-dashboard shape at 100 TB: O(buckets) stored rows per
    (day), every question O(days_in_slice x buckets)."""
    import os
    import tempfile

    from chatbot_spark.operators.hdrsketch import (
        hdr_merge,
        hdr_quantiles,
        hdr_sketch,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date(F.col("ts")).alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
    )
    base = tempfile.mkdtemp(prefix="cbs_hdrstore_q_")
    store = os.path.join(base, "sketch_store")
    hdr_sketch(ev, "v", ["day"]).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(store)
    sliced = spark.read.parquet(store).filter(
        (F.col("day") >= F.lit("2024-01-08")) & (F.col("day") < F.lit("2024-01-22"))
    )
    merged = hdr_merge(sliced.drop("day"))
    return hdr_quantiles(merged, [500000, 900000, 990000])


def _neardup_cluster_oracle(cc_rounds: int = 4) -> str:
    """Naive complete pair join (the prefix-filter oracle) feeding the
    unrolled hash-to-min + pointer-jump recurrence — the two proofs
    composed: completeness of the pair set AND exactness of the
    clustering. Runs on the Zipf synthetic corpus (_ZIPF_D_CTE) — the
    realistic prefix-filter regime; the worst case is pinned separately
    by prefix_jaccard_adversarial."""
    head = (
        "\nWITH "
        + _ZIPF_D_CTE
        + """,
shs AS ("""
    )
    head += """
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(toks) - 2, 1)),
    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
  FROM d),
post AS (SELECT doc_id, unnest(s) AS tok FROM shs),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM post GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS u, b.doc_id AS v, CAST(count(*) AS BIGINT) AS i
  FROM post a JOIN post b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS MATERIALIZED (
  SELECT t.u, t.v FROM inter t
  JOIN sizes x ON x.doc_id = t.u JOIN sizes y ON y.doc_id = t.v
  WHERE t.i * 5 >= (x.n + y.n - t.i) * 4),
und AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs)),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs)),
adj AS MATERIALIZED (
  SELECT u, v FROM und UNION ALL SELECT node AS u, node AS v FROM nodes),
l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes)"""
    rounds = []
    for r in range(1, cc_rounds + 1):
        rounds.append(
            f""",
m{r} AS MATERIALIZED (
  SELECT a.u AS node, min(l.lbl) AS m
  FROM adj a JOIN l{r - 1} l ON l.node = a.v GROUP BY a.u),
l{r} AS MATERIALIZED (
  SELECT s.node, least(s.m, coalesce(t.m, s.m)) AS lbl
  FROM m{r} s LEFT JOIN m{r} t ON t.node = s.m)"""
        )
    tail = f"""
SELECT lbl AS cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(sum(node) AS BIGINT) AS member_checksum
FROM l{cc_rounds} GROUP BY lbl"""
    return head + "".join(rounds) + tail


# recheck_round 8: repointed onto the Zipf corpus
@query("neardup_clusters_exact", _neardup_cluster_oracle(), sf1=True, recheck_round=8)
def neardup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact near-dup CLUSTER table — the composition a dedup
    pipeline actually materializes: prefix-filtered complete Jaccard
    join (operators/dedup.py::prefix_jaccard_pairs, J >= 4/5, no missed
    pair by the prefix lemma) feeding hash-to-min connected components
    (operators/components.py, min-doc-id cluster representatives). Each
    cluster keeps its min doc_id as the canonical survivor — the
    keep-one policy downstream filters join against. Both stages are
    individually oracle-pinned (prefix_jaccard_neardup,
    host_components); this query pins their COMPOSITION: the oracle is
    the naive all-pairs join + the unrolled CC recurrence, so a missed
    pair or a wrong merge anywhere breaks the hash. Runs on the Zipf
    synthetic corpus (_zipf_docs) — natural-vocabulary statistics, where
    the planted 10% predecessor near-dups give size-2 clusters; the
    31-token worst case stays pinned by prefix_jaccard_adversarial."""
    from chatbot_spark.operators.components import connected_components
    from chatbot_spark.operators.dedup import prefix_jaccard_pairs

    pairs = prefix_jaccard_pairs(
        _zipf_docs(spark, sf_dir), "doc_id", "text",
        shingle_n=3, t_num=4, t_den=5,
    )
    labels = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        rounds=4,
        # the oracle replays the SAME truncated recurrence, so a pin that
        # stops short of the fixpoint at a larger sf would stay hash-green
        # while cluster ids quietly stop being component minima — fail loud
        assert_converged=True,
    )
    return labels.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count("*").cast("long").alias("cluster_size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


@query("stream_components", _cc_oracle(rounds=8, raw_sql=_CC_UNION_RAW_SQL), sf1=True)
def stream_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming graph maintenance: the component table kept current as
    edges ARRIVE — rings, chords, and bridges of the 10-island graph
    delivered as three micro-batches (maxFilesPerTrigger=1); each batch
    folds into the stored labels via incremental_components (contract →
    delta-sized solve → stitch), written as a versioned snapshot keyed
    by batch_id (replay rewrites its own version — restart-idempotent).
    Edge ADDITIONS commute for connected components, so the sequential
    fold is EXACTLY from-scratch CC on everything seen — the oracle is
    the same 8-round unrolled recurrence on the union graph that pins
    incremental_components, now reached through three stream steps. At
    100 TB this is the crawl-frontier contract: each micro-batch costs
    O(delta + touched components), never a corpus re-walk."""
    import os
    import tempfile

    from chatbot_spark.operators.components import incremental_components

    docs = load_table(spark, sf_dir, "documents")
    u = F.col("doc_id") % 500
    blk = u - (u % 50)
    ring = docs.select(u.alias("src"), (blk + (u % 50 + 1) % 50).alias("dst"))
    chord = docs.filter(F.col("doc_id") % 3 == 0).select(
        u.alias("src"), (blk + (u % 50 + 7) % 50).alias("dst")
    )
    bridges = docs.filter(F.col("doc_id") % 100 == 0).select(
        u.alias("src"), (u + 50).alias("dst")
    )
    base = tempfile.mkdtemp(prefix="cbs_scc_q_")
    inpath = os.path.join(base, "in")
    for b in (ring, chord, bridges):
        b.coalesce(1).write.mode("append").parquet(inpath)
    labels_root = os.path.join(base, "labels")

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev_path = os.path.join(labels_root, f"v{batch_id - 1}")
        if batch_id > 0 and os.path.isdir(prev_path):
            prev = spark.read.parquet(prev_path)
        else:
            prev = local_df(spark, [], "node long, component long")
        out = incremental_components(
            prev, batch_df, rounds=6, assert_converged=True
        )
        out.write.mode("overwrite").parquet(
            os.path.join(labels_root, f"v{batch_id}")
        )

    stream = (
        spark.readStream.schema("src long, dst long")
        .option("maxFilesPerTrigger", 1)
        .parquet(inpath)
    )
    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = max(
        (d for d in os.listdir(labels_root) if d.startswith("v")),
        key=lambda s: int(s[1:]),
    )
    final = spark.read.parquet(os.path.join(labels_root, latest))
    return final.groupBy("component").agg(
        F.count("*").cast("long").alias("size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )

_CC_DECR_RAW_SQL = _CC_RAW_SQL + """
  UNION ALL
  SELECT u, u + 50 AS v FROM d WHERE doc_id % 100 = 0 AND u % 200 <> 0"""


@query(
    "decremental_components",
    _cc_oracle(rounds=8, raw_sql=_CC_DECR_RAW_SQL),
    sf1=True,
)
def decremental_components_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decremental connected components under edge REMOVALS
    (operators/components.py::decremental_components) — the delete verb
    that completes the graph family's CRUD contract (the ANN family got
    tombstones + compaction in r6; this is the components analog). The
    previous snapshot solved the fully-bridged 10-island host graph
    (five 100-node merged components); the delta REMOVES three of the
    five bridges (hosts 0, 200, 400 — src % 200 = 0), splitting those
    components back into islands. The refresh: locate the touched components from the
    removed edges' labels, broadcast-filter their nodes and surviving
    edges out of the corpus tables, re-solve CC on that induced slice
    only (self-edges keep removal-isolated nodes as singletons), and
    stitch the two untouched merged components through unchanged via a
    broadcast anti-join. The oracle is the FULL from-scratch unrolled
    recurrence on the remaining graph: hash equality proves
    affected-only refresh ≡ rebuild. Both CC calls run with
    assert_converged so a pinned round count that stops short at a
    larger sf fails loudly instead of staying hash-green. At 100 TB the
    corpus tables see one broadcast filter + one broadcast semi-join —
    no corpus-keyed shuffle, no corpus-wide iteration."""
    from chatbot_spark.operators.components import (
        connected_components,
        decremental_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    u = F.col("doc_id") % 500
    blk = u - (u % 50)
    ring = docs.select(u.alias("src"), (blk + (u % 50 + 1) % 50).alias("dst"))
    chord = docs.filter(F.col("doc_id") % 3 == 0).select(
        u.alias("src"), (blk + (u % 50 + 7) % 50).alias("dst")
    )
    bridges = docs.filter(F.col("doc_id") % 100 == 0).select(
        u.alias("src"), (u + 50).alias("dst")
    )
    removed = bridges.filter(F.col("src") % 200 == 0)
    remaining = ring.union(chord).union(
        bridges.filter(F.col("src") % 200 != 0)
    )
    prev = connected_components(
        ring.union(chord).union(bridges), rounds=8, assert_converged=True
    )
    labels = decremental_components(
        prev, remaining, removed, rounds=8, assert_converged=True
    )
    return labels.groupBy("component").agg(
        F.count("*").cast("long").alias("size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


@query(
    "retrieve_routed",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist,
       'doc-' || CAST(neighbor_id AS VARCHAR) AS document
FROM ranked WHERE rank <= 10
""",
    sf1=True,
)
def retrieve_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-aware retrieval routing (SURVEY §4's deferred optimizer
    item; plans/retrieve.py::_routed_universal): when a written IVF
    index is registered for the corpus, retrieve()'s universal mode
    rewrites the exact knn_join onto it — centroid-routed,
    partition-pruned index reads plus ONE id-keyed payload join after
    candidate selection (late materialization: the search never carries
    document text) — without the caller knowing the index exists. The
    recall SLO picks the probe width; this query demands recall_slo=1.0
    → FULL probe, and the oracle is the EXACT scan: hash equality proves
    the rewrite is transparent (the index only prunes, never perturbs).
    The pruned setting's speedup is the measured BENCH_ANN_SCALE point
    (2.9× at 1M vectors, recall 1.0 at nprobe 7/8)."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"),
        "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_routed_q_"), "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=8,
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, index_nlist=8,
        index_id_col="id", index_vec_col="embedding", recall_slo=1.0,
    )
    res = retrieve(_queries_from_embeddings(spark, sf_dir), corpus, cfg)
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
        "document",
    )


_CC_MIXED_RAW_SQL = _CC_RAW_SQL + """
  UNION ALL
  SELECT u, u + 50 AS v FROM d WHERE doc_id % 100 = 0 AND u % 200 <> 0
  UNION ALL
  SELECT 0 AS u, 450 AS v FROM d WHERE doc_id % 500 = 0"""


@query(
    "mixed_edge_batch_components",
    _cc_oracle(rounds=8, raw_sql=_CC_MIXED_RAW_SQL),
    sf1=True,
    gateoff=True,
)
def mixed_edge_batch_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MIXED maintenance batch — removals and additions in one delta,
    composed per the documented contract (components.py: apply removals
    first via decremental_components, then additions via
    incremental_components). The snapshot solved the fully-bridged
    10-island graph; the batch removes the bridges at hosts 0, 200 and
    400 (splitting three merged pairs) AND adds a new long-range link
    0→450 (re-merging island 0 with island 9 across the removal). Both CRUD
    verbs run affected-only — broadcast-filtered slice re-solve, then a
    contracted-graph solve — and the oracle is the from-scratch unrolled
    recurrence on the FINAL edge set: hash equality proves the two
    refreshes compose exactly (ordering matters: an addition landing on a
    node whose component is about to split would read a stale label if
    applied first — removals-then-additions is the only exact order, and
    this pin would break under the other one). Both solves run
    assert_converged."""
    from chatbot_spark.operators.components import (
        connected_components,
        decremental_components,
        incremental_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    u = F.col("doc_id") % 500
    blk = u - (u % 50)
    ring = docs.select(u.alias("src"), (blk + (u % 50 + 1) % 50).alias("dst"))
    chord = docs.filter(F.col("doc_id") % 3 == 0).select(
        u.alias("src"), (blk + (u % 50 + 7) % 50).alias("dst")
    )
    bridges = docs.filter(F.col("doc_id") % 100 == 0).select(
        u.alias("src"), (u + 50).alias("dst")
    )
    removed = bridges.filter(F.col("src") % 200 == 0)
    remaining = ring.union(chord).union(
        bridges.filter(F.col("src") % 200 != 0)
    )
    additions = docs.filter(F.col("doc_id") % 500 == 0).select(
        F.lit(0).cast("long").alias("src"), F.lit(450).cast("long").alias("dst")
    )
    prev = connected_components(
        ring.union(chord).union(bridges), rounds=8, assert_converged=True
    )
    after_rm = decremental_components(
        prev, remaining, removed, rounds=8, assert_converged=True
    )
    labels = incremental_components(
        after_rm, additions, rounds=3, assert_converged=True
    )
    return labels.groupBy("component").agg(
        F.count("*").cast("long").alias("size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


@query(
    "retrieve_routed_pruned",
    """
SELECT 1 AS recall_ok, CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_rows
""",
)
def retrieve_routed_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The routed read path at its PRUNED setting — recall_slo=0.95 maps
    to nprobe=ceil(7/8·nlist) (plans/retrieve.py::nprobe_for_slo), so the
    corpus parquet is read 7/8ths at most and the shortlist join sees
    only probed cells. Cell assignment is seed-dependent (k-means), so
    like ivf_knn/graph_knn the driver oracle asserts the BASELINE.md SLO
    (recall@10 >= 0.95 vs the exact scan, recomputed in-plan) plus
    structural counts; the bit-exact transparency pin is the full-probe
    twin retrieve_routed. Together they close SURVEY §4's deferred
    optimizer item: exactness when demanded, measured-recall pruning when
    allowed, caller-transparent either way."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.topk import knn_join
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"),
        "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_routedp_q_"), "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=8,
    ).write(path)
    q = _queries_from_embeddings(spark, sf_dir)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, index_nlist=8,
        index_id_col="id", index_vec_col="embedding", recall_slo=0.95,
    )
    routed = retrieve(q, corpus, cfg)
    exact = knn_join(
        q, emb, k=10, metric="l2", corpus_id="vec_id", corpus_vec="embedding"
    )
    return _ann_recall_summary(routed, exact)


@query(
    "training_shard_plan",
    f"""
WITH keyed AS (
  SELECT doc_id,
         CAST({_DUCK_HEXWORD.format(t="'r8:' || CAST(doc_id AS VARCHAR)", off=1)} AS BIGINT) AS h
  FROM documents),
pos AS (
  SELECT CAST(h % 8 AS INT) AS shard, doc_id,
         row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
  FROM keyed)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
FROM pos GROUP BY shard
""",
)
def training_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-shard plan
    (operators/sampling.py::seeded_shard_plan): a seeded content-hash
    global shuffle + shard assignment, so a restarted or re-laid-out run
    reproduces the identical example order — the resumability /
    ablation-comparability primitive. The summary is position-sensitive
    (sum of pos·doc_id per shard): ANY swap of two examples anywhere in
    any shard changes the checksum, so hash equality pins the entire
    permutation, not just membership. One shard-keyed exchange + one
    per-shard window — never a global sort; md5 keeps shards uniform at
    any scale."""
    from chatbot_spark.operators.sampling import seeded_shard_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = seeded_shard_plan(docs, "doc_id", n_shards=8, seed="r8")
    return plan.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("pos") * F.col("doc_id")).cast("long").alias(
            "order_checksum"
        ),
    )


@query(
    "retrieve_routed_nsw",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist,
       'doc-' || CAST(neighbor_id AS VARCHAR) AS document
FROM ranked WHERE rank <= 10
""",
    sf1=True,
    recheck_round=14,  # NSW build: f32 candidate selection
)
def retrieve_routed_nsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-aware routing onto the sharded-NSW index (r8 verdict item
    2; plans/retrieve.py::_routed_universal): the reference's ACTUAL
    index type is HNSW (load.py:26 — M=16/EF_CONSTRUCTION=256), and the
    repo's fastest at scale (BENCH_ANN_SCALE: 9.9x at 1M vectors), so
    the declarative read path must reach it, not just the direct index
    API. retrieve() sniffs the written layout (graph/ -> NSW — this
    query passes index_kind="auto" deliberately), derives the shard
    count from the LOADED index (r8 ADVICE — config can only
    cross-validate, never understate), and at recall_slo=1.0 probes
    EVERY shard with a whole-shard beam (ef_search >= max shard rows):
    the NSW graph is connected by construction, so the walk visits every
    node and the index only prunes, never perturbs — the oracle is the
    EXACT scan, hash equality proves the rewrite transparent, mirroring
    retrieve_routed (IVF)."""
    import os
    import tempfile

    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"),
        "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_routed_nsw_q_"), "nsw")
    # method="knn": the BLAS-vectorized per-shard build (~5x the insert
    # build, growing with shard size) — same connectivity guarantee
    # (reachability repair), and exactness here rests on the whole-shard
    # beam at slo=1.0, not on construction: the oracle pin is identical
    NSWGraphIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4, m=8, ef_construction=64, method="knn",
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, index_kind="auto",
        index_id_col="id", index_vec_col="embedding", recall_slo=1.0,
    )
    res = retrieve(_queries_from_embeddings(spark, sf_dir), corpus, cfg)
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
        "document",
    )


@query(
    "retrieve_routed_nsw_pruned",
    """
SELECT 1 AS recall_ok, CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_rows
""",
    recheck_round=14,  # NSW build: f32 candidate selection
)
def retrieve_routed_nsw_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NSW-routed read path at its PRUNED setting — recall_slo=0.95
    maps to nprobe=ceil(7/8·nlist) shards with the reference's
    EF_SEARCH=64 beam (BENCH_ANN_SCALE: recall 0.99 at 9.9x), so only
    7/8ths of the shard partitions are read and each beam touches
    O(ef·m) of its shard, not all of it. Like retrieve_routed_pruned the
    result is seed-dependent (k-means shard assignment), so the driver
    oracle asserts the BASELINE.md SLO (recall@10 >= 0.95 vs the exact
    scan, recomputed in-plan) plus structural counts; the bit-exact
    transparency pin is the full-probe twin retrieve_routed_nsw.

    r13: built with method="knn" (the BLAS KGraph-style per-shard build —
    same m=16 degree cap, same reachability repair, equal-or-better
    recall; _build_knn_graph docstring) instead of the sequential
    insertion loop: the insert kernel was the single biggest job of this
    entry (~3 s of 6.7 s, event-log profile). The SEARCH setting is
    unchanged — EF_SEARCH=64 beam over 7/8 routed shards."""
    import os
    import tempfile

    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.operators.topk import knn_join
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"),
        "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_routednp_q_"), "nsw")
    NSWGraphIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=8, m=16, ef_construction=256, method="knn",
    ).write(path)
    q = _queries_from_embeddings(spark, sf_dir)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, index_kind="nsw",
        index_id_col="id", index_vec_col="embedding", recall_slo=0.95,
    )
    routed = retrieve(q, corpus, cfg)
    exact = knn_join(
        q, emb, k=10, metric="l2", corpus_id="vec_id", corpus_vec="embedding"
    )
    return _ann_recall_summary(routed, exact)


@query(
    "routed_sql_topk",
    f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM embeddings c, q)
SELECT neighbor_id, round(d, 6) AS dist
FROM pairs ORDER BY d ASC, neighbor_id ASC LIMIT 10
""",
)
def routed_sql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL nearest-neighbor routing (SURVEY §4 item (a), r9 verdict
    item 6; plans/sqlroute.py): a user writing the idiomatic serving SQL
    ``SELECT id, l2_dist(embedding, <q>) AS dist ... ORDER BY dist, id
    LIMIT 10`` against a corpus with a REGISTERED index must get the
    index route without changing their query — the pre-plan rewriter
    recognizes the distance-order-by-k shape and rewrites it onto
    _routed_universal (the same audited path retrieve() uses). At the
    registration's recall_slo=1.0 the rewrite is BIT-FOR-BIT the exact
    scan (full probe ≡ exact — the ivf_knn_fullprobe pin), which is
    exactly what this oracle checks; the body also asserts the executed
    plan actually read the index layout, so a silent fall-back to the
    exact scan would fail the query, not just weaken it."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.sqlroute import (
        register_corpus_index,
        register_sql_distance_functions,
        routed_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"),
        "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    view = "sqlroute_corpus"
    corpus.createOrReplaceTempView(view)
    register_sql_distance_functions(spark)
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_sqlroute_q_"), "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=8,
    ).write(path)
    register_corpus_index(
        view, path, metric="l2", id_col="id", vec_col="embedding",
        recall_slo=1.0,
    )
    sql = (
        "SELECT id AS neighbor_id, "
        f"l2_dist(embedding, (SELECT embedding FROM {view} WHERE id = 0)) "
        f"AS dist FROM {view} ORDER BY dist, neighbor_id LIMIT 10"
    )
    routed = routed_sql(spark, sql)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    if "cells" not in plan:
        raise AssertionError(
            "routed_sql_topk: the rewrite fell back to the exact scan — "
            "the executed plan never read the IVF cells/ layout"
        )
    return routed.select("neighbor_id", F.round("dist", 6).alias("dist"))


def _cc_snapshot_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-per-(process, sf_dir) STORED component snapshot of the
    fully-bridged 10-island host graph — the state a crawl pipeline
    would keep between snapshots. The *_stored maintenance queries read
    it pruned instead of re-solving the previous labels in-query (the
    r8 verdict's fixture-vs-refresh point: the three heaviest suite
    entries spent most of their wall-clock rebuilding PREV). Content is
    a pure function of the immutable sf_dir tables, so the on-disk
    snapshot is reusable across calls; the version tag guards fixture
    changes."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"cbs_cc_snap_v1_{tag}")
    marker = os.path.join(out, "_CBS_READY")
    if not os.path.exists(marker):
        from chatbot_spark.operators.components import write_components_snapshot

        docs = load_table(spark, sf_dir, "documents")
        u = F.col("doc_id") % 500
        blk = u - (u % 50)
        ring = docs.select(u.alias("src"), (blk + (u % 50 + 1) % 50).alias("dst"))
        chord = docs.filter(F.col("doc_id") % 3 == 0).select(
            u.alias("src"), (blk + (u % 50 + 7) % 50).alias("dst")
        )
        bridges = docs.filter(F.col("doc_id") % 100 == 0).select(
            u.alias("src"), (u + 50).alias("dst")
        )
        write_components_snapshot(
            ring.union(chord).union(bridges), out, rounds=8, n_buckets=16,
            assert_converged=True,
        )
        with open(marker, "w") as f:
            f.write("ok")
    return out


@query(
    "decremental_components_stored",
    _cc_oracle(rounds=8, raw_sql=_CC_DECR_RAW_SQL),
    sf1=True,
)
def decremental_components_stored_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decremental refresh against a WRITTEN snapshot (r8 verdict
    item 3; operators/components.py::decremental_components_stored): the
    non-stored twin re-solves the PREV labels from scratch in-query, so
    its wall-clock measures mostly the fixture — this one reads the
    stored label + edge tables PRUNED (removed endpoints' buckets →
    affected labels; affected labels' buckets → affected nodes; affected
    nodes' buckets → surviving edges) and re-solves only the affected
    slice, returning the label DELTA that is then merged over the stored
    table (one node-keyed anti-join). Oracle: the SAME from-scratch
    unrolled recurrence on the remaining graph as decremental_components
    — hash equality proves stored-refresh ≡ rebuild. The affected-node
    semi-join inherits the giant-component size gate."""
    from chatbot_spark.operators.components import (
        decremental_components_stored,
        merge_component_delta,
    )

    snap = _cc_snapshot_dir(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    u = F.col("doc_id") % 500
    removed = docs.filter(
        (F.col("doc_id") % 100 == 0) & (u % 200 == 0)
    ).select(u.alias("src"), (u + 50).alias("dst"))
    delta = decremental_components_stored(
        spark, snap, removed, rounds=8, n_buckets=16, assert_converged=True
    )
    stored = spark.read.schema("node long, component long, __bucket int").parquet(
        f"{snap}/labels_by_node"
    )
    labels = merge_component_delta(stored, delta)
    return labels.groupBy("component").agg(
        F.count("*").cast("long").alias("size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


@query(
    "mixed_edge_batch_stored",
    _cc_oracle(rounds=8, raw_sql=_CC_MIXED_RAW_SQL),
    sf1=True,
)
def mixed_edge_batch_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MIXED maintenance batch against the WRITTEN snapshot —
    removals refresh via the pruned stored-decremental path (label
    delta, merged in one node-keyed anti-join), then additions via the
    contracted-graph incremental verb on the merged labels
    (removals-then-additions is the only exact order — see
    mixed_edge_batch_components). Nothing re-solves PREV: the snapshot
    is read, not rebuilt, so the query measures the refresh itself.
    Oracle: the from-scratch unrolled recurrence on the FINAL edge set,
    same as the non-stored twin — hash equality proves the composed
    stored refresh exact."""
    from chatbot_spark.operators.components import (
        decremental_components_stored,
        incremental_components,
        merge_component_delta,
    )

    snap = _cc_snapshot_dir(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    u = F.col("doc_id") % 500
    removed = docs.filter(
        (F.col("doc_id") % 100 == 0) & (u % 200 == 0)
    ).select(u.alias("src"), (u + 50).alias("dst"))
    additions = docs.filter(F.col("doc_id") % 500 == 0).select(
        F.lit(0).cast("long").alias("src"), F.lit(450).cast("long").alias("dst")
    )
    delta = decremental_components_stored(
        spark, snap, removed, rounds=8, n_buckets=16, assert_converged=True
    )
    stored = spark.read.schema("node long, component long, __bucket int").parquet(
        f"{snap}/labels_by_node"
    )
    after_rm = merge_component_delta(stored, delta)
    labels = incremental_components(
        after_rm, additions, rounds=3, assert_converged=True
    )
    return labels.groupBy("component").agg(
        F.count("*").cast("long").alias("size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


@query(
    "exact_substring_sa",
    r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
),
wins AS (
  SELECT tk.doc_id, s, array_to_string(toks[s:s+7], ' ') AS wtxt
  FROM tk, unnest(generate_series(1, n_tokens - 8 + 1)) AS t(s)
  WHERE n_tokens >= 8
),
dup AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, count(*) OVER (PARTITION BY wtxt) AS cnt FROM wins
  ) WHERE cnt > 1
),
brk AS (
  SELECT doc_id, s,
         CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
                   OR s > lag(s) OVER (PARTITION BY doc_id ORDER BY s) + 8
              THEN 1 ELSE 0 END AS is_break
  FROM dup
),
isl AS (
  SELECT doc_id, s,
         sum(is_break) OVER (PARTITION BY doc_id ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM brk
)
SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
       CAST(max(s) + 7 AS BIGINT) AS span_end
FROM isl GROUP BY doc_id, island
""",
    sf1=True,
    gateoff=True,
)
def exact_substring_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2d, suffix-array semantics WITHOUT hashing (r8 verdict item 7;
    operators/dedup.py::duplicated_spans_sa): prefix-doubling equivalence
    classes over the token stream — two positions share a class iff
    their w-token prefixes are token-for-token equal — so the duplicated
    set is computed by EXACT comparison (the md5 window form can in
    principle over-mark on a collision; this cannot). The oracle is the
    brute-force scan grouping windows by their raw TEXT, not a hash:
    hash-equality of the results proves the class construction exact.
    Together with exact_substring_dedup (md5 form, bit-exact against its
    own replay) and the pytest span-set-equality twin, this closes the
    one open asterisk on the ExactSubstr family: window-union ==
    suffix-array marked set, proven, not asserted."""
    from chatbot_spark.operators.dedup import duplicated_spans_sa

    docs = load_table(spark, sf_dir, "documents")
    spans = duplicated_spans_sa(docs, id_col="doc_id", text_col="text", window=8)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    )


@query(
    "retrieve_routed_calibrated",
    """
SELECT 1 AS recall_ok, CAST(10 AS BIGINT) AS n_queries, 1 AS rows_ok
""",
    bench_skip=_ROUNDS,
)
def retrieve_routed_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The routed read path with PER-CORPUS probe calibration (r8
    verdict item 5; plans/retrieve.py::calibrate_nprobe): instead of the
    fixed nprobe_for_slo tier — measured on one synthetic corpus, so a
    differently-clustered corpus could silently under- or over-probe —
    the route measures recall@k against the index's own full probe on a
    calibration query sample and picks the MINIMAL nprobe meeting the
    SLO. Here the calibration sample IS the query workload, so the
    calibrated route provably meets the SLO on exactly what it serves:
    recall_ok asserts it, rows_ok asserts the candidate volume the
    recall bound implies (>= slo x exact rows). Seed-dependent cell
    shapes make the chosen nprobe vary; the SLO and the guarantee do
    not."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.topk import knn_join
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"),
        "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_routedc_q_"), "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=8,
    ).write(path)
    q = _queries_from_embeddings(spark, sf_dir)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, index_kind="ivf",
        index_id_col="id", index_vec_col="embedding", recall_slo=0.95,
        calibration_queries=q,
    )
    routed = retrieve(q, corpus, cfg)
    exact = knn_join(
        q, emb, k=10, metric="l2", corpus_id="vec_id", corpus_vec="embedding"
    )
    a = routed.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    hits = e.join(a, ["query_id", "neighbor_id"], "inner")
    return (
        e.agg(F.count("*").alias("__n_exact"))
        .crossJoin(hits.agg(F.count("*").alias("__n_hit")))
        .crossJoin(
            a.agg(
                F.countDistinct("query_id").alias("n_queries"),
                F.count("*").alias("__n_rows"),
            )
        )
        .select(
            (F.col("__n_hit") / F.col("__n_exact") >= F.lit(0.95))
            .cast("int").alias("recall_ok"),
            "n_queries",
            # the recall bound implies >= 95% of the exact candidate
            # volume materializes even at a 1-cell calibrated probe
            (F.col("__n_rows") >= F.ceil(F.col("__n_exact") * F.lit(0.95)))
            .cast("int").alias("rows_ok"),
        )
    )


@query(
    "stream_edge_crud_components",
    _cc_oracle(rounds=8, raw_sql=_CC_MIXED_RAW_SQL),
    bench_skip=_DRAIN,
)
def stream_edge_crud_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CRUD graph maintenance under an out-of-order-TOLERANT
    change feed (streaming/graphcrud.py::edge_crud_writer): edge events
    (op in add/del) arrive as micro-batches; each batch folds signed
    multiplicities into a stored edge Z-SET (an edge exists iff its net
    count is positive — the retraction-rollup algebra applied to graph
    state), derives the batch's EFFECTIVE removals/additions from the
    sign crossings, and refreshes the label snapshot removals-first
    (decremental affected-slice re-solve, then incremental contracted
    solve), committing versioned snapshots. Because the count table is a
    pure function of the event multiset — a del arriving before its add
    nets to -1 then 0, both absent — the drained state is independent of
    batch order or split (the pytest twin replays both orders). Feed:
    batch 1 adds the fully-bridged 10-island graph; batch 2 removes the
    bridges at hosts 0/200/400 and adds the long-range 0-450 link — the
    oracle is from-scratch CC on the FINAL net-positive edge set, the
    same 8-round unrolled recurrence that pins
    mixed_edge_batch_components, now reached through the stream."""
    import os
    import tempfile

    from chatbot_spark.streaming.graphcrud import (
        edge_crud_writer,
        read_latest_version,
    )

    docs = load_table(spark, sf_dir, "documents")
    u = F.col("doc_id") % 500
    blk = u - (u % 50)
    ring = docs.select(u.alias("src"), (blk + (u % 50 + 1) % 50).alias("dst"))
    chord = docs.filter(F.col("doc_id") % 3 == 0).select(
        u.alias("src"), (blk + (u % 50 + 7) % 50).alias("dst")
    )
    bridges = docs.filter(F.col("doc_id") % 100 == 0).select(
        u.alias("src"), (u + 50).alias("dst")
    )
    adds = ring.union(chord).union(bridges).select(
        F.lit("add").alias("op"), "src", "dst"
    )
    dels = bridges.filter(F.col("src") % 200 == 0).select(
        F.lit("del").alias("op"), "src", "dst"
    )
    late_add = docs.filter(F.col("doc_id") % 500 == 0).select(
        F.lit("add").alias("op"),
        F.lit(0).cast("long").alias("src"),
        F.lit(450).cast("long").alias("dst"),
    )
    base = tempfile.mkdtemp(prefix="cbs_sccrud_q_")
    inpath = os.path.join(base, "in")
    for b in (adds, dels.union(late_add)):
        b.coalesce(1).write.mode("append").parquet(inpath)
    state_dir = os.path.join(base, "state")

    stream = (
        spark.readStream.schema("op string, src long, dst long")
        .option("maxFilesPerTrigger", 1)
        .parquet(inpath)
    )
    q = (
        stream.writeStream.foreachBatch(
            edge_crud_writer(state_dir, rounds=8, assert_converged=True)
        )
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = read_latest_version(
        spark, state_dir, "labels", "node long, component long"
    )
    return final.groupBy("component").agg(
        F.count("*").cast("long").alias("size"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


@query(
    "token_budget_mixture",
    r"""
WITH tk AS (
  SELECT source, doc_id,
         len(string_split_regex(trim(text), '\s+')) AS ntok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents),
cum AS (
  SELECT source, doc_id, ntok,
         sum(ntok) OVER (PARTITION BY source ORDER BY h, doc_id) AS c
  FROM tk)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       CAST(sum(doc_id) AS BIGINT) AS member_checksum
FROM cum WHERE c <= 20000 GROUP BY source
""",
    sf1=True,
)
def token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted source mixture
    (operators/sampling.py::token_budget_sample): training mixtures are
    specified in TOKENS per source, not row counts — each source
    contributes its content-hash-ordered prefix of documents whose
    running token total stays within a 20k budget (deterministic,
    growth-stable: a document already in the mixture stays in it as the
    corpus grows, until budget-out). Two-phase skew-safe scan: a local
    per-(source, partition) running total prunes everything past the
    budget BEFORE the per-source exact cutoff, so a hot source never
    funnels its full corpus into one reducer. Summary is
    membership-sensitive (doc-id checksum + token totals per source);
    the oracle replays the hash order and cutoff exactly."""
    from chatbot_spark.operators.sampling import token_budget_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("ntok"),
    )
    picked = token_budget_sample(
        docs, ["source"], "doc_id", "ntok", budget=20_000
    )
    return picked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
        F.sum("doc_id").cast("long").alias("member_checksum"),
    )


# --------------------------------------------------------------------------
# Filtered ANN search (r10): the vector-DB predicate+top-k contract —
# the reference's OceanBase backend exposes metadata-filtered vector
# search (pyobvector ann search accepts a WHERE clause); here it is a
# first-class, exactness-preserving part of the routed read path.
# --------------------------------------------------------------------------

_FILTERED_ORACLE_TMPL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {l2} AS d
  FROM q, embeddings c WHERE {pred}),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist,
       'doc-' || CAST(neighbor_id AS VARCHAR) AS document
FROM ranked WHERE rank <= 10
"""
_FILTERED_ORACLE = _FILTERED_ORACLE_TMPL.format(
    l2=_DUCK_L2.format(a="q.qe", b="c.embedding"), pred="c.label % 2 = 0"
)
# the IVF pin uses a PUSHABLE predicate (a simple comparison): parquet
# filter pushdown handles comparisons/in/null-checks, not derived
# expressions like (label % 2) = 0 — which would still filter in the
# scan stage, just not inside PushedFilters
_FILTERED_ORACLE_LT = _FILTERED_ORACLE_TMPL.format(
    l2=_DUCK_L2.format(a="q.qe", b="c.embedding"), pred="c.label < 5"
)


@query("retrieve_filtered_ivf", _FILTERED_ORACLE_LT)
def retrieve_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered routed retrieval over the IVF index (ann.py::
    IVFIndex.search ``where=``; plans/retrieve.py::RetrieveConfig.filter):
    a metadata predicate (label < 5) restricts the candidate set and
    the top-k ranks over the filtered rows. IVF rows carry no routing
    structure, so a PRE-filter is exact at any probe width — and because
    this index was built WITH the label column, the predicate lands
    beside the centroid isin in the probed-cells scan (parquet pushdown:
    zero extra joins, the 100 TB-right path). At recall_slo=1.0 (full
    probe) the result is bit-for-bit the exact scan over the filtered
    corpus — the oracle re-ranks with the WHERE applied. The body also
    asserts the predicate actually reached the cells scan as a pushed
    filter, so a silent regression to a post-scan filter would fail the
    query, not just slow it."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), "embedding", "label",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_fltivf_q_"), "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding", "label"), vec_col="embedding",
        id_col="id", nlist=8,
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, index_nlist=8,
        index_id_col="id", index_vec_col="embedding", recall_slo=1.0,
        filter="label < 5",
        # this pin certifies the INDEX path (the plan assertions below) —
        # the measured default brute cutover would rightly exact-scan a
        # subset this small; retrieve_filtered_auto pins the default
        filter_brute_threshold=0,
    )
    res = retrieve(_queries_from_embeddings(spark, sf_dir), corpus, cfg)
    plan = res._jdf.queryExecution().executedPlan().toString()
    if "cells" not in plan:
        raise AssertionError(
            "retrieve_filtered_ivf: the routed read never touched the "
            "IVF cells/ layout"
        )
    if "PushedFilters: [" not in plan or "label" not in plan.split(
        "PushedFilters: ["
    )[1].split("]")[0]:
        raise AssertionError(
            "retrieve_filtered_ivf: the label predicate did not reach "
            "the cells scan as a parquet pushdown"
        )
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
        "document",
    )


# recheck_round 14: NSW build: f32 candidate selection
@query("retrieve_filtered_nsw", _FILTERED_ORACLE, recheck_round=14)
def retrieve_filtered_nsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered routed retrieval over the sharded-NSW graph index
    (hnsw.py::NSWGraphIndex.search ``allowed=``): graph rows never carry
    metadata, so the predicate resolves to an allowed-id set whose emit
    flag joins onto the PROBED shards only. Disallowed nodes keep
    ROUTING — the tombstone contract of delete() generalized from a
    static set to a per-search predicate — so the beam never loses a
    path through filtered-out regions and the filter cannot disconnect
    the walk. At recall_slo=1.0 the whole-shard beam visits every node,
    so the filtered result is bit-for-bit the exact scan over the
    filtered corpus (same argument as graph_knn_deleted, whose tombstone
    set is the degenerate fixed-filter case)."""
    import os
    import tempfile

    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), "embedding", "label",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_fltnsw_q_"), "nsw")
    NSWGraphIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4, m=8, ef_construction=64, method="knn",
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, index_kind="auto",
        index_id_col="id", index_vec_col="embedding", recall_slo=1.0,
        filter="label % 2 = 0",
        filter_brute_threshold=0,  # pin the index path, not the cutover
    )
    res = retrieve(_queries_from_embeddings(spark, sf_dir), corpus, cfg)
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
        "document",
    )


@query(
    "retrieve_filtered_pruned",
    """
SELECT 1 AS recall_ok, CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_rows
""",
    sf1=True,
    recheck_round=14,  # NSW build: f32 candidate selection
)
def retrieve_filtered_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filtered NSW route at its PRUNED setting (recall_slo=0.95,
    EF_SEARCH=64 beam): under a selective predicate the beam may hold
    fewer allowed nodes, so filtered recall is the quantity to pin —
    measured against the exact scan over the FILTERED corpus (recomputed
    in-plan). label % 2 = 0 keeps ~half the corpus: each 64-wide beam
    still sees ~32 allowed candidates ≥ k, so the SLO holds without
    over-fetch; a more selective filter is the ef_search knob's job
    (hnsw.py::search docstring). Seed-dependent like every pruned pin —
    the bit-exact transparency twin is retrieve_filtered_nsw.

    r13: method="knn" build (same degree cap + reachability repair,
    equal-or-better recall; see retrieve_routed_nsw_pruned) — the insert
    kernel was this entry's biggest job (~2.2 s, event-log profile).
    Search setting unchanged."""
    import os
    import tempfile

    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.operators.topk import knn_join
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), "embedding", "label",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_fltnp_q_"), "nsw")
    NSWGraphIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=8, m=16, ef_construction=256, method="knn",
    ).write(path)
    q = _queries_from_embeddings(spark, sf_dir)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, index_kind="nsw",
        index_id_col="id", index_vec_col="embedding", recall_slo=0.95,
        filter="label % 2 = 0",
        filter_brute_threshold=0,  # pin the index path, not the cutover
    )
    routed = retrieve(q, corpus, cfg)
    exact = knn_join(
        q, emb.filter("label % 2 = 0"), k=10, metric="l2",
        corpus_id="vec_id", corpus_vec="embedding",
    )
    return _ann_recall_summary(routed, exact)


_FILTERED_ORACLE_EQ3 = _FILTERED_ORACLE_TMPL.format(
    l2=_DUCK_L2.format(a="q.qe", b="c.embedding"), pred="c.label = 3"
)


@query("retrieve_filtered_auto", _FILTERED_ORACLE_EQ3)
def retrieve_filtered_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selective-filter brute cutover at its DEFAULT setting (r11
    policy pin): an index is registered, but the predicate's allowed
    subset is far below DEFAULT_FILTER_BRUTE_THRESHOLD (10^5 — the
    crossover measured in BENCH_ANN_FILTERED, where the filtered index
    route reads 0.17–0.4× vs the exact filtered scan at ≤100k allowed
    rows), so a default-config retrieve() must SKIP the index and run
    the exact scan over the filtered corpus — exact at any selectivity,
    and never the measured losing regime. The body asserts the executed
    plan did NOT read the cells/ layout (the cutover actually fired);
    the oracle is the exact filtered scan, so the hash also proves the
    cutover is invisible in the result. The index-path twins (which pin
    filter_brute_threshold=0) are retrieve_filtered_ivf/_nsw."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.retrieve import (
        DEFAULT_FILTER_BRUTE_THRESHOLD,
        RetrieveConfig,
        retrieve,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), "embedding", "label",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_fltauto_q_"), "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding", "label"), vec_col="embedding",
        id_col="id", nlist=8,
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, index_path=path, index_nlist=8,
        index_id_col="id", index_vec_col="embedding", recall_slo=1.0,
        filter="label = 3",  # defaults: the policy under test
    )
    assert cfg.filter_brute_threshold == DEFAULT_FILTER_BRUTE_THRESHOLD
    res = retrieve(_queries_from_embeddings(spark, sf_dir), corpus, cfg)
    plan = res._jdf.queryExecution().executedPlan().toString()
    if "cells" in plan:
        raise AssertionError(
            "retrieve_filtered_auto: the brute cutover did not fire — "
            "the plan read the IVF cells/ layout for a subset far below "
            "the measured crossover"
        )
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
        "document",
    )


@query(
    "routed_sql_filtered",
    f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM embeddings c, q WHERE c.label % 2 = 0)
SELECT neighbor_id, round(d, 6) AS dist
FROM pairs ORDER BY d ASC, neighbor_id ASC LIMIT 10
""",
)
def routed_sql_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL FILTERED nearest-neighbor routing (plans/sqlroute.py):
    the idiomatic filtered-serving SQL ``SELECT id, l2_dist(e, <q>) AS
    dist FROM corpus WHERE <pred> ORDER BY dist, id LIMIT 10`` routes
    onto the registered index with the predicate carried into the
    filtered search path (RetrieveConfig.filter) — the clause scanner is
    paren-aware, so the WHERE inside the scalar-subquery query vector
    does not confuse the parse. Routable only when the predicate never
    touches the ranking distance and analyzes standalone against the
    corpus; at the registration's recall_slo=1.0 the rewrite is
    bit-for-bit the filtered exact scan (this oracle). The body asserts
    the executed plan read the index layout — a silent fall-back to the
    exact scan fails the query."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.sqlroute import (
        register_corpus_index,
        register_sql_distance_functions,
        routed_sql,
        unregister_corpus_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), "embedding", "label",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    view = "sqlroute_flt_corpus"
    corpus.createOrReplaceTempView(view)
    register_sql_distance_functions(spark)
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_sqlrfl_q_"), "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding", "label"), vec_col="embedding",
        id_col="id", nlist=8,
    ).write(path)
    register_corpus_index(
        view, path, metric="l2", id_col="id", vec_col="embedding",
        recall_slo=1.0,
        filter_brute_threshold=0,  # pin the index path, not the cutover
    )
    try:
        sql = (
            "SELECT id AS neighbor_id, "
            f"l2_dist(embedding, (SELECT embedding FROM {view} WHERE id = 0)) "
            f"AS dist FROM {view} WHERE label % 2 = 0 "
            "ORDER BY dist, neighbor_id LIMIT 10"
        )
        routed = routed_sql(spark, sql)
        plan = routed._jdf.queryExecution().executedPlan().toString()
        if "cells" not in plan:
            raise AssertionError(
                "routed_sql_filtered: the rewrite fell back to the exact "
                "scan — the executed plan never read the IVF cells/ layout"
            )
        return routed.select("neighbor_id", F.round("dist", 6).alias("dist"))
    finally:
        unregister_corpus_index(view)


@query(
    "routed_sql_cosine",
    f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT c.vec_id AS neighbor_id,
         1.0 - {_DUCK_DOT.format(a='q.qe', b='c.embedding')}
           / (sqrt({_DUCK_NORM.format(a='q.qe')}) * sqrt({_DUCK_NORM.format(a='c.embedding')})) AS d
  FROM embeddings c, q),
ranked AS (
  SELECT neighbor_id,
         row_number() OVER (ORDER BY d ASC, neighbor_id ASC) AS rank
  FROM pairs)
SELECT neighbor_id, CAST(rank AS BIGINT) AS rank, TRUE AS dist_ok
FROM ranked WHERE rank <= 10
""",
    recheck_round=12,  # hashed projection drops the engine double
)
def routed_sql_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL COSINE nearest-neighbor routing (r11 — the metric-family
    completion of routed_sql_topk): ``SELECT id, cosine_dist(e, <q>) AS
    dist FROM corpus ORDER BY dist, id LIMIT 10`` routes onto a
    COSINE-registered index (the metric check matches fn ↔ registration;
    a mismatch refuses loudly — tested). Determinism contract (r12): the
    driver-hashed projection carries NO engine-computed double — only
    (neighbor_id, rank) with ties broken by neighbor_id, both
    engine-stable. The distance itself is pinned as the in-plan boolean
    invariant ``dist_ok`` = |served dist − defining float64 cosine fold
    over the RAW vectors| < 1e-9, recomputed independently in this pin
    (one k-row join back to the corpus) against a constant-TRUE oracle
    column. Hashing round(double,6) was driver-red in r10 AND r11 even
    after the r11 canonical-fold recompute — the driver's oracle engine
    rounds cosine doubles differently from both PySpark 4.1.2 and local
    DuckDB 1.0.0 — so doubles are now checked, never hashed. The body
    asserts the executed plan read the index layout."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.sqlroute import (
        register_corpus_index,
        register_sql_distance_functions,
        routed_sql,
        unregister_corpus_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    view = "sqlroute_cos_corpus"
    corpus.createOrReplaceTempView(view)
    register_sql_distance_functions(spark)
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_sqlrcos_q_"), "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=8, metric="cosine",
    ).write(path)
    register_corpus_index(
        view, path, metric="cosine", id_col="id", vec_col="embedding",
        recall_slo=1.0,
    )
    try:
        sql = (
            "SELECT id AS neighbor_id, "
            f"cosine_dist(embedding, (SELECT embedding FROM {view} WHERE id = 0)) "
            f"AS dist FROM {view} ORDER BY dist, neighbor_id LIMIT 10"
        )
        routed = routed_sql(spark, sql)
        plan = routed._jdf.queryExecution().executedPlan().toString()
        if "cells" not in plan:
            raise AssertionError(
                "routed_sql_cosine: the rewrite fell back to the exact "
                "scan — the executed plan never read the IVF cells/ layout"
            )
        from chatbot_spark.functions.vector import cosine_distance

        qv = corpus.filter(F.col("id") == 0).select(
            F.col("embedding").alias("__qvec")
        )
        cv = corpus.select(
            F.col("id").alias("neighbor_id"),
            F.col("embedding").alias("__nvec"),
        )
        w = Window.orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
        return (
            routed.withColumn("rank", F.row_number().over(w).cast("long"))
            .join(cv, "neighbor_id")
            .crossJoin(F.broadcast(qv))
            .select(
                "neighbor_id",
                "rank",
                (
                    F.abs(
                        F.col("dist")
                        - cosine_distance(F.col("__qvec"), F.col("__nvec"))
                    )
                    < F.lit(1e-9)
                ).alias("dist_ok"),
            )
        )
    finally:
        unregister_corpus_index(view)


# --------------------------------------------------------------------------
# Cosine-metric routed retrieval (r10): cosine is the conventional text-
# embedding metric; both written index families now carry their metric
# (cells/graph store unit-normalized vectors, meta/ persists the metric,
# search normalizes the query and reports dist = ||u-v||^2/2 = 1-cos).
# --------------------------------------------------------------------------

_COSINE_ROUTED_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         1.0 - {_DUCK_DOT.format(a='q.qe', b='c.embedding')}
           / (sqrt({_DUCK_NORM.format(a='q.qe')}) * sqrt({_DUCK_NORM.format(a='c.embedding')})) AS d
  FROM q, embeddings c),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, TRUE AS dist_ok,
       'doc-' || CAST(neighbor_id AS VARCHAR) AS document
FROM ranked WHERE rank <= 10
"""


def _cosine_checked_projection(
    spark: SparkSession, sf_dir: str, res: DataFrame
) -> DataFrame:
    """r12 determinism contract for the cosine-routed pins: the
    driver-hashed projection is (query_id, neighbor_id, rank, document,
    dist_ok) — NO engine-computed double. rank ties break on
    neighbor_id (engine-stable); dist is pinned as the in-plan boolean
    invariant |served dist − defining float64 cosine fold over the raw
    vectors| < 1e-9, recomputed here independently of retrieve()'s own
    canonical rescore (one Q×k broadcast join), against a constant-TRUE
    oracle column. Rationale: r10 hashed the index's float32 fold (red),
    r11 hashed the canonical float64 fold (STILL red — the driver's
    oracle engine rounds cosine doubles differently from both PySpark
    4.1.2 and local DuckDB 1.0.0). Doubles are now checked, never
    hashed; the identity/rank columns the rows_match already proved
    engine-stable are the whole hash surface."""
    from chatbot_spark.functions.vector import cosine_distance

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__nvec"),
    )
    return (
        res.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            (
                F.abs(
                    F.col("dist")
                    - cosine_distance(F.col("__qvec"), F.col("__nvec"))
                )
                < F.lit(1e-9)
            ).alias("dist_ok"),
            "document",
        )
    )


# recheck_round 12: hashed projection drops the engine double
@query("retrieve_routed_cosine", _COSINE_ROUTED_ORACLE, sf1=True, recheck_round=12)
def retrieve_routed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-metric routed retrieval over the IVF index (ann.py::
    IVFIndex metric="cosine"): cosine reduces to l2 over UNIT vectors —
    build() normalizes every indexed row once (the vectors on disk are
    normalized), search() normalizes the query and reports
    dist = ||u-v||^2/2 = 1 - cos(u,v) — so the same cell routing, the
    same pruning, and the same slo=1.0 full-probe exactness argument
    carry over unchanged from the l2 pins. The metric persists with the
    written index (meta/), and _routed_universal refuses a mismatched
    query metric loudly (tested) instead of ranking by the wrong
    geometry. Oracle: the exact cosine-distance scan over the RAW
    corpus, projected to (query_id, neighbor_id, rank, document) — see
    _cosine_checked_projection for the r12 determinism contract (no
    engine-computed double in the hash surface; dist pinned as the
    in-plan boolean invariant against the defining float64 fold)."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_routedcos_q_"), "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=8, metric="cosine",
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, metric="cosine", index_path=path,
        index_nlist=8, index_id_col="id", index_vec_col="embedding",
        recall_slo=1.0,
    )
    res = retrieve(_queries_from_embeddings(spark, sf_dir), corpus, cfg)
    return _cosine_checked_projection(spark, sf_dir, res)


# recheck_round 14: NSW build: f32 candidate selection
@query("retrieve_routed_cosine_nsw", _COSINE_ROUTED_ORACLE, recheck_round=14)
def retrieve_routed_cosine_nsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-metric routed retrieval over the sharded-NSW graph index
    (hnsw.py::NSWGraphIndex metric="cosine") — the ANN contract-
    uniformity discipline: both routed families serve both metrics with
    the same normalize-once reduction, the same persisted-metric layout,
    and the same refuse-loudly mismatch check. At recall_slo=1.0 the
    whole-shard beam selects exactly the exact-scan candidate set; the
    hashed projection and the dist_ok invariant follow
    _cosine_checked_projection (the r12 determinism contract)."""
    import os
    import tempfile

    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_routedcosn_q_"), "nsw")
    NSWGraphIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4, m=8, ef_construction=64, method="knn", metric="cosine",
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, metric="cosine", index_path=path,
        index_kind="auto", index_id_col="id", index_vec_col="embedding",
        recall_slo=1.0,
    )
    res = retrieve(_queries_from_embeddings(spark, sf_dir), corpus, cfg)
    return _cosine_checked_projection(spark, sf_dir, res)


# --------------------------------------------------------------------------
# Inner-product (MIPS) routed retrieval (r10): the third metric of the
# family — max-inner-product serving reduces to l2 via the augmentation
# [x, sqrt(M^2-||x||^2)] / [q, 0] (Bachrach et al. 2014, the FAISS
# recipe); dist reports -<x,q> (the DISTANCES convention).
# --------------------------------------------------------------------------

_IP_ROUTED_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         -{_DUCK_DOT.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist,
       'doc-' || CAST(neighbor_id AS VARCHAR) AS document
FROM ranked WHERE rank <= 10
"""


# recheck_round 11: dist now the oracle's float64 fold
@query("retrieve_routed_ip", _IP_ROUTED_ORACLE, sf1=True, recheck_round=11)
def retrieve_routed_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-product routed retrieval over the IVF index (ann.py::
    IVFIndex metric="inner_product"): rows are stored as the MIPS->L2
    augmentation [x, sqrt(M^2-||x||^2)] with M^2 the frozen max squared
    corpus norm; the query augments as [q, 0], making the l2 cell
    routing and ranking EXACTLY descending-dot order. At recall_slo=1.0
    the full probe is the exact MIPS scan (this oracle: ORDER BY -dot).
    The metric AND M^2 persist with the written index; append() refuses
    rows whose norm exceeds the frozen M (tested). Reported dist/rank
    follow the r11 determinism contract: recomputed on the final k rows
    as float64 -dot over the RAW vectors (the oracle's own fold), never
    the augmented-l2 rearrangement (rdist - ||q||^2 - M^2)/2 whose
    float drift sat on round(d, 6) boundaries."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_routedip_q_"), "ivf")
    IVFIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=8, metric="inner_product",
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, metric="inner_product", index_path=path,
        index_nlist=8, index_id_col="id", index_vec_col="embedding",
        recall_slo=1.0,
    )
    res = retrieve(_queries_from_embeddings(spark, sf_dir), corpus, cfg)
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
        "document",
    )


# recheck_round 14: NSW build: f32 candidate selection
@query("retrieve_routed_ip_nsw", _IP_ROUTED_ORACLE, recheck_round=14)
def retrieve_routed_ip_nsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-product routed retrieval over the sharded-NSW graph index —
    the metric-family uniformity pin: the same augmentation reduces MIPS
    to the metric-agnostic beam walk, the whole-shard beam at
    recall_slo=1.0 is the exact MIPS scan, and metric+M^2 persist with
    the index (refuse-loudly mismatch checks tested both ways)."""
    import os
    import tempfile

    from chatbot_spark.operators.hnsw import NSWGraphIndex
    from chatbot_spark.plans.retrieve import RetrieveConfig, retrieve

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), "embedding",
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "document"
        ),
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_routedipn_q_"), "nsw")
    NSWGraphIndex.build(
        corpus.select("id", "embedding"), vec_col="embedding", id_col="id",
        nlist=4, m=8, ef_construction=64, method="knn",
        metric="inner_product",
    ).write(path)
    cfg = RetrieveConfig(
        mode="universal", k=10, metric="inner_product", index_path=path,
        index_kind="auto", index_id_col="id", index_vec_col="embedding",
        recall_slo=1.0,
    )
    res = retrieve(_queries_from_embeddings(spark, sf_dir), corpus, cfg)
    return res.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
        "document",
    )


@query(
    "radius_search_routed",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c
)
SELECT query_id, neighbor_id, round(d, 6) AS dist
FROM pairs WHERE d <= 1.25
""",
)
def radius_search_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search ROUTED onto the IVF index (ann.py::radius_search) —
    COMPLETE by construction, not by SLO: per-cell radii (with_cell_stats,
    one aggregation persisted with the centroid table) let the shortlist
    prune every cell with d(q, centroid) > r + cell_radius — the triangle
    inequality guarantees a pruned cell cannot hold a match — and the
    exact distance filter inside the probed cells does the rest. The
    oracle is the full exact range scan (same WHERE as radius_search):
    hash equality proves the pruning lossless. append() keeps the radii
    valid by tightening them from the delta alone (a stale smaller
    radius would silently drop matches — tested); deletes only shrink
    true radii, so stored radii stay safe."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    path = os.path.join(tempfile.mkdtemp(prefix="cbs_radroute_q_"), "ivf")
    IVFIndex.build(
        emb.select("vec_id", "embedding"), vec_col="embedding",
        id_col="vec_id", nlist=8,
    ).with_cell_stats().write(path)
    loaded = IVFIndex.load(
        spark, path, vec_col="embedding", id_col="vec_id"
    )
    q = _queries_from_embeddings(spark, sf_dir, n=5)
    res = loaded.radius_search(q, radius=1.25)
    return res.select(
        "query_id", "neighbor_id", F.round("dist", 6).alias("dist")
    )


@query(
    "stream_ann_enrich",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 12),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist
FROM ranked WHERE rank <= 10
""",
    bench_skip=_DRAIN,
)
def stream_ann_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN serving (the online-retrieval pattern, composing
    the streaming harness with the routed index): a query stream replays
    as 3 micro-batches; EACH batch runs routed top-k against the WRITTEN
    IVF index inside foreachBatch (index loaded once, closure-captured —
    the stream-static enrichment shape stream_point_in_time uses for its
    temporal join) and lands in the batch_id-partitioned idempotent sink,
    so an at-least-once replay rewrites its own attempt. Every query
    appears in exactly one batch, so the drained union IS the batch
    answer — and at full probe the batch answer is bit-for-bit the exact
    scan (the retrieve_routed transparency pin), giving this streaming
    composition a full DuckDB oracle instead of a weaker invariant."""
    import os
    import tempfile

    from chatbot_spark.operators.ann import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    base = tempfile.mkdtemp(prefix="cbs_sann_q_")
    idx_path = os.path.join(base, "ivf")
    IVFIndex.build(
        emb.select("vec_id", "embedding"), vec_col="embedding",
        id_col="vec_id", nlist=8,
    ).write(idx_path)
    loaded = IVFIndex.load(spark, idx_path, vec_col="embedding", id_col="vec_id")
    nlist = loaded.centroids.count()

    queries = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    inpath = os.path.join(base, "in")
    lo = 0
    for hi in (4, 8, 12):
        queries.filter(
            (F.col("query_id") >= lo) & (F.col("query_id") < hi)
        ).coalesce(1).write.mode("append").parquet(inpath)
        lo = hi
    stream = (
        spark.readStream.schema(
            "query_id long, query_embedding array<float>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(inpath)
    )
    out_path = os.path.join(base, "hits")

    def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
        hits = loaded.search(batch_df, k=10, nprobe=nlist)
        (
            hits.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    q = (
        stream.writeStream.foreachBatch(serve_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = spark.read.parquet(out_path)
    return drained.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


@query(
    "stream_ann_serve_during_optimize",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 12),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DUCK_L2.format(a='q.qe', b='c.embedding')} AS d
  FROM q, embeddings c),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank,
         d
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(d, 6) AS dist
FROM ranked WHERE rank <= 10
""",
    bench_skip=_DRAIN,
    recheck_round=14,  # NSW build: f32 candidate selection
)
def stream_ann_serve_during_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-during-OPTIMIZE version isolation (r11): streaming ANN
    serving pinned at the CURRENT version it resolved at start, while a
    CONCURRENT OPTIMIZE cycle commits the next version mid-stream.

    Composition: cycle 0 of the versioned maintenance loop
    (hnsw.py::nsw_optimize_cycle) commits the sf corpus as ``v0``; the
    serving session resolves CURRENT → v0 (io/versioned.py::resolve) and
    loads the index ONCE (the closure-captured stream-static shape of
    stream_ann_enrich). Between micro-batches 0 and 1 — inside
    foreachBatch, i.e. genuinely mid-stream — a maintenance cycle
    appends 200 far-away synthetic rows and commits ``v1`` (atomic
    CURRENT repoint + vacuum keep=2, which must RETAIN v0 because a
    pinned reader is still on it). The oracle is the exact scan over the
    ORIGINAL corpus only: hash equality proves the serving results never
    smear across versions (no new row leaks into any batch, including
    the ones served after the repoint). The body asserts the other half
    — CURRENT really moved to v1 mid-stream, v0 survived vacuum, and a
    FRESH load at CURRENT does see the appended rows — so the pin can't
    silently pass by the optimize never running."""
    import os
    import tempfile

    from chatbot_spark.io import versioned
    from chatbot_spark.operators.hnsw import NSWGraphIndex, nsw_optimize_cycle

    emb = load_table(spark, sf_dir, "embeddings")
    base = tempfile.mkdtemp(prefix="cbs_sannopt_q_")
    state_dir = os.path.join(base, "nsw_state")

    # cycle 0: the serving corpus becomes v0 (CURRENT)
    nsw_optimize_cycle(
        spark, state_dir,
        emb.select(F.col("vec_id").alias("id"), "embedding"),
        vec_col="embedding", id_col="id", nlist=4, m=8, ef_construction=64,
        method="knn",
    )
    pinned_version = versioned.current_version(state_dir)
    pinned = NSWGraphIndex.load(
        spark, versioned.resolve(state_dir, pinned_version),
        vec_col="embedding", id_col="id",
    )
    nshards = pinned.centroids.count()
    ef_exact = int(
        pinned.graph.groupBy("shard").count().agg(F.max("count")).first()[0]
    )

    queries = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    inpath = os.path.join(base, "in")
    lo = 0
    for hi in (4, 8, 12):
        queries.filter(
            (F.col("query_id") >= lo) & (F.col("query_id") < hi)
        ).coalesce(1).write.mode("append").parquet(inpath)
        lo = hi
    stream = (
        spark.readStream.schema("query_id long, query_embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(inpath)
    )
    out_path = os.path.join(base, "hits")

    def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) == 1:
            # mid-stream maintenance: append far-away rows, commit v1.
            # The pinned serving index object must be unaffected.
            new_rows = emb.limit(200).select(
                (F.col("vec_id") + 1_000_000).alias("id"),
                F.transform(
                    "embedding", lambda x: x + F.lit(100.0)
                ).alias("embedding"),
            )
            nsw_optimize_cycle(
                spark, state_dir, new_rows,
                vec_col="embedding", id_col="id", nlist=4, m=8,
                ef_construction=64, method="knn",
            )
        hits = pinned.search(
            batch_df, k=10, nprobe=nshards, ef_search=ef_exact
        )
        (
            hits.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    q = (
        stream.writeStream.foreachBatch(serve_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # the optimize really happened mid-stream and retention kept the
    # pinned version alive for its reader
    cur = versioned.current_version(state_dir)
    if cur == pinned_version:
        raise AssertionError(
            "serve_during_optimize: CURRENT never moved — the mid-stream "
            "optimize cycle did not commit"
        )
    if not os.path.isdir(versioned.resolve(state_dir, pinned_version)):
        raise AssertionError(
            "serve_during_optimize: vacuum dropped the version a pinned "
            "reader was serving from"
        )
    fresh = NSWGraphIndex.load(
        spark, versioned.resolve(state_dir), vec_col="embedding", id_col="id"
    )
    if fresh.graph.filter(F.col("id") >= 1_000_000).count() != 200:
        raise AssertionError(
            "serve_during_optimize: the committed v1 lacks the appended "
            "rows — the maintenance cycle was a no-op"
        )

    drained = spark.read.parquet(out_path)
    return drained.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )
