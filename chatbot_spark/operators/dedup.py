"""Deduplication operators (SURVEY §2.J J1/J2) — exact, MinHash+LSH,
SimHash, and n-gram Jaccard, all engineered for 100 TB corpora.

Scale design:
 * Exact dedup: one hash-groupBy on a whitespace-normalized md5 — the
   shuffle key is 32 bytes regardless of document size.
 * MinHash+LSH: signature → band → bucket-join. The candidate join is on
   (band_idx, band_hash) — only documents sharing a band collide, so the
   join fans out per-bucket, never O(N²). Verification (exact Jaccard on
   shingle sets) touches candidate pairs only.
 * All hashes are md5-derived — bit-stable across engines, so the DuckDB
   oracle can reproduce signatures exactly (no murmur3/engine-specific
   hashing in any checked output).
 * No UDFs anywhere: shingling, signatures and banding are higher-order
   array expressions inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chatbot_spark.gating import driver_solves
from chatbot_spark.io.smallio import local_df
from chatbot_spark.operators.textstats import fingerprint, let, tokens


# ---------------------------------------------------------------- exact (J1)

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct normalized text — min id wins (stable).
    Equivalent to the PK-on-(id) dedup-on-write in SURVEY §1.2."""
    return (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .withColumn("__keep_id", F.min(id_col).over(Window.partitionBy("__fp")))
        .filter(F.col(id_col) == F.col("__keep_id"))
        .drop("__fp", "__keep_id")
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_bloom: bool = True,
    bloom_fpp: float = 0.01,
) -> DataFrame:
    """Snapshot-incremental exact dedup — the production crawl shape:
    keep a NEW batch's row iff its normalized fingerprint (a) never
    appeared in the prior corpus snapshot ``seen_df`` and (b) is the
    first (min-id) occurrence within the batch. Returns the full verdict
    table (id, kept) so downstream can filter or audit.

    Scale shape: the seen side reduces to DISTINCT fingerprints before
    any join. With ``use_bloom`` (default), a Bloom filter over the seen
    fingerprints prefilters the new side MAP-SIDE: rows whose
    fingerprint the filter rejects are definitely-unseen and skip the
    join entirely; only the (tiny at steady state) might-be-seen
    remainder takes the exact left-semi verify join that removes the
    false positives. The filter is built DISTRIBUTED (per-partition
    bitmaps OR-merged executor-side via treeReduce — the mergeable-
    sketch pattern; the md5 fingerprint's two halves ARE the double
    hashes, no extra hashing) and broadcast: at 100 TB the seen
    snapshot's fingerprints don't fit a broadcast, but the ~1.2 GB /
    10⁹-key filter at 1% fpp does — the join then moves only the
    prefiltered sliver. Without the flag it's a plain left-semi join on
    fingerprint (one shuffle of fingerprints+ids, never documents)."""
    import math

    fp_new = new_df.withColumn("__fp", fingerprint(F.col(text_col)))
    seen_fps = (
        seen_df.select(fingerprint(F.col(text_col)).alias("__fp")).distinct()
    )

    first_in_batch = F.min(id_col).over(Window.partitionBy("__fp"))

    if use_bloom:
        # persist: the distinct-fingerprint shuffle over the snapshot is
        # consumed three times (count, the bitmap build pass, the verify
        # join) — without it each consumer replays the full seen_df scan.
        # LRU-evictable; stays cached for the lazy verify join.
        seen_fps = seen_fps.persist()
        n_seen = seen_fps.count()
        if n_seen == 0:
            return (
                fp_new.withColumn(
                    "kept", (F.col(id_col) == first_in_batch).cast("int")
                ).drop("__fp")
            )
        # optimal sizing: m = -n ln p / ln²2 bits, k = (m/n) ln 2 probes
        m_bits = max(64, int(-n_seen * math.log(bloom_fpp) / (math.log(2) ** 2)))
        m_words = (m_bits + 63) // 64
        m_bits = m_words * 64
        k_hashes = max(1, round(m_bits / n_seen * math.log(2)))

        def _bit_positions(fp_hex: str):
            # the fingerprint IS an md5 — its halves are two independent
            # 64-bit hashes; (h1 + i·h2) mod m is standard double hashing
            h1 = int(fp_hex[:16], 16)
            h2 = int(fp_hex[16:32], 16) | 1
            return [(h1 + i * h2) % m_bits for i in range(k_hashes)]

        def _partition_bitmap(rows):
            import numpy as np

            bm = np.zeros(m_words, dtype=np.uint64)
            for row in rows:
                for pos in _bit_positions(row[0]):
                    bm[pos >> 6] |= np.uint64(1) << np.uint64(pos & 63)
            yield bm

        bitmap = seen_fps.rdd.mapPartitions(_partition_bitmap).treeReduce(
            lambda a, b: a | b
        )
        spark = new_df.sparkSession
        bc = spark.sparkContext.broadcast(bitmap)

        import pandas as pd
        from pyspark.sql import types as T
        from pyspark.sql.functions import pandas_udf

        def maybe_seen(s: "pd.Series") -> "pd.Series":
            import numpy as np

            bm = bc.value

            def probe(fp_hex):
                for pos in _bit_positions(fp_hex):
                    if not (bm[pos >> 6] >> np.uint64(pos & 63)) & np.uint64(1):
                        return False
                return True

            return s.map(probe)

        maybe_seen.__annotations__ = {"s": pd.Series, "return": pd.Series}
        maybe_udf = pandas_udf(T.BooleanType())(maybe_seen)

        tagged = fp_new.withColumn("__maybe", maybe_udf(F.col("__fp")))
        # exact verify join ONLY for Bloom positives (false-positive
        # removal): the join input is the prefiltered sliver, not the batch
        positives = tagged.filter(F.col("__maybe"))
        confirmed = positives.join(seen_fps, "__fp", "left_semi").select(
            F.col(id_col).alias("__seen_id")
        )
        out = (
            tagged.join(
                confirmed, tagged[id_col] == confirmed["__seen_id"], "left"
            )
            .withColumn(
                "kept",
                (
                    F.col("__seen_id").isNull()
                    & (F.col(id_col) == first_in_batch)
                ).cast("int"),
            )
            .drop("__seen_id", "__maybe", "__fp")
        )
        return out

    seen_hit = fp_new.join(seen_fps, "__fp", "left_semi").select(
        F.col(id_col).alias("__seen_id")
    )
    return (
        fp_new.join(seen_hit, fp_new[id_col] == seen_hit["__seen_id"], "left")
        .withColumn(
            "kept",
            (F.col("__seen_id").isNull() & (F.col(id_col) == first_in_batch)).cast(
                "int"
            ),
        )
        .drop("__seen_id", "__fp")
    )


# ------------------------------------------------------------- shingles

def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column — pure builtins.

    The token array is let-bound (textstats.let) so tokenization runs
    once per row: referenced directly inside the per-position lambda it
    would re-run per shingle — O(len²) per document (r13 measurement:
    this was the dominant CPU cost of every shingle-based operator)."""
    return let(
        tokens(col),
        lambda toks: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
                ),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    )


# ------------------------------------------------- MinHash + LSH (J2)

def minhash_signature(col: Column, num_hashes: int = 12, shingle_n: int = 3) -> Column:
    """MinHash signature as an array of ``num_hashes`` md5-min hex strings.

    Hash family h_j(s) = md5(j || ':' || s); the signature component is the
    lexicographic min over the document's shingles. md5 makes the family
    portable: any engine computes the identical signature.
    """
    # NB: the lambda must take exactly ONE parameter — pyspark passes
    # (element, index) to two-parameter lambdas, which would silently
    # rebind a `j=j` default to the index column.
    def _h(j: int):
        prefix = f"{j}:"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    # let-bound: the shingle array is built once per row, not once per
    # hash function (num_hashes copies of the tokenize+shingle tree).
    return let(
        shingles(col, shingle_n),
        lambda sh: F.array(
            *[F.array_min(F.transform(sh, _h(j))) for j in range(num_hashes)]
        ),
    )


def band_hashes(sig: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: array of ``bands`` md5(band_idx || joined sig rows)."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[
                        F.element_at(sig, b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def _lsh_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    scope_col: str | None = None,
) -> DataFrame:
    """(__id, __bucket) LSH band-bucket table — the joinable index form.

    ``scope_col`` prepends a partition key (language, domain, source) to
    every bucket id, so the downstream bucket JOIN can only meet
    candidates inside one scope — per-language dedup as CCNet/RefinedWeb
    run it, enforced in the join key rather than by filtering pairs
    after the fact (cross-scope rows never co-bucket, never shuffle
    together).

    Signatures via explode + groupBy(min), NOT the array-expression form
    (minhash_signature): the inlined higher-order tree is O(num_hashes ×
    shingling) per reference and, duplicated across the join sides,
    blows up optimizer/codegen time. Here the per-row expression is six
    md5s of a scalar; the groupBy min is map-side-combinable (at 100 TB
    the shuffle carries one 6×32-byte row per document). Hash family and
    banding are bit-identical to minhash_signature/band_hashes.
    """
    rows_per_band = num_hashes // bands
    post = df.select(
        F.col(id_col).alias("__id"),
        *([F.col(scope_col).alias("__scope")] if scope_col else []),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("__sh"),
    )
    sigs = post.groupBy(
        "__id", *(["__scope"] if scope_col else [])
    ).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("__sh")))).alias(f"__s{j}")
            for j in range(num_hashes)
        ]
    )
    scoped = (
        (lambda c: F.concat(F.col("__scope"), F.lit("|"), c))
        if scope_col
        else (lambda c: c)
    )
    return sigs.select(
        "__id",
        F.explode(
            F.array(
                *[
                    scoped(
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.lit(str(b)),
                                *[
                                    F.col(f"__s{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ],
                            )
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    verify: bool = True,
    scope_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH: shingle → signature → band →
    bucket-join → (optional) exact-Jaccard verification.

    Returns (id_a, id_b[, jaccard]) with id_a < id_b. The bucket join is the
    only shuffle over full data and is keyed by (band, hash) — at 100 TB the
    candidate set, not the corpus square, bounds the work. ``scope_col``
    scopes dedup inside a partition key (per-language / per-domain — the
    CCNet recipe) by folding the scope into the bucket id: cross-scope
    rows never co-bucket, so the restriction costs nothing.
    """
    buckets = _lsh_buckets(
        df, id_col, text_col, num_hashes, bands, shingle_n, scope_col
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.__bucket") == F.col("b.__bucket")) & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand
    j = jaccard_pairs_for(cand, df, id_col, text_col, shingle_n)
    return j.filter(F.col("jaccard") >= jaccard_threshold)


# ------------------------------------------------ exact n-gram Jaccard

def _shingle_posting(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("__id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("__sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    persist_index: bool = False,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold via an inverted shingle
    index join (posting-list self-join, group by pair, |A∩B| / |A∪B|).

    This is the exact oracle for MinHash; at scale prefer minhash_lsh_pairs
    (same output contract) — this one's join fans out on every shared
    shingle, fine for verification sets, quadratic in the worst case.

    ``persist_index=True`` caches the shingle posting list (it feeds both
    self-join sides AND the size table — 3 consumers); use it when ``df``
    is itself an expensive subtree (e.g. downstream of quality filtering +
    dedup) that would otherwise be recomputed per consumer.
    """
    post = _shingle_posting(df, id_col, text_col, shingle_n)
    if persist_index:
        from pyspark import StorageLevel

        post = post.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = post.groupBy("__id").agg(F.count("*").alias("__n"))
    inter = (
        post.alias("a")
        .join(post.alias("b"), (F.col("a.__sh") == F.col("b.__sh")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count("*").alias("__inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__n", "__na"), "id_a")
        .join(sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__n", "__nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_for(
    pairs: DataFrame, df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Exact Jaccard for a given candidate-pair set (verification step)."""
    sh = df.select(F.col(id_col).alias("__id"), shingles(F.col(text_col), shingle_n).alias("__sh"))
    return (
        pairs.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sha"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__shb"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sha", "__shb")).cast("double")
            / F.size(F.array_union("__sha", "__shb")).cast("double"),
        )
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------- SimHash

def _hash32(c: Column, hex_off: int) -> Column:
    """32-bit integer from an md5 hex substring — portable bit source."""
    return F.conv(F.substring(F.md5(c), hex_off, 8), 16, 10).cast("long")


def simhash_bits(col: Column, n_bits: int = 64) -> Column:
    """SimHash over whitespace tokens as an ARRAY<INT> of 0/1 (length
    ``n_bits``). Token bit b votes +1/−1; the simhash bit is sign(sum).

    Entirely higher-order expressions — the per-token 64-bit hash comes
    from two 32-bit md5 words, so no engine-specific hashing is involved.
    """
    votes = F.aggregate(
        tokens(col),
        F.array_repeat(F.lit(0), n_bits),
        # The two 32-bit hash words are let-bound per token: referenced
        # directly inside the per-bit lambda, md5+conv would re-run for
        # every one of the n_bits positions (r13: 64 md5s per token).
        lambda acc, t: let(
            let(
                F.md5(t),
                lambda h: F.array(
                    *[
                        F.conv(F.substring(h, off, 8), 16, 10).cast("long")
                        for off in (1, 9)
                    ]
                ),
            ),
            lambda w: F.zip_with(
                acc,
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_bits - 1)),
                    # (word >> (bpos % 32)) & 1 without shiftright (which
                    # needs a literal shift): word / 2^b truncated, parity.
                    lambda bpos: (
                        F.when(
                            (
                                F.floor(
                                    F.when(bpos < 32, F.element_at(w, 1)).otherwise(
                                        F.element_at(w, 2)
                                    )
                                    / F.pow(F.lit(2.0), bpos % 32)
                                ).cast("long")
                                % 2
                            )
                            == 1,
                            F.lit(1),
                        ).otherwise(F.lit(-1))
                    ),
                ),
                lambda a, v: a + v,
            ),
        ),
    )
    return F.transform(votes, lambda v: F.when(v > 0, F.lit(1)).otherwise(F.lit(0)))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    n_bits: int = 64,
    n_blocks: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with block-LSH: split the simhash into
    ``n_blocks`` contiguous (possibly uneven) blocks; by pigeonhole, a pair
    within hamming ≤ max_hamming MUST share ≥1 identical block when
    ``n_blocks >= max_hamming + 1`` (the default) — at most ``max_hamming``
    blocks can contain a differing bit. Join on (block_idx, block_value),
    then verify the exact hamming distance. Returns (id_a, id_b, hamming).

    Passing an explicit ``n_blocks < max_hamming + 1`` trades candidate
    recall for fewer join buckets: a pair can then spread its ≤max_hamming
    differing bits so every block differs (e.g. 2 bits in each of 4 blocks
    at max_hamming=8) and is silently dropped — only exact candidate
    generation above the threshold, not completeness, is guaranteed."""
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks > n_bits:
        raise ValueError(f"n_blocks={n_blocks} > n_bits={n_bits}")
    sizes = [n_bits // n_blocks + (1 if i < n_bits % n_blocks else 0) for i in range(n_blocks)]
    offsets = [1 + sum(sizes[:i]) for i in range(n_blocks)]
    # Signature via explode + 64 map-side-combinable vote sums, NOT the
    # inlined simhash_bits expression: the nested higher-order tree,
    # duplicated across the candidate self-join below, explodes optimizer/
    # codegen time (same pathology minhash_lsh_pairs had). Bit values are
    # identical to simhash_bits.
    tok = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("__t")
    ).select(
        "__id",
        _hash32(F.col("__t"), 1).alias("__w1"),
        _hash32(F.col("__t"), 9).alias("__w2"),
    )

    def vote(b: int) -> Column:
        word = F.col("__w1") if b < 32 else F.col("__w2")
        bit = F.floor(word / F.lit(float(2 ** (b % 32)))).cast("long") % 2
        return F.sum(F.when(bit == 1, 1).otherwise(-1))

    votes = tok.groupBy("__id").agg(*[vote(b).alias(f"__v{b}") for b in range(n_bits)])
    sh = votes.select(
        "__id",
        F.array(
            *[
                F.when(F.col(f"__v{b}") > 0, F.lit(1)).otherwise(F.lit(0))
                for b in range(n_bits)
            ]
        ).alias("__bits"),
    )
    blocks = sh.select(
        "__id",
        "__bits",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws("", F.slice("__bits", offsets[i], sizes[i]))
                    for i in range(n_blocks)
                ]
            )
        ).alias("__bi", "__bv"),
    )
    cand = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.__bi") == F.col("b.__bi"))
            & (F.col("a.__bv") == F.col("b.__bv"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__bits").alias("__ba"),
            F.col("b.__bits").alias("__bb"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.aggregate(
                F.zip_with("__ba", "__bb", lambda x, y: F.abs(x - y)),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
        )
    )
    return cand.filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


# --------------------------------------- duplicate-cluster resolution (J2)

def resolve_duplicate_clusters(
    pairs: DataFrame, max_iter: int = 20, driver_threshold: int = 2_000_000
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, canonical_id),
    canonical = min id in the component (keep-min-id dedup policy; SURVEY
    §2.J J2 "connected components → keep min id").

    Hybrid execution, the standard CC recipe:

    * **small edge sets** (≤ ``driver_threshold`` pairs — the common case:
      near-dup PAIRS are a tiny fraction of any deduped corpus) collect
      once VIA ARROW (``toArrow`` → columnar buffers, ~32 MB for 2M long
      pairs — collecting 2M PySpark ``Row`` objects instead would cost
      several hundred MB of driver heap) and resolve with driver-side
      union-find: one job, O(E α(E)), no iteration.
    * **large edge sets** run iterative label propagation with pointer
      jumping: each round (1) relaxes over edges (min of own and
      neighbors' labels) and (2) jumps through the label table
      (label ← label's label), so label values propagate 2^r hops after
      r rounds — O(log diameter) rounds even for chain-shaped components
      (embedding ε-ball graphs form long chains; edge relaxation alone
      needs diameter rounds there). Invariant: label(i) is always the id
      of a node in i's component and monotone non-increasing, so the
      fixpoint is the component min. Lineage is cut per round
      (localCheckpoint) so plans don't grow.

    Both paths return identical results (the fixpoint is unique). Only
    ids that appear in ``pairs`` are returned (singletons are trivially
    their own canonical).
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    n_edges = edges.persist().count()
    if n_edges <= driver_threshold:
        tbl = edges.toArrow()  # columnar transfer, no per-row Row objects
        edges.unpersist()
        srcs = tbl.column("src").to_pylist()
        dsts = tbl.column("dst").to_pylist()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(srcs, dsts):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the representative is the
                # component min without a second pass
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(x, find(x)) for x in parent]
        id_type = pairs.schema["id_a"].dataType.simpleString()
        return local_df(
            pairs.sparkSession, out, f"doc_id {id_type}, canonical_id {id_type}"
        )

    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()

    labels = (
        sym.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint()

    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # checkpoint before the pointer-jump self-join: without it the
        # whole relaxation subtree (edge join + agg) evaluates twice per
        # round (once per join side) and once more in the changed-check
        relaxed = labels.join(nbr_min, labels.id == nbr_min.src, "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        ).localCheckpoint()
        # pointer jump: label ← label's label (label values are node ids,
        # so they key back into the same table) — doubles propagation
        # distance per round
        ptr = relaxed.select(
            F.col("id").alias("__pid"), F.col("label").alias("__plabel")
        )
        new_labels = (
            relaxed.join(ptr, relaxed.label == ptr.__pid, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("__plabel"), F.col("label"))
                ).alias("label"),
            )
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("canonical_id"))


# ------------------------------------- exact-substring span dedup (J2d)

def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """ExactSubstr-style duplicated-passage detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): any
    ``window``-token sliding shingle that occurs more than once ANYWHERE
    in the corpus (another document or another offset of the same one)
    marks its token range as duplicated; overlapping/adjacent duplicated
    windows then merge into maximal per-document spans. The marked set
    EQUALS the suffix-array scan's (union of all substrings duplicated
    for >= ``window`` tokens — see :func:`duplicated_spans_sa` for the
    proof and the hash-free twin that pins it), with span boundaries in
    token positions; unlike the suffix array it is one shuffle-parallel
    hash exchange. The only theoretical divergence is a 128-bit md5
    collision (over-marking); the sa twin has none.

    Finer-grained than paragraph dedup (J1b: whole paragraphs only) and
    exact where MinHash (J2) is probabilistic: the reference outsources
    all dedup to its vector store, so this family is beyond-reference
    scope (SURVEY §2.J).

    Returns one row per merged span: (id_col, span_start, span_end) in
    1-based token positions, both inclusive.

    Scale: the one wide exchange is the count-over-hash on the 32-byte
    shingle md5 — the shuffle carries (hash, id, start), never document
    text; everything downstream (island merge) shuffles only the
    duplicated subset, re-keyed by document. No UDFs: shingling is a
    slice + concat inside whole-stage codegen.
    """
    w = int(window)
    tk = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    ).withColumn("__n", F.size("__toks"))
    wins = (
        tk.filter(F.col("__n") >= w)
        .select(
            "__id",
            F.explode(F.sequence(F.lit(1), F.col("__n") - w + 1)).alias("s"),
            "__toks",
        )
        .select(
            "__id",
            "s",
            F.md5(F.concat_ws(" ", F.expr(f"slice(__toks, s, {w})"))).alias("h"),
        )
    )
    dup = (
        wins.withColumn("__cnt", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("__cnt") > 1)
        .select("__id", "s")
    )
    seq = Window.partitionBy("__id").orderBy("s")
    isl = dup.withColumn(
        "__brk",
        F.when(
            F.lag("s").over(seq).isNull() | (F.col("s") > F.lag("s").over(seq) + w),
            1,
        ).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__brk").over(seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        isl.groupBy("__id", "__island")
        .agg(
            F.min("s").alias("span_start"),
            (F.max("s") + F.lit(w - 1)).alias("span_end"),
        )
        .select(F.col("__id").alias(id_col), "span_start", "span_end")
    )


def remove_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
    keep_spans_col: str | None = None,
) -> DataFrame:
    """Rebuild each document with its duplicated spans dropped (the
    ExactSubstr removal step). ``spans`` is ``duplicated_spans`` output;
    rows without spans pass through verbatim (whitespace-normalized).

    The span list per document is tiny (merged, non-overlapping), so it
    rides along as an array column; filtering is a nested higher-order
    expression — position-tagged tokens filtered against the span
    intervals — entirely JVM-side, no UDF, no extra shuffle beyond the
    spans aggregation itself.

    ``keep_spans_col`` retains the per-doc span array (NULL where a doc
    has none) under that name, so callers computing span statistics read
    them off THIS plan instead of re-evaluating the whole shingle
    pipeline a second time — at corpus scale the spans subtree is the
    dominant cost and must not be duplicated."""
    sp = spans.groupBy(F.col(id_col).alias("__sid")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    tk = df.withColumn("__toks", F.split(F.trim(F.col(text_col)), r"\s+"))
    joined = tk.join(sp, F.col(id_col) == F.col("__sid"), "left")
    kept = F.expr(
        "transform("
        "  filter("
        "    transform(__toks, (t, i) -> struct(i + 1 AS pos, t AS tok)),"
        "    p -> __spans IS NULL OR NOT exists("
        "      __spans, b -> p.pos >= b.span_start AND p.pos <= b.span_end)"
        "  ), p -> p.tok)"
    )
    out = joined.withColumn(out_col, F.concat_ws(" ", kept))
    if keep_spans_col is not None:
        out = out.withColumn(keep_spans_col, F.col("__spans"))
    return out.drop("__toks", "__spans", "__sid")


def incremental_minhash_pairs(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs INVOLVING a new batch only — the incremental twin of
    ``minhash_lsh_pairs`` (and the near-dup sibling of
    ``incremental_exact_dedup``): candidates are new×seen ∪ new×new via
    the same band-bucket join; the seen corpus is NEVER re-paired with
    itself.

    The seen side enters as its (bucket, id) index — exactly what
    ``_lsh_buckets`` emits and what a snapshot pipeline stores per run
    (append new buckets via the A9 upsert path): each arriving batch
    pays O(batch) signature work plus one bucket join against the stored
    index, so per-delta cost scales with the delta, not the corpus. The
    pair set equals the full-corpus operator's output filtered to pairs
    touching the batch (bucket joins are symmetric), which is the
    oracle's statement of correctness. Ids must be unique across
    new ∪ seen (the snapshot contract); id_a < id_b as in the family.
    """
    bn = _lsh_buckets(
        new_docs, id_col, text_col, num_hashes, bands, shingle_n
    ).persist()
    bs = _lsh_buckets(seen_docs, id_col, text_col, num_hashes, bands, shingle_n)
    cross = (
        bn.alias("a")
        .join(
            bs.alias("b"),
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") != F.col("b.__id")),
        )
        .select(
            F.least(F.col("a.__id"), F.col("b.__id")).alias("id_a"),
            F.greatest(F.col("a.__id"), F.col("b.__id")).alias("id_b"),
        )
    )
    within = (
        bn.alias("a")
        .join(
            bn.alias("b"),
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )
    cand = cross.unionByName(within).distinct()
    corpus = new_docs.select(id_col, text_col).unionByName(
        seen_docs.select(id_col, text_col)
    )
    j = jaccard_pairs_for(cand, corpus, id_col, text_col, shingle_n)
    out = j.filter(F.col("jaccard") >= jaccard_threshold)
    # materialize the (small) pair set, then release the batch-signature
    # cache instead of pinning it for the session (round-6 ADVICE)
    out = out.localCheckpoint(eager=True)
    bn.unpersist()
    return out


# ------------------------------------- prefix-filtered exact Jaccard join

def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
    persist_index: bool = True,
) -> DataFrame:
    """Exact all-pairs Jaccard >= t_num/t_den via PREFIX FILTERING
    (Bayardo et al. WWW'07 All-Pairs / SSJoin family) — the COMPLETE
    similarity join that is still sub-quadratic.

    Positioning inside the dedup family: minhash_lsh_pairs is
    probabilistic (a qualifying pair can be missed), and
    ngram_jaccard_pairs joins on EVERY shared shingle (complete but
    fan-out-bound: a stopword shingle shared by a million docs explodes
    the join). Prefix filtering keeps completeness while joining only on
    PREFIX shingles: order every doc's shingle set by ascending global
    document frequency (rarest first, ties by shingle), keep the first
    |s| - ceil(t·|s|) + 1; the classic prefix lemma guarantees any pair
    with J >= t shares at least one prefix shingle, and because prefixes
    are rare-first, bucket sizes are driven by the RARE end of the
    vocabulary — the frequent-shingle explosion never happens.

    Pipeline: one shingle pass → doc-frequency agg → per-doc rank window
    (partitioned by doc, tiny) → prefix self-join on shingle →
    DISTINCT candidates → exact verify on the full shingle arrays.
    Threshold math is all-integer: prefix length uses integer ceil, the
    final test is inter · t_den >= union · t_num (no float at the
    boundary), and the reported similarity is jaccard_ppm =
    inter · 1e6 div union — BIGINT, engine-identical.

    Returns (id_a, id_b, jaccard_ppm) with id_a < id_b, complete at the
    threshold: the naive all-pairs oracle must produce the identical
    set (the workload pins that).
    """
    sh = df.select(
        F.col(id_col).alias("__id"),
        shingles(F.col(text_col), shingle_n).alias("__shs"),
    )
    if persist_index:
        # the shingle table feeds FIVE consumers (doc sizes, global df,
        # the ranked prefix pass, and both verify sides): unpersisted,
        # each re-tokenizes the corpus — 8 corpus scans in the physical
        # plan (measured; 1 with the cache). O(docs) rows of shingle
        # arrays, the same footprint ngram_jaccard_pairs' persist_index
        # caches; default ON because the reuse is structural here, not
        # situational. Same lifecycle contract as ngram_jaccard_pairs:
        # the cache must outlive the returned lazy plan, so the caller
        # (or spark.catalog.clearCache()) owns eviction.
        sh = sh.persist()
    post = sh.select("__id", F.explode("__shs").alias("__sh"))
    sizes = post.groupBy("__id").agg(F.count("*").cast("long").alias("__n"))
    freq = post.groupBy("__sh").agg(F.count("*").cast("long").alias("__df"))
    w = Window.partitionBy("__id").orderBy(
        F.col("__df").asc(), F.col("__sh").asc()
    )
    ordered = (
        post.join(freq, "__sh")
        .withColumn("__pos", F.row_number().over(w))
        .join(sizes, "__id")
    )
    # L = n - ceil(t*n) + 1, integer ceil
    pref = ordered.filter(
        F.col("__pos")
        <= F.col("__n")
        - F.expr(f"({t_num} * __n + {t_den} - 1) div {t_den}")
        + F.lit(1)
    ).select("__id", "__sh", "__n")
    # length filter (the second All-Pairs prune): J >= t forces
    # t <= min(na,nb)/max(na,nb), so size-incompatible pairs are cut
    # INSIDE the join before they ever materialize as candidate rows
    cand = (
        pref.select(F.col("__id").alias("id_a"), "__sh", F.col("__n").alias("__na"))
        .join(
            pref.select(
                F.col("__id").alias("id_b"), "__sh", F.col("__n").alias("__nb")
            ),
            "__sh",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__nb") * t_den >= F.col("__na") * t_num)
            & (F.col("__na") * t_den >= F.col("__nb") * t_num)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    verify = (
        cand.join(
            sh.select(F.col("__id").alias("id_a"), F.col("__shs").alias("__sa")),
            "id_a",
        )
        .join(
            sh.select(F.col("__id").alias("id_b"), F.col("__shs").alias("__sb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb")).cast("long").alias("__i"),
            F.size(F.array_union("__sa", "__sb")).cast("long").alias("__u"),
        )
    )
    return (
        verify.filter(F.col("__i") * t_den >= F.col("__u") * t_num)
        .select(
            "id_a",
            "id_b",
            F.expr("(__i * 1000000) div __u").cast("long").alias("jaccard_ppm"),
        )
    )


# ----------------------------- exact-substring via suffix grouping (J2d-sa)

def _merge_windows_to_spans(
    dup: DataFrame, window: int, id_col: str
) -> DataFrame:
    """Shared island-merge tail of the ExactSubstr family: duplicated
    window starts (__id, s) -> maximal merged spans (1-based inclusive).
    Windows whose starts are within ``window`` of each other overlap or
    touch, so they fuse; the break marker + running sum is the standard
    gaps-and-islands shape, partitioned per document."""
    w = int(window)
    seq = Window.partitionBy("__id").orderBy("s")
    isl = dup.withColumn(
        "__brk",
        F.when(
            F.lag("s").over(seq).isNull() | (F.col("s") > F.lag("s").over(seq) + w),
            1,
        ).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__brk").over(
            seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        isl.groupBy("__id", "__island")
        .agg(
            F.min("s").alias("span_start"),
            (F.max("s") + F.lit(w - 1)).alias("span_end"),
        )
        .select(F.col("__id").alias(id_col), "span_start", "span_end")
    )


def _duplicated_spans_sa_numpy(tk: DataFrame, w: int, id_col: str) -> DataFrame:
    """Driver kernel behind :func:`duplicated_spans_sa`'s size gate: the
    gate-checked tokenized table (``__id``, ``__toks``, ``__n`` — the
    SAME Spark tokenization expression, collected once via Arrow, so
    token boundaries are identical by construction) grouped by exact
    w-token windows in numpy. Tokens are dictionary-coded to int32
    (exact: code equality ⟺ string equality), windows are rows of a
    stride view over the doc-major code stream (rows crossing a doc
    boundary masked out), and duplicated starts are the rows whose
    byte-view occurs more than once — token-for-token equality, no
    hashing, exactly the prefix-doubling classes' duplicated set. The
    island merge replays :func:`_merge_windows_to_spans` (break where
    the gap exceeds w, 1-based inclusive spans)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    spark = tk.sparkSession
    # match the distributed path's __n >= 1 filter (r13 ADVICE): a null
    # text yields null __toks / __n = -1, which the distributed explode
    # drops but would turn into garbage offsets (and a np.repeat raise)
    # here
    tbl = tk.filter(F.col("__n") >= 1).select("__id", "__toks", "__n").toArrow()
    id_arr = tbl.column("__id").combine_chunks()
    ntoks = np.asarray(tbl.column("__n").to_numpy(zero_copy_only=False), dtype=np.int64)
    toks = tbl.column("__toks").combine_chunks()
    flat = pc.list_flatten(toks)
    empty_spans = pa.table(
        {
            id_col: id_arr.take(pa.array([], pa.int64())),
            "span_start": pa.array([], pa.int32()),
            "span_end": pa.array([], pa.int32()),
        }
    )
    if len(flat) == 0 or len(flat) < w:
        return local_df(spark, empty_spans)
    enc = pc.dictionary_encode(flat)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    codes = np.asarray(enc.indices.to_numpy(zero_copy_only=False), dtype=np.int32)
    off = np.concatenate([[0], np.cumsum(ntoks)])
    doc_of = np.repeat(np.arange(len(ntoks), dtype=np.int64), ntoks)
    g = np.arange(len(codes) - w + 1, dtype=np.int64)
    d = doc_of[g]
    s_local = g - off[d]  # 0-based window start within its doc
    full = s_local <= ntoks[d] - w  # window stays inside one doc
    if not full.any():
        return local_df(spark, empty_spans)
    wins = np.lib.stride_tricks.sliding_window_view(codes, w)[full]
    wv = np.ascontiguousarray(wins).view(f"V{4 * w}").ravel()
    _, inv, cnt = np.unique(wv, return_inverse=True, return_counts=True)
    dup = cnt[inv] > 1
    dd, ds = d[full][dup], (s_local[full][dup] + 1).astype(np.int32)  # 1-based
    if len(dd) == 0:
        return local_df(spark, empty_spans)
    # island merge per doc (inputs are doc-major, s ascending)
    brk = np.empty(len(dd), dtype=bool)
    brk[0] = True
    brk[1:] = (dd[1:] != dd[:-1]) | (ds[1:] > ds[:-1] + w)
    starts = np.flatnonzero(brk)
    ends = np.append(starts[1:] - 1, len(dd) - 1)
    out = pa.table(
        {
            id_col: id_arr.take(pa.array(dd[starts], pa.int64())),
            "span_start": pa.array(ds[starts], pa.int32()),
            "span_end": pa.array(ds[ends] + np.int32(w - 1), pa.int32()),
        }
    )
    return local_df(spark, out)


# token gate of duplicated_spans_sa's driver numpy pass (r13)
SA_DRIVER_SOLVE_TOKENS = 5_000_000


def duplicated_spans_sa(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Suffix-grouping form of :func:`duplicated_spans` — the Lee et al.
    suffix-array semantics computed by EXACT token comparison, no hash
    anywhere (r8 verdict item 7).

    Equivalence argument (why the two span sets are IDENTICAL, i.e. the
    fixed-window form is not an approximation): a substring of length
    L >= w duplicated at two places has every one of its w-windows
    duplicated (each appears at the aligned offset of both copies), so
    its full range is covered by duplicated w-windows; conversely every
    duplicated w-window IS a duplicated substring of length exactly w.
    Hence ``union of duplicated w-windows == union of all substrings
    duplicated for >= w tokens`` — the suffix-array scan's marked set,
    with the same maximal merged spans. The md5 form can in principle
    only OVER-mark (on a 128-bit collision); this one cannot: windows
    are grouped by prefix-doubling EQUIVALENCE CLASSES built from the
    tokens themselves.

    Prefix doubling, equality-only (no lexicographic order needed, so
    no global sort — every step is a keyed groupBy/join): round k holds
    one class label per (doc, position) such that two positions share a
    label iff their k-token prefixes are token-for-token equal. Labels
    are the minimum (doc, pos) of the class — fixed-size, exact.
    Doubling: classes of length 2k group by (label[p], label[p+k]);
    the final length-w classes group by (label_L[p], label_L[p+w-L])
    with L the largest power of two <= w (the overlapping-blocks trick —
    valid because equal pairs of overlapping L-blocks <=> equal
    w-prefixes). ceil(log2(w)) + 1 keyed exchanges over O(total tokens)
    rows; per-round state localCheckpoint-ed (the iterate() discipline —
    each round references the carried classes twice).

    Trade-off vs :func:`duplicated_spans`: that one is ONE hash exchange
    (md5 over the window text — the production default at 100 TB); this
    one is O(log w) keyed exchanges but collision-free and the
    scaffolding for variable thresholds (the class tables at each power
    of two are reusable for any w in between). The workload pins both
    against brute-force oracles and the pytest twin pins their span-set
    equality on random corpora.

    Size gate (r13, same rationale as the components/LPA driver
    solves): below ``SA_DRIVER_SOLVE_TOKENS`` total tokens the duplicated
    set is computed in one vectorized numpy pass on the driver —
    EXACT token comparison as here (integer-coded tokens, byte-view
    window grouping — no hash truncation anywhere), identical
    duplicated-start set by definition (count of identical w-token
    windows > 1 is a property of the data, not the algorithm), same
    island merge. The prefix-doubling rounds pay ceil(log2 w)+1 eager
    exchanges of job-floor latency that tiny inputs never amortize;
    past the gate the distributed rounds run unchanged.
    """
    w = int(window)
    if w < 2:
        raise ValueError("window must be >= 2")
    tk = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    ).withColumn("__n", F.size("__toks"))
    # gate probe, cheapest-first (r14 verdict item 3 class): the token
    # SUM has no early exit, so a corpus with more DOCS than the token
    # budget rejects on a truncated row probe first (every non-empty doc
    # has >= 1 token) — the full tokenize-and-sum pass only runs on
    # doc-count-bounded inputs
    if driver_solves(df.select(F.col(id_col)), SA_DRIVER_SOLVE_TOKENS):
        total = tk.agg(F.sum(F.greatest(F.col("__n"), F.lit(0)))).first()[0] or 0
        if total <= SA_DRIVER_SOLVE_TOKENS:
            return _duplicated_spans_sa_numpy(tk, w, id_col)
    pos = (
        tk.filter(F.col("__n") >= 1)
        .select(
            "__id",
            F.explode(F.sequence(F.lit(1), F.col("__n"))).alias("s"),
            F.element_at("__toks", F.col("s")).alias("__tok"),
        )
    )

    def _relabel(keyed: DataFrame, key: str) -> DataFrame:
        reps = keyed.groupBy(key).agg(
            F.min(F.struct(F.col("__id"), F.col("s"))).alias("__c")
        )
        return keyed.join(reps, key).select("__id", "s", "__c")

    # pos feeds both sides of the first relabel (groupBy reps + join
    # back) inside ONE eager-checkpoint job — persisted, the corpus is
    # tokenized once instead of twice (the >=3-consumers rule)
    pos = pos.persist()
    cur = _relabel(pos, "__tok").localCheckpoint(eager=True)
    pos.unpersist()
    L = 1
    while L * 2 <= w:
        shifted = cur.select(
            "__id", (F.col("s") - L).alias("s"), F.col("__c").alias("__c2")
        )
        keyed = cur.join(shifted, ["__id", "s"], "left").select(
            "__id", "s", F.struct("__c", "__c2").alias("__k")
        )
        cur = _relabel(keyed, "__k").localCheckpoint(eager=True)
        L *= 2
    if L < w:
        off = w - L
        shifted = cur.select(
            "__id", (F.col("s") - off).alias("s"), F.col("__c").alias("__c2")
        )
        keyed = cur.join(shifted, ["__id", "s"], "left").select(
            "__id", "s", F.struct("__c", "__c2").alias("__k")
        )
        cur = _relabel(keyed, "__k").localCheckpoint(eager=True)
    # window starts only (full w-prefix exists); class count > 1 = the
    # w-prefix occurs elsewhere (another doc or another offset)
    starts = cur.join(
        tk.select("__id", "__n"), "__id"
    ).filter(F.col("s") <= F.col("__n") - w + 1)
    dup = (
        starts.withColumn("__cnt", F.count("*").over(Window.partitionBy("__c")))
        .filter(F.col("__cnt") > 1)
        .select("__id", "s")
    )
    return _merge_windows_to_spans(dup, w, id_col)
