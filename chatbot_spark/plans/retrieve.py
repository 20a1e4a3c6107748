"""Retrieval pipeline (SURVEY §3.1/§3.2) — the reference's read path as a
batch plan over a queries DataFrame.

Reference flow (rag_graph.py): route_mode → analyze_intent (LLM) →
analyze_components (LLM) → search_documents (embed → per-component ANN →
optional rerank) → generate_response (LLM + citation rewrite). The LLM
stages are driver-side hooks here (§2.M — pluggable, stubbed); everything
data-parallel is one Catalyst plan:

    queries → embed UDF → partition-pruned similarity join →
    per-(query,component) window quota → rerank UDF → top-10 →
    reference-list assembly (URL dedup G2)

Modes mirror rag_graph.py:176-189: "no_search" short-circuits,
"universal" searches all partitions with k=10 and no rerank
(rag_graph.py:247-257), "component" applies the quota heuristic + rerank
gating (rag_graph.py:365-417).
"""

from __future__ import annotations

import weakref
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chatbot_spark.operators.embed import embed_queries
from chatbot_spark.operators.rerank import (
    DEFAULT_RERANK_LIMIT,
    hash_cross_score,
    rerank,
    should_rerank,
)
from chatbot_spark.operators.topk import (
    DEFAULT_SEARCH_LIMIT,
    _rank_metric,
    final_topk,
    knn_join,
    per_component_quota,
    scan_topk,
)


# Selective-filter brute cutover default (see RetrieveConfig.filter_brute_
# threshold): BENCH_ANN_FILTERED (1M corpus) — the filtered INDEX route
# reads 0.17–0.4× vs the exact filtered scan at allowed-subset sizes of
# 10k–100k rows and only wins (1.8×) at 500k, so 10^5 is the measured
# crossover under which a default-config retrieve() exact-scans the subset
# instead of paying index traversal that cannot win.
DEFAULT_FILTER_BRUTE_THRESHOLD = 100_000

# Probe-fraction cutover to the full-probe scan (see _routed_universal):
# when the derived/calibrated nprobe exceeds this fraction of nlist, the
# per-cell routed probe saves too little scan to pay for its routing
# machinery (centroid shortlist window + probed-cell collect + the
# shortlist join carrying the query vectors) — IVFIndex.search's
# nprobe==nlist fast path (one broadcast-query scan, zero routing) is
# cheaper and can only RAISE recall (probing strictly more cells).
# Measured: BENCH_PROBE_CUTOVER.json (200k Zipf-text docs, nlist=64) —
# routed probing still wins at 0.875 of the cells (10.4 s vs 11.5 s
# full fast path) and loses from ~0.9 up (11.7 s at 0.906, 13.7 s at
# 0.984); two independent runs put the crossover in [0.87, 0.92], so
# 0.9 cuts over only where the full scan is the measured winner —
# never materially slower than the best static choice, and recall can
# only rise. In practice this protects the CALIBRATED branch
# (calibrate_nprobe can return any width): the fixed nprobe_for_slo
# tiers emit either nlist (already the fast path) or ≤ 7/8·nlist
# (below the crossover). (The r10 BENCH_ANN_CALIB "pruned 6–8× slower
# than full" figure that first motivated a much lower cutover was
# CACHE-TAINTED — the bench persisted an identical plan before timing;
# fixed in r11, honest full-probe cost is 12 s vs calibrated-pruned
# 6–7 s, i.e. pruned probing genuinely pays at low fractions.)
# The crossover was measured while the broadcast route still routed with
# a Spark centroid window + collect; routing is now a driver-side fold over
# the collected batch, so re-measure before moving the cutover.
PROBE_FRACTION_CUTOVER = 0.9


@dataclass
class RetrieveConfig:
    mode: str = "universal"  # no_search | universal | component
    components: list[str] = field(default_factory=list)
    component_codes: list[int] | None = None
    k: int = DEFAULT_SEARCH_LIMIT
    metric: str = "l2"
    rerank_enabled: bool = False
    backend_has_rerank: bool = True
    backend: str = "hash"
    dim: int = 64
    # --- index-aware routing (SURVEY §4's deferred optimizer item) ---
    # When a written ANN index is REGISTERED for the corpus, universal
    # mode rewrites the exact knn_join onto it: centroid/shard-routed,
    # partition-pruned reads instead of a corpus scan — the caller does
    # not need to know the index exists. recall_slo picks the probe
    # width: 1.0 demands exactness → FULL probe (and, for the graph
    # index, a whole-shard beam), which is bit-for-bit the exact scan
    # (the ivf_knn_fullprobe / graph_knn_fullprobe pins); 0.95 uses the
    # measured-recall pruned setting (BENCH_ANN_SCALE: IVF recall 1.0 at
    # nprobe 7/8 and 2.9×, NSW recall 0.99 at 9.9×); below that,
    # nlist/2. ``index_kind``: "ivf" | "nsw" | "auto" (sniff the written
    # layout — cells/ is IVF, graph/ is the sharded NSW family).
    # ``index_nlist`` is OPTIONAL cross-validation only: the probe width
    # is always derived from the LOADED index's real centroid count (a
    # config understating nlist would silently under-probe and break the
    # slo=1.0 exactness guarantee — r8 ADVICE); when set, a mismatch
    # with the loaded index raises instead of mis-probing.
    index_path: str | None = None
    index_kind: str = "auto"
    index_nlist: int | None = None
    # explicit probe width (validated 1..nlist): the production serving
    # shape — calibrate ONCE per corpus (calibrate_nprobe), pin the
    # width here; None derives it from recall_slo / calibration_queries
    # at route time (which re-measures per call — fine interactively,
    # wrong in a hot serving path)
    index_nprobe: int | None = None
    index_id_col: str = "id"
    index_vec_col: str = "embedding"
    recall_slo: float = 1.0
    # pruned-path beam width for the graph index (slo < 1.0 only):
    # None = the reference's EF_SEARCH=64 default (load.py:26). At very
    # large shard counts the per-shard beam is the recall limiter (10M
    # point: 0.94 at ef=64 vs 0.96 at ef=128) — this is the knob.
    index_ef_search: int | None = None
    # "broadcast" (default): the bounded-batch fast path — the routed
    # query shortlist is broadcast/collected (O(Q·d) driver/executor
    # memory; interactive serving up to ~100k queries). "join": the
    # unbounded-query-set path — queries never touch the driver; both
    # index families shuffle-join/cogroup on the routed cell instead
    # (ann.py / hnsw.py search contract, ~2x wall-clock for O(1) driver
    # memory). The rewrite is strategy-only: same rows either way.
    index_route: str = "broadcast"
    # optional per-corpus SLO calibration (r8 verdict item 5): a query
    # sample to MEASURE recall on at route time instead of trusting the
    # fixed nprobe_for_slo tiers — see calibrate_nprobe().
    calibration_queries: DataFrame | None = None
    # filtered search (the vector-DB predicate+top-k contract — the
    # reference's OceanBase backend exposes metadata-filtered vector
    # search): a SQL predicate over CORPUS columns, e.g.
    # "lang = 'en' AND quality > 0.5". Exact paths pre-filter the corpus
    # (trivially exact). The routed paths stay exact at recall_slo=1.0:
    # IVF pre-filters the probed-cells scan (the predicate lands beside
    # the centroid isin — parquet pushdown when the cells table carries
    # the columns, allowed-id semi-join otherwise), and the NSW graph
    # masks emission (disallowed nodes keep ROUTING — the tombstone
    # contract generalized — so the whole-shard beam still visits every
    # node and never loses a path through filtered-out regions).
    filter: str | None = None
    # Selective-filter policy knobs (the standard vector-store cutovers):
    # * filter_brute_threshold: when the filtered subset has at most this
    #   many rows, SKIP the index and run the exact scan over the
    #   filtered corpus — below the cutover the subset is small enough
    #   that brute force beats index overhead AND it is exact at any
    #   selectivity (the pre-filter brute-force rule production vector
    #   stores apply). Default DEFAULT_FILTER_BRUTE_THRESHOLD (10^5):
    #   BENCH_ANN_FILTERED measured the filtered index 0.17–0.4× vs the
    #   exact filtered scan when the allowed subset is ≤100k rows (1M
    #   corpus, 1–10% selectivity) and 1.8× ahead at 500k — a naive
    #   retrieve() must not pay the losing regime by default. 0 disables
    #   (never brute — pins that certify the INDEX path set this).
    # * Pruned NSW beams auto-WIDEN under a filter (always on): a beam
    #   of ef holds ~ef·selectivity allowed nodes, so a selective filter
    #   starves top-k (measured: recall 0.11 at 1% selectivity with
    #   ef=64 — BENCH_ANN_FILTERED). The routed path scales the beam to
    #   ceil(2k/selectivity), capped at the max shard size — at the cap
    #   the walk is whole-shard, i.e. exact within the probed shards.
    filter_brute_threshold: int = DEFAULT_FILTER_BRUTE_THRESHOLD


def retrieve(queries_df: DataFrame, corpus: DataFrame, cfg: RetrieveConfig) -> DataFrame:
    """Run the read path. queries_df needs (query_id, query_text) or a
    precomputed query_embedding; corpus is the §1.3 embeddings table.

    Returns (query_id, neighbor_id, rank, dist, document) — the reference's
    list[Document] per query, set-at-a-time."""
    if cfg.mode == "no_search":
        # route_mode short-circuit (rag_graph.py:197-201): empty result,
        # stable schema
        return (
            queries_df.select("query_id")
            .limit(0)
            .withColumn("neighbor_id", F.lit(None).cast("string"))
            .withColumn("rank", F.lit(None).cast("int"))
            .withColumn("dist", F.lit(None).cast("double"))
            .withColumn("document", F.lit(None).cast("string"))
        )

    if "query_embedding" not in queries_df.columns:
        queries_df = embed_queries(queries_df, backend=cfg.backend, dim=cfg.dim)

    if cfg.filter is not None and not (
        cfg.mode == "universal" and cfg.index_path is not None
    ):
        # every non-routed path (exact universal, component mode even
        # when an index_path happens to be set — component mode never
        # consults the index): pre-filter the corpus — ranking then
        # happens over the filtered rows, so this IS the filtered top-k
        # by definition. Only universal+index defers to
        # _routed_universal's filter handling.
        corpus = corpus.filter(F.expr(cfg.filter))

    n_comp = len(cfg.component_codes or cfg.components) or 1
    do_rerank = should_rerank(cfg.rerank_enabled, cfg.backend_has_rerank, n_comp)

    if cfg.mode == "universal":
        if cfg.index_path is not None:
            # index-aware rewrite: the exact knn_join becomes a
            # centroid-routed IVF search over the written index — only
            # nprobe/nlist of the corpus files are read (isin →
            # PartitionFilters on centroid_id). The document payload is
            # fetched AFTER candidate selection by one id-keyed join
            # (Q×k rows against the corpus — the late-materialization
            # shape that matters at 100 TB: the search never carries
            # text). Full probe (recall_slo >= 1.0) is bit-for-bit the
            # exact scan — pinned by ivf_knn_fullprobe and the
            # retrieve_routed workload oracle.
            return _routed_universal(queries_df, corpus, cfg)
        # §3.2: single global search, k=10, no rerank (rag_graph.py:247-257)
        return knn_join(
            queries_df, corpus, k=cfg.k, metric=cfg.metric,
            extra_cols=["document"],
        ).select("query_id", "neighbor_id", "rank", "dist", "document")

    # component mode (§3.1): quota per component unless reranking
    k = DEFAULT_RERANK_LIMIT if do_rerank else per_component_quota(n_comp)
    candidates = _per_component_topk(
        queries_df, corpus, k=k, metric=cfg.metric, codes=cfg.component_codes
    )
    if not do_rerank:
        return candidates.select("query_id", "neighbor_id", "rank", "dist", "document")

    # I7: pluggable cross-scorer (deterministic hash stand-in) + fusion sort
    scored = candidates.join(
        queries_df.select("query_id", "query_text"), "query_id", "left"
    ).withColumn("rerank_score", hash_cross_score(F.col("query_text"), F.col("document")))
    out = rerank(scored, keep=DEFAULT_RERANK_LIMIT)
    return out.select(
        "query_id", "neighbor_id",
        F.col("rerank_rank").alias("rank"), "dist", "document",
    )


def nprobe_for_slo(recall_slo: float, nlist: int) -> int:
    """Probe width from the recall SLO. 1.0 = exactness demanded → full
    probe (the index only prunes, never perturbs, so full probe ≡ exact
    bit-for-bit); 0.95 → the measured-recall setting (BENCH_ANN_SCALE:
    recall 1.0 @ nprobe ceil(7/8·nlist) on the 1M corpus); looser SLOs
    probe half the cells."""
    import math

    if recall_slo >= 1.0:
        return nlist
    if recall_slo >= 0.95:
        return max(1, math.ceil(nlist * 7 / 8))
    return max(1, nlist // 2)


def _sniff_index_kind(spark, path: str) -> str:
    """Detect the written index family from its on-disk layout via the
    Hadoop FS API (works for any scheme, not just local paths):
    ``cells/`` is the IVF layout (ann.py::IVFIndex.write), ``graph/``
    the sharded-NSW layout (hnsw.py::NSWGraphIndex.write)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _exists(sub: str) -> bool:
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}")
        return p.getFileSystem(hconf).exists(p)

    if _exists("cells"):
        return "ivf"
    if _exists("graph"):
        return "nsw"
    raise ValueError(
        f"no recognizable index layout under {path!r} (expected cells/ "
        "for IVF or graph/ for NSW)"
    )


def calibrate_nprobe(
    index,
    sample_queries: DataFrame,
    slo: float,
    k: int = 10,
    **search_kwargs,
) -> int:
    """Per-corpus SLO calibration (r8 verdict item 5): measure recall@k
    against the index's OWN full probe (≡ the exact scan — the
    fullprobe pins) on a query sample and return the minimal nprobe
    meeting the SLO, instead of the fixed nprobe_for_slo tiers measured
    on one synthetic corpus. Works for any index exposing
    ``search(queries, k=, nprobe=)`` and a ``centroids`` DataFrame.

    Cost (r12 — the r11 loop cost 9–15× one full-probe search,
    BENCH_ANN_CALIB): IVF takes the HISTOGRAM path — recall at EVERY
    probe width derives from ONE full-probe search, because a pruned
    IVF search is exact within its probed cells, so an exact-top-k
    member is recalled at width p iff its cell's per-query rank ≤ p;
    recall(p) is then the cumulative histogram of those cell ranks
    (÷ total exact rows, recall_at_k's own normalization) and the
    minimal SLO-meeting width is read off the cumsum — ~1× a full-probe
    search, exactly equal to the measured loop's answer (the
    deterministic (dist, id) tie-break makes the pruned∩exact
    derivation watertight). Graph indexes (beam recall within a probed
    shard < 1, so the derivation doesn't hold) keep MEASURED searches
    but gallop-then-bisect — O(log nlist) searches; the returned width's
    recall is always measured ≥ slo, with minimality riding on the
    monotone-in-practice recall assumption. Keep the sample ~100s of
    queries, not the workload."""
    from chatbot_spark.operators.ann import IVFIndex, recall_at_k

    nlist = (
        index._nlist()
        if hasattr(index, "_nlist")
        else index.centroids.count()
    )
    if slo >= 1.0:
        return nlist
    if isinstance(index, IVFIndex):
        return _calibrate_nprobe_ivf_histogram(
            index, sample_queries, slo, k, nlist, **search_kwargs
        )
    exact = index.search(
        sample_queries, k=k, nprobe=nlist, **search_kwargs
    ).persist()
    exact.count()
    measured: dict[int, float] = {}

    def rec(p: int) -> float:
        if p not in measured:
            measured[p] = recall_at_k(
                index.search(sample_queries, k=k, nprobe=p, **search_kwargs),
                exact,
            )
        return measured[p]

    try:
        hi = 1
        while hi < nlist and rec(hi) < slo:
            hi = min(hi * 2, nlist)
        if rec(hi) < slo:
            return nlist
        lo = hi // 2 + 1 if hi > 1 else 1
        while lo < hi:
            mid = (lo + hi) // 2
            if rec(mid) >= slo:
                hi = mid
            else:
                lo = mid + 1
        return lo
    finally:
        exact.unpersist()


def _calibrate_nprobe_ivf_histogram(
    index, sample_queries: DataFrame, slo: float, k: int, nlist: int,
    **search_kwargs,
) -> int:
    """See calibrate_nprobe — the one-search IVF path: the minimal width
    whose cumulative cell-rank histogram reaches ``slo``."""
    ranks = _exact_cell_ranks(index, sample_queries, k, **search_kwargs)
    if not ranks:
        return nlist
    hist = Counter(ranks)
    cum = 0
    for r in sorted(hist):
        cum += hist[r]
        if cum / len(ranks) >= slo:
            return r
    return nlist


def _exact_cell_ranks(
    index, sample_queries: DataFrame, k: int, **search_kwargs
) -> list[int]:
    """For every row of the full-probe (≡ exact) top-k, the probe rank
    (1-based) of its cell for its query — from IVFIndex._cell_order, the
    routing the search itself probes with, so a width-p search recalls
    exactly the rows of rank ≤ p."""
    qid = search_kwargs.get("query_id", "query_id")
    qv = search_kwargs.get("query_vec", "query_embedding")
    exact = index.search(sample_queries, k=k, nprobe=index._nlist(), **search_kwargs)
    qtbl = index._index_queries(sample_queries, qv).select(qid, qv).toArrow()
    order = index._cell_order(qtbl.column(qv))
    crank = {
        q: {int(c): r + 1 for r, c in enumerate(row)}
        for q, row in zip(qtbl.column(qid).to_pylist(), order)
    }
    cells = index.indexed.select(
        F.col(index.id_col).alias("neighbor_id"), "centroid_id"
    )
    hits = exact.select(qid, "neighbor_id").join(cells, "neighbor_id")
    return [crank[r[0]][r[1]] for r in hits.select(qid, "centroid_id").collect()]


def _memo_count(corpus: DataFrame, key: str, compute) -> int:
    """Planning-time count memo, keyed (corpus DataFrame, key): the brute
    gate, selectivity, and beam-widening counts are re-derivable metadata,
    so a long-lived serving session holding one corpus DF should pay each
    exactly once — WeakKeyDictionary drops the entry with the DF, so no
    leak when callers churn corpora (the r10 'cache per (corpus,
    predicate)' promise, done)."""
    per_df = _COUNT_CACHE.setdefault(corpus, {})
    if key not in per_df:
        per_df[key] = compute()
    return per_df[key]


_COUNT_CACHE: "weakref.WeakKeyDictionary[DataFrame, dict]" = (
    weakref.WeakKeyDictionary()
)

# loaded-index cache for the routed serving path (see _routed_universal_
# planned): index objects are lazy DataFrames + a small centroid/meta
# payload and carry their own memoized metadata counts, so caching a
# handful is cheap; FIFO-bounded so corpus churn cannot grow it.
_INDEX_CACHE: dict = {}
_INDEX_CACHE_MAX = 8


def invalidate_index_cache(path: str | None = None) -> None:
    """Drop cached loaded indexes — EVERY entry with ``path=None``, else
    the entries for one written-index path — and ALL memoized corpus
    counts (_COUNT_CACHE): the in-place-mutation scenario that stales a
    loaded index also stales the allowed/total counts a long-lived
    serving loop memoized over the same storage, which would silently
    mis-size the brute cutover and the pruned-NSW beam widening (r11
    ADVICE). Since r12 this is a SAFETY VALVE, not a required call:
    the cache key carries a content stamp (_index_content_stamp) that
    changes on every in-place ``append(path=...)`` / ``compact_deletes
    (path=...)`` write, and those methods also call this hook — a
    retrieve after an in-place mutation loads fresh with no manual
    call. Versioned/CURRENT-pointer layouts get a fresh directory per
    commit and never needed any of it."""
    _COUNT_CACHE.clear()
    if path is None:
        _INDEX_CACHE.clear()
        return
    for key in [k for k in _INDEX_CACHE if k[2] == path]:
        _INDEX_CACHE.pop(key, None)


def _index_content_stamp(spark, path: str) -> tuple:
    """Cheap content fingerprint of a written index: the modification
    time of each data dir's _SUCCESS marker (Spark rewrites the marker
    on every mode-append and overwrite write job; a dynamic partition
    overwrite, as NSW's in-place append does on ``graph``, leaves it
    as it was), plus the marker's presence set. An in-place IVF append
    or a compact therefore changes the stamp and the next retrieve()
    loads fresh — cross-process safe, unlike the in-process
    invalidation hook. Cost: one ``globStatus`` over the five candidate
    markers per retrieve call. A per-directory ``getFileStatus`` would
    raise (and convert) a Java exception for each directory the layout
    lacks: IVF has no graph or tombstones, NSW no cells."""
    subs = ("cells", "graph", "centroids", "tombstones", "meta")
    pattern = spark._jvm.org.apache.hadoop.fs.Path(
        f"{path}/{{{','.join(subs)}}}/_SUCCESS"
    )
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    found = {
        st.getPath().getParent().getName(): (st.getModificationTime(), st.getLen())
        for st in fs.globStatus(pattern) or []
    }
    # a directory this layout lacks is absent — part of the stamp
    return tuple((sub, *found[sub]) for sub in subs if sub in found)


def _routed_universal(
    queries_df: DataFrame, corpus: DataFrame, cfg: RetrieveConfig
) -> DataFrame:
    if cfg.metric not in ("l2", "cosine", "inner_product"):
        raise ValueError(
            f"cfg.metric={cfg.metric!r} — the routed path serves l2, "
            "cosine (indexes store unit-normalized vectors), and "
            "inner_product (indexes store the MIPS->L2 augmentation)"
        )
    spark = queries_df.sparkSession

    # selective-filter brute cutover (see RetrieveConfig.filter_brute_
    # threshold): when the filtered subset is small, the exact scan OVER
    # THE SUBSET is both cheaper than index traversal and exact at any
    # selectivity — skip the index entirely (it is never even loaded).
    # The allowed-id set is computed ONCE per call and persisted for the
    # duration of PLANNING: the brute gate, the emit-mask/semi-join
    # kwargs, and the pruned-NSW beam widening all consume it — without
    # the cache the predicate columns were scanned up to three times
    # before the search started. The persist is released in the finally
    # below (r10 ADVICE: the old code leaked one cached DF per filtered
    # call in a long-lived session); the COUNTS survive across calls in
    # _memo_count, so repeat calls never re-pay the planning scans.
    _allowed_cache: list = []

    def _allowed() -> DataFrame:
        if not _allowed_cache:
            _allowed_cache.append(
                corpus.filter(F.expr(cfg.filter))
                .select(cfg.index_id_col)
                .persist()
            )
        return _allowed_cache[0]

    def _n_allowed() -> int:
        return _memo_count(
            corpus, f"allowed:{cfg.filter}", lambda: _allowed().count()
        )

    try:
        return _routed_universal_planned(
            queries_df, corpus, cfg, spark, _allowed, _n_allowed
        )
    finally:
        # release planning-time cache blocks: the returned plan still
        # references the allowed-id DF and simply recomputes it once at
        # materialization (one pushdown scan) — bounded, unlike a leak
        for df in _allowed_cache:
            df.unpersist()


def _routed_universal_planned(
    queries_df: DataFrame,
    corpus: DataFrame,
    cfg: RetrieveConfig,
    spark,
    _allowed,
    _n_allowed,
) -> DataFrame:
    from chatbot_spark.operators.ann import IVFIndex
    from chatbot_spark.operators.hnsw import NSWGraphIndex

    kind = cfg.index_kind
    if kind == "auto":
        kind = _sniff_index_kind(spark, cfg.index_path)
    if kind not in ("ivf", "nsw"):
        raise ValueError(f"unknown index_kind {kind!r}; have ['ivf', 'nsw', 'auto']")

    # serving-path index cache: a hot retrieve() loop must not re-pay
    # the load actions per call (meta + centroids read, centroid count,
    # layout sniff — measured ~0.5 s/call against a ~2.4 s search in
    # BENCH_ANN_FILTERED's policy rows). Keyed on (session identity,
    # exact path, CONTENT STAMP): the stamp (see _index_content_stamp)
    # makes an in-place append/compact load fresh automatically — the
    # r11 silent-staleness window is closed; versioned-commit layouts
    # (io/versioned) get a fresh directory per OPTIMIZE and never hit
    # it. Session identity is applicationId + a weak self-ref, NOT
    # id(spark): CPython recycles ids after GC, so a stopped session's
    # entry could otherwise serve DataFrames bound to a dead context to
    # an unlucky new session (r11 ADVICE).
    cache_key = (
        spark.sparkContext.applicationId,
        kind,
        cfg.index_path,
        cfg.index_vec_col,
        cfg.index_id_col,
        _index_content_stamp(spark, cfg.index_path),
    )
    index = _INDEX_CACHE.get(cache_key)
    if index is None:
        loader = IVFIndex if kind == "ivf" else NSWGraphIndex
        index = loader.load(
            spark, cfg.index_path, vec_col=cfg.index_vec_col,
            id_col=cfg.index_id_col,
        )
        _INDEX_CACHE[cache_key] = index
        while len(_INDEX_CACHE) > _INDEX_CACHE_MAX:
            _INDEX_CACHE.pop(next(iter(_INDEX_CACHE)))
    # metric agreement is the index's to certify, never config's to
    # assert: a cosine query routed onto an l2 index (or vice versa)
    # would rank by the wrong geometry, and a silent exact-scan fallback
    # would hide that the index is unusable for this query — the same
    # refuse-loudly contract sqlroute applies.
    idx_metric = getattr(index, "metric", "l2")
    if cfg.metric != idx_metric:
        raise ValueError(
            f"cfg.metric={cfg.metric!r} but the index at {cfg.index_path!r} "
            f"was built for {idx_metric!r} — rebuild the index for this "
            "metric or change the query"
        )
    # probe width derives from the LOADED index's real centroid count —
    # never from config: an understated cfg nlist would silently probe a
    # subset of cells and break the slo=1.0 ≡ exact guarantee (r8
    # ADVICE). cfg.index_nlist, when given, is validated instead. The
    # count memoizes on the index instance, which the _INDEX_CACHE keeps
    # across calls — a hot serving loop pays it once.
    nlist = index._nlist()
    if cfg.index_nlist is not None and cfg.index_nlist != nlist:
        raise ValueError(
            f"cfg.index_nlist={cfg.index_nlist} does not match the loaded "
            f"index ({nlist} centroids) — drop it or fix the config"
        )

    # selective-filter brute cutover (see RetrieveConfig.filter_brute_
    # threshold): when the filtered subset is small, the exact scan OVER
    # THE SUBSET is both cheaper than index traversal and exact at any
    # selectivity — skip the index traversal entirely. The gate sits
    # AFTER load + metric/nlist validation (r11 ADVICE: the old
    # return-before-load silently skipped the refuse-loudly checks, so a
    # misregistered index only surfaced once the subset crossed the
    # cutover); the load is _INDEX_CACHE'd, so a hot serving loop pays
    # the metadata read once, not per call.
    if cfg.filter is not None and cfg.filter_brute_threshold > 0:
        if _n_allowed() <= cfg.filter_brute_threshold:
            from chatbot_spark.operators.topk import knn_join

            return knn_join(
                queries_df, corpus.filter(F.expr(cfg.filter)), k=cfg.k,
                metric=cfg.metric,
                corpus_id=cfg.index_id_col, corpus_vec=cfg.index_vec_col,
                extra_cols=["document"],
            ).select("query_id", "neighbor_id", "rank", "dist", "document")

    if cfg.index_nprobe is not None:
        if not (1 <= cfg.index_nprobe <= nlist):
            raise ValueError(
                f"cfg.index_nprobe={cfg.index_nprobe} outside 1..{nlist} "
                "(the loaded index's centroid count)"
            )
        nprobe = cfg.index_nprobe
    elif cfg.calibration_queries is not None and cfg.recall_slo < 1.0:
        # the graph index must calibrate with the SAME beam width the
        # routed search will use, or the measured recall is for a
        # different operator configuration
        calib_kwargs = (
            {"ef_search": cfg.index_ef_search or 64} if kind == "nsw" else {}
        )
        nprobe = calibrate_nprobe(
            index, cfg.calibration_queries, cfg.recall_slo, k=cfg.k,
            **calib_kwargs,
        )
    else:
        nprobe = nprobe_for_slo(cfg.recall_slo, nlist)

    # probe-fraction cutover (r11): past PROBE_FRACTION_CUTOVER of the
    # cells, per-cell routing saves too little scan to pay for the
    # shortlist machinery — widen to the full probe, which takes
    # IVFIndex.search's routing-free single-scan fast path. Recall can
    # only rise (strictly more cells probed), so every SLO still holds.
    # DERIVED/CALIBRATED widths only: an explicit cfg.index_nprobe is a
    # production pin the caller measured — honored verbatim.
    if (
        kind == "ivf"
        and cfg.index_nprobe is None
        and nprobe >= PROBE_FRACTION_CUTOVER * nlist
    ):
        nprobe = nlist

    # filtered routed search: resolve cfg.filter to the cheapest exact
    # form each family supports (see RetrieveConfig.filter)
    flt_kwargs: dict = {}
    if cfg.filter is not None:
        if kind == "ivf":
            try:
                # predicate over columns the cells table stores → push it
                # into the probed-cells scan (parquet pushdown, no join)
                index.indexed.filter(F.expr(cfg.filter)).schema
                flt_kwargs = {"where": cfg.filter}
            except Exception:
                # columns live only on the corpus → allowed-id semi-join
                flt_kwargs = {"allowed": _allowed()}
        else:
            # graph rows never carry metadata — always the emit mask
            flt_kwargs = {"allowed": _allowed()}

    if kind == "ivf":
        hits = index.search(
            queries_df, k=cfg.k, nprobe=nprobe, route=cfg.index_route,
            **flt_kwargs,
        )
    else:
        # graph-index exactness needs the beam to walk the WHOLE probed
        # shard (ef_search ≥ shard size — hnsw.py::search contract); the
        # max shard size is a partition-column-only aggregate, metadata
        # cheap. Pruned SLOs use the reference's EF_SEARCH=64 default
        # (BENCH_ANN_SCALE: recall 0.99, 9.9× at 1M vectors).
        if cfg.recall_slo >= 1.0:
            # memoized on the cached index instance — paid once per load
            ef = index._max_shard_rows()
        else:
            ef = cfg.index_ef_search or 64
            if cfg.filter is not None:
                # selectivity-scaled beam widening (always on for pruned
                # filtered search): a beam of ef holds ~ef·selectivity
                # allowed nodes, so to surface k allowed the beam must be
                # ~k/selectivity wide — we use 2k/selectivity (the
                # measured cliff: recall 0.11 at 1% selectivity with
                # ef=64), capped at the max shard size, where the walk
                # degenerates to whole-shard, i.e. exact within the
                # probed shards. Counts are pushdown-friendly aggregates
                # over the predicate columns; cache per (corpus,
                # predicate) in a hot serving path.
                import math

                n_corpus = _memo_count(corpus, "__total__", corpus.count)
                sel = _n_allowed() / max(n_corpus, 1)
                if sel > 0:
                    shard_max = index._max_shard_rows()
                    ef = min(shard_max, max(ef, math.ceil(2 * cfg.k / sel)))
        hits = index.search(
            queries_df, k=cfg.k, nprobe=nprobe, ef_search=ef,
            route=cfg.index_route, **flt_kwargs,
        )
    if cfg.metric in ("cosine", "inner_product"):
        # canonical-dist contract (r11): the cosine index walks float32
        # UNIT-NORMALIZED vectors and would report ||u−v||²/2, the MIPS
        # index the augmented-l2 rearrangement — both drift ~1e-7 from
        # the metric's defining float64 fold over the user's RAW vectors
        # (float32 normalization error, NOT final-ULP), which is enough
        # to flip round(d, 6) on engine-dependent rounding boundaries
        # (the r10 driver-red cosine pins). So the REPORTED dist is
        # recomputed on the final k rows with the defining fold
        # (functions/vector.DISTANCES — the same expression the exact
        # paths and the DuckDB oracles use), and rank re-derived from it:
        # one Q×k join back to the raw corpus, never a rescan. The index
        # dist stays internal — candidate selection is unchanged.
        # Residual boundary tolerance (r11 ADVICE): the re-rank is WITHIN
        # the k candidates the index's float32 fold selected, so when the
        # true float64 dists of candidates k and k+1 differ by less than
        # the ~1e-7 normalization drift, the returned top-k SET can
        # differ from the exact float64 top-k at the k boundary even at
        # recall_slo=1.0 — ordering inside k is canonical, membership at
        # the boundary carries that ±~1e-7 tolerance. Callers needing
        # strict set parity should over-fetch (k+m) and truncate after
        # the canonical re-rank.
        from chatbot_spark.functions.vector import DISTANCES

        raw = corpus.select(
            F.col(cfg.index_id_col).alias("neighbor_id"),
            F.col(cfg.index_vec_col).alias("__nvec"),
            "document",
        )
        qv = queries_df.select(
            "query_id", F.col("query_embedding").alias("__qvec")
        )
        rescored = (
            hits.select("query_id", "neighbor_id")
            .join(raw, "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .withColumn(
                "dist", DISTANCES[cfg.metric](F.col("__qvec"), F.col("__nvec"))
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist").asc(), F.col("neighbor_id").asc()
        )
        return rescored.withColumn("rank", F.row_number().over(w)).select(
            "query_id", "neighbor_id", "rank", "dist", "document"
        )
    payload = corpus.select(
        F.col(cfg.index_id_col).alias("neighbor_id"), "document"
    )
    return hits.join(payload, "neighbor_id").select(
        "query_id", "neighbor_id", "rank", "dist", "document"
    )


def _per_component_topk(
    queries_df: DataFrame, corpus: DataFrame, k: int, metric: str, codes: list[int] | None
) -> DataFrame:
    """Top-k per (query, component) under ``metric`` — one scan_topk pass
    grouped by component_code, then the (query, component) window."""
    if codes is not None:
        corpus = corpus.filter(F.col("component_code").isin(codes))  # B2 pruning
    cands = scan_topk(
        queries_df, corpus, k, _rank_metric(metric), group="component_code",
        extra_cols=["document"],
    )
    return final_topk(cands, k, metric, ["query_id", "component_code"])


def reference_list(results: DataFrame, url_expr=None) -> DataFrame:
    """G2: first-seen-wins URL dedup + stable numbering for the reference
    list (rag_graph.py:492-504). Input needs (query_id, rank, doc_url)."""
    w_first = Window.partitionBy("query_id", "doc_url").orderBy("rank")
    w_num = Window.partitionBy("query_id").orderBy("rank")
    return (
        results.withColumn("__first", F.row_number().over(w_first))
        .filter(F.col("__first") == 1)
        .withColumn("ref_num", F.row_number().over(w_num))
        .drop("__first")
    )
