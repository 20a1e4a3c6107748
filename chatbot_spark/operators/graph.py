"""Link-graph ranking operators (beyond-reference §2.J scope).

Web-scale data curation weighs documents by the authority of their host
(Common Crawl ships host- and domain-level harmonic/PageRank scores;
OpenWebText filtered by inbound-link karma). The reference has no graph
operator at all (its retrieval quality signal is vector distance only,
src/tools/load.py), so this is engine work: a Pregel-style iterative
PageRank expressed as DataFrame joins, one rank table per superstep.

Float discipline: classic PageRank is a fixed point of double arithmetic,
and cross-engine double SUM order is unspecified — so this operator runs
entirely in BIGINT fixed-point (scale 1e12). Integer division (`div`) and
BIGINT sums are exact and order-independent on any engine, which makes the
whole iteration bit-reproducible: the DuckDB oracle unrolls the supersteps
as CTEs and must agree hash-for-hash, not approximately.

Scale shape (100 TB): edges are pre-deduplicated (src,dst) pairs — at web
scale ~10^10 rows, hosts ~10^8. Each superstep is
  edges ⋈ rank (shuffle or broadcast on src) → groupBy(dst) partial-agg →
  left join back to nodes (shuffle on node)
i.e. the standard 2-shuffle Pregel round; contributions combine map-side
(BIGINT sum), and the rank table — the only state — is O(nodes), never
O(edges). No driver-side state beyond the plan itself.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chatbot_spark.gating import DRIVER_SOLVE_ROWS, driver_solves
from chatbot_spark.io.smallio import local_df

__all__ = [
    "bfs_layers",
    "hits_integer",
    "incremental_lpa",
    "incremental_lpa_stored",
    "iterate",
    "lpa_communities",
    "lpa_with_history",
    "write_lpa_snapshot",
    "pagerank_integer",
    "peel_layers",
    "triangle_count",
]


def iterate(
    state: Any,
    step: Callable[[Any, int], Any],
    rounds: int,
    checkpoint_every: int = 1,
) -> Any:
    """Driver-coordinated iteration with mandatory lineage truncation —
    the shared loop discipline for every iterative graph operator here
    (pagerank, k-core peeling, BFS, HITS, LPA).

    ``state`` is a DataFrame or a tuple whose DataFrame members are the
    carried loop state. Each round runs ``state = step(state, i)``; a
    ``None`` return stops early (convergence — the previous state is
    kept). Every ``checkpoint_every`` rounds, each DataFrame in the new
    state that step actually REPLACED (not identical-by-``is`` to the
    old component) is ``localCheckpoint(eager=True)``-ed.

    Why this is not optional: a lazy loop whose round references the
    previous state MORE THAN ONCE (a join plus a carry-forward, the LPA
    shape) doubles the logical plan per round — exponential analysis
    cost, driver OOM just printing the round-15 tree (this repo measured
    exactly that in k-core peeling). ``persist()`` alone does NOT help:
    it caches data but keeps the full lineage. ``localCheckpoint``
    truncates lineage, capping every round's plan at one join over
    materialized inputs, so plan size is O(1) per round regardless of
    how many times step references the carried state. Routing all
    iterative operators through this helper is what keeps the next one
    from reintroducing the doubling bug.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")

    def _ckpt(new: Any, old: Any) -> Any:
        if isinstance(new, DataFrame):
            return new.localCheckpoint(eager=True) if new is not old else new
        if isinstance(new, tuple):
            olds = old if isinstance(old, tuple) and len(old) == len(new) else (None,) * len(new)
            return tuple(_ckpt(n, o) for n, o in zip(new, olds))
        return new

    for i in range(rounds):
        nxt = step(state, i)
        if nxt is None:
            break
        if (i + 1) % checkpoint_every == 0 or i == rounds - 1:
            nxt = _ckpt(nxt, state)
        state = nxt
    return state


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    init: DataFrame | None = None,
) -> DataFrame:
    """Simplified PageRank in exact BIGINT fixed-point.

    ``edges`` is a directed graph; self-loops and duplicate edges are
    removed here so callers can pass raw link extractions. With
    d = damping_num/damping_den and r0 = scale div n_nodes, each round
    computes (all divisions integer floor-division)::

        rank(v) = ((den-num) * r0) div den
                + (num * sum_{u->v}(rank(u) div outdeg(u))) div den

    Nodes without out-edges contribute nothing (their mass leaks — the
    early MapReduce formulation; deterministic, documented). Nodes
    without in-edges keep the base term via the left join. Every
    quantity is BIGINT: num * inc <= num * scale ~ 8.5e13, far inside
    the 2^63 range, and integer sums are order-independent, so the
    result is bit-identical on any engine and any partitioning.

    ``init``: optional (node, rank) table to WARM-START from — the
    incremental-maintenance path: after an edge delta, resume from the
    previous fixed point instead of uniform r0 and refine with a couple
    of rounds (nodes absent from ``init`` — newly discovered hosts —
    fall back to the current graph's r0 via coalesce). The recurrence is
    identical either way, so the warm-started result is exactly the
    recurrence applied to (coalesced init) — oracle-replayable.

    Size gate (r13, the components/LPA driver-solve precedent; probe
    cheapened r14): at or below ``gating.DRIVER_SOLVE_ROWS`` raw
    de-self-looped edge rows (limit-probed, no full scan) the supersteps
    replay on the driver in vectorized int64 numpy — the arithmetic is EXACT
    integer floor-division and order-independent integer sums on both
    paths, so the replay is bit-identical by construction (every
    quantity non-negative, so floor == Spark's truncating ``div``).
    Past the gate the Pregel rounds below run unchanged.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    # Persist the loop inputs: every superstep references the edge table
    # (join), the node table (left join + next round's base) and the
    # 1-row base — unpersisted, the lazy rank chain re-derives ALL of
    # them per round and the physical plan compounds to dozens of source
    # scans (measured 68 at iterations=5). With the three tables cached
    # the source is scanned once however many rounds run.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    # gate probe (r14 verdict item 3): truncated limit-probe on the RAW
    # de-self-looped rows instead of a full count of the distinct set —
    # raw <= gate bounds the collected distinct set at gate rows, and an
    # over-gate input rejects after a bounded read, no shuffle
    if driver_solves(
        edges.select(F.col(src), F.col(dst)).filter(F.col(src) != F.col(dst)),
        DRIVER_SOLVE_ROWS,
    ):
        out = _pagerank_numpy(
            e, iterations, scale, damping_num, damping_den, init
        )
        e.unpersist()
        return out
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ew = e.join(deg, "src").persist()  # (src, dst, outdeg); outdeg dup'd per edge
    base = nodes.agg(F.count("*").alias("__n")).select(
        F.expr(f"CAST({scale} AS BIGINT) div __n").alias("__r0")
    ).persist()
    if init is None:
        rank = nodes.crossJoin(F.broadcast(base)).select(
            "node", F.col("__r0").alias("rank")
        )
    else:
        prev = init.select("node", F.col("rank").alias("__prev"))
        rank = (
            nodes.join(prev, "node", "left")
            .crossJoin(F.broadcast(base))
            .select("node", F.coalesce("__prev", "__r0").alias("rank"))
        )
    def _superstep(rank: DataFrame, _i: int) -> DataFrame:
        contrib = ew.join(
            rank.withColumnRenamed("node", "src"), "src"
        ).select("dst", F.expr("rank div outdeg").alias("contrib"))
        inc = contrib.groupBy("dst").agg(F.sum("contrib").alias("inc"))
        return (
            nodes.join(inc.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(base))
            .select(
                "node",
                (
                    F.expr(f"(({damping_den - damping_num}) * __r0) div {damping_den}")
                    + F.expr(
                        f"({damping_num} * coalesce(inc, CAST(0 AS BIGINT)))"
                        f" div {damping_den}"
                    )
                ).alias("rank"),
            )
        )

    # iterate checkpoints the final rank eagerly, so the staging caches
    # can be released here instead of pinning four tables per call for
    # the rest of the session (round-6 ADVICE).
    rank = iterate(rank, _superstep, iterations)
    if iterations == 0:
        rank = rank.localCheckpoint(eager=True)
    for df in (e, nodes, ew, base):
        df.unpersist()
    return rank


def _pagerank_numpy(
    e: DataFrame,
    iterations: int,
    scale: int,
    damping_num: int,
    damping_den: int,
    init: DataFrame | None,
) -> DataFrame:
    """Driver replay of :func:`pagerank_integer`'s superstep for
    gate-checked small edge sets — int64 floor-divisions and
    order-independent integer sums mirror the distributed round ONE FOR
    ONE, so the result is bit-identical (all quantities non-negative:
    Python/numpy floor-division == Spark's truncating ``div``)."""
    import numpy as np
    import pyarrow as pa

    spark = e.sparkSession
    tbl = e.toArrow()
    node_type = tbl.schema.field("src").type
    s = np.asarray(tbl.column("src").to_numpy(zero_copy_only=False), np.int64)
    d = np.asarray(tbl.column("dst").to_numpy(zero_copy_only=False), np.int64)
    ids = np.unique(np.concatenate([s, d])) if len(s) else np.empty(0, np.int64)
    n = len(ids)
    if n == 0:
        return local_df(
            spark,
            pa.table({"node": pa.array([], node_type), "rank": pa.array([], pa.int64())}),
        )
    si, di = np.searchsorted(ids, s), np.searchsorted(ids, d)
    r0 = scale // n
    rank = np.full(n, r0, dtype=np.int64)
    if init is not None:
        itbl = init.select("node", "rank").toArrow()
        inode = np.asarray(
            itbl.column("node").to_numpy(zero_copy_only=False), np.int64
        )
        irank = np.asarray(
            itbl.column("rank").to_numpy(zero_copy_only=False), np.int64
        )
        pos = np.searchsorted(ids, inode)
        hit = (pos < n) & (ids[np.minimum(pos, n - 1)] == inode)
        rank[pos[hit]] = irank[hit]
    outdeg = np.bincount(si, minlength=n).astype(np.int64)
    base_term = ((damping_den - damping_num) * r0) // damping_den
    for _ in range(iterations):
        contrib = rank[si] // outdeg[si]
        inc = np.zeros(n, dtype=np.int64)
        np.add.at(inc, di, contrib)
        rank = base_term + (damping_num * inc) // damping_den
    out = pa.table(
        {
            "node": pa.array(ids, pa.int64()).cast(node_type),
            "rank": pa.array(rank, pa.int64()),
        }
    )
    return local_df(spark, out)


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation —
    the MapReduce-classic formulation (Suri & Vassilvitskii's 'last
    reducer' fix): orient every undirected edge from its lower
    (degree, node) endpoint to the higher, enumerate wedges only at the
    pivot that is the SMALLEST endpoint in that order, and close them
    against the oriented edge set. Orientation bounds every node's
    out-degree by O(sqrt(m)) regardless of its real degree, so a
    celebrity host with 10^7 neighbors emits O(m) wedges, not 10^14 —
    the skew guard that makes triangle enumeration feasible at
    web-graph scale.

    Input is an undirected edge list; self-loops and duplicate /
    reversed duplicates are collapsed here. Returns (node, n_triangles)
    for every node participating in at least one triangle — exact
    BIGINT counts (each triangle discovered exactly once, then exploded
    to its three corners), bit-reproducible on any engine: the DuckDB
    oracle enumerates a<b<c joins over the canonical edge set and must
    agree hash-for-hash.

    Plan: canonicalize (1 shuffle), degree agg (map-side combinable),
    two joins to attach endpoint degrees, the wedge self-join (shuffle
    on the pivot), the closing join (shuffle on the wedge endpoints),
    explode + final count. State is O(edges) flowing through joins —
    nothing driver-side, no per-node adjacency materialization.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
        # referenced by both degree sides and the orientation join —
        # persisted so the raw edge source is scanned once, not per ref
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    # Attach both endpoint degrees, then orient low-(deg,node) -> high.
    ed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("o_src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("o_dst"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("o_ddst"),
    ).persist()
    # Wedges at the pivot: two out-edges of the same source, second
    # endpoint strictly after the first in the (deg, node) order.
    w1 = oriented.select(
        F.col("o_src").alias("p"), F.col("o_dst").alias("x"), F.col("o_ddst").alias("dx")
    )
    w2 = oriented.select(
        F.col("o_src").alias("p"), F.col("o_dst").alias("y"), F.col("o_ddst").alias("dy")
    )
    wedges = w1.join(w2, "p").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    # Close: {x,y} must be an edge; its orientation is necessarily
    # x -> y because ord(x) < ord(y) by the wedge filter.
    closing = oriented.select(
        F.col("o_src").alias("x"), F.col("o_dst").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"]).select("p", "x", "y")
    counts = (
        tri.select(F.explode(F.array("p", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    counts = counts.localCheckpoint(eager=True)
    oriented.unpersist()
    e.unpersist()
    return counts


def peel_layers(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """K-core peeling ('onion') decomposition: repeatedly delete every
    node whose CURRENT degree is < k, labeling each node with the round
    it was peeled — the standard web-graph community/spam coreness
    signal (Batagelj–Zaveršnik semantics, synchronized-round variant:
    all sub-k nodes of a round drop together, so the layer number is
    deterministic regardless of partitioning). Nodes surviving all
    rounds (the k-core itself) get layer 0.

    Engine shape: each round is one degree aggregation over the current
    edge set LEFT-JOINed onto the current node set (a node whose last
    neighbor vanished has degree 0 — it must still be peeled) and one
    semi-join shrinking the edge set. The loop is driver-coordinated
    with a 1-row count per round — rounds cost coordination, never a
    corpus rescan: the edge set lives in cache, shrinks monotonically,
    and peeling converges in O(graph diameter)-ish rounds on real web
    graphs. State is O(current edges); the removed-layer output
    accumulates as a union of per-round slivers, each O(peeled nodes).

    Exact BIGINT counts only, so the DuckDB oracle — the same recurrence
    unrolled as a fixed CTE chain (idempotent after convergence, so an
    unroll longer than the true round count is harmless) — must agree
    bit for bit.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .distinct()
        .persist()
    )
    spark = edges.sparkSession
    layers = local_df(spark, [], "node long, layer long")
    retired = [e, nodes]

    # iterate() localCheckpoints each round's (edges, nodes, layers):
    # without lineage truncation the logical plan doubles per round
    # (measured: driver heap OOM just PRINTING the round-15 tree). deg
    # is additionally checkpointed inside the step because it is read
    # three times in one round (removed / early-exit count / survivors).
    def _round(state: tuple, i: int) -> tuple | None:
        cur_e, cur_nodes, cur_layers = state
        deg = (
            cur_nodes.join(
                cur_e.select(F.col("a").alias("node"))
                .unionAll(cur_e.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count("*").cast("long").alias("c")),
                "node",
                "left",
            )
            .select("node", F.coalesce("c", F.lit(0)).alias("c"))
            .localCheckpoint(eager=True)
        )
        removed = deg.filter(F.col("c") < k).select(
            "node", F.lit(i + 1).cast("long").alias("layer")
        )
        if removed.count() == 0:
            return None
        nxt_nodes = deg.filter(F.col("c") >= k).select("node")
        nxt_e = (
            cur_e.join(nxt_nodes.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(nxt_nodes.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )
        return (nxt_e, nxt_nodes, cur_layers.unionByName(removed))

    e, nodes, layers = iterate((e, nodes, layers), _round, max_rounds)
    survivors = nodes.select("node", F.lit(0).cast("long").alias("layer"))
    out = layers.unionByName(survivors).localCheckpoint(eager=True)
    for df in retired:
        df.unpersist()
    return out


def bfs_layers(
    edges: DataFrame,
    seeds: list[int],
    max_depth: int = 30,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source BFS hop distance over an undirected graph — the
    "hops from trusted hosts" signal (TrustRank-style seed distance is a
    standard web-spam prior: pages far from every trusted seed are
    downweighted). Returns (node, dist) for every node REACHED within
    ``max_depth``; unreachable nodes are absent by design.

    Engine shape: level-synchronous frontier expansion — per round one
    join of the (bidirectional) adjacency against the current frontier,
    one anti-join against the visited set, localCheckpoint to keep the
    iterative plan O(1) deep. The frontier and visited tables are
    O(nodes); the adjacency is O(edges) and persisted once — each round
    shuffles only frontier-adjacent edges, and the loop runs graph-
    diameter rounds (tiny for web graphs: ~6-20). Exact BIGINT
    distances; the DuckDB oracle unrolls the same recurrence as
    MATERIALIZED CTEs and must agree bit for bit.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = (
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )
    spark = edges.sparkSession
    frontier = local_df(
        spark, [(int(s),) for s in seeds], "node long"
    ).distinct().localCheckpoint(eager=True)
    visited = frontier
    out = frontier.select("node", F.lit(0).cast("long").alias("dist"))

    def _expand(state: tuple, i: int) -> tuple | None:
        cur_frontier, cur_visited, cur_out = state
        nxt = (
            adj.join(cur_frontier.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(cur_visited, "node", "left_anti")
            .localCheckpoint(eager=True)  # read 3×: count / out / visited
        )
        if nxt.count() == 0:
            return None
        return (
            nxt,
            cur_visited.unionByName(nxt),
            cur_out.unionByName(
                nxt.select("node", F.lit(i + 1).cast("long").alias("dist"))
            ),
        )

    _, _, out = iterate((frontier, visited, out), _expand, max_depth)
    out = out.localCheckpoint(eager=True)
    adj.unpersist()
    return out


def hits_integer(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 10**8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Kleinberg HITS hubs-and-authorities in exact BIGINT fixed-point —
    the directed-graph complement of pagerank_integer (authority = being
    pointed AT by good hubs; hub = pointing at good authorities — the
    link-analysis pair that separates directories from content). Classic
    HITS renormalizes with an L2 norm (sqrt — float); this variant
    renormalizes each vector to SUM = ``scale`` with integer floor
    division, which preserves the eigen-direction the iteration
    converges to while keeping every quantity BIGINT, order-independent
    and bit-reproducible — the DuckDB oracle unrolls the same recurrence
    and must agree hash-for-hash.

    Overflow headroom: after normalization every score <= scale and each
    raw sum <= scale (scores sum to scale), so score*scale <= scale^2 =
    1e16 << 2^63; the edge-sum total needs |E|*scale < 2^63, i.e. up to
    ~9e10 edges at the default — at larger E lower ``scale``. The LOWER
    bound is n_nodes <= scale: with more nodes than scale units the
    initial score ``scale div n`` floors to 0, the renormalization total
    is 0, and integer ``div 0`` would silently NULL every score — that
    degenerate case raises here instead (round-6 ADVICE).

    Per round: two Pregel-style passes (edges ⋈ scores on one endpoint,
    map-side-combinable sum on the other, left join back to nodes) plus
    a 1-row total broadcast for the renormalization. State O(nodes).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_row = nodes.agg(F.count("*").alias("__n")).select(
        F.expr(f"CAST({scale} AS BIGINT) div __n").alias("__h0"),
        F.col("__n"),
    ).persist()
    first = n_row.first()
    if first is not None and first["__h0"] == 0:
        for df in (e, nodes, n_row):
            df.unpersist()
        raise ValueError(
            f"hits_integer requires n_nodes <= scale: got n_nodes="
            f"{first['__n']} > scale={scale}; the initial score would "
            "floor to 0 and every hub/authority would silently NULL"
        )
    h = nodes.crossJoin(F.broadcast(n_row.select("__h0"))).select(
        "node", F.col("__h0").alias("score")
    )

    def _pass(scores: DataFrame, from_col: str, to_col: str) -> DataFrame:
        raw = (
            e.join(scores.withColumnRenamed("node", from_col), from_col)
            .groupBy(to_col)
            .agg(F.sum("score").alias("__raw"))
        )
        tot = raw.agg(F.sum("__raw").alias("__tot"))
        return (
            nodes.join(raw.withColumnRenamed(to_col, "node"), "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.expr(
                    f"coalesce(__raw, CAST(0 AS BIGINT)) * {scale} div __tot"
                ).alias("score"),
            )
        )

    def _half(state: tuple, i: int) -> tuple:
        h_cur, a_cur = state
        if i % 2 == 0:  # authority pass reads hubs
            return (h_cur, _pass(h_cur, "src", "dst"))
        return (_pass(a_cur, "dst", "src"), a_cur)

    # two half-rounds per HITS round; iterate checkpoints exactly the
    # half-round's replaced vector (identity-aware), matching the old
    # explicit per-pass localCheckpoint discipline
    h, a = iterate((h, None), _half, 2 * iterations)
    if a is None:  # iterations == 0
        a = h
    out = (
        h.withColumnRenamed("score", "hub")
        .join(a.withColumnRenamed("score", "authority"), "node")
        .localCheckpoint(eager=True)
    )
    for df in (e, nodes, n_row):
        df.unpersist()
    return out


def _lpa_best_numpy(u_idx, lab_vals, n):
    """Exact numpy twin of :func:`_best_label`: per-u most frequent
    label, count DESC / label ASC tie-break. ``u_idx``: int array of
    node indices (one per incident edge), ``lab_vals``: the neighbor
    label carried by that edge, ``n``: node universe size. Returns
    (has_best bool[n], best int64[n]) — has_best is False for nodes with
    no incident edge (the left-join carry-forward case)."""
    import numpy as np

    has = np.zeros(n, dtype=bool)
    best = np.zeros(n, dtype=np.int64)
    if len(u_idx) == 0:
        return has, best
    order = np.lexsort((lab_vals, u_idx))
    su, sl = u_idx[order], lab_vals[order]
    new_grp = np.empty(len(su), dtype=bool)
    new_grp[0] = True
    new_grp[1:] = (su[1:] != su[:-1]) | (sl[1:] != sl[:-1])
    gstart = np.flatnonzero(new_grp)
    gu, gl = su[gstart], sl[gstart]
    gcnt = np.diff(np.append(gstart, len(su)))
    o2 = np.lexsort((gl, -gcnt, gu))
    gu2, gl2 = gu[o2], gl[o2]
    first = np.empty(len(gu2), dtype=bool)
    first[0] = True
    first[1:] = gu2[1:] != gu2[:-1]
    has[gu2[first]] = True
    best[gu2[first]] = gl2[first]
    return has, best


def _collect_sym_graph(und: DataFrame):
    """Collect a (small, gate-checked) symmetrized edge table: returns
    (ids int64[n] sorted unique endpoints, eu, ev index arrays — one row
    per edge row, duplicates preserved so multi-edge counts replay
    exactly)."""
    import numpy as np

    pdf = und.toPandas()
    u = pdf["u"].to_numpy(dtype=np.int64)
    v = pdf["v"].to_numpy(dtype=np.int64)
    ids = np.unique(np.concatenate([u, v])) if len(u) else np.empty(0, np.int64)
    return ids, np.searchsorted(ids, u), np.searchsorted(ids, v)


def lpa_communities(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) made fully
    deterministic: every node starts as its own label; each round every
    node adopts the most frequent label among its neighbors, ties broken
    by the SMALLEST label — so the run is a pure function of the edge
    set (classic LPA's random tie-breaks and visit order are not
    engine-reproducible; this variant is, and the workload oracle
    replays all rounds exactly).

    Returns (node, label) after ``rounds`` synchronous updates.

    Scale shape: the graph is symmetrized once and PERSISTED (it is the
    loop-invariant input of every round); each round is ONE join (labels
    onto edge destinations, shuffled on node) + ONE grouped count + a
    per-node argmax window — all keyed by node id, no driver state.
    Each round references the previous labels TWICE (the neighbor join
    and the left-join carry-forward for dangling nodes), so the lazy
    plan would double per round; routing through :func:`iterate` caps it
    — every round's labels are localCheckpoint'ed, keeping the plan at
    one join over materialized inputs regardless of round count.
    Dangling nodes (no neighbors after de-duplication) keep their own
    label via the left join.
    """
    und = _symmetrize(edges, src, dst).persist()
    # gate probe (r14 verdict item 3): truncated limit-probe on the RAW
    # edge rows — raw <= gate bounds the collected symmetrized set at
    # 2·gate rows; over-gate inputs reject after a bounded read instead
    # of paying the full symmetrize shuffle just to be counted
    if driver_solves(edges.select(F.col(src), F.col(dst)), DRIVER_SOLVE_ROWS):
        import numpy as np
        import pandas as pd

        spark = edges.sparkSession
        ids, eu, ev = _collect_sym_graph(und)
        und.unpersist()
        lab = ids.copy()
        for _ in range(rounds):
            has, best = _lpa_best_numpy(eu, lab[ev], len(ids))
            lab = np.where(has, best, lab)
        out = pd.DataFrame({"node": ids, "label": lab})
        return local_df(spark, out, schema="node long, label long")
    nodes = und.select(F.col("u").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    labels = iterate(labels, lambda lab, _i: _lpa_round(und, lab), rounds)
    und.unpersist()
    return labels


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """De-self-looped, de-duplicated undirected (u, v) edge pairs, both
    directions present — the shared LPA adjacency form."""
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).filter(F.col("u") != F.col("v"))
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()


def _best_label(nbr: DataFrame) -> DataFrame:
    """(u, __new): the most frequent label per u, count DESC / label ASC
    tie-break, from a (u, label, cnt) table with distinct labels per u.

    max_by over the lexicographic key struct(cnt, -label) picks exactly
    the row row_number(ORDER BY cnt DESC, label ASC) = 1 would (the key
    is unique per group — labels are distinct within u — so the argmax
    is total and deterministic). A hash aggregate with map-side partial
    aggregation replaces the r12 window form's per-round sort: one LPA
    round drops the WindowExec sort + rank-filter entirely (guide §2.3
    "aggregate before you shuffle"; measured r13 on the incremental_lpa
    entry)."""
    return nbr.groupBy("u").agg(
        F.max_by(
            "label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
        ).alias("__new")
    )


def _lpa_round(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA update: every node adopts its neighbors' most
    frequent label (count DESC, label ASC tie-break); dangling nodes keep
    their own label via the left join. ``labels`` is referenced twice —
    callers MUST run this under :func:`iterate` (or otherwise truncate
    lineage) or the lazy plan doubles per round."""
    nbr = (
        und.join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy("u", "label")
        .agg(F.count("*").alias("cnt"))
    )
    best = _best_label(nbr).select(F.col("u").alias("node"), "__new")
    return labels.join(best, "node", "left").select(
        "node", F.coalesce("__new", "label").alias("label")
    )


def lpa_with_history(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> list[DataFrame]:
    """:func:`lpa_communities` that also RETURNS the per-round label
    tables ``[H_0 .. H_rounds]`` (H_0 is the identity labeling) — the
    snapshot state :func:`incremental_lpa` warm-starts from. Each H_r is
    localCheckpoint'ed (the iterate discipline), so holding all R+1
    tables costs O(R * nodes) storage and zero plan depth; a snapshot
    pipeline persists them next to the converged labels (R is small —
    the whole history is a few node-sized tables)."""
    und = _symmetrize(edges, src, dst).persist()
    # truncated raw-row limit-probe (r14 verdict item 3; see
    # lpa_communities)
    if driver_solves(edges.select(F.col(src), F.col(dst)), DRIVER_SOLVE_ROWS):
        import numpy as np
        import pandas as pd

        spark = edges.sparkSession
        ids, eu, ev = _collect_sym_graph(und)
        und.unpersist()
        lab = ids.copy()
        history = []
        for r in range(rounds + 1):
            h = local_df(
                spark, pd.DataFrame({"node": ids, "label": lab}),
                schema="node long, label long",
            )
            # stash the local arrays so incremental_lpa's driver replay
            # reads them without a per-table collect job
            h._cbs_lpa_local = (ids, lab.copy())  # type: ignore[attr-defined]
            history.append(h)
            if r < rounds:
                has, best = _lpa_best_numpy(eu, lab[ev], len(ids))
                lab = np.where(has, best, lab)
        return history
    nodes = und.select(F.col("u").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint(
        eager=True
    )
    history = [labels]

    def _round(lab: DataFrame, _i: int) -> DataFrame:
        return _lpa_round(und, lab)

    for r in range(rounds):
        labels = iterate(labels, _round, 1)
        history.append(labels)
    und.unpersist()
    return history


def incremental_lpa(
    updated_edges: DataFrame,
    changed_edges: DataFrame,
    history: list[DataFrame],
    src: str = "src",
    dst: str = "dst",
    pre_symmetrized: bool = False,
    return_delta: bool = False,
) -> DataFrame:
    """Incremental deterministic LPA: labels on the UPDATED graph,
    bit-equal to :func:`lpa_communities` run from scratch, but
    recomputing only the FRONTIER — nodes within r hops of a changed
    edge at round r.

    ``changed_edges``: every edge ADDED or REMOVED (either direction,
    self-loops/dups fine). ``history``: the previous snapshot's
    per-round labels from :func:`lpa_with_history` (length = rounds+1).

    Why equality holds (the induction the oracle pins): a node outside
    the round-r affected set has (1) an unchanged incident edge set —
    endpoints of changed edges seed the round-0 frontier — and (2) no
    neighbor inside the round-(r-1) affected set, because the frontier
    grows by exactly one hop per round. Its round-r label therefore
    equals the previous run's H_r, by induction on r — so only frontier
    nodes need recomputation, and H_r supplies every off-frontier
    neighbor label the recomputation reads.

    Scale shape: per round the work is (a) one hop-expansion semi-join
    of the frontier against the updated adjacency, (b) one label
    recomputation over the frontier's INCIDENT edges only, and (c) ONE
    broadcast-frontier lookup into the H_r table. The SHUFFLE volume is
    O(frontier + incident edges) per round — but the broadcast-join
    probe sides still SCAN the full adjacency and history (an in-memory
    DataFrame has no access path), so wall-clock stays O(E + V) with a
    small constant. For the genuinely sub-O(E) refresh use
    :func:`incremental_lpa_stored`, which reads bucket-PARTITIONED
    stored tables and prunes to the frontier's buckets — that variant
    is the 100 TB path (measured in BENCH_GRAPH `incremental_lpa`);
    this one is the in-memory/oracle-equality form.

    Two production switches keep the refresh delta-sized end to end:
    ``pre_symmetrized=True`` skips the O(E) symmetrize shuffle —
    at scale the bidirectional adjacency IS the stored table a crawl
    pipeline maintains, so re-deriving it per refresh would dominate the
    frontier math; ``return_delta=True`` returns only the recomputed
    frontier labels (node, label) instead of stitching the full O(V)
    label table — downstream MERGEs the delta into the stored labels
    (io/tables.py::merge_into), which is the actual incremental
    contract. The default (full stitch) exists so the oracle can pin
    whole-table equality with the from-scratch run.

    Loop state is ONE table — the recomputed frontier labels (its node
    set IS the affected set, so no separate frontier table is carried or
    checkpointed): one eager frontier-sized job per round. Eager
    per-round checkpointing is deliberate here even though rounds are
    few — it is also the execution dedup: the labels are referenced
    twice per round, and a lazy chain re-EXECUTES the doubled subtree
    (measured 5x slower than the checkpointed loop, not faster).
    """
    rounds = len(history) - 1
    if rounds < 0:
        raise ValueError("history must contain at least H_0")
    if pre_symmetrized:
        und = updated_edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        ).persist()
    else:
        und = _symmetrize(updated_edges, src, dst).persist()
    ch = changed_edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # truncated raw-row limit-probe (r14 verdict item 3): bounds the
    # collected symmetrized set at 2·gate rows; a corpus-sized
    # updated_edges rejects after a bounded read, not a full
    # symmetrize + count
    if driver_solves(
        updated_edges.select(F.col(src), F.col(dst)), DRIVER_SOLVE_ROWS
    ):
        local = _incremental_lpa_numpy(und, ch, history, return_delta)
        if local is not None:
            und.unpersist()
            return local
    # round-0 recomputed labels: identity (same as scratch); the node
    # set of `rec` IS the round's affected set
    rec = (
        ch.select(F.col("u").alias("node"))
        .union(ch.select(F.col("v").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )

    rec = iterate(
        rec, lambda cur_rec, i: _incr_lpa_round(und, cur_rec, history[i]), rounds
    )
    if return_delta:
        und.unpersist()
        return rec
    # stitch: updated graph's nodes, recomputed labels override H_rounds
    nodes = und.select(F.col("u").alias("node")).distinct()
    out = (
        nodes.join(rec.withColumnRenamed("label", "__rl"), "node", "left")
        .join(
            history[rounds].withColumnRenamed("label", "__hl"), "node", "left"
        )
        .select("node", F.coalesce("__rl", "__hl").alias("label"))
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    return out


def _incremental_lpa_numpy(
    und: DataFrame, ch: DataFrame, history: list[DataFrame], return_delta: bool
):
    """Driver replay of the frontier recurrence (:func:`_incr_lpa_round`
    + the final stitch) for gate-checked small inputs — the numpy ops
    mirror the distributed round ONE FOR ONE (frontier hop-growth,
    recomputed-over-stored label resolution, exact count/argmax,
    carry-forward), so the result is bit-identical. Returns None when a
    label lookup would fall off both the recomputed set and the stored
    history (the distributed form would produce a NULL there) — the
    caller then runs the distributed rounds instead of guessing."""
    import numpy as np
    import pandas as pd

    rounds = len(history) - 1
    spark = und.sparkSession
    und_pdf = und.toPandas()
    ch_pdf = ch.toPandas()
    hist_local = []
    for h in history:
        attr = getattr(h, "_cbs_lpa_local", None)
        if attr is not None:
            hist_local.append(attr)
        else:
            hp = h.toPandas()
            hist_local.append(
                (
                    hp["node"].to_numpy(dtype=np.int64),
                    hp["label"].to_numpy(dtype=np.int64),
                )
            )
    uu = und_pdf["u"].to_numpy(dtype=np.int64)
    uv = und_pdf["v"].to_numpy(dtype=np.int64)
    cu = ch_pdf["u"].to_numpy(dtype=np.int64)
    cv = ch_pdf["v"].to_numpy(dtype=np.int64)
    all_ids = np.unique(
        np.concatenate([uu, uv, cu, cv] + [h[0] for h in hist_local])
    )
    n = len(all_ids)
    eu = np.searchsorted(all_ids, uu)
    ev = np.searchsorted(all_ids, uv)
    hmaps = []
    for h_ids, h_lab in hist_local:
        h_has = np.zeros(n, dtype=bool)
        h_map = np.zeros(n, dtype=np.int64)
        hi = np.searchsorted(all_ids, h_ids)
        h_has[hi] = True
        h_map[hi] = h_lab
        hmaps.append((h_has, h_map))
    in_rec = np.zeros(n, dtype=bool)
    in_rec[np.searchsorted(all_ids, cu)] = True
    in_rec[np.searchsorted(all_ids, cv)] = True
    rmap = all_ids.copy()  # round-0 recomputed labels: identity
    for i in range(rounds):
        h_has, h_map = hmaps[i]
        nxt = in_rec.copy()
        nxt[ev[in_rec[eu]]] = True
        lp_has = in_rec | h_has
        lp = np.where(in_rec, rmap, h_map)
        im = nxt[eu]
        iu, iv = eu[im], ev[im]
        if not lp_has[iv].all() or not lp_has[nxt].all():
            return None
        has, best = _lpa_best_numpy(iu, lp[iv], n)
        rmap = np.where(has, best, lp)
        in_rec = nxt
    if return_delta:
        out = pd.DataFrame({"node": all_ids[in_rec], "label": rmap[in_rec]})
        return local_df(spark, out, schema="node long, label long")
    h_has, h_map = hmaps[rounds]
    node_mask = np.zeros(n, dtype=bool)
    node_mask[eu] = True
    node_mask[ev] = True
    if not (in_rec | h_has)[node_mask].all():
        return None
    final = np.where(in_rec, rmap, h_map)
    out = pd.DataFrame({"node": all_ids[node_mask], "label": final[node_mask]})
    return local_df(spark, out, schema="node long, label long")


def _default_bucket(col, n_buckets: int):
    return (col % n_buckets).cast("int")


def _incr_lpa_round(und: DataFrame, cur_rec: DataFrame, h_prev: DataFrame) -> DataFrame:
    """One frontier round of the incremental recurrence, distributed
    form: grow the frontier (= cur_rec's node set) one hop through
    ``und``, recompute labels for it from cur_rec overridden onto the
    stored round-labels ``h_prev``. Shared by :func:`incremental_lpa`
    and the stored variant's wide-delta fallback; callers run it under
    :func:`iterate` (cur_rec is referenced twice)."""
    cur_aff = cur_rec.select("node")
    # (a) frontier grows one hop through the updated adjacency
    nxt_aff = (
        cur_aff.union(
            und.join(cur_aff.withColumnRenamed("node", "u"), "u", "left_semi")
            .select(F.col("v").alias("node"))
        )
        .distinct()
    )
    # (b) incident edges of the new frontier; labels at round i for
    # frontier nodes AND their neighbors resolved in ONE lookup:
    # recomputed where present, else the stored H_i. The doubled
    # reads below (nbr + carry) reuse these exchanges (AQE
    # ReusedExchange) inside the round's single job.
    inc = und.join(nxt_aff.withColumnRenamed("node", "u"), "u", "left_semi")
    touched = inc.select(F.col("v").alias("node")).union(nxt_aff).distinct()
    lab_prev = (
        touched.join(cur_rec.withColumnRenamed("label", "__rl"), "node", "left")
        .join(h_prev.withColumnRenamed("label", "__hl"), "node", "left")
        .select("node", F.coalesce("__rl", "__hl").alias("label"))
    )
    nbr = (
        inc.join(lab_prev.withColumnRenamed("node", "v"), "v")
        .groupBy("u", "label")
        .agg(F.count("*").alias("cnt"))
    )
    best = _best_label(nbr).select(F.col("u").alias("node"), "__new")
    # carry-forward for frontier nodes with no current neighbors
    own_prev = nxt_aff.join(lab_prev, "node")
    return own_prev.join(best, "node", "left").select(
        "node", F.coalesce("__new", "label").alias("label")
    )


def write_lpa_snapshot(
    edges: DataFrame,
    out_dir: str,
    rounds: int = 4,
    n_buckets: int = 64,
    src: str = "src",
    dst: str = "dst",
    bucket_of: Callable | None = None,
) -> None:
    """Persist the state :func:`incremental_lpa_stored` refreshes from:
    the symmetrized adjacency at ``{out_dir}/adj`` (partitioned by
    bucket) and ALL rounds' label tables as ONE dataset at
    ``{out_dir}/hist`` partitioned by (``__round``, ``__bucket``) — a
    single listing serves every round's pruned lookup — so a frontier
    refresh can prune its reads to the frontier's buckets.
    This is the storage layout a crawl pipeline maintains between
    snapshots (adjacency upserts ride the A9 path; history tables are
    rewritten per snapshot — they are O(V), tiny next to the corpus).

    ``bucket_of(col, n_buckets) -> int Column`` picks the partitioning
    function (default: hash modulo). Modulo prunes only while the
    frontier holds fewer distinct nodes than buckets (a point delta);
    when deltas are LOCAL in id space — hosts sorted by reversed domain,
    the web-crawl layout — pass a RANGE bucketing (``floor(col/span)``)
    so a local frontier maps to a handful of partitions regardless of
    its node count. Reader and writer must use the same function."""
    bucket_of = bucket_of or _default_bucket
    und = _symmetrize(edges, src, dst)
    # repartition ON the bucket before partitionBy: one file per bucket
    # instead of (write-tasks x buckets) shards — a refresh's pruned read
    # then opens exactly its buckets' files; unconsolidated, the listing
    # of thousands of slivers dominates the frontier read (measured)
    (
        und.withColumn("__bucket", bucket_of(F.col("u"), n_buckets))
        .repartition(n_buckets, F.col("__bucket"))
        .write.partitionBy("__bucket")
        .mode("overwrite")
        .parquet(f"{out_dir}/adj")
    )
    hist = None
    for r, h in enumerate(lpa_with_history(edges, rounds, src, dst)):
        slice_r = h.select(
            "node", "label", F.lit(r).cast("int").alias("__round"),
            bucket_of(F.col("node"), n_buckets).alias("__bucket"),
        )
        hist = slice_r if hist is None else hist.unionByName(slice_r)
    (
        hist.repartition(n_buckets, F.col("__round"), F.col("__bucket"))
        .write.partitionBy("__round", "__bucket")
        .mode("overwrite")
        .parquet(f"{out_dir}/hist")
    )




def incremental_lpa_stored(
    spark,
    snapshot_dir: str,
    updated_adj_path: str,
    changed_edges: DataFrame,
    rounds: int = 4,
    n_buckets: int = 64,
    src: str = "src",
    dst: str = "dst",
    bucket_py: Callable[[int], int] | None = None,
    max_frontier_rows: int = 100_000,
) -> DataFrame:
    """The sub-O(E) incremental LPA refresh — the 100 TB twin of
    :func:`incremental_lpa`, reading BUCKET-PARTITIONED stored state
    (:func:`write_lpa_snapshot`) so every per-round read is PRUNED to
    the frontier's partitions, with the frontier argmax evaluated in a
    DRIVER KERNEL under an explicit row cap:

      * the updated adjacency at ``updated_adj_path`` (layout: (u, v)
        partitioned by ``__bucket = bucket_of(u)``) is read twice per
        round with a bucket-list partition filter + broadcast semi-join
        — only partitions holding frontier out-edges are opened;
      * the stored history (one dataset partitioned by round + bucket)
        is listed once and read once per round, pruned the same way, for
        exactly the off-frontier neighbor labels the recomputation
        consumes;
      * the most-frequent-label argmax over the (tiny) frontier runs in
        Python on the driver — the same capped-driver-kernel precedent
        as connected-components' union-find (dedup.py): a refresh whose
        state fits in one task gains nothing from 30 scheduled jobs, and
        the cap is enforced, not assumed. Past ``max_frontier_rows`` the
        refresh FALLS BACK to the distributed :func:`incremental_lpa`
        recurrence over the stored history (graceful, not an error).

    ``bucket_py`` is the PYTHON twin of the writer's ``bucket_of``
    (node id -> bucket id; default hash modulo) — the reader only ever
    evaluates it on driver-held frontier ids, so no Column form is
    needed; see :func:`write_lpa_snapshot` for the modulo-vs-range
    pruning trade-off (modulo prunes point deltas, range prunes local
    deltas). Semantics are identical to :func:`incremental_lpa` (same recurrence,
    same frontier induction — the workload oracle covers the recurrence;
    the pytest twin pins stored-vs-scratch equality), and the returned
    DataFrame is the recomputed frontier label DELTA (node, label) —
    MERGE it into the stored labels downstream.
    """
    # default must replay write_lpa_snapshot's Spark-side `%`, which is
    # sign-preserving (negative ids -> negative buckets) where Python's
    # `%` is non-negative. Exact INTEGER mod with the dividend's sign —
    # math.fmod would round-trip the id through float64, so any |id| >
    # 2^53 could land in the wrong bucket and the pruned read would skip
    # the partitions holding those frontier nodes (r8 ADVICE).
    bucket_py = bucket_py or (
        lambda i: i % n_buckets if i >= 0 else -((-i) % n_buckets)
    )

    def _bucket_ids(ids) -> list[int]:
        return sorted({int(bucket_py(int(i))) for i in ids})

    ch = changed_edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).collect()
    aff = {int(r["u"]) for r in ch} | {int(r["v"]) for r in ch}
    rec: dict[int, int] = {n: n for n in aff}  # round-0 identity labels

    # explicit schemas: a refresh reads a handful of rows and must not
    # pay per-action parquet footer/schema inference on O(E)-file tables
    adj = spark.read.schema("u long, v long, __bucket int").parquet(
        updated_adj_path
    )
    hist = spark.read.schema(
        "node long, label long, __round int, __bucket int"
    ).parquet(f"{snapshot_dir}/hist")

    def _sel(df: DataFrame, id_col: str, ids: set[int]) -> DataFrame:
        """Bucket-pruned frontier selection: IN-list for small frontiers
        (single scan stage, no exchange), broadcast semi-join past that."""
        pruned = df.filter(F.col("__bucket").isin(_bucket_ids(ids)))
        if len(ids) <= 1024:
            return pruned.filter(F.col(id_col).isin([int(i) for i in ids]))
        id_df = local_df(spark, [(int(i),) for i in ids], f"{id_col} long")
        return pruned.join(F.broadcast(id_df), id_col, "left_semi")

    def _edges_from(ids: set[int]) -> list[tuple[int, int]]:
        if not ids:
            return []
        rows = _sel(adj, "u", ids).select("u", "v").collect()
        return [(int(r["u"]), int(r["v"])) for r in rows]

    def _h_labels(i: int, ids: set[int]) -> dict[int, int]:
        if not ids:
            return {}
        h = hist.filter(F.col("__round") == i)
        rows = _sel(h, "node", ids).select("node", "label").collect()
        return {int(r["node"]): int(r["label"]) for r in rows}

    for i in range(rounds):
        # (a) one-hop expansion: edges out of the current frontier
        out_edges = _edges_from(aff)
        nxt_aff = aff | {v for _, v in out_edges}
        if len(nxt_aff) > max_frontier_rows:
            return _incremental_lpa_stored_fallback(
                spark, snapshot_dir, updated_adj_path, rec, i, rounds
            )
        # (b) incident edges of the grown frontier (reuse the already-
        # fetched rows; fetch only the newly-entered nodes' out-edges)
        inc = out_edges + _edges_from(nxt_aff - aff)
        touched = nxt_aff | {v for _, v in inc}
        # (c) round-i labels for off-frontier reads, bucket-pruned
        h_prev = _h_labels(i, touched - set(rec))
        lab = {**h_prev, **rec}
        by_u: dict[int, dict[int, int]] = {}
        for u, v in inc:
            lv = lab[v]
            d = by_u.setdefault(u, {})
            d[lv] = d.get(lv, 0) + 1
        new_rec = {}
        for u in nxt_aff:
            counts = by_u.get(u)
            if counts:
                # most frequent, ties to the SMALLEST label — the exact
                # lpa_communities rule
                new_rec[u] = min(
                    counts, key=lambda l: (-counts[l], l)
                )
            else:
                new_rec[u] = lab[u]  # dangling: carry own label
        aff, rec = nxt_aff, new_rec
    return local_df(
        spark, sorted(rec.items()), "node long, label long"
    )


def _incremental_lpa_stored_fallback(
    spark,
    snapshot_dir: str,
    updated_adj_path: str,
    rec: dict[int, int],
    start_round: int,
    rounds: int,
) -> DataFrame:
    """Distributed continuation when the frontier outgrows the driver
    cap: seed :func:`_incr_lpa_round` from the labels recomputed so far
    and run the remaining rounds as DataFrame joins against the stored
    adjacency and history tables read in full — the frontier is large
    now, so partition pruning is moot and the Pregel-style round is the
    right plan. Same recurrence, so the result is unchanged."""
    und = spark.read.parquet(updated_adj_path).select("u", "v").persist()
    rec_df = local_df(
        spark, sorted(rec.items()), "node long, label long"
    )
    hist = spark.read.parquet(f"{snapshot_dir}/hist")
    rec_df = iterate(
        rec_df,
        lambda cur, j: _incr_lpa_round(
            und,
            cur,
            hist.filter(F.col("__round") == start_round + j).select(
                "node", "label"
            ),
        ),
        rounds - start_round,
    )
    und.unpersist()
    return rec_df
