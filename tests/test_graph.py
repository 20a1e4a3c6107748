from __future__ import annotations

from pyspark.sql import functions as F

from chatbot_spark.operators.graph import pagerank_integer


def _ref_pagerank(edges, iterations=5, scale=10**12, num=85, den=100):
    """Serial reference of the exact integer recurrence."""
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    r0 = scale // len(nodes)
    rank = {v: r0 for v in nodes}
    for _ in range(iterations):
        inc = {v: 0 for v in nodes}
        for s, d in e:
            inc[d] += rank[s] // outdeg[s]
        rank = {
            v: ((den - num) * r0) // den + (num * inc[v]) // den for v in nodes
        }
    return rank


def test_pagerank_matches_serial_reference(spark):
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (0, 1), (1, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(df, iterations=5).collect()
    }
    assert got == _ref_pagerank(edges)


def test_pagerank_sink_gains_source_base_only(spark):
    # 3 is a pure source (base term only), 2 a sink accumulating mass.
    edges = [(0, 2), (1, 2), (3, 0), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(df, iterations=3).collect()
    }
    ref = _ref_pagerank(edges, iterations=3)
    assert got == ref
    base = ((100 - 85) * (10**12 // 4)) // 100
    assert got[3] == base  # no in-edges: base term exactly
    assert got[2] == max(got.values())  # the sink outranks everyone


def test_pagerank_zero_iterations_uniform(spark):
    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    got = pagerank_integer(df, iterations=0).collect()
    assert {r["rank"] for r in got} == {10**12 // 2}


def test_pagerank_driver_gate_equals_distributed(spark, monkeypatch):
    """r13 size gate: the numpy replay must equal the distributed Pregel
    rounds bit-for-bit (forced via CBS_FORCE_DISTRIBUTED=1), including the
    warm-start init path with nodes missing from init (coalesce to r0)
    and init rows for nodes absent from the new graph (dropped)."""
    edges = [(i % 9, (i * 5 + 2) % 9) for i in range(25)] + [(9, 1), (2, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    # warm start: init covers some nodes, adds one absent from the graph
    init = spark.createDataFrame(
        [(0, 7_000_000), (1, 3_000_000), (999, 5)], "node long, rank long"
    )

    def ranks(**kw):
        return {
            r["node"]: r["rank"] for r in pagerank_integer(df, **kw).collect()
        }

    drv, drv_w = ranks(iterations=4), ranks(iterations=2, init=init)
    monkeypatch.setenv("CBS_FORCE_DISTRIBUTED", "1")
    assert drv == ranks(iterations=4)
    assert drv_w == ranks(iterations=2, init=init)
    assert 999 not in drv_w


def test_pagerank_total_mass_conserved_no_dangling(spark):
    # every node has out-edges -> total mass stays within integer-floor
    # loss of the exact recurrence (each of n nodes floors twice per
    # round against den, each edge contribution floors once).
    edges = [(i, (i * 3 + 1) % 7) for i in range(7)] + [
        (i, (i + 2) % 7) for i in range(7)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    total = (
        pagerank_integer(df, iterations=4)
        .agg(F.sum("rank").alias("t"))
        .collect()[0]["t"]
    )
    assert 0.995 * 10**12 < total <= 10**12


def test_pagerank_warm_start_matches_recurrence_on_coalesced_init(spark):
    # warm-start == applying the recurrence with init = coalesce(prev, r0'):
    # node 4 is new in the delta graph and must start from the NEW r0.
    base_edges = [(0, 1), (1, 2), (2, 0)]
    delta_edges = base_edges + [(3, 4), (4, 0), (2, 3)]
    b = spark.createDataFrame(base_edges, "src long, dst long")
    d = spark.createDataFrame(delta_edges, "src long, dst long")
    warm = pagerank_integer(b, iterations=3)
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(d, iterations=2, init=warm).collect()
    }

    prev = _ref_pagerank(base_edges, iterations=3)
    scale, num, den = 10**12, 85, 100
    nodes = {0, 1, 2, 3, 4}
    r0 = scale // len(nodes)
    rank = {v: prev.get(v, r0) for v in nodes}
    e = sorted(set(delta_edges))
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    for _ in range(2):
        inc = {v: 0 for v in nodes}
        for s, t in e:
            inc[t] += rank[s] // outdeg[s]
        rank = {v: ((den - num) * r0) // den + (num * inc[v]) // den for v in nodes}
    assert got == rank


# ---------------------------------------------------------------------------
# triangle_count
# ---------------------------------------------------------------------------

from itertools import combinations

from chatbot_spark.operators.graph import triangle_count


def _ref_triangles(edges):
    """Serial reference: enumerate all a<b<c corner triples."""
    e = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    nodes = sorted({x for p in e for x in p})
    counts = {}
    for a, b, c in combinations(nodes, 3):
        if (a, b) in e and (b, c) in e and (a, c) in e:
            for v in (a, b, c):
                counts[v] = counts.get(v, 0) + 1
    return counts


def test_triangle_count_matches_serial_reference(spark):
    # K4 plus a pendant and a duplicate/reversed/self-loop noise set.
    edges = (
        [(a, b) for a, b in combinations(range(4), 2)]
        + [(3, 4), (4, 3), (0, 0), (1, 0), (2, 1)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    ref = _ref_triangles(edges)
    assert got == ref
    # K4: each of the 4 corners sits in C(3,2)=3 triangles; pendant in 0.
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_count_triangle_free_graph_empty(spark):
    # a path and a star are triangle-free
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (10, 12), (10, 13)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(df).count() == 0


def test_triangle_count_skewed_hub(spark):
    # hub 0 connected to all of 1..20, plus edges (1,2) and (3,4):
    # exactly two triangles, hub in both.
    edges = [(0, i) for i in range(1, 21)] + [(1, 2), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {0: 2, 1: 1, 2: 1, 3: 1, 4: 1}


# ---------------------------------------------------------------------------
# peel_layers (k-core onion decomposition)
# ---------------------------------------------------------------------------

from chatbot_spark.operators.graph import peel_layers


def _ref_peel(edges, k):
    e = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    nodes = {x for p in e for x in p}
    layer = {}
    r = 0
    while True:
        r += 1
        deg = {n: 0 for n in nodes}
        for a, b in e:
            deg[a] += 1
            deg[b] += 1
        removed = {n for n in nodes if deg[n] < k}
        if not removed:
            break
        for n in removed:
            layer[n] = r
        nodes -= removed
        e = {(a, b) for a, b in e if a in nodes and b in nodes}
    for n in nodes:
        layer[n] = 0
    return layer


def test_peel_layers_matches_serial_reference(spark):
    # K5 core with a chain of pendants hanging off: peeling cascades.
    from itertools import combinations

    edges = list(combinations(range(5), 2)) + [(4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["layer"] for r in peel_layers(df, k=2).collect()}
    assert got == _ref_peel(edges, 2)
    # chain peels outside-in: 7 first, then 6, then 5; K5 survives (layer 0)
    assert got[7] == 1 and got[6] == 2 and got[5] == 3
    assert all(got[n] == 0 for n in range(5))


def test_peel_layers_k_larger_than_any_degree_peels_everything_round1(spark):
    edges = [(0, 1), (1, 2), (2, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["layer"] for r in peel_layers(df, k=5).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_peel_layers_isolated_by_peeling_gets_its_own_round(spark):
    # star: center deg 3, leaves deg 1. k=2 -> leaves peel round 1,
    # center (degree drops to 0) peels round 2.
    edges = [(0, 1), (0, 2), (0, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["layer"] for r in peel_layers(df, k=2).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 0: 2}
    assert got == _ref_peel(edges, 2)


# ---------------------------------------------------------------------------
# bfs_layers
# ---------------------------------------------------------------------------

from chatbot_spark.operators.graph import bfs_layers


def _ref_bfs(edges, seeds):
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    from collections import deque

    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        x = q.popleft()
        for y in adj.get(x, ()):
            if y not in dist:
                dist[y] = dist[x] + 1
                q.append(y)
    return dist


def test_bfs_layers_matches_serial_reference(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (4, 10), (5, 0), (2, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["dist"] for r in bfs_layers(df, seeds=[0]).collect()}
    assert got == _ref_bfs(edges, [0])


def test_bfs_layers_multi_source_takes_nearest_seed(spark):
    # path 0-1-2-3-4 with seeds at both ends: middle node at dist 2
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["dist"] for r in bfs_layers(df, seeds=[0, 4]).collect()}
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_bfs_layers_unreachable_absent_and_depth_cap(spark):
    edges = [(0, 1), (1, 2), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["dist"] for r in bfs_layers(df, seeds=[0]).collect()}
    assert got == {0: 0, 1: 1, 2: 2}  # component {5,6} absent
    capped = {r["node"]: r["dist"] for r in bfs_layers(df, seeds=[0], max_depth=1).collect()}
    assert capped == {0: 0, 1: 1}


# ---------------------------------------------------------------------------
# hits_integer
# ---------------------------------------------------------------------------

from chatbot_spark.operators.graph import hits_integer


def _ref_hits(edges, iterations=5, scale=10**8):
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    h = {v: scale // len(nodes) for v in nodes}

    def one_pass(scores, from_i):
        raw = {v: 0 for v in nodes}
        for s, d in e:
            if from_i == 0:
                raw[d] += scores[s]
            else:
                raw[s] += scores[d]
        tot = sum(raw.values())
        return {v: raw[v] * scale // tot for v in nodes}

    a = None
    for _ in range(iterations):
        a = one_pass(h, 0)
        h = one_pass(a, 1)
    return h, a


def test_hits_matches_serial_reference(spark):
    edges = [(0, 2), (1, 2), (3, 2), (3, 4), (2, 4), (0, 1), (4, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = hits_integer(df, iterations=5).collect()
    got_h = {r["node"]: r["hub"] for r in rows}
    got_a = {r["node"]: r["authority"] for r in rows}
    ref_h, ref_a = _ref_hits(edges)
    assert got_h == ref_h
    assert got_a == ref_a


def test_hits_star_hub_and_authority(spark):
    # 0 points at 1..4: 0 is the only hub, authorities split evenly
    edges = [(0, i) for i in range(1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = hits_integer(df, iterations=3).collect()
    h = {r["node"]: r["hub"] for r in rows}
    a = {r["node"]: r["authority"] for r in rows}
    assert h[0] == 10**8 and all(h[i] == 0 for i in range(1, 5))
    assert a[0] == 0 and len({a[i] for i in range(1, 5)}) == 1


def test_graph_operators_empty_input(spark):
    from chatbot_spark.operators.graph import (
        bfs_layers,
        hits_integer,
        peel_layers,
        triangle_count,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert triangle_count(empty).count() == 0
    assert peel_layers(empty, k=2).count() == 0
    # BFS from seeds over no edges: the seeds themselves at dist 0
    got = {r["node"]: r["dist"] for r in bfs_layers(empty, seeds=[5]).collect()}
    assert got == {5: 0}


# ---------------------------------------------------------------------------
# round-7: the shared iteration helper + the LPA plan-growth regression gate


def test_iterate_early_stop_and_identity_aware_checkpoint(spark):
    from chatbot_spark.operators.graph import iterate

    df = spark.createDataFrame([(1,)], "v long")
    seen = []

    def step(state, i):
        seen.append(i)
        if i == 2:
            return None  # converged: previous state kept
        return state.select((F.col("v") + 1).alias("v"))

    out = iterate(df, step, rounds=10)
    assert seen == [0, 1, 2]
    assert out.collect()[0]["v"] == 3  # two applied increments

    # tuple state: untouched members pass through by identity, replaced
    # DataFrames are checkpointed (lineage truncated to an RDD scan)
    base = spark.createDataFrame([(0,)], "v long")

    def step2(state, i):
        a, b, tag = state
        return (a, b.select((F.col("v") + 1).alias("v")), tag)

    a2, b2, tag2 = iterate((base, base, "tag"), step2, rounds=3)
    assert a2 is base  # never replaced -> never re-checkpointed
    assert tag2 == "tag"
    assert b2.collect()[0]["v"] == 3
    assert "ExistingRDD" in b2._jdf.queryExecution().executedPlan().toString()


def test_iterate_rejects_negative_rounds(spark):
    import pytest as _pytest

    from chatbot_spark.operators.graph import iterate

    df = spark.createDataFrame([(1,)], "v long")
    with _pytest.raises(ValueError):
        iterate(df, lambda s, i: s, rounds=-1)


def test_lpa_plan_scan_count_bounded(spark):
    """Regression gate for the round-6 finding: each LPA round references
    the previous labels twice (neighbor join + carry-forward), so an
    unchecked lazy loop DOUBLES the plan per round (248 parquet scans at
    4 rounds measured). With iterate()'s per-round localCheckpoint the
    declared workload plan must stay at O(1) source scans — far under
    the base-scans x rounds budget the round-6 verdict set."""
    from chatbot_spark.workload import SPARK_QUERIES

    df = SPARK_QUERIES["lpa_communities"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = plan.count("Location: InMemoryFileIndex") + plan.count(
        "Scan parquet"
    )
    rounds, base_scans = 4, 8
    assert scans <= base_scans * rounds, f"{scans} scans: plan growth is back"


def test_lpa_deep_rounds_no_plan_blowup(spark):
    """rounds=12 on a 40-node ring: pre-fix this doubles the logical plan
    12 times (4096x) and the driver chokes analyzing it; post-fix it
    completes promptly and still converges to ring-consistent labels."""
    from chatbot_spark.operators.graph import lpa_communities

    edges = [(i, (i + 1) % 40) for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = lpa_communities(df, rounds=12).collect()
    assert len(got) == 40
    assert all(r["label"] is not None for r in got)


def test_hits_rejects_more_nodes_than_scale(spark):
    import pytest as _pytest

    from chatbot_spark.operators.graph import hits_integer

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with _pytest.raises(ValueError, match="n_nodes <= scale"):
        hits_integer(df, iterations=2, scale=3)  # 4 nodes > scale 3
