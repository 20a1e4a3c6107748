from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from chatbot_spark.operators.components import connected_components


def _uf_reference(edges):
    """Union-find ground truth: min node id per component."""
    nodes = {n for e in edges for n in e}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp: dict[int, list[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in comp.values() for n in ms}


def _cc(spark, edges, rounds=None):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df, rounds=rounds).collect()
    }


def test_cc_fixpoint_matches_union_find_on_random_graph(spark):
    rng = random.Random(42)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(260)]
    edges = [(u, v) for u, v in edges if u != v]
    assert _cc(spark, edges) == _uf_reference(edges)


def test_cc_pointer_jump_doubles_reach_chain64_in_6_rounds(spark):
    # pure min-propagation would need 63 rounds on a 64-node chain; the
    # shortcut join doubles reach per round -> ceil(log2(63)) = 6
    chain = [(i, i + 1) for i in range(63)]
    got = _cc(spark, chain, rounds=6)
    assert got == {i: 0 for i in range(64)}


def test_cc_isolated_pair_and_self_loop(spark):
    # self-loops are inert; disconnected pieces keep distinct min labels
    edges = [(1, 2), (5, 5), (7, 8), (8, 9)]
    got = _cc(spark, edges)
    assert got == {1: 1, 2: 1, 5: 5, 7: 7, 8: 7, 9: 7}


def test_cc_fixed_rounds_equals_fixpoint_after_convergence(spark):
    rng = random.Random(3)
    edges = [(rng.randrange(100), rng.randrange(100)) for _ in range(80)]
    edges = [(u, v) for u, v in edges if u != v]
    assert _cc(spark, edges, rounds=12) == _cc(spark, edges)


def test_cc_rejects_negative_rounds(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        connected_components(df, rounds=-1)


def test_cc_plan_depth_constant_in_rounds(spark):
    # the iterate() discipline: the final plan is one round over
    # checkpointed inputs however many rounds ran — a rounds=10 tree must
    # not contain 10x the joins (the pre-r7 LPA bug shape)
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    plan = (
        connected_components(df, rounds=10)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("ExistingRDD") <= 6  # checkpointed inputs, not 10x


def _inc(spark, base_edges, new_edges, rounds=None):
    from chatbot_spark.operators.components import incremental_components

    prev = connected_components(
        spark.createDataFrame(base_edges, "src long, dst long")
    )
    delta = spark.createDataFrame(new_edges, "src long, dst long")
    return {
        r["node"]: r["component"]
        for r in incremental_components(prev, delta, rounds=rounds).collect()
    }


def test_incremental_equals_scratch_on_union(spark):
    rng = random.Random(13)
    base = [(rng.randrange(200), rng.randrange(200)) for _ in range(120)]
    base = [(u, v) for u, v in base if u != v]
    delta = [(rng.randrange(260), rng.randrange(260)) for _ in range(30)]
    delta = [(u, v) for u, v in delta if u != v]
    got = _inc(spark, base, delta)
    # union ground truth, restricted to nodes that exist in either input
    assert got == _uf_reference(base + delta)


def test_incremental_driver_gate_equals_distributed(spark, monkeypatch):
    """r13 composition gate: the driver replay of contract + solve +
    stitch must equal the distributed composition (forced via
    CBS_FORCE_DISTRIBUTED=1) as a row MULTISET, across random deltas, pinned
    rounds, and assert_converged."""
    from chatbot_spark.operators.components import incremental_components

    rng = random.Random(31)
    base = [(rng.randrange(150), rng.randrange(150)) for _ in range(90)]
    base = [(u, v) for u, v in base if u != v]
    delta = [(rng.randrange(200), rng.randrange(200)) for _ in range(25)]
    delta = [(u, v) for u, v in delta if u != v]
    prev = connected_components(
        spark.createDataFrame(base, "src long, dst long")
    )
    ddf = spark.createDataFrame(delta, "src long, dst long")
    for kw in (
        {"rounds": None},
        {"rounds": 8, "assert_converged": True},
    ):
        drv = sorted(
            map(tuple, incremental_components(prev, ddf, **kw).collect())
        )
        with monkeypatch.context() as m:
            m.setenv("CBS_FORCE_DISTRIBUTED", "1")
            dist = sorted(
                map(tuple, incremental_components(prev, ddf, **kw).collect())
            )
        assert drv == dist, kw
    # under-pinned rounds must raise identically through the gate
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    empty_prev = spark.createDataFrame([], "node long, component long")
    with pytest.raises(RuntimeError, match="did not reach the fixpoint"):
        incremental_components(
            empty_prev, chain, rounds=2, assert_converged=True
        ).collect()


def test_incremental_merge_two_islands_via_one_bridge(spark):
    base = [(0, 1), (1, 2), (10, 11), (11, 12)]
    got = _inc(spark, base, [(2, 10)])
    assert got == {n: 0 for n in (0, 1, 2, 10, 11, 12)}


def test_incremental_new_node_smaller_than_old_min_relabels(spark):
    # new node 3 attaches to the {10,11} component: its id becomes the min
    got = _inc(spark, [(10, 11)], [(3, 10)])
    assert got == {3: 3, 10: 3, 11: 3}


def test_incremental_intra_component_edge_is_noop(spark):
    base = [(5, 6), (6, 7)]
    got = _inc(spark, base, [(5, 7)])
    assert got == {5: 5, 6: 5, 7: 5}


def test_incremental_disjoint_new_subgraph(spark):
    got = _inc(spark, [(1, 2)], [(100, 101)])
    assert got == {1: 1, 2: 1, 100: 100, 101: 100}


def _dec(spark, base_edges, removed, rounds=None):
    from chatbot_spark.operators.components import decremental_components

    prev = connected_components(
        spark.createDataFrame(base_edges, "src long, dst long")
    )
    remaining = [e for e in base_edges if e not in set(removed)]
    rem_df = spark.createDataFrame(remaining, "src long, dst long")
    del_df = spark.createDataFrame(removed, "src long, dst long")
    return (
        {
            r["node"]: r["component"]
            for r in decremental_components(
                prev, rem_df, del_df, rounds=rounds
            ).collect()
        },
        remaining,
    )


def test_decremental_equals_scratch_on_random_graph(spark):
    rng = random.Random(29)
    base = [(rng.randrange(150), rng.randrange(150)) for _ in range(110)]
    base = list({(u, v) for u, v in base if u != v})
    removed = rng.sample(base, 15)
    got, remaining = _dec(spark, base, removed)
    # ground truth: from-scratch on the remaining graph, PLUS every node
    # of the base graph still exists (removal never deletes nodes)
    truth = _uf_reference(remaining)
    for n in {x for e in base for x in e}:
        truth.setdefault(n, n)
    assert got == truth


def test_decremental_chain_split(spark):
    # cutting the middle of a chain splits one component into two
    base = [(i, i + 1) for i in range(8)]
    got, _ = _dec(spark, base, [(3, 4)])
    assert got == {**{i: 0 for i in range(4)}, **{i: 4 for i in range(4, 9)}}


def test_decremental_isolated_node_becomes_singleton(spark):
    # node 2's only edge is removed: it must survive as its own component
    base = [(0, 1), (1, 2)]
    got, _ = _dec(spark, base, [(1, 2)])
    assert got == {0: 0, 1: 0, 2: 2}


def test_decremental_untouched_components_pass_through(spark):
    base = [(0, 1), (10, 11), (11, 12), (20, 21)]
    got, _ = _dec(spark, base, [(11, 12)])
    # components {0,1} and {20,21} untouched; {10,11,12} splits
    assert got == {0: 0, 1: 0, 10: 10, 11: 10, 12: 12, 20: 20, 21: 20}


def test_decremental_redundant_edge_removal_is_noop(spark):
    # removing one edge of a triangle leaves the component connected
    base = [(0, 1), (1, 2), (0, 2)]
    got, _ = _dec(spark, base, [(1, 2)])
    assert got == {0: 0, 1: 0, 2: 0}


def test_decremental_unknown_removed_edge_is_harmless(spark):
    # a removal naming nodes the snapshot never saw must not corrupt labels
    base = [(0, 1)]
    prev = connected_components(
        spark.createDataFrame(base, "src long, dst long")
    )
    from chatbot_spark.operators.components import decremental_components

    rem = spark.createDataFrame(base, "src long, dst long")
    ghost = spark.createDataFrame([(500, 501)], "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in decremental_components(prev, rem, ghost).collect()
    }
    assert got == {0: 0, 1: 0}


def test_cc_driver_solve_matches_distributed_exactly(spark, monkeypatch):
    # r13: the small-graph driver fast path (numpy recurrence twin) must
    # be bit-identical to the distributed rounds in EVERY mode — fixpoint,
    # converged truncated pin, and a NON-converged truncated pin (the
    # driver twin replays the same truncated recurrence, not union-find)
    rng = random.Random(7)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src long, dst long")
    for rounds in (None, 12, 1):  # rounds=1 is mid-convergence on 400 nodes
        fast = {
            r["node"]: r["component"]
            for r in connected_components(df, rounds=rounds).collect()
        }
        with monkeypatch.context() as m:
            m.setenv("CBS_FORCE_DISTRIBUTED", "1")
            dist = {
                r["node"]: r["component"]
                for r in connected_components(df, rounds=rounds).collect()
            }
        assert fast == dist, f"rounds={rounds}"


def test_cc_driver_solve_assert_converged_raises_like_distributed(
    spark, monkeypatch
):
    # a 64-node chain cannot converge in 2 rounds: both regimes must raise
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    for forced in ("0", "1"):
        monkeypatch.setenv("CBS_FORCE_DISTRIBUTED", forced)
        with pytest.raises(RuntimeError, match="did not reach the fixpoint"):
            connected_components(chain, rounds=2, assert_converged=True)


def test_decremental_gate_shuffle_path_same_labels_and_warns(spark):
    # the giant-component regime (r8 verdict item 1): force the node-set
    # broadcast gate with threshold 0 — every affected node set is now
    # "too big", the semi-join falls back to a shuffle join — and the
    # labels must be IDENTICAL (the gate changes join strategy, never
    # the result), with the documented warning raised
    import warnings

    from chatbot_spark.operators.components import decremental_components

    base = [(i, i + 1) for i in range(30)] + [(100, 101), (101, 102)]
    prev = connected_components(
        spark.createDataFrame(base, "src long, dst long")
    )
    removed = [(14, 15)]
    remaining = [e for e in base if e not in set(removed)]
    rem_df = spark.createDataFrame(remaining, "src long, dst long")
    del_df = spark.createDataFrame(removed, "src long, dst long")

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        default = {
            r["node"]: r["component"]
            for r in decremental_components(prev, rem_df, del_df).collect()
        }
        assert not any("giant-component" in str(x.message) for x in w), (
            "default threshold must keep the broadcast fast path on a "
            "31-node affected set"
        )
    with pytest.warns(UserWarning, match="giant-component"):
        gated = {
            r["node"]: r["component"]
            for r in decremental_components(
                prev, rem_df, del_df, broadcast_node_rows=0
            ).collect()
        }
    assert gated == default


def test_decremental_gate_drops_broadcast_hint_from_plan(spark):
    # strategy-level check: rebuild the two join shapes the gate picks
    # between and assert the gated one really shuffle-joins (no
    # BroadcastHashJoin/BroadcastExchange on the node-set semi-join)
    from pyspark.sql import functions as F

    e = spark.range(200).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    nodes = spark.range(150).select(F.col("id").alias("u"))
    bc_plan = (
        e.join(F.broadcast(nodes), "u", "left_semi")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # mirror the gated path: no broadcast hint; pin strategy with the
    # session threshold off so small test tables don't auto-broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain_plan = (
            e.join(nodes, "u", "left_semi")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "BroadcastHashJoin" in bc_plan
    assert "BroadcastHashJoin" not in plain_plan


def test_stored_decremental_equals_nonstored(spark, tmp_path):
    """write_components_snapshot + decremental_components_stored +
    merge_component_delta must reproduce decremental_components exactly
    (stored refresh ≡ in-query rebuild)."""
    from chatbot_spark.operators.components import (
        decremental_components,
        decremental_components_stored,
        merge_component_delta,
        write_components_snapshot,
    )

    rng = random.Random(31)
    base = list({(rng.randrange(120), rng.randrange(120)) for _ in range(90)})
    base = [(u, v) for u, v in base if u != v]
    removed = rng.sample(base, 9)
    snap = str(tmp_path / "snap")
    edges_df = spark.createDataFrame(base, "src long, dst long")
    write_components_snapshot(edges_df, snap, n_buckets=8)

    del_df = spark.createDataFrame(removed, "src long, dst long")
    delta = decremental_components_stored(spark, snap, del_df, n_buckets=8)
    stored = spark.read.parquet(f"{snap}/labels_by_node").select(
        "node", "component"
    )
    got = {
        r["node"]: r["component"]
        for r in merge_component_delta(stored, delta).collect()
    }

    prev = connected_components(edges_df)
    remaining = [e for e in base if e not in set(removed)]
    rem_df = spark.createDataFrame(remaining, "src long, dst long")
    want = {
        r["node"]: r["component"]
        for r in decremental_components(prev, rem_df, del_df).collect()
    }
    assert got == want


def test_stored_snapshot_reads_prune_at_file_level(spark, tmp_path):
    """The locate read must carry PartitionFilters on __bucket — the
    point of the bucketed layout is file-level pruning, not a full-table
    filter."""
    from chatbot_spark.operators.components import write_components_snapshot

    edges = [(i, i + 1) for i in range(40)]
    snap = str(tmp_path / "snap")
    write_components_snapshot(
        spark.createDataFrame(edges, "src long, dst long"), snap, n_buckets=8
    )
    lbn = spark.read.schema("node long, component long, __bucket int").parquet(
        f"{snap}/labels_by_node"
    )
    pruned = lbn.filter(F.col("__bucket").isin([3])).filter(F.col("node") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan
    # one bucket of eight: the pruned scan must touch fewer files than
    # the full table holds
    all_files = len(lbn.inputFiles())
    assert all_files >= 8


def test_apply_component_delta_write_prunes_untouched_buckets(spark, tmp_path):
    """The write-pruned upsert must (a) land on exactly the merged
    labels in BOTH layouts, and (b) leave every untouched bucket's files
    byte-identical on disk (path + mtime + size) — rewrite cost tracks
    the delta, not the snapshot."""
    import os

    from chatbot_spark.operators.components import (
        apply_component_delta,
        decremental_components_stored,
        merge_component_delta,
        write_components_snapshot,
    )

    # many SMALL components (4-node paths at 0,4,8,...,36): the delta of
    # one removal is component-sized = 4 nodes, so most node buckets and
    # comp buckets stay untouched — the shape the write pruning exists for
    base = [
        (s + i, s + i + 1) for s in range(0, 40, 4) for i in range(3)
    ]
    snap = str(tmp_path / "snap")
    write_components_snapshot(
        spark.createDataFrame(base, "src long, dst long"), snap, n_buckets=8
    )

    def _files(layout):
        out = {}
        root = os.path.join(snap, layout)
        for b in os.listdir(root):
            if not b.startswith("__bucket="):
                continue
            for f in os.listdir(os.path.join(root, b)):
                if f.endswith(".parquet"):
                    pth = os.path.join(root, b, f)
                    st = os.stat(pth)
                    out[pth] = (st.st_mtime_ns, st.st_size)
        return out

    before_n = _files("labels_by_node")
    before_c = _files("labels_by_comp")

    removed = [(9, 10)]
    del_df = spark.createDataFrame(removed, "src long, dst long")
    delta = decremental_components_stored(
        spark, snap, del_df, n_buckets=8
    ).localCheckpoint(eager=True)
    want = {
        r["node"]: r["component"]
        for r in merge_component_delta(
            spark.read.parquet(f"{snap}/labels_by_node").select("node", "component"),
            delta,
        ).collect()
    }
    delta_rows = delta.collect()
    touched_n = {f"__bucket={r['node'] % 8}" for r in delta_rows}
    # comp buckets: the affected nodes' OLD comp (8 -> bucket 0) + new
    touched_c = {f"__bucket={r['component'] % 8}" for r in delta_rows} | {"__bucket=0"}

    apply_component_delta(spark, snap, delta, n_buckets=8)

    got_n = {
        r["node"]: r["component"]
        for r in spark.read.parquet(f"{snap}/labels_by_node").collect()
    }
    got_c = {
        r["node"]: r["component"]
        for r in spark.read.parquet(f"{snap}/labels_by_comp").collect()
    }
    assert got_n == want
    assert got_c == want
    # untouched buckets byte-identical
    after_n = _files("labels_by_node")
    after_c = _files("labels_by_comp")
    for before, after, touched in (
        (before_n, after_n, touched_n),
        (before_c, after_c, touched_c),
    ):
        untouched = {
            p: v for p, v in before.items()
            if not any(t in p for t in touched)
        }
        assert untouched, "fixture must leave some buckets untouched"
        for p, v in untouched.items():
            assert after.get(p) == v, f"untouched file rewritten: {p}"
