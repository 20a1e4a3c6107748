"""bench.attachments(): the recorded scale points bench.py attaches to its
payload, read from a tmp dir without Spark."""

from __future__ import annotations

import json

from bench import attachments


def _write(path, name, rec):
    (path / name).write_text(rec if isinstance(rec, str) else json.dumps(rec))


def test_attachments_pick_fields_transpose_and_skip(tmp_path):
    _write(tmp_path, "BENCH_IVM.json", {
        "n_orders": 10, "n_batches": 3, "delta_refresh_sec": 1.5,
        "full_rebuild_sec": 4.0, "not_attached": 1,
    })
    _write(tmp_path, "BENCH_GRAPH.json", [
        {"n_edges": 10, "triangle_sec": 1.0, "bfs_sec": 2.0, "hits_sec": 3.0,
         "cc_full_sec": 0.5},
        {"n_edges": 100, "triangle_sec": 1.5, "bfs_sec": 2.5, "hits_sec": 3.5},
    ])
    _write(tmp_path, "BENCH_SF1.json", {
        "value": 3.0, "derivation": "x", "queries": {"a": 1.0, "b": 2.0},
    })
    _write(tmp_path, "BENCH_ANN_20M.json", {"n": 20, "knng_build_sec": None})
    _write(tmp_path, "BENCH_SEMDEDUP.json", "{not json")

    out = attachments(str(tmp_path))

    assert out["ivm_scale"] == {
        "n_orders": 10, "n_batches": 3, "delta_refresh_sec": 1.5,
        "full_rebuild_sec": 4.0,
    }
    # list-shaped: one list per field; a field missing from any record is
    # left out
    assert out["graph_scale"] == {
        "n_edges": [10, 100], "triangle_sec": [1.0, 1.5],
        "bfs_sec": [2.0, 2.5], "hits_sec": [3.0, 3.5],
    }
    assert out["sf1"] == {
        "value": 3.0, "derivation": "x", "queries": {"a": 1.0, "b": 2.0},
        "n_queries": 2,
    }
    assert out["ann_scale_20m"] == {"n": 20}
    # malformed and missing artifacts are skipped
    assert "semdedup_scale" not in out
    assert "bpe_scale" not in out and "ann_scale_1m" not in out


def test_attachments_empty_dir(tmp_path):
    assert attachments(str(tmp_path)) == {}
