"""Registry gates: the README's query counts must track the live registry
(round-4 verdict item 8: counts drifted every round they were maintained by
hand), every query ships an oracle, names are unique, and the driver
rotation re-checks what changed."""

from __future__ import annotations

import glob
import inspect
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_readme_query_count_matches_registry():
    from chatbot_spark.workload import ORACLE_SQL, SPARK_QUERIES

    with open(os.path.join(REPO, "README.md")) as f:
        readme = f.read()
    m = re.search(
        r"(\d+) workload queries ship,\s*all (\d+) with DuckDB oracles", readme
    )
    assert m, "README must state the query/oracle counts"
    assert int(m.group(1)) == len(SPARK_QUERIES), (
        f"README says {m.group(1)} queries, registry has {len(SPARK_QUERIES)}"
    )
    assert int(m.group(2)) == len(ORACLE_SQL), (
        f"README says {m.group(2)} oracles, registry has {len(ORACLE_SQL)}"
    )


def test_every_query_has_an_oracle():
    """The t2 contract: every queries() entry ships a DuckDB oracle (the
    driver records a weaker rows-only check otherwise)."""
    from chatbot_spark.workload import ORACLE_SQL, SPARK_QUERIES

    assert set(SPARK_QUERIES) == set(ORACLE_SQL)


def test_query_rejects_duplicate_name():
    """Bench, sf1, gate-off and recheck membership all derive from the
    registry, so a silently overwritten entry is the one drift path left."""
    from chatbot_spark import workload

    fn = workload.SPARK_QUERIES["knn_exact_l2"]
    oracle = workload.ORACLE_SQL["knn_exact_l2"]
    try:
        with pytest.raises(ValueError, match="knn_exact_l2"):
            workload.query("knn_exact_l2", "SELECT 1")(lambda spark, sf_dir: None)
    finally:
        workload.SPARK_QUERIES["knn_exact_l2"] = fn
        workload.ORACLE_SQL["knn_exact_l2"] = oracle


def test_nsw_builders_rechecked_inside_driver_window():
    """Every query that builds an NSW graph is re-checked after the round-14
    f32 candidate selection: until a driver round after its recheck round
    has run, the rotation must put it inside the driver's 50-query window."""
    import __spark_entry__
    from chatbot_spark.workload import QUERY_META, SPARK_QUERIES

    builds_nsw = re.compile(r"NSWGraphIndex\.build|nsw_optimize_cycle\(")
    builders = [
        n for n, fn in SPARK_QUERIES.items() if builds_nsw.search(inspect.getsource(fn))
    ]
    assert "retrieve_routed_nsw" in builders and "graph_knn" in builders
    assert all((QUERY_META[n]["recheck_round"] or 0) >= 14 for n in builders)
    latest = max(
        int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    )
    pending = {n for n in builders if QUERY_META[n]["recheck_round"] >= latest}
    window = set(list(__spark_entry__.queries())[:50])
    assert pending <= window, f"outside the driver window: {sorted(pending - window)}"
