import time

import pytest

import layers


def test_union_length():
    assert layers.union_length([]) == 0.0
    assert layers.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_status_store_reader_on_one_trivial_job(spark):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.ui.enabled") == "false"
    tr = layers.Tracer(sc, "t1", enabled=True)
    with tr.span("dedup"):
        spark.range(0, 1000, numPartitions=2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        with tr.span("components"):
            spark.range(10).count()
    store = layers.read_status_store(sc, "pb:t1:")
    outer, inner = tr.spans
    g = store[outer.group]
    assert g["jobs"] >= 1 and g["tasks"] >= 2
    assert g["shuffle_w_bytes"] > 0 and g["shuffle_r_bytes"] > 0
    assert store[inner.group]["jobs"] >= 1
    assert inner.parent == outer.seq
    m = layers.layer_metrics(tr.spans, store, rounds=1)
    assert m["dedup.jobs"] == g["jobs"]
    assert m["dedup.self_s"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    assert 0 <= m["dedup.driver_s"] <= m["dedup.self_s"]
    assert len(m) + 1 == len(layers.per_layer_names())  # + trace.overhead_s
    # the group is cleared when the outermost span closes
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_peak_rss_sees_child_processes():
    import subprocess
    import sys

    with layers.PeakRss(interval=0.05) as rss:
        p = subprocess.Popen([sys.executable, "-c", "import time; x = bytearray(50_000_000); time.sleep(0.5)"])
        p.wait()
        time.sleep(0.1)
    assert rss.peak > 40
