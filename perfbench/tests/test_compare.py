import json
import os

import compare

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _write(d, seed, wall, workload="curate"):
    os.makedirs(d, exist_ok=True)
    rec = {
        "workload": workload, "seed": seed, "trace": 0,
        "end_to_end": {
            "setup_s": {"value": 20.0 + seed % 3, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "items_per_s": {"value": 1000.0 / wall, "unit": "items/s"},
            "recall": {"value": 0.98, "unit": "ratio"},
        },
    }
    with open(os.path.join(d, f"{workload}-{seed}.json"), "w") as f:
        json.dump(rec, f)


def test_compare_reports_same_and_better(tmp_path, capsys):
    base, same, fast = (str(tmp_path / n) for n in ("base", "same", "fast"))
    for s in range(10):
        _write(base, s, 5.0 + 0.05 * s)
        _write(same, s, 5.0 + 0.05 * ((s + 3) % 10))
        _write(fast, s, 3.0 + 0.05 * s)
    bench = os.path.join(ROOT, "BENCHMARK.json")
    rows = compare.compare(compare.load(base), compare.load(same), compare.metric_specs(bench))
    assert {r["verdict"] for r in rows} == {"same"}
    assert {r["metric"] for r in rows} == {"setup_s", "wall_s", "items_per_s", "recall"}
    rows = compare.compare(compare.load(base), compare.load(fast), compare.metric_specs(bench))
    verdicts = {r["metric"]: r["verdict"] for r in rows}
    assert verdicts["wall_s"] == "better" and verdicts["items_per_s"] == "better"
    assert compare.main([fast, base, "--benchmark", bench]) == 1  # slower: worse
    assert "worse" in capsys.readouterr().out
