"""BPE training per-round cost flatness (round-8 verdict item 4): with
incremental pair maintenance + bounded lineage, the marginal cost of a
merge round must be FLAT in the round number — the pre-r9 form chained
one replace per round with no checkpoint (expression-tree depth grows
with rounds: driver/codegen blowup at production 32k-merge vocabs) and
re-exploded the WHOLE vocabulary's pairs every round.

Method: one deterministic synthetic vocabulary (LCG words — no RNG deps);
train_bpe from scratch at n_merges = 50, 100, 200 gives the EARLY-round
marginals — which sit on a RAMP (~0.22 s/round with a tiny pair table,
plateauing ~0.45 s/round by round ~150 on a quiet host), so the
late/early ratio of this triple measures the ramp, not growth. The
default run updates those serial fields of BENCH_BPE.json in place; the
other fields are kept as committed history.

``--speculative [n]`` instead trains train_bpe_speculative to n merges
(default 2000) and records its driver actions, realized batch factor and
per-1k segments in the "speculative" section. Its merge list equals
serial greedy's by the pytest equivalence tests, so no serial cross-run
is paid here.

bench.py attaches BENCH_BPE.json's serial fields as ``bpe_scale``.

Usage: PYTHONPATH=. python tools/bench_bpe.py [n_words] [--speculative [n]]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATH = os.path.join(REPO, "BENCH_BPE.json")

MERGE_POINTS = (50, 100, 200)


def make_words(n: int) -> dict[str, int]:
    """Deterministic vocabulary: LCG letters, lengths 3-12 over 8 letters,
    counts 1-9."""
    words: dict[str, int] = {}
    state = 12345
    letters = "abcdefgh"

    def nxt(mod: int) -> int:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return (state >> 17) % mod

    while len(words) < n:
        w = "".join(letters[nxt(8)] for _ in range(3 + nxt(10)))
        words.setdefault(w, 1 + nxt(9))
    return words


def _update(fields: dict) -> dict:
    """Merge ``fields`` into BENCH_BPE.json (created if missing)."""
    payload = {"metric": "bpe_round_flatness", "unit": "sec"}
    if os.path.exists(PATH):
        with open(PATH) as f:
            payload = json.load(f)
    payload.update(fields)
    with open(PATH, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    return payload


def _speculative(docs, n_spec: int) -> None:
    from chatbot_spark.operators.bpe import train_bpe_speculative

    st: dict = {}
    t0 = time.time()
    train_bpe_speculative(
        docs, n_merges=n_spec, batch_size=64, spec_chunk=24,
        checkpoint_every=64, stats=st,
    )
    spec_sec = round(time.time() - t0, 2)
    print(f"speculative {n_spec}: {spec_sec}s rounds={st['rounds']} "
          f"factor={round(n_spec / st['rounds'], 2)}")
    # per-1k segment factors from the milestones (rounds, merges, monotonic)
    seg = {}
    pts = {0: (0, 0, st["t_start_monotonic"])}
    for b in range(1000, n_spec + 1, 1000):
        pts[b] = next(
            (x for x in st["milestones"] if x[1] >= b), st["milestones"][-1]
        )
    bounds = sorted(pts)
    for lo, hi in zip(bounds, bounds[1:]):
        r0, g0, s0 = pts[lo]
        r1, g1, s1 = pts[hi]
        seg[f"{lo}_{hi}"] = {
            "sec": round(s1 - s0, 2),
            "merges": g1 - g0,
            "driver_rounds": r1 - r0,
            "batch_factor": round((g1 - g0) / max(r1 - r0, 1), 3),
        }
        print(f"spec segment {lo}-{hi}: {seg[f'{lo}_{hi}']}")
    _update({"speculative": {
        "n_merges": n_spec,
        "total_sec": spec_sec,
        "driver_rounds": st["rounds"],
        "batch_factor": round(n_spec / st["rounds"], 3),
        "segments": seg,
        "loadavg": list(os.getloadavg()),
    }})
    print(json.dumps({"speculative_rounds": st["rounds"]}))


def _serial(docs, n_words: int) -> None:
    from chatbot_spark.operators.bpe import train_bpe

    totals: dict[int, float] = {}
    merge_counts: dict[int, int] = {}
    for n in MERGE_POINTS:
        t0 = time.time()
        merges, _ = train_bpe(docs, n_merges=n, checkpoint_every=64)
        totals[n] = round(time.time() - t0, 2)
        merge_counts[n] = len(merges)
        print(f"n_merges={n}: {totals[n]}s ({len(merges)} merges learned)")
    m_lo = (totals[100] - totals[50]) / 50  # marginal sec/round, rounds 51-100
    m_hi = (totals[200] - totals[100]) / 100  # rounds 101-200
    payload = _update({
        "n_words": n_words,
        "merge_points": list(MERGE_POINTS),
        "total_sec": {str(k): v for k, v in totals.items()},
        "merges_learned": {str(k): v for k, v in merge_counts.items()},
        "marginal_sec_per_round_51_100": round(m_lo, 4),
        "marginal_sec_per_round_101_200": round(m_hi, 4),
        "late_vs_early_marginal_ratio": round(m_hi / max(m_lo, 1e-9), 2),
        "loadavg": list(os.getloadavg()),
    })
    print(json.dumps({k: payload[k] for k in (
        "total_sec", "marginal_sec_per_round_51_100",
        "marginal_sec_per_round_101_200", "late_vs_early_marginal_ratio")}))


def main() -> int:
    from chatbot_spark.session import get_spark

    argv = sys.argv[1:]
    n_spec = None
    if "--speculative" in argv:
        j = argv.index("--speculative")
        # drop the flag and its optional numeric operand
        tail = argv[j + 1 : j + 2]
        has_n = bool(tail) and tail[0].isdigit()
        n_spec = int(tail[0]) if has_n else 2000
        argv = argv[:j] + argv[j + 1 + has_n:]
    n_words = int(argv[0]) if argv else 5000
    spark = get_spark(
        "bench-bpe", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    words = make_words(n_words)
    docs = spark.createDataFrame(
        [(w + " ") * c for w, c in words.items()], "string"
    ).toDF("text").repartition(8).persist()
    docs.count()
    if n_spec is not None:
        _speculative(docs, n_spec)
    else:
        _serial(docs, n_words)
    docs.unpersist()
    return 0


if __name__ == "__main__":
    sys.exit(main())
