from __future__ import annotations

import re

from chatbot_spark.operators.spancorrupt import t5_span_corrupt


def _examples(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return {r["doc_id"]: r.asDict() for r in t5_span_corrupt(df).collect()}


TEXTS = [
    "the quick brown fox jumps over the lazy dog again and again today",
    " ".join(f"w{i % 7}" for i in range(60)),
    "solo",
    " ".join(f"tok{i}" for i in range(40)),
]


def _rebuild(ex):
    """Input with every sentinel replaced by its target span, whitespace
    normalized."""
    spans = dict(
        (int(m.group(1)), m.group(2).strip())
        for m in re.finditer(
            r"<extra_id_(\d+)>((?: (?!<extra_id_)\S+)*)", ex["target"]
        )
    )
    rebuilt = re.sub(
        r"<extra_id_(\d+)>", lambda m: spans[int(m.group(1))], ex["input"]
    )
    return re.sub(r"\s+", " ", rebuilt).strip()


def test_span_corrupt_reconstructs_original(spark):
    got = _examples(spark, TEXTS)
    for i, text in enumerate(TEXTS):
        assert _rebuild(got[i]) == text.lower(), f"doc {i}"


def test_span_corrupt_counts_consistent(spark):
    got = _examples(spark, TEXTS)
    for i, text in enumerate(TEXTS):
        ex = got[i]
        n_input_tokens = len(ex["input"].split())
        assert ex["n_tokens"] == len(text.split())
        # each island of n_masked tokens collapses to one sentinel
        assert n_input_tokens == ex["n_tokens"] - ex["n_masked"] + ex["n_spans"]
        assert ex["target"].count("<extra_id_") == ex["n_spans"]


def test_span_corrupt_islands_maximal(spark):
    # maximal runs: two sentinels can never be adjacent in the input
    got = _examples(spark, TEXTS)
    for ex in got.values():
        toks = ex["input"].split()
        for a, b in zip(toks, toks[1:]):
            assert not (a.startswith("<extra_id_") and b.startswith("<extra_id_"))


def test_span_corrupt_zero_span_doc_passthrough(spark):
    got = _examples(spark, ["solo"])
    ex = got[0]
    if ex["n_spans"] == 0:
        assert ex["input"] == "solo" and ex["target"] == ""
    else:  # single token fully masked
        assert ex["input"] == "<extra_id_0>" and ex["target"] == "<extra_id_0> solo"


def test_span_corrupt_edge_inputs(spark):
    """Empty, null and whitespace-only documents emit no row; tab and
    newline runs separate tokens like spaces; every emitted row rebuilds
    its whitespace-normalized text."""
    texts = TEXTS + ["", None, "   ", "a b", " x  y\tz \n w"]
    got = _examples(spark, texts)
    n = len(TEXTS)
    assert sorted(got) == list(range(n)) + [n + 3, n + 4]
    assert got[n + 3]["n_tokens"] == 2
    assert got[n + 4]["n_tokens"] == 4
    for i, ex in got.items():
        assert _rebuild(ex) == " ".join(texts[i].lower().split()), f"doc {i}"
