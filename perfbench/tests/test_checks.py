import numpy as np

import checks


def test_recall_at_k_on_toy_input():
    truth = {1: [10, 11, 12], 2: [20, 21, 22]}
    assert checks.recall_at_k({1: [10, 11, 12], 2: [20, 21, 22]}, truth, 3) == 1.0
    assert checks.recall_at_k({1: [12, 10, 99], 2: []}, truth, 3) == 2 / 6
    # only the first k returned count
    assert checks.recall_at_k({1: [99, 98, 97, 10], 2: [20]}, truth, 3) == 1 / 6


def test_pair_recall_on_toy_input():
    planted = {(1, 2), (3, 4), (5, 6), (7, 8)}
    assert checks.pair_recall({(1, 2), (3, 4), (9, 10)}, planted) == 0.5
    assert checks.pair_recall(set(), planted) == 0.0


def test_exact_topk_and_row_checks():
    rng = np.random.default_rng(0)
    corpus = rng.normal(size=(50, 4))
    q = rng.normal(size=(3, 4)).astype(np.float32)
    idx, dist = checks.exact_topk(q, corpus, 5)
    ids = np.arange(100, 150)
    truth = {i: ids[row].tolist() for i, row in enumerate(idx)}
    tdist = {i: d.tolist() for i, d in enumerate(dist)}
    rows = [(i, n, r + 1, tdist[i][r]) for i in truth for r, n in enumerate(truth[i])]
    qv = dict(enumerate(q))
    cv = dict(zip(ids.tolist(), corpus))
    assert checks.check_exact(rows, truth, tdist) == []
    assert checks.check_ranked(rows, qv, cv, 5) == []
    swapped = [(q_, n, {1: 2, 2: 1}.get(r, r), d) if q_ == 0 else (q_, n, r, d) for q_, n, r, d in rows]
    assert checks.check_exact(swapped, truth, tdist)
    assert checks.check_ranked(swapped, qv, cv, 5)
    assert checks.check_ranked(swapped, qv, cv, 5, by_distance=False) == []
    wrong_dist = [(q_, n, r, d + 1e-3) for q_, n, r, d in rows]
    assert checks.check_ranked(wrong_dist, qv, cv, 5)


def test_chunk_check_is_exact():
    want = [("a.md", "T", "x" * 5), ("a.md", "T", "y")]
    assert checks.check_chunks(want, list(reversed(want)), 5) == []
    assert checks.check_chunks(want, want[:1], 5)
    assert checks.check_chunks(want, want + [("a.md", "T", "z" * 6)], 5)
    assert checks.chunk_recall(want, want[:1]) == 0.5


def test_text_and_vector_pair_checks():
    texts = {1: "a b c d e f", 2: "a b c d e g", 3: "p q r s t u"}
    assert checks.jaccard(texts[1], texts[2]) == 3 / 5
    assert checks.check_text_pairs([(1, 2)], texts, 0.5) == []
    assert checks.check_text_pairs([(1, 3)], texts, 0.5)
    assert checks.check_text_pairs([(2, 1)], texts, 0.5)
    assert checks.components_min([(5, 3), (3, 9), (7, 8)]) == {3: 3, 5: 3, 9: 3, 7: 7, 8: 7}
    ids = np.array([10, 11, 12])
    vecs = np.array([[1.0, 0.0], [0.99, 0.05], [0.0, 1.0]])
    truth = checks.cosine_pairs(ids, vecs, 0.9)
    assert set(truth) == {(10, 11)}
    assert checks.check_vec_pairs([(10, 11, truth[(10, 11)])], truth, 0.9) == []
    assert checks.check_vec_pairs([], truth, 0.9)
    assert checks.check_vec_pairs([(10, 12, 0.0)], truth, 0.9)
