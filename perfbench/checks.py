"""Output checks computed outside the engine.

Each check returns a list of failure messages (empty when the output is
right). Ground truth comes from numpy or plain Python over the generated
inputs, never from the engine under test.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

# relative tolerance for distances: the engine folds in float64 over
# float32 inputs, numpy does the same sum in another order
DIST_RTOL = 1e-9


# ------------------------------------------------------------- chunking

def check_chunks(
    expected: list[tuple[str, str, str]],
    got: list[tuple[str, str, str]],
    max_chunk: int,
) -> list[str]:
    """The written chunks, as (doc_url, enhanced_title, text), must be
    exactly the expected multiset: lossless (each section reassembles
    from its windows), none longer than ``max_chunk``, and as many per
    document as its headings and sizes imply."""
    errs = []
    too_long = [g for g in got if len(g[2]) > max_chunk]
    if too_long:
        errs.append(f"{len(too_long)} chunks longer than {max_chunk} chars")
    want, have = Counter(expected), Counter(got)
    if want != have:
        missing = sum((want - have).values())
        extra = sum((have - want).values())
        per_doc_w = Counter(u for u, _, _ in expected)
        per_doc_h = Counter(u for u, _, _ in got)
        bad_docs = sum(1 for u in per_doc_w | per_doc_h if per_doc_w[u] != per_doc_h[u])
        errs.append(
            f"chunks differ from the markdown: {missing} missing, {extra} "
            f"unexpected, {bad_docs} docs with the wrong chunk count"
        )
    return errs


def chunk_recall(expected: list[tuple[str, str, str]], got: list[tuple[str, str, str]]) -> float:
    """Share of the expected chunks present in the output."""
    want, have = Counter(expected), Counter(got)
    return sum((want & have).values()) / max(1, sum(want.values()))


# ------------------------------------------------------------- retrieve

def exact_topk(queries: np.ndarray, corpus: np.ndarray, k: int, slack: int = 32) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force l2 top-k: (row indices, distances), each (Q, k),
    ordered by (distance, row). Candidates come from the matrix-product
    form of the distance; the ``k + slack`` nearest are then re-measured
    as sums of squared differences in float64 and sorted."""
    q = queries.astype(np.float64)
    c = corpus.astype(np.float64)
    approx = (q * q).sum(1)[:, None] + (c * c).sum(1)[None, :] - 2.0 * q @ c.T
    m = min(k + slack, c.shape[0])
    cand = np.argpartition(approx, m - 1, axis=1)[:, :m]
    d2 = ((q[:, None, :] - c[cand]) ** 2).sum(axis=2)
    order = np.lexsort((cand, d2), axis=1)[:, :k]
    idx = np.take_along_axis(cand, order, axis=1)
    return idx, np.sqrt(np.take_along_axis(d2, order, axis=1))


def recall_at_k(result: dict[int, list[int]], truth: dict[int, list[int]], k: int) -> float:
    """|returned ∩ true top-k| / (k · queries), over the truth's queries."""
    if not truth:
        raise ValueError("recall over no queries")
    hit = sum(len(set(result.get(q, [])[:k]) & set(t[:k])) for q, t in truth.items())
    return hit / (k * len(truth))


def check_ranked(
    rows: list[tuple[int, int, int, float]],
    qvecs: dict[int, np.ndarray],
    cvecs: dict[int, np.ndarray],
    k: int,
    by_distance: bool = True,
) -> list[str]:
    """Rows (query_id, neighbor_id, rank, dist) of any route: ranks
    1..n≤k per query without gaps, each reported distance equal to the
    numpy distance, and — unless a reranker ordered them
    (``by_distance=False``) — distances non-decreasing in rank."""
    errs = []
    by_q: dict[int, list[tuple[int, int, float]]] = {}
    for q, n, r, d in rows:
        by_q.setdefault(q, []).append((r, n, d))
    for q in qvecs:
        got = sorted(by_q.get(q, []))
        if not got:
            errs.append(f"query {q}: no rows")
            continue
        if [r for r, _, _ in got] != list(range(1, len(got) + 1)) or len(got) > k:
            errs.append(f"query {q}: ranks {[r for r, _, _ in got]}")
            continue
        prev = -1.0
        for r, n, d in got:
            if n not in cvecs:
                errs.append(f"query {q}: unknown neighbor {n}")
                break
            true = float(np.sqrt(((qvecs[q].astype(np.float64) - cvecs[n]) ** 2).sum()))
            if abs(true - d) > DIST_RTOL * max(1.0, true):
                errs.append(f"query {q} rank {r}: dist {d} != {true}")
                break
            if by_distance and d < prev - DIST_RTOL * max(1.0, d):
                errs.append(f"query {q} rank {r}: dist decreases")
                break
            prev = d
    extra = set(by_q) - set(qvecs)
    if extra:
        errs.append(f"{len(extra)} rows for queries not sent")
    return errs


def check_exact(
    rows: list[tuple[int, int, int, float]],
    truth_ids: dict[int, list[int]],
    truth_dist: dict[int, list[float]],
) -> list[str]:
    """Row-for-row equality with the numpy top-k: same neighbor at every
    rank, except where the true distances of the swapped neighbors tie
    within DIST_RTOL."""
    errs = []
    by_q: dict[int, list[tuple[int, int]]] = {}
    for q, n, r, _d in rows:
        by_q.setdefault(q, []).append((r, n))
    for q, ids in truth_ids.items():
        got = [n for _, n in sorted(by_q.get(q, []))]
        if len(got) != len(ids):
            errs.append(f"query {q}: {len(got)} rows, expected {len(ids)}")
            continue
        dist = truth_dist[q]
        for i, (g, t) in enumerate(zip(got, ids)):
            if g != t and not (
                g in ids and abs(dist[ids.index(g)] - dist[i]) <= DIST_RTOL * max(1.0, dist[i])
            ):
                errs.append(f"query {q} rank {i + 1}: {g}, expected {t}")
                break
    return errs


# --------------------------------------------------------------- curate

def shingle_set(text: str, n: int = 3) -> set[str]:
    """Distinct lower-cased whitespace-token n-grams; a doc shorter than
    n tokens is one shingle of all its tokens."""
    toks = text.lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingle_set(a, n), shingle_set(b, n)
    return len(sa & sb) / max(1, len(sa | sb))


def check_text_pairs(
    pairs: list[tuple[int, int]],
    texts: dict[int, str],
    threshold: float,
) -> list[str]:
    """Every reported near-duplicate pair is ordered, between surviving
    docs, and meets the Jaccard threshold."""
    errs = []
    for a, b in pairs:
        if not a < b:
            errs.append(f"pair ({a}, {b}) not ordered")
        elif a not in texts or b not in texts:
            errs.append(f"pair ({a}, {b}) names a doc that was filtered out")
        elif jaccard(texts[a], texts[b]) < threshold - 1e-12:
            errs.append(f"pair ({a}, {b}): jaccard {jaccard(texts[a], texts[b]):.4f} < {threshold}")
        if len(errs) >= 5:
            break
    return errs


def components_min(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find over the pairs: node -> smallest id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def cosine_pairs(ids: np.ndarray, vecs: np.ndarray, threshold: float) -> dict[tuple[int, int], float]:
    """All (id_a < id_b) pairs with cosine >= threshold, brute force."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit @ unit.T
    i, j = np.nonzero(np.triu(sims >= threshold, k=1))
    out = {}
    for a, b in zip(i, j):
        ia, ib = int(ids[a]), int(ids[b])
        out[(min(ia, ib), max(ia, ib))] = float(sims[a, b])
    return out


def check_vec_pairs(
    got: list[tuple[int, int, float]],
    truth: dict[tuple[int, int], float],
    threshold: float,
    tol: float = 1e-9,
) -> list[str]:
    """The reported pairs are exactly the brute-force pairs (up to pairs
    within ``tol`` of the threshold), each with its true cosine."""
    errs = []
    have = {(a, b): c for a, b, c in got}
    if len(have) != len(got):
        errs.append(f"{len(got) - len(have)} duplicate pairs")
    for p, c in have.items():
        t = truth.get(p)
        if t is None:
            errs.append(f"pair {p} reported with cosine {c:.6f}, below {threshold}")
        elif abs(t - c) > 1e-6:
            errs.append(f"pair {p}: cosine {c} != {t}")
        if len(errs) >= 5:
            return errs
    missed = [p for p, c in truth.items() if p not in have and c >= threshold + tol]
    if missed:
        errs.append(f"{len(missed)} pairs above the threshold not reported, e.g. {missed[0]}")
    return errs


def pair_recall(found: set[tuple[int, int]], planted: set[tuple[int, int]]) -> float:
    """Share of the planted pairs among the found ones."""
    if not planted:
        raise ValueError("recall over no planted pairs")
    return len(found & planted) / len(planted)
