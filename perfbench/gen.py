"""Seeded inputs for the three workloads, with their ground truth.

Everything the engine receives is made here from ``--seed``; the same
seed gives the same inputs. Two inputs reuse the repository's own
recipes by import, so they cannot drift from the benches and queries
that use them:

* the clustered vector corpus of ``tools/_synth.py`` (``retrieve``),
  seeded through its ``id_start`` offset;
* the Zipf-vocabulary text of ``workload._ZIPF_TEXT_EXPR`` (``curate``),
  seeded through the ``doc_id`` range it is evaluated on. The recipe
  plants one near-duplicate per ten documents: a doc with
  ``doc_id % 10 == 1`` copies the first 22 of its 24 tokens from
  ``doc_id - 1``.

The markdown corpus (``ingest``) and the curate vectors are drawn here
with ``random.Random`` / ``numpy.random.default_rng`` from the seed.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

import numpy as np

MAX_CHUNK = 4096

_WORDS = (
    "spark engine index vector query table partition shard cluster node "
    "chunk document embed search rank merge filter join scan write read "
    "cache batch stream plan stage task driver worker memory disk network "
    "schema column row page block segment replica leader follower commit "
    "log snapshot compaction bloom sketch heap tree graph edge path cost"
).split()


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(6, 16))]
    words[0] = words[0].capitalize()
    text = " ".join(words)
    if rng.random() < 0.3:
        text += ", " + " ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 5)))
    return text + rng.choice(".!?.")


def _body(rng: random.Random, n_chars: int) -> str:
    """Paragraphs of sentences, about ``n_chars`` long. No line starts
    with ``#``, a fence, or a setext underline, so no line of a body is a
    heading."""
    paras, size = [], 0
    while size < n_chars:
        para = " ".join(_sentence(rng) for _ in range(rng.randint(2, 5)))
        if rng.random() < 0.4:  # hard-wrapped paragraph
            words, lines, cur = para.split(" "), [], []
            for w in words:
                cur.append(w)
                if len(" ".join(cur)) > 70:
                    lines.append(" ".join(cur))
                    cur = []
            if cur:
                lines.append(" ".join(cur))
            para = "\n".join(lines)
        paras.append(para)
        size += len(para) + 2
    return "\n\n".join(paras)


def _title(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 4))).capitalize()


@dataclass
class MarkdownCorpus:
    """Docs per component plus the chunks the chunker must produce.

    ``docs[component]`` is a list of (doc_url, text); ``expected`` is the
    multiset of (doc_url, enhanced_title, chunk text) over all docs."""

    components: list[tuple[str, int]]
    docs: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    expected: list[tuple[str, str, str]] = field(default_factory=list)


def markdown_corpus(seed: int, chunks_per_component: int, components: list[tuple[str, int]]) -> MarkdownCorpus:
    """Seeded markdown docs in four shapes — ATX headings (levels 1-3),
    setext headings, header-less, and ATX with a preamble — where about
    one section in eight is longer than ``MAX_CHUNK`` and about one URL
    in four is ``.mdx``. Docs are drawn until each component yields
    exactly ``chunks_per_component`` chunks (a draw that would overshoot
    becomes a short header-less doc), so every seed carries the same
    amount of work."""
    rng = random.Random(seed * 7919 + 17)
    out = MarkdownCorpus(components=list(components))
    for comp, _code in components:
        docs = []
        n_chunks, i = 0, 0
        while n_chunks < chunks_per_component:
            ext = ".mdx" if rng.random() < 0.25 else ".md"
            stem = f"{comp}-{seed}-{i:04d}-{rng.choice(_WORDS)}"
            url = f"docs/{comp}/{stem}{ext}"
            i += 1
            shape = rng.choice(("atx", "atx", "setext", "plain", "preamble"))
            state = rng.getstate()
            parts: list[str] = []
            sections: list[tuple[list[str], str]] = []

            def body() -> str:
                if rng.random() < 0.125:
                    return _body(rng, rng.randint(MAX_CHUNK + 200, 2 * MAX_CHUNK + 1500))
                return _body(rng, rng.randint(150, 1800))

            if shape == "plain":
                b = body()
                parts.append(b)
                sections.append(([], b))
            else:
                if shape == "preamble":
                    b = body()
                    parts.append(b + "\n")
                    sections.append(([], b))
                path: list[str] = []
                for _ in range(rng.randint(1, 3)):
                    t1 = _title(rng)
                    path = [t1]
                    if shape == "setext":
                        parts.append(f"{t1}\n{'=' * rng.randint(3, 12)}")
                    else:
                        parts.append(f"# {t1}")
                    b = body()
                    parts.append(b + "\n")
                    sections.append((list(path), b))
                    for _ in range(rng.randint(0, 2)):
                        t2 = _title(rng)
                        path = [t1, t2]
                        if shape == "setext":
                            parts.append(f"{t2}\n{'-' * rng.randint(3, 12)}")
                        else:
                            parts.append(f"## {t2}")
                        b = body()
                        parts.append(b + "\n")
                        sections.append((list(path), b))
                        if shape != "setext" and rng.random() < 0.3:
                            t3 = _title(rng)
                            parts.append(f"### {t3}")
                            b = body()
                            parts.append(b + "\n")
                            sections.append(([t1, t2, t3], b))
            chunks = [
                (url, " -> ".join(headers) if headers else stem, b[k * MAX_CHUNK:(k + 1) * MAX_CHUNK])
                for headers, b in sections
                for k in range(math.ceil(len(b) / MAX_CHUNK))
            ]
            if n_chunks + len(chunks) > chunks_per_component:
                rng.setstate(state)
                b = _body(rng, rng.randint(150, 1800))
                parts, sections = [b], [([], b)]
                chunks = [(url, stem, b)]
            docs.append((url, "\n".join(parts)))
            out.expected.extend(chunks)
            n_chunks += len(chunks)
        out.docs[comp] = docs
    return out


# ------------------------------------------------------------- retrieve

def retrieve_id_start(seed: int) -> int:
    """First corpus id for a seed: the ``_synth`` jitter is a hash of the
    id, so another id range is another corpus."""
    return (seed % 100_000) * 1_000_000


def synth_center(cluster: int, dim: int) -> np.ndarray:
    """Cluster center of the ``_synth`` recipe, in numpy."""
    j = np.arange(dim)
    x = np.sin(cluster * 131 + j * 17)
    return 10.0 * (x - np.floor(x))


@dataclass
class QueryBatch:
    kind: str  # ivf | nsw | component | exact
    ids: np.ndarray
    vecs: np.ndarray  # float32, as the engine receives them
    texts: list[str]
    components: list[int]  # component-scoped batches only


def query_batches(
    seed: int,
    kinds: list[str],
    per_kind: int,
    batch_sizes: dict[str, int],
    dim: int,
    n_clusters: int,
    n_components: int,
) -> list[QueryBatch]:
    """``per_kind`` batches of each kind, interleaved in rotation order.
    A query is a cluster center plus uniform noise; component batches
    scope two seeded components — always two, so every seed does the
    same work (one component would skip the reranker)."""
    rng = np.random.default_rng(seed * 104729 + 3)
    batches, qid = [], 0
    for _ in range(per_kind):
        for kind in kinds:
            n = batch_sizes[kind]
            cl = rng.integers(0, n_clusters, size=n)
            vecs = np.stack([synth_center(int(c), dim) for c in cl])
            vecs = (vecs + rng.uniform(-0.75, 0.75, size=vecs.shape)).astype(np.float32)
            texts = [
                " ".join(_WORDS[int(w)] for w in rng.integers(0, len(_WORDS), size=4))
                for _ in range(n)
            ]
            comps: list[int] = []
            if kind == "component":
                comps = sorted(int(c) for c in rng.choice(n_components, size=2, replace=False))
            batches.append(QueryBatch(kind, np.arange(qid, qid + n), vecs, texts, comps))
            qid += n
    return batches


# --------------------------------------------------------------- curate

def curate_id_base(seed: int) -> int:
    """First doc id for a seed, a multiple of ten so the Zipf recipe's
    (10k, 10k + 1) near-duplicate pairs stay inside the range."""
    return ((seed % 100_000) + 1) * 10_000_000


@dataclass
class CurateTruth:
    doc_ids: list[int]
    low_quality: set[int]  # planted: must be filtered out
    exact_copies: dict[int, int]  # copy id -> original id (planted)
    near_pairs: set[tuple[int, int]]  # planted by the Zipf recipe
    vec_ids: np.ndarray
    vecs: np.ndarray  # float64
    vec_pairs: set[tuple[int, int]]  # planted eps-near pairs


def curate_plan(seed: int, n_docs: int, n_vecs: int, dim: int) -> CurateTruth:
    """Which ids are planted as what. ``n_docs`` Zipf docs start at
    ``curate_id_base(seed)``; one in twenty becomes a short, low-quality
    doc; one in twenty of the rest gets an exact copy appended after the
    range. Vectors are standard normal with one in ten paired to a copy
    at cosine above 0.99."""
    rng = random.Random(seed * 31337 + 5)
    base = curate_id_base(seed)
    doc_ids = list(range(base, base + n_docs))
    low = {d for d in doc_ids if rng.random() < 0.05}
    copies: dict[int, int] = {}
    nxt = base + n_docs
    for d in doc_ids:
        if d not in low and rng.random() < 0.05:
            copies[nxt] = d
            nxt += 1
    near = {
        (d - 1, d)
        for d in doc_ids
        if d % 10 == 1 and d - 1 >= base and d not in low and d - 1 not in low
    }
    vrng = np.random.default_rng(seed * 7 + 11)
    vecs = vrng.standard_normal((n_vecs, dim))
    vec_ids = np.arange(base, base + n_vecs, dtype=np.int64)
    pairs = set()
    for i in range(0, n_vecs - 1, 10):
        vecs[i + 1] = vecs[i] + vrng.normal(scale=0.05, size=dim)
        pairs.add((int(vec_ids[i]), int(vec_ids[i + 1])))
    return CurateTruth(doc_ids, low, copies, near, vec_ids, vecs, pairs)


def low_quality_text(doc_id: int) -> str:
    """Five tokens: under the ten-token floor of ``quality_score``."""
    return " ".join(f"z{doc_id}x{j}" for j in range(5))


def curate_docs(spark, truth: CurateTruth) -> dict[int, str]:
    """doc_id -> text: the Zipf recipe evaluated by Spark over the seed's
    id range, with the planted low-quality rows and exact copies."""
    from pyspark.sql import functions as F

    from chatbot_spark.workload import _ZIPF_TEXT_EXPR

    base, n = truth.doc_ids[0], len(truth.doc_ids)
    zipf = (
        spark.range(base, base + n)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", F.expr(_ZIPF_TEXT_EXPR).alias("text"))
        .toArrow()
    )
    texts = dict(zip(zipf.column("doc_id").to_pylist(), zipf.column("text").to_pylist()))
    for d in truth.low_quality:
        texts[d] = low_quality_text(d)
    for copy, orig in truth.exact_copies.items():
        texts[copy] = texts[orig]
    return texts


def curate_vecs_df(spark, truth: CurateTruth):
    """(vec_id, embedding) from the seeded numpy vectors."""
    import pandas as pd

    pdf = pd.DataFrame({"vec_id": truth.vec_ids, "embedding": list(truth.vecs)})
    return spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
