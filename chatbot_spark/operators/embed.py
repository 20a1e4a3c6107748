"""Embedding operators (SURVEY §2.I I1-I3) — pluggable backends behind one
interface, mirroring the reference's EMBEDDED_TYPE registry
(src/rag/embedding/base.py:21-66, config keyed cache base.py:17-39).

Backends (mirroring the reference's EMBEDDED_TYPE dispatch,
config.py:270-274 — default / ollama / openai — plus its BGE-M3 model):
 * ``hash``   — deterministic seeded hash-projection (default for tests;
               same text ⇒ same unit vector on every engine/host). This is
               the determinism strategy SURVEY §5 requires for oracles.
 * ``openai`` — OpenAI-compatible HTTP endpoint (Tongyi/Doubao/ZhipuAI/…,
               reference src/rag/embedding/openai.py:14-50): one batched
               POST per Arrow batch via stdlib urllib — no client lib
               needed, no network in this container → raises at first use.
 * ``ollama`` — Ollama ``/api/embed`` endpoint (reference ollama.py:9-27),
               same batched-POST plumbing.
 * ``sentence_transformers`` / ``bge`` — local model backends (reference
               bge.py BGEEmbedding), gated behind import-try; absent in
               this container → NotImplementedError with the real Spark
               plumbing (lazy per-executor singleton, Arrow batching) in
               place.

Each backend factory in ``BACKENDS`` builds a plain batch function
``texts: pd.Series -> pd.Series`` (one list of floats per text), returned
by :func:`get_embed_fn`. :func:`get_embedder` wraps that same function in
an ARRAY<FLOAT> pandas UDF, which ``embed_documents``, ``embed_queries``
and the SQL ``embed_text`` apply. Ingest passes the plain function to
``chunking.split_documents(embed=...)`` instead, so chunking and
embedding share one Python pass per task.

Scale notes: the reference embeds with batch_size=1 (bge.py:204) — a
per-row HTTP/model call. Here embedding runs once per Arrow batch:
whole Arrow record batches cross the Python boundary at once, the model is
a per-executor lazy singleton, and batches parallelize across executors.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

DEFAULT_DIM = 64  # testdata embedding dim; reference uses 384/1024 (SURVEY §1.1)


def hash_embed_one(text: str, dim: int) -> list[float]:
    """Deterministic unit vector from md5-chained bytes of the text.

    Chunks of 4 bytes → uint32 → uniform [-1,1); L2-normalized. Pure
    stdlib — reproducible anywhere, no model weights.
    """
    if text is None:
        text = ""
    need = dim * 4
    out = bytearray()
    counter = 0
    seed = text.encode("utf-8", errors="ignore")
    while len(out) < need:
        out += hashlib.md5(seed + b"|" + str(counter).encode()).digest()
        counter += 1
    arr = np.frombuffer(bytes(out[:need]), dtype="<u4").astype(np.float64)
    vec = arr / 2147483648.0 - 1.0  # [-1, 1)
    norm = math.sqrt(float((vec * vec).sum())) or 1.0
    return [float(x) for x in vec / norm]


def make_hash_embedder(dim: int = DEFAULT_DIM):
    """Deterministic batch embedder (backend="hash")."""

    def embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: hash_embed_one(t, dim))

    return embed


def make_sentence_transformers_embedder(model_name: str = "all-MiniLM-L6-v2"):
    """Real-model backend (reference default backend, README.md:204-210).

    The model libs are not in this container — the function raises on
    first use, but the Spark plumbing (lazy per-executor singleton + Arrow
    batches) is the production pattern and is exercised by the hash backend."""

    def embed(texts: pd.Series) -> pd.Series:
        try:
            from sentence_transformers import SentenceTransformer  # noqa: F401
        except ImportError as e:  # pragma: no cover - environment-dependent
            raise NotImplementedError(
                "sentence-transformers not installed in this environment; "
                "use backend='hash' for deterministic embeddings"
            ) from e
        if not hasattr(embed, "_model"):  # lazy per-executor singleton
            embed._model = SentenceTransformer(model_name)
        vecs = embed._model.encode(texts.tolist(), batch_size=256)
        return pd.Series([v.astype("float32").tolist() for v in vecs])

    return embed


def make_openai_embedder(
    base_url: str = "",
    api_key: str = "",
    model: str = "text-embedding-3-small",
    dim: int | None = None,
    timeout: float = 30.0,
):
    """OpenAI-compatible HTTP backend (reference src/rag/embedding/openai.py:
    14-50 — the same wire format serves Tongyi, Baichuan, Doubao, ZhipuAI).

    One POST per Arrow batch with the WHOLE batch as ``input`` — the
    reference embeds with batch_size=1 (bge.py:204, one call per text);
    batching per Arrow record batch is the 100 TB shape (thousands of
    texts per HTTP round-trip, batches parallel across executors). Built
    on stdlib urllib so no client library is required; without an
    endpoint configured (or network in this container) the function raises
    at first use with the plumbing intact."""

    def embed(texts: pd.Series) -> pd.Series:
        import json
        import urllib.request

        if not base_url:
            raise NotImplementedError(
                "openai backend needs base_url/api_key; "
                "use backend='hash' for deterministic offline embeddings"
            )
        payload: dict = {"model": model, "input": texts.fillna("").tolist()}
        if dim is not None:
            payload["dimensions"] = dim
        req = urllib.request.Request(
            base_url.rstrip("/") + "/embeddings",
            data=json.dumps(payload).encode("utf-8"),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {api_key}",
            },
        )
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            body = json.loads(resp.read())
        # OpenAI wire format: data[i].embedding, ordered by data[i].index
        vecs = [None] * len(texts)
        for item in body["data"]:
            vecs[item["index"]] = [float(x) for x in item["embedding"]]
        return pd.Series(vecs)

    return embed


def make_ollama_embedder(
    base_url: str = "http://localhost:11434",
    model: str = "bge-m3",
    timeout: float = 30.0,
):
    """Ollama backend (reference src/rag/embedding/ollama.py:9-27; defaults
    mirror DEFAULT_OLLAMA_BASE_URL / DEFAULT_OLLAMA_MODEL). Uses the
    batched ``/api/embed`` endpoint — one POST per Arrow batch."""

    def embed(texts: pd.Series) -> pd.Series:
        import json
        import urllib.request

        req = urllib.request.Request(
            base_url.rstrip("/") + "/api/embed",
            data=json.dumps({"model": model, "input": texts.fillna("").tolist()}).encode("utf-8"),
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                body = json.loads(resp.read())
        except OSError as e:  # no Ollama server in this container
            raise NotImplementedError(
                f"no Ollama server reachable at {base_url}; "
                "use backend='hash' for deterministic offline embeddings"
            ) from e
        return pd.Series([[float(x) for x in v] for v in body["embeddings"]])

    return embed


def make_bge_embedder(model_name: str = "BAAI/bge-m3"):
    """BGE-M3 local-model backend (reference bge.py BGEEmbedding — its
    dense leg; the sparse+colbert legs live in multi_embed_documents).
    FlagEmbedding isn't in this container — gated like the reference gates
    its model deps."""

    def embed(texts: pd.Series) -> pd.Series:
        try:
            from FlagEmbedding import BGEM3FlagModel  # noqa: F401
        except ImportError as e:  # pragma: no cover - environment-dependent
            raise NotImplementedError(
                "FlagEmbedding not installed in this environment; "
                "use backend='hash' for deterministic embeddings"
            ) from e
        if not hasattr(embed, "_model"):  # lazy per-executor singleton
            embed._model = BGEM3FlagModel(model_name)
        res = embed._model.encode(texts.fillna("").tolist(), return_dense=True)
        return pd.Series([v.astype("float32").tolist() for v in res["dense_vecs"]])

    return embed


def _make_tiny_embedder(model_name: str = "tiny-v1", dim: int = DEFAULT_DIM):
    """backend="tiny" (r11): the vendored pure-numpy TinyEncoder — a real
    (miniature) neural encoder exercising the REAL-model serving path
    end-to-end in this environment: per-executor weight residency,
    batched vectorized inference per Arrow batch, registry dispatch. The
    gated sentence_transformers/bge backends share this exact shape; see
    chatbot_spark/models/tiny_encoder.py and MODELS_E2E.json."""
    from chatbot_spark.models.tiny_encoder import make_tiny_encoder_embedder

    return make_tiny_encoder_embedder(model_name, dim)


BACKENDS = {
    "hash": make_hash_embedder,
    "tiny": _make_tiny_embedder,
    "sentence_transformers": make_sentence_transformers_embedder,
    "openai": make_openai_embedder,
    "ollama": make_ollama_embedder,
    "bge": make_bge_embedder,
}


def get_embed_fn(backend: str = "hash", **kwargs):
    """The backend's plain batch function ``texts: pd.Series -> pd.Series``
    — mirror of the reference's EMBEDDED_TYPE-keyed factory
    (embedding/base.py:21-66, config.py:270-274)."""
    if backend not in BACKENDS:
        raise ValueError(f"unknown embedding backend {backend!r}; have {sorted(BACKENDS)}")
    return BACKENDS[backend](**kwargs)


def get_embedder(backend: str = "hash", **kwargs):
    """:func:`get_embed_fn` wrapped as an Arrow-batched ARRAY<FLOAT>
    pandas UDF."""
    return pandas_udf(get_embed_fn(backend, **kwargs), T.ArrayType(T.FloatType()))


def embed_documents(
    df: DataFrame,
    text_col: str = "document",
    out_col: str = "embedding",
    backend: str = "hash",
    **kwargs,
) -> DataFrame:
    """I1: batch-embed a text column (replaces the reference's per-batch
    ``add_documents`` embedding loop, doc_embedder.py:90-114)."""
    return df.withColumn(out_col, get_embedder(backend, **kwargs)(F.col(text_col)))


def embed_queries(
    df: DataFrame,
    text_col: str = "query_text",
    out_col: str = "query_embedding",
    backend: str = "hash",
    **kwargs,
) -> DataFrame:
    """I2: embed the (small) query side with the same backend."""
    return df.withColumn(out_col, get_embedder(backend, **kwargs)(F.col(text_col)))


# ---------------------------------------------------------- multi-vector (I3)

MULTI_EMBED_SCHEMA = T.StructType(
    [
        T.StructField("dense", T.ArrayType(T.FloatType())),
        T.StructField("sparse", T.MapType(T.IntegerType(), T.FloatType())),
        T.StructField("colbert", T.ArrayType(T.ArrayType(T.FloatType()))),
    ]
)

COLBERT_MAX_TOKENS = 16  # deterministic stand-in for BGE-M3's 512-token cap


def hash_sparse_weights(text: str) -> dict[int, float]:
    """Deterministic lexical-weight stand-in for BGE-M3 sparse embeddings
    (reference src/rag/embedding/bge.py:178: dict[token_id, weight]).

    token_id = first 32 md5 bits of the token (mod 2^31, portable across
    engines); weight = relative term frequency. Hash collisions within a
    document merge their counts BEFORE the division so the weight is a
    single exact double ratio.
    """
    import re

    toks = re.findall(r"\S+", (text or "").lower())
    if not toks:
        return {}
    counts: dict[int, int] = {}
    for t in toks:
        tid = int(hashlib.md5(t.encode("utf-8", errors="ignore")).hexdigest()[:8], 16) % 2147483648
        counts[tid] = counts.get(tid, 0) + 1
    n = len(toks)
    return {tid: float(c / n) for tid, c in counts.items()}


def hash_colbert_vecs(
    text: str, dim: int = DEFAULT_DIM, max_tokens: int = COLBERT_MAX_TOKENS
) -> list[list[float]]:
    """Deterministic per-token vectors — the colbert leg of BGE-M3's
    multi-vector output (reference bge.py:173-222 return_colbert_vecs).

    One unit vector per whitespace token (lowercased, first ``max_tokens``),
    from the same md5-chained projection as the dense leg — so the DuckDB
    oracle can re-derive every token vector and the MaxSim score."""
    import re

    toks = re.findall(r"\S+", (text or "").lower())[:max_tokens]
    return [hash_embed_one(t, dim) for t in toks]


def make_hash_multi_embedder(dim: int = DEFAULT_DIM, max_tokens: int = COLBERT_MAX_TOKENS):
    """I3: one pass → dense + sparse + colbert (the reference's BGE-M3
    three-legged output shape, bge.py:173-222) as a struct column."""

    @pandas_udf(MULTI_EMBED_SCHEMA)
    def embed(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "dense": texts.map(lambda t: hash_embed_one(t, dim)),
                "sparse": texts.map(hash_sparse_weights),
                "colbert": texts.map(lambda t: hash_colbert_vecs(t, dim, max_tokens)),
            }
        )

    return embed


def multi_embed_documents(
    df: DataFrame,
    text_col: str = "document",
    out_col: str = "multi_embedding",
    dim: int = DEFAULT_DIM,
    max_tokens: int = COLBERT_MAX_TOKENS,
) -> DataFrame:
    """I3 operator: ``out_col`` is STRUCT<dense ARRAY<FLOAT>, sparse
    MAP<INT,FLOAT>, colbert ARRAY<ARRAY<FLOAT>>> (SURVEY §2.I I3)."""
    return df.withColumn(out_col, make_hash_multi_embedder(dim, max_tokens)(F.col(text_col)))
