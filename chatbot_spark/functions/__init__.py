from chatbot_spark.functions.vector import (
    cosine_distance,
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_norm,
    normalize,
    sq_l2_distance,
)

__all__ = [
    "cosine_distance",
    "cosine_similarity",
    "dot_product",
    "l2_distance",
    "l2_norm",
    "normalize",
    "sq_l2_distance",
]


def register_sql_functions(spark, dim: int = 64):
    """SURVEY §2.L: expose the engine's pandas-UDF registry to SQL
    (``spark.udf.register`` — the Spark analog of the reference's
    EMBEDDED_TYPE-keyed backend registry, embedding/base.py:21-66).

    Registers:
      * embed_text(text) -> ARRAY<FLOAT>        (deterministic hash backend)
      * md_header_split(text) -> ARRAY<STRUCT>  (H1 markdown chunker)
      * rerank_score(q, d) -> DOUBLE            (deterministic cross-scorer)
    Returns the list of registered names.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from chatbot_spark.operators.chunking import markdown_header_split
    from chatbot_spark.operators.embed import get_embedder

    spark.udf.register("embed_text", get_embedder("hash", dim=dim))
    spark.udf.register("md_header_split", markdown_header_split)

    import hashlib

    import pandas as pd

    @pandas_udf(T.DoubleType())
    def _rerank_score(q: pd.Series, d: pd.Series) -> pd.Series:
        # same md5-derived uniform [0,1) as operators.rerank.hash_cross_score
        def score(pair):
            h = hashlib.md5((pair[0] + pair[1]).encode()).hexdigest()[:8]
            return int(h, 16) / 4294967296.0

        return pd.Series(map(score, zip(q.fillna(""), d.fillna(""))))

    spark.udf.register("rerank_score", _rerank_score)
    return ["embed_text", "md_header_split", "rerank_score"]
