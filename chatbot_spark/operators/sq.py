"""Scalar-quantized ANN (SURVEY §2.I I6 family) — the SQ8 member of the
FAISS quantization ladder (Flat → SQ8 → PQ → IVF-PQ; FAISS
``IndexScalarQuantizer(QT_8bit)``).

Where PQ (operators/pq.py) learns per-subspace codebooks, SQ8 simply
stores each dimension as one uint8 against per-dimension [min, max]
bounds: 4× smaller than float32 at zero training cost, decode is an
affine map (no codebook gathers), and — unlike PQ — the quantizer needs
ONE distributed aggregate over the corpus, not a driver-side k-means
sample. It is the first compression rung you reach for at 100 TB: the
code table is ¼ the raw size, scans decode with two BLAS ops, and
recall loss at 8 bits is tiny (bounded by half a quantization step per
dimension), usually recovered entirely by a small exact re-rank.

Execution model:
 * train: per-dimension min/max via posexplode + groupBy(dim) — map-side
   partial aggregation collapses each partition to d rows before the
   shuffle, so the exchange is O(d × partitions) regardless of corpus
   size. Exact global bounds, no sampling, no driver data path.
 * encode: one narrow Arrow-batched pass; codes are a BINARY column of
   d bytes/row. ``code = round((v - min) * 255 / span)`` clamped to
   [0, 255]; degenerate dimensions (span 0) encode to 0 and decode to
   their constant.
 * search (ADC): the shared quantized-index skeleton (pq.py
   ``_QuantizedIndex`` — query batch in the scan kernel's closure, one
   mapInPandas scan, partial top-k per partition, global window after).
   SQ's own kernel decodes a batch's codes to float64 ((rows, d) BLAS)
   and takes distances via the ‖x‖² − 2q·x + ‖q‖² expansion. Optional
   exact re-rank by id join restores any recall lost to quantization.

Determinism: bounds are exact min/max (order-independent), numpy
rounding is IEEE half-to-even everywhere, ties in ranking break on
neighbor id — same discipline as ann.py/pq.py. The zero-quantization-
error pytest (vectors already on the 256-point grid) pins the ADC
machinery against the exact scan (same top-k, distances to 1e-9).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatbot_spark.io.smallio import write_small_parquet
from chatbot_spark.operators.pq import _codes, _QuantizedIndex, _small_rows


class SQIndex(_QuantizedIndex):
    """Scalar-quantized corpus: BINARY codes (d bytes/row) + per-dim bounds.

    build():  corpus -> encoded corpus (id + sq_code) + (mins, spans)
    search(): queries -> top-k per query by decoded-L2 over the code
              table, optionally exact-re-ranked against the raw vectors
              (see _QuantizedIndex.search).
    """

    def __init__(self, mins, spans, encoded: DataFrame, vec_col: str, id_col: str):
        super().__init__(encoded, vec_col, id_col)
        self.mins = mins            # numpy (d,) float64
        self.spans = spans          # numpy (d,) float64 (>= 0)

    # ------------------------------------------------------------- train

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "id",
    ) -> "SQIndex":
        bounds = (
            corpus.select(F.posexplode(vec_col).alias("dim", "v"))
            .groupBy("dim")
            .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
            .collect()
        )
        d = max(r["dim"] for r in bounds) + 1
        mins = np.zeros(d, dtype=np.float64)
        spans = np.zeros(d, dtype=np.float64)
        for r in bounds:
            mins[r["dim"]] = float(r["lo"])
            spans[r["dim"]] = float(r["hi"]) - float(r["lo"])
        encoded = corpus.select(
            F.col(id_col), _encode_sq(F.col(vec_col), mins, spans).alias("sq_code")
        )
        return cls(mins, spans, encoded, vec_col, id_col)

    # --------------------------------------------------------- persistence

    def write(self, path: str) -> None:
        """Code table + a tiny parquet of (dim, lo, span) rows — portable,
        no pickle, written driver-side (io/smallio)."""
        self.encoded.write.mode("overwrite").parquet(f"{path}/codes")
        import pyarrow as pa

        d = len(self.mins)
        tbl = pa.table(
            {
                "dim": pa.array(range(d), pa.int32()),
                "lo": pa.array([float(x) for x in self.mins], pa.float64()),
                "span": pa.array([float(x) for x in self.spans], pa.float64()),
            }
        )
        write_small_parquet(self.encoded.sparkSession, f"{path}/bounds", tbl)

    @classmethod
    def load(cls, spark, path: str, vec_col: str = "embedding", id_col: str = "id") -> "SQIndex":
        rows = _small_rows(spark, f"{path}/bounds")
        d = max(r["dim"] for r in rows) + 1
        mins = np.zeros(d, dtype=np.float64)
        spans = np.zeros(d, dtype=np.float64)
        for r in rows:
            mins[r["dim"]], spans[r["dim"]] = r["lo"], r["span"]
        return cls(mins, spans, spark.read.parquet(f"{path}/codes"), vec_col, id_col)

    # -------------------------------------------------------------- search

    def _blocks(self, Q):
        mins, scale, id_col = self.mins, self.spans / 255.0, self.id_col
        qn = (Q * Q).sum(axis=1)

        def blocks(pdf):
            Xd = _codes(pdf, "sq_code", len(mins)).astype(np.float64) * scale + mins
            xn = (Xd * Xd).sum(axis=1)
            # clamp: the expansion can land ~-1e-13 for identical vectors
            # (BLAS reassociation); sqrt(neg) → NaN dist
            yield np.arange(len(Q)), pdf[id_col].to_numpy(), lambda qc: np.maximum(
                qn[qc, None] - 2.0 * (Q[qc] @ Xd.T) + xn[None, :], 0.0
            )

        return blocks


def _encode_sq(col, mins, spans):
    """Arrow-batched encode: ARRAY<FLOAT> -> BINARY of d uint8 codes."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    scale = np.where(spans > 0.0, 255.0 / np.where(spans == 0.0, 1.0, spans), 0.0)

    def enc(s):
        if len(s) == 0:
            return pd.Series([], dtype=object)
        X = np.array(s.tolist(), dtype=np.float64)
        codes = np.clip(np.rint((X - mins) * scale), 0, 255).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf("binary")(enc)(col)
