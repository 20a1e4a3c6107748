"""Markdown chunking operators (SURVEY §2.H H1-H4, §2.A A1-A3).

Reference semantics (src/rag/doc_processing.py):
 * H1 header split: split at ATX headings ``#``..``######``, carrying the
   heading path as metadata (doc_processing.py:28-38, 92).
 * H2 fixed-size sub-chunking: any chunk longer than ``max_chunk_size``
   (4096 chars, doc_processing.py:25) is sliced into contiguous windows
   (doc_processing.py:135-158) — lossless, reassembly == original.
 * H3 title derivation: ``chunk_title`` = last header, ``enhanced_title`` =
   headers joined with " -> ", ``doc_name`` = Header1 or filename fallback
   (doc_processing.py:112-132).
 * H4 setext→ATX rewrite: ``Title\\n====`` → ``# Title`` (convert_headings.py:18-19).

Plan shape: ``split_documents`` crosses into Python once per task. The
H3 filename (``regexp_extract``) is a Catalyst expression in the Project
under it (ingest's H4 ``setext_to_atx`` lands in the same Project); then
one ``mapInArrow`` (:func:`_chunk_kernel`) runs,
per Arrow batch of documents, the H1 header-stack walk, the H3 titles, the
H2 slices and ``chunk_seq``, and — when given ``embed=``, a batch function
from ``operators.embed.get_embed_fn`` — embeds each output batch's texts:

    Project [text, keep..., regexp_extract(url) AS __filename]
      -> MapInArrow _chunk_kernel -> keep... + chunk columns [+ embedding]

No Generate, Window or Exchange. ``chunk_seq`` numbers the chunks of each
input row from 0; that equals per-URL numbering when URLs are unique, as
:func:`scan_markdown_dir` makes them. ``subchunk`` (H2 alone) stays a pure
Catalyst builtin chain, and SQL ``md_header_split`` the
``markdown_header_split`` pandas UDF.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

MAX_CHUNK_SIZE = 4096  # reference doc_processing.py:25 / config.py:299

_HEADER_SPLIT_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("headers", T.ArrayType(T.StringType())),
            T.StructField("content", T.StringType()),
        ]
    )
)

_ATX = re.compile(r"^(#{1,6})\s+(.*?)\s*#*\s*$")


def _split_markdown(text: str) -> list[dict]:
    """Header-stack walk over one markdown document.

    Matches the reference's MarkdownHeaderTextSplitter configuration
    (doc_processing.py:28-38): split on levels 1-6, heading lines become
    metadata (stripped from content), deeper levels reset when a shallower
    heading appears. ``headers`` is the heading path root→leaf.
    """
    if text is None:
        return []
    stack: list[tuple[int, str]] = []  # (level, title)
    chunks: list[dict] = []
    buf: list[str] = []

    def flush():
        content = "\n".join(buf).strip()
        if content:
            chunks.append(
                {"headers": [t for _, t in stack], "content": content}
            )
        buf.clear()

    in_code = False
    for line in text.split("\n"):
        if line.lstrip().startswith("```"):
            in_code = not in_code
            buf.append(line)
            continue
        m = None if in_code else _ATX.match(line)
        if m:
            flush()
            level = len(m.group(1))
            while stack and stack[-1][0] >= level:
                stack.pop()
            stack.append((level, m.group(2)))
        else:
            buf.append(line)
    flush()
    if not chunks and text.strip() == "":
        return []
    return chunks


@pandas_udf(_HEADER_SPLIT_SCHEMA)
def markdown_header_split(texts: pd.Series) -> pd.Series:
    return texts.map(_split_markdown)


_CHUNK_FIELDS = [
    T.StructField("headers", T.ArrayType(T.StringType())),
    T.StructField("chunk_title", T.StringType()),
    T.StructField("enhanced_title", T.StringType()),
    T.StructField("doc_name", T.StringType()),
    T.StructField("document", T.StringType()),
    T.StructField("chunk_seq", T.IntegerType()),
]
_EMBEDDING_FIELD = T.StructField("embedding", T.ArrayType(T.FloatType()))


def split_documents(
    df: DataFrame,
    text_col: str = "text",
    url_col: str = "doc_url",
    max_chunk_size: int = MAX_CHUNK_SIZE,
    embed=None,
) -> DataFrame:
    """Full reference chunking pipeline: header split (H1) → title metadata
    (H3) → fixed-size sub-chunk (H2), as one ``mapInArrow`` over
    :func:`_chunk_kernel`. One row in → N chunk rows out; a null or blank
    ``text_col`` gives none.

    ``embed``: optional batch function ``texts: pd.Series -> pd.Series``
    (``operators.embed.get_embed_fn``); when given, the same pass embeds
    each output batch's ``document`` texts into ``embedding``
    ARRAY<FLOAT>.

    Output: the input columns except ``text_col`` + (headers, chunk_title,
    enhanced_title, doc_name, document, chunk_seq[, embedding]).
    """
    new = _CHUNK_FIELDS + ([_EMBEDDING_FIELD] if embed is not None else [])
    names = {text_col} | {f.name for f in new}
    keep = [f for f in df.schema.fields if f.name not in names]
    schema = T.StructType(keep + new)
    max_rows = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    # the H3 filename fallback stays Spark's own regexp_extract
    filename = F.regexp_extract(F.col(url_col), r"([^/]+?)(\.mdx?)?$", 1)
    kernel = _chunk_kernel(
        text_col, [f.name for f in keep], max_chunk_size, embed, max_rows, schema
    )
    return df.withColumn("__filename", filename).mapInArrow(kernel, schema)


def _chunk_kernel(text_col, keep, max_chunk_size, embed, max_rows, schema):
    """The mapInArrow function of :func:`split_documents`: per Arrow batch
    of documents, the H1 walk, the H3 titles and the H2 slices, then (with
    ``embed``) one embed call per output batch. Streams: output batches
    hold at most ``max_rows`` rows (no cap when ``max_rows`` ≤ 0) and only
    the rows not yet emitted are buffered."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    fields = [arrow.field(f.name) for f in _CHUNK_FIELDS]
    emb_type = arrow.field(_EMBEDDING_FIELD.name).type if embed is not None else None

    def chunk(batch):
        """One batch of documents -> a Table of its chunks: the kept
        columns of each chunk's row, then the chunk columns."""
        src, rows = [], []
        texts = batch.column(text_col).to_pylist()
        fnames = batch.column("__filename").to_pylist()
        for i, (text, fname) in enumerate(zip(texts, fnames)):
            first = len(rows)
            for sec in _split_markdown(text):
                h, content = sec["headers"], sec["content"]
                titles = (h[-1], " -> ".join(h), h[0]) if h else (fname,) * 3
                for lo in range(0, len(content), max_chunk_size):
                    rows.append((h, *titles, content[lo : lo + max_chunk_size], len(rows) - first))
                    src.append(i)
        cols = list(zip(*rows)) if rows else [[]] * len(fields)
        kept = batch.select(keep).take(pa.array(src, pa.int64()))
        return pa.Table.from_arrays(
            kept.columns + [pa.array(c, f.type) for c, f in zip(cols, fields)],
            schema=pa.schema(list(kept.schema) + fields),
        )

    def emit(t):
        if embed is not None:
            vecs = embed(t.column("document").to_pandas())
            t = t.append_column(_EMBEDDING_FIELD.name, pa.array(list(vecs), emb_type))
        yield from t.combine_chunks().to_batches()

    def kernel(batches):
        buf = None
        for batch in batches:
            t = chunk(batch)
            buf = t if buf is None else pa.concat_tables([buf, t])
            while 0 < max_rows <= buf.num_rows:
                yield from emit(buf.slice(0, max_rows))
                buf = buf.slice(max_rows)
        if buf is not None and buf.num_rows:
            yield from emit(buf)

    return kernel


def subchunk(
    df: DataFrame,
    text_col: str,
    max_chunk_size: int = MAX_CHUNK_SIZE,
    seq_col: str = "chunk_seq",
    out_col: str = "chunk",
) -> DataFrame:
    """H2: slice text into contiguous ``max_chunk_size``-char windows with
    sequence/transform/posexplode — no UDF, lossless (concat of slices ==
    original; reference doc_processing.py:155-158)."""
    n_slices = F.greatest(
        F.lit(0), F.floor((F.length(F.col(text_col)) - 1) / max_chunk_size)
    ).cast("int")
    slices = F.transform(
        F.sequence(F.lit(0), n_slices),
        lambda i: F.col(text_col).substr(
            i * max_chunk_size + 1, F.lit(max_chunk_size)
        ),
    )
    return df.select(
        "*", F.posexplode(slices).alias(seq_col, out_col)
    ).drop(text_col)


def setext_to_atx(col: Column) -> Column:
    """H4: rewrite setext headings to ATX (reference convert_headings.py:18-19):
    ``Title\\n====`` → ``# Title``; ``Title\\n----`` → ``## Title``."""
    c = F.regexp_replace(col, r"(?m)^(\S[^\n]*)\n=+[ \t]*$", "# $1")
    return F.regexp_replace(c, r"(?m)^(\S[^\n]*)\n-+[ \t]*$", "## $1")


def scan_markdown_dir(spark, path: str, skip_patterns: list[str] | None = None,
                      limit: int = 0) -> DataFrame:
    """A1-A3: recursive markdown corpus scan as a distributed file source.

    Reference: os.walk keeping .md/.mdx (doc_processing.py:230-252), regex
    skip patterns (doc_processing.py:254-264), file-count limit
    (doc_processing.py:220-226 — which exit(0)s mid-loop; we stop cleanly).
    """
    df = (
        spark.read.option("recursiveFileLookup", True)
        .option("pathGlobFilter", "*.{md,mdx}")
        .text(path, wholetext=True)
        .withColumnRenamed("value", "text")
        .withColumn("doc_url", F.input_file_name())
    )
    for pat in skip_patterns or []:
        df = df.filter(~F.col("doc_url").rlike(pat))
    if limit:
        # deterministic: order before limiting (SURVEY §2.A A3)
        df = df.orderBy("doc_url").limit(limit)
    return df
