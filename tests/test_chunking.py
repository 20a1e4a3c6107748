"""Chunking operator tests (SURVEY §2.H H1-H4, golden semantics §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chatbot_spark.operators.chunking import (
    _split_markdown,
    setext_to_atx,
    split_documents,
    subchunk,
)

MD = """# Title

intro text

## Section A

alpha body

### Deep

deep body

## Section B

beta body
"""


def test_split_markdown_header_paths():
    chunks = _split_markdown(MD)
    assert [c["headers"] for c in chunks] == [
        ["Title"],
        ["Title", "Section A"],
        ["Title", "Section A", "Deep"],
        ["Title", "Section B"],
    ]
    assert chunks[1]["content"] == "alpha body"


def test_split_markdown_shallower_heading_resets_stack():
    chunks = _split_markdown("### deep\n\nx\n\n# top\n\ny\n")
    assert chunks[0]["headers"] == ["deep"]
    assert chunks[1]["headers"] == ["top"]


def test_split_markdown_code_fence_ignored():
    text = "# T\n\n```\n# not a heading\n```\n\nbody"
    chunks = _split_markdown(text)
    assert len(chunks) == 1
    assert "# not a heading" in chunks[0]["content"]


def test_split_markdown_no_headers():
    chunks = _split_markdown("just text\nno headings")
    assert chunks == [{"headers": [], "content": "just text\nno headings"}]


def test_subchunk_lossless(spark):
    df = spark.createDataFrame([(1, "a" * 250), (2, "b" * 100), (3, "c")], "id INT, t STRING")
    out = subchunk(df, "t", max_chunk_size=100, seq_col="seq", out_col="chunk")
    rows = out.orderBy("id", "seq").collect()
    # 250 chars → 3 slices; reassembly == original (doc_processing.py:155-158)
    joined = "".join(r["chunk"] for r in rows if r["id"] == 1)
    assert joined == "a" * 250
    assert [r["seq"] for r in rows if r["id"] == 1] == [0, 1, 2]
    assert len([r for r in rows if r["id"] == 3]) == 1


def test_split_documents_pipeline(spark):
    df = spark.createDataFrame([(MD, "docs/guide/intro.md")], "text STRING, doc_url STRING")
    out = split_documents(df, "text", "doc_url", max_chunk_size=4096)
    rows = out.orderBy("chunk_seq").collect()
    assert rows[0]["doc_name"] == "Title"
    assert rows[1]["chunk_title"] == "Section A"
    assert rows[2]["enhanced_title"] == "Title -> Section A -> Deep"
    assert [r["chunk_seq"] for r in rows] == [0, 1, 2, 3]


def test_split_documents_filename_fallback(spark):
    # no headings → titles fall back to the filename (doc_processing.py:123-131)
    df = spark.createDataFrame(
        [("plain text body", "repo/dir/readme_file.md")], "text STRING, doc_url STRING"
    )
    row = split_documents(df, "text", "doc_url").first()
    assert row["doc_name"] == "readme_file"
    assert row["chunk_title"] == "readme_file"


def test_setext_to_atx(spark):
    df = spark.createDataFrame([("Main\n====\n\nSub\n----\n\nbody",)], "t STRING")
    out = df.select(setext_to_atx(F.col("t")).alias("t")).first()["t"]
    assert out == "# Main\n\n## Sub\n\nbody"


# ------------------------------------------------- one-pass kernel vs parent
# The parent pipeline, kept here as the reference: header-split pandas UDF →
# posexplode → Catalyst titles → subchunk → per-URL row_number window, then
# a separate embed UDF.


def _reference_split_documents(df, text_col="text", url_col="doc_url", max_chunk_size=4096):
    from pyspark.sql import Window

    from chatbot_spark.operators.chunking import markdown_header_split

    exploded = (
        df.withColumn("__chunks", markdown_header_split(F.col(text_col)))
        .select("*", F.posexplode("__chunks").alias("__hseq", "__chunk"))
        .drop("__chunks")
        .withColumn("headers", F.col("__chunk.headers"))
        .withColumn("__content", F.col("__chunk.content"))
        .drop("__chunk")
    )
    filename = F.regexp_extract(F.col(url_col), r"([^/]+?)(\.mdx?)?$", 1)
    titled = (
        exploded.withColumn("chunk_title", F.coalesce(F.try_element_at("headers", F.lit(-1)), filename))
        .withColumn(
            "enhanced_title",
            F.when(F.size("headers") > 0, F.array_join("headers", " -> ")).otherwise(filename),
        )
        .withColumn("doc_name", F.coalesce(F.try_element_at("headers", F.lit(1)), filename))
    )
    sub = subchunk(titled, "__content", max_chunk_size, seq_col="__sub_seq", out_col="document")
    w_seq = F.row_number().over(Window.partitionBy(url_col).orderBy("__hseq", "__sub_seq")) - 1
    return sub.withColumn("chunk_seq", w_seq.cast("int")).drop("__hseq", "__sub_seq", "__content")


def _reference_ingest(docs, component="observer", component_code=1, dim=64):
    from chatbot_spark.operators.embed import embed_documents

    normalized = docs.withColumn("text", setext_to_atx(F.col("text")))
    chunks = _reference_split_documents(normalized)
    embedded = embed_documents(chunks, text_col="document", backend="hash", dim=dim)
    return embedded.select(
        F.col("embedding"),
        F.col("document"),
        F.map_from_arrays(
            F.array(
                F.lit("doc_url"), F.lit("doc_name"), F.lit("component"),
                F.lit("chunk_title"), F.lit("enhanced_title"),
            ),
            F.array(
                F.col("doc_url"), F.col("doc_name"), F.lit(component),
                F.col("chunk_title"), F.col("enhanced_title"),
            ),
        ).alias("metadata"),
        F.lit(component_code).cast("int").alias("component_code"),
    )


_SMP = "\U0001F600"  # outside the BMP: one code point, two UTF-16 units
EDGE_DOCS = [
    (1, 7, None, "docs/null_text.md"),
    (2, 7, "   \n\t\n", "docs/blank.md"),
    (3, 7, "# Fenced\n\n```\n# not a heading\n```\n\nafter", "docs/fence.md"),
    (4, 8, "Main\n====\n\nintro\n\nSub\n----\n\nbody", "docs/setext.md"),
    (5, 8, "no headings at all\nsecond line", "docs/plain.mdx"),
    (6, 8, "# Exact\n\n" + "a" * 4096, "docs/exact"),
    (7, 9, "b" * 4097, "docs/dir/"),
    (8, 9, "# Two\n\n" + "c" * 8193 + "\n\n## Tail\n\ntail text", "https://host/a/two.md"),
    (9, 9, "# Wide\n\n" + "d" * 4095 + _SMP + "e" * 4100, "docs/wide.md"),
    (10, 9, "header-less with a smile " + _SMP, None),
    (11, 9, "header-less, no extension", "docs/noext"),
]


def _edge_df(spark):
    return spark.createDataFrame(
        EDGE_DOCS, "doc_id INT, component_code INT, text STRING, doc_url STRING"
    )


def _bits(vec):
    import numpy as np

    return None if vec is None else np.asarray(vec, dtype=np.float32).tobytes()


def _rows(df, cols):
    out = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        out.append(tuple(_bits(d[c]) if c == "embedding" else d[c] for c in cols))
    return sorted(out, key=repr)


def _assert_split_equal(spark, docs, max_chunk_size=4096):
    from chatbot_spark.operators.chunking import split_documents
    from chatbot_spark.operators.embed import embed_documents, get_embed_fn

    new = split_documents(docs, max_chunk_size=max_chunk_size, embed=get_embed_fn("hash", dim=16))
    ref = embed_documents(
        _reference_split_documents(docs, max_chunk_size=max_chunk_size).drop("text"),
        backend="hash", dim=16,
    )
    assert new.columns == ref.columns
    assert [f.dataType for f in new.schema] == [f.dataType for f in ref.schema]
    got, want = _rows(new, new.columns), _rows(ref, ref.columns)
    assert got == want
    return [dict(zip(new.columns, r)) for r in got]


def test_split_documents_equals_parent_pipeline(spark):
    docs = _edge_df(spark).withColumn("text", setext_to_atx(F.col("text")))
    rows = _assert_split_equal(spark, docs)
    by_doc = {}
    for r in sorted(rows, key=lambda r: r["chunk_seq"]):
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc and 2 not in by_doc  # null and blank text: no chunks
    assert [len(by_doc[d]) for d in (6, 7, 8)] == [1, 2, 4]
    doc9 = [r["document"] for r in by_doc[9]]
    assert [len(d) for d in doc9] == [4096, 4096, 4]
    assert doc9[0].endswith(_SMP) and "".join(doc9) == "d" * 4095 + _SMP + "e" * 4100
    assert "# not a heading" in by_doc[3][0]["document"]
    assert [r["enhanced_title"] for r in by_doc[4]] == ["Main", "Main -> Sub"]
    # filename fallback: .mdx, trailing "/", null URL, no extension
    assert {d: by_doc[d][0]["doc_name"] for d in (5, 6, 7, 8, 10, 11)} == {
        5: "plain", 6: "Exact", 7: "", 8: "Two", 10: None, 11: "noext",
    }
    assert [r["enhanced_title"] for r in by_doc[8]] == ["Two"] * 3 + ["Two -> Tail"]
    assert all(r["component_code"] == 9 and r["embedding"] for r in by_doc[8])


def test_split_documents_small_arrow_batches_equal_parent(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        _assert_split_equal(spark, _edge_df(spark).coalesce(1), max_chunk_size=100)
    finally:
        spark.conf.set(key, old)


def test_ingest_documents_equals_parent_pipeline(spark):
    from chatbot_spark.plans.ingest import ingest_documents

    docs = _edge_df(spark).select("text", "doc_url")
    new = ingest_documents(docs, component="oms", component_code=2, dim=16).drop("id")
    ref = _reference_ingest(docs, component="oms", component_code=2, dim=16)
    assert new.schema == ref.schema
    assert _rows(new, new.columns) == _rows(ref, ref.columns)


def test_chunk_kernel_streams_bounded_batches():
    """The kernel yields a batch as soon as it has max_rows rows, and no
    batch holds more."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from chatbot_spark.operators.chunking import _CHUNK_FIELDS, _chunk_kernel

    schema = T.StructType([T.StructField("doc_id", T.IntegerType())] + _CHUNK_FIELDS)
    kernel = _chunk_kernel("text", ["doc_id"], 10, None, 3, schema)
    consumed = []

    def batches():
        for i in range(4):
            consumed.append(i)
            yield pa.record_batch(
                [pa.array([i]), pa.array(["# H\n\n" + "x" * 45]), pa.array(["f"])],
                names=["doc_id", "text", "__filename"],
            )

    it = kernel(batches())
    first = next(it)
    assert first.num_rows == 3 and consumed == [0]
    rest = list(it)
    assert all(b.num_rows <= 3 for b in rest)
    assert first.num_rows + sum(b.num_rows for b in rest) == 20


def _python_nodes(df):
    """Executed physical plan nodes of ``df`` (after running it), with
    adaptive stages unwrapped: (python node count, class names)."""
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    names, stack = [], [root]
    while stack:
        node = stack.pop()
        cls = node.getClass().getName()
        if cls.endswith("AdaptiveSparkPlanExec"):
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        names.append(cls)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    n_python = sum(n.startswith("org.apache.spark.sql.execution.python.") for n in names)
    return n_python, names


def test_ingest_plan_crosses_into_python_once(spark):
    from chatbot_spark.plans.ingest import ingest_documents

    n_python, names = _python_nodes(ingest_documents(_edge_df(spark).select("text", "doc_url")))
    assert n_python == 1, names
    assert not any("ArrowEvalPython" in n or "Exchange" in n for n in names), names


def test_split_documents_plan_has_no_window_or_exchange(spark):
    from chatbot_spark.operators.chunking import split_documents

    n_python, names = _python_nodes(split_documents(_edge_df(spark)))
    assert n_python == 1, names
    assert not any("Window" in n or "Exchange" in n for n in names), names


@pytest.mark.parametrize("backend", ["hash", "tiny"])
def test_get_embed_fn_matches_embed_documents_bits(spark, backend):
    """The plain batch function is the UDF's function: same batch, same
    bits (tiny's GEMM is batch-shape dependent, so the batch is pinned to
    the one partition)."""
    import pandas as pd

    from chatbot_spark.operators.embed import embed_documents, get_embed_fn

    texts = ["alpha beta", None, "", "gamma " * 50, "delta " + _SMP]
    df = spark.createDataFrame(list(enumerate(texts)), "id INT, document STRING").coalesce(1)
    udf_rows = embed_documents(df, backend=backend, dim=16).orderBy("id").collect()
    local = get_embed_fn(backend, dim=16)(pd.Series(texts))
    assert [_bits(r["embedding"]) for r in udf_rows] == [_bits(v) for v in local]


@pytest.mark.parametrize("backend,lib", [
    ("openai", None), ("ollama", None),
    ("bge", "FlagEmbedding"), ("sentence_transformers", "sentence_transformers"),
])
def test_gated_backends_raise_same_error_on_every_path(spark, backend, lib):
    import importlib.util

    import pandas as pd

    from chatbot_spark.operators.chunking import split_documents
    from chatbot_spark.operators.embed import embed_documents, get_embed_fn

    if lib and importlib.util.find_spec(lib) is not None:
        pytest.skip(f"{lib} installed; gate not reachable")
    with pytest.raises(NotImplementedError) as local:
        get_embed_fn(backend)(pd.Series(["x"]))
    msg = str(local.value)
    df = spark.createDataFrame([("# T\n\nx", "a.md")], "text STRING, doc_url STRING")
    for run in (
        lambda: embed_documents(df.withColumnRenamed("text", "document"), backend=backend),
        lambda: split_documents(df, embed=get_embed_fn(backend)),
    ):
        with pytest.raises(Exception, match="NotImplementedError") as err:
            run().collect()
        assert msg in str(err.value)
