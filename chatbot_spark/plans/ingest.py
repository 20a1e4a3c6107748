"""Document ingestion pipeline (SURVEY §3.3) — the reference's write path
re-expressed as one Spark job.

Reference flow: MarkdownDocumentsLoader.load → parse_md (header split, size
check, sub-chunk, metadata) → batched insert with uuid ids + component_code
into the LIST partition (embed_docs.py / doc_embedder.py:116-168, 90-114).
Client-side batching (64/4/100-row batches) is a JDBC artifact — Spark's
task parallelism replaces it; the limit is honored pre-embed.

One job, one Python pass per task: scan → setext rewrite (Catalyst) →
``split_documents(..., embed=get_embed_fn(backend, dim=dim))``, a single
``mapInArrow`` that header-splits, titles, sub-chunks and embeds each
Arrow batch → uuid ids + metadata map (Catalyst) → partitioned write.
Without ``output_path`` the executed plan is Project → MapInArrow →
Project over the input: no Exchange, no ArrowEvalPython. The read-back
after a write reuses the corpus schema, so no schema-inference job runs.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import subprocess
import tarfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chatbot_spark.operators.chunking import (
    MAX_CHUNK_SIZE,
    scan_markdown_dir,
    setext_to_atx,
    split_documents,
)
# embed_documents stays importable from this module: tracing harnesses
# patch ``split_documents`` and ``embed_documents`` here by name.
from chatbot_spark.operators.embed import embed_documents, get_embed_fn  # noqa: F401


# --------------------------------------------------------------- A6-A8
# Driver-side staging pre-steps (SURVEY §2.A A6-A8). The reference accepts
# archives (compress.py:28-66), GitHub repos (download.py:16-40), and
# uploaded files (flow_ui.py:821-864) and walks the resulting directory;
# here each stages into a local dir that scan_markdown_dir (A1) — a
# distributed file source — then consumes. These run on the driver because
# they are O(one corpus drop) setup, not data-parallel work; the parallel
# part (scan → chunk → embed → write) starts at ingest_markdown.

_TAR_SUFFIXES = (".tar", ".tar.gz", ".tgz", ".tar.bz2", ".tar.xz")


def stage_archive(archive_path: str, dest_dir: str) -> str:
    """A6: unpack a .zip/.tar[.gz|.bz2|.xz] corpus drop into ``dest_dir``.

    Members that would escape ``dest_dir`` (absolute paths, ``..``) are
    rejected — corpus drops are untrusted input."""
    dest = pathlib.Path(dest_dir)
    dest.mkdir(parents=True, exist_ok=True)
    lower = archive_path.lower()
    if lower.endswith(".zip"):
        with zipfile.ZipFile(archive_path) as zf:
            for info in zf.infolist():
                target = dest / info.filename
                if not target.resolve().is_relative_to(dest.resolve()):
                    raise ValueError(f"archive member escapes dest: {info.filename}")
            zf.extractall(dest)
    elif lower.endswith(_TAR_SUFFIXES):
        with tarfile.open(archive_path, "r:*") as tf:
            tf.extractall(dest, filter="data")  # stdlib traversal guard
    else:
        raise ValueError(f"unsupported archive format: {archive_path}")
    return str(dest)


def stage_git_repo(repo_url: str, dest_dir: str, timeout: float = 300.0) -> str:
    """A7: shallow-clone a (GitHub) repo into ``dest_dir`` — depth 1, no
    history; the markdown scan wants the tree, not the log."""
    if os.path.exists(dest_dir):
        shutil.rmtree(dest_dir)
    proc = subprocess.run(
        ["git", "clone", "--depth", "1", "--single-branch", repo_url, dest_dir],
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"git clone failed for {repo_url}: {proc.stderr.strip()}")
    return dest_dir


def stage_uploads(files: list[str], dest_dir: str) -> str:
    """A8: stage individually uploaded .md/.mdx files into ``dest_dir``
    (flat — upload sets carry no directory structure)."""
    dest = pathlib.Path(dest_dir)
    dest.mkdir(parents=True, exist_ok=True)
    for f in files:
        shutil.copy2(f, dest / os.path.basename(f))
    return str(dest)


def stage_source(source: str | list[str], dest_dir: str) -> str:
    """Dispatch a corpus source to its staging pre-step: a list of files →
    uploads; a git/http(s) ``.git`` URL → shallow clone; an archive path →
    unpack; an existing directory passes through unchanged."""
    if isinstance(source, list):
        return stage_uploads(source, dest_dir)
    if source.startswith(("git@", "git://")) or source.endswith(".git"):
        return stage_git_repo(source, dest_dir)
    if source.lower().endswith((".zip",) + _TAR_SUFFIXES):
        return stage_archive(source, dest_dir)
    if os.path.isdir(source):
        return source
    raise ValueError(f"unrecognized corpus source: {source}")


def ingest_markdown(
    spark: SparkSession,
    doc_base: str,
    component: str = "observer",
    component_code: int = 1,
    skip_patterns: list[str] | None = None,
    limit: int = 0,
    max_chunk_size: int = MAX_CHUNK_SIZE,
    backend: str = "hash",
    dim: int = 64,
    output_path: str | None = None,
) -> DataFrame:
    """Full §3.3 pipeline from a markdown directory. Returns the corpus
    DataFrame (and writes it partitioned by component_code when
    ``output_path`` is given). Default skip pattern mirrors the CLI
    default ["oracle"] (embed_docs.py:36-42)."""
    docs = scan_markdown_dir(
        spark, doc_base, skip_patterns=skip_patterns if skip_patterns is not None else ["oracle"],
        limit=limit,
    )
    return ingest_documents(
        docs, component=component, component_code=component_code,
        max_chunk_size=max_chunk_size, backend=backend, dim=dim,
        output_path=output_path,
    )


def ingest_documents(
    docs: DataFrame,
    component: str = "observer",
    component_code: int = 1,
    text_col: str = "text",
    url_col: str = "doc_url",
    max_chunk_size: int = MAX_CHUNK_SIZE,
    backend: str = "hash",
    dim: int = 64,
    output_path: str | None = None,
) -> DataFrame:
    """Chunk + embed + id a documents DataFrame into the corpus schema
    (SURVEY §1.3): (id, embedding, document, metadata, component_code)."""
    normalized = docs.withColumn(text_col, setext_to_atx(F.col(text_col)))
    embedded = split_documents(normalized, text_col=text_col, url_col=url_col,
                               max_chunk_size=max_chunk_size,
                               embed=get_embed_fn(backend, dim=dim))
    corpus = embedded.select(
        F.expr("uuid()").alias("id"),  # H7 (doc_embedder.py:110)
        F.col("embedding"),
        F.col("document"),
        F.map_from_arrays(
            F.array(
                F.lit("doc_url"), F.lit("doc_name"), F.lit("component"),
                F.lit("chunk_title"), F.lit("enhanced_title"),
            ),
            F.array(
                F.col(url_col), F.col("doc_name"), F.lit(component),
                F.col("chunk_title"), F.col("enhanced_title"),
            ),
        ).alias("metadata"),
        F.lit(component_code).cast("int").alias("component_code"),
    )
    if output_path:
        corpus.write.mode("append").partitionBy("component_code").parquet(output_path)
        return corpus.sparkSession.read.schema(corpus.schema).parquet(output_path).filter(
            F.col("component_code") == component_code
        )
    return corpus
