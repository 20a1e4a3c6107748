"""Catalog / partition-dimension operators (SURVEY §2.K K1-K5, §2.C C2,
§2.D D3).

The reference manages LIST partitions inside OceanBase: it discovers the
component→code map by regex-parsing SHOW CREATE TABLE (src/common/db.py:
400-484) and appends partitions with ALTER TABLE ... VALUES IN (max+1)
(db.py:487-576). Spark-first: the map is a tiny dimension table
(component_mapping) and "partitions" are parquet partition directories that
materialize on write — no DDL, no regex parsing; discovery is reading the
dimension or listing partition values from the files themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chatbot_spark.io.smallio import local_df
from chatbot_spark.schemas import COMPONENT_MAPPING, DEFAULT_COMPONENT_CODES


def default_mapping(spark: SparkSession) -> DataFrame:
    """The reference DDL's partition list as a DataFrame (load.py:28-36;
    the DDL is source of truth — odp=6/odc=7, NOT the buggy Python dict
    ob.py:43-44, see SURVEY §7.4)."""
    return local_df(
        spark,
        sorted(DEFAULT_COMPONENT_CODES.items(), key=lambda kv: kv[1]),
        COMPONENT_MAPPING,
    )


def discover_partitions(spark: SparkSession, corpus_path: str) -> DataFrame:
    """K3: discover live partition codes from the corpus table itself
    (replaces SHOW CREATE TABLE parsing, db.py:400-484). Reading the
    partition column off partitioned parquet touches only directory
    metadata — no data scan."""
    return (
        spark.read.parquet(corpus_path)
        .select("component_code")
        .distinct()
    )


def append_partition(mapping: DataFrame, component: str) -> DataFrame:
    """K4 + D3: assign the next code (max+1) to a new component and return
    the extended mapping — the reference's ALTER TABLE ADD PARTITION
    (db.py:487-576, max+1 at :543-546). Idempotent: an existing component
    keeps its code."""
    spark = mapping.sparkSession
    exists = mapping.filter(F.col("component") == component).count() > 0
    if exists:
        return mapping
    next_code = (mapping.agg(F.max("component_code")).first()[0] or 0) + 1
    new_row = local_df(spark, [(component, next_code)], COMPONENT_MAPPING)
    return mapping.unionByName(new_row)


def component_codes(mapping: DataFrame, components: list[str]) -> list[int]:
    """C2 driver-side: names → codes, unknown → 0 (doc_embedder.py:105)."""
    known = {r["component"]: r["component_code"] for r in mapping.collect()}
    return [known.get(c, 0) for c in components]


def join_component_codes(df: DataFrame, mapping: DataFrame, component_col: str = "component") -> DataFrame:
    """C2 set-at-a-time: broadcast equi-join names → codes, default 0."""
    return (
        df.join(F.broadcast(mapping), on=df[component_col] == mapping["component"], how="left")
        .drop(mapping["component"])
        .withColumn("component_code", F.coalesce("component_code", F.lit(0)))
    )


def validate_components(components: list[str], supported: list[str], default: str = "observer") -> list[str]:
    """B4/G3: keep supported only, preserve order, dedup, force-append the
    default component (rag_graph.py:343-354; default src/rag/ob.py:32)."""
    seen: set[str] = set()
    out: list[str] = []
    for c in components:
        if c in supported and c not in seen:
            seen.add(c)
            out.append(c)
    if default not in seen:
        out.append(default)
    return out


def table_exists(spark: SparkSession, path: str) -> bool:
    """K5: existence check (has_collection, db.py:164-181) — for path-based
    tables, a cheap read of the parquet footer directory."""
    try:
        spark.read.parquet(path).schema
        return True
    except Exception:
        return False
