"""Neo4j-shape CSV staging writer (reference:
loader/file_system_neo4j_csv_loader.py + serializers/neo4_serializer.py).

Reference behaviors reproduced set-level:
- node CSVs sharded by (label, attribute-column-set); rel CSVs by
  (start_label, end_label, type, column-set) — the 'ragged attribute sets'
  trap (loader :111-139,189-191; SURVEY §7.4). The column set is keyed by
  an md5 over the sorted property names. One aggregation, grouped by the
  shard key, finds every shard and the sorted non-null property names its
  rows carry; then each shard is written once, as one CSV file whose
  header holds exactly those properties;
- ``:UNQUOTED`` header suffix for int/bool attributes
  (serializers/neo4_serializer.py:52-58) via a per-label property-type
  registry (the reference infers from Python value types; a registry is
  the schema-first equivalent);
- output ordering is canonical (sorted), an intentional semantics-
  preserving difference from the reference's extraction-order files
  (SURVEY §7.4).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark.models.base import GraphOutput

# property-name -> neo4j-unquoted type, per the models in models/*.py
# (reference derives this from Python int/bool values at serialize time,
# serializers/neo4_serializer.py:52-58)
UNQUOTED_PROPS = {
    "is_view": "bool", "sort_order": "int", "read_count": "int",
    "timestamp": "int", "last_updated_timestamp": "int",
    "start_epoch": "int", "end_epoch": "int", "created_timestamp": "int",
    "view_count": "int", "is_active": "bool", "updated_at": "int",
    "apache_airflow": "bool",
}

def _header_name(prop: str) -> str:
    if prop in UNQUOTED_PROPS:
        return f"{prop}:UNQUOTED"
    return prop


def _write_shards(df: DataFrame, out_dir: str, fixed: tuple[str, ...],
                  keys: tuple[str, ...], sort: tuple[str, ...]) -> list[str]:
    """Write one CSV shard directory per (``keys``, property-name set) under
    ``out_dir``, named ``{key values joined by _}_{hash[:8]}``. Each shard
    holds the ``fixed`` columns, then its non-null properties in sorted
    order, rows sorted by ``sort``. Returns the shard paths written."""
    schema_hash = F.md5(F.concat_ws(",", F.array_sort(F.map_keys("props"))))
    non_null = F.map_keys(F.map_filter("props", lambda _, v: v.isNotNull()))
    shards = (df.groupBy(*keys, schema_hash.alias("_schema_hash"))
              .agg(F.array_sort(F.array_distinct(F.flatten(
                  F.collect_list(non_null)))).alias("_props"))
              .collect())
    paths: list[str] = []
    for *key_values, shash, props in sorted(shards, key=lambda r: tuple(r)[:-1]):
        in_shard = reduce(lambda a, b: a & b,
                          [F.col(k) == v for k, v in zip(keys, key_values)],
                          schema_hash == shash)
        out = df.where(in_shard).select(
            *fixed, *[F.col("props")[p].alias(_header_name(p)) for p in props],
        ).orderBy(*sort)
        path = os.path.join(out_dir, "_".join(map(str, [*key_values, shash[:8]])))
        out.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
        paths.append(path)
    return paths


def write_nodes_csv(nodes: DataFrame, out_dir: str) -> list[str]:
    """Per-(label, column-set) node shards under ``out_dir/nodes``."""
    return _write_shards(nodes, os.path.join(out_dir, "nodes"),
                         ("KEY", "LABEL"), ("LABEL",), ("KEY",))


def write_rels_csv(rels: DataFrame, out_dir: str) -> list[str]:
    """Per-(start, type, end, column-set) relationship shards under
    ``out_dir/rels`` (reference loader :141-177)."""
    return _write_shards(rels, os.path.join(out_dir, "rels"),
                         ("START_KEY", "START_LABEL", "END_KEY", "END_LABEL",
                          "TYPE", "REVERSE_TYPE"),
                         ("START_LABEL", "TYPE", "END_LABEL"),
                         ("START_KEY", "END_KEY"))


def write_graph(out: GraphOutput, out_dir: str) -> dict[str, list[str]]:
    return {"nodes": write_nodes_csv(out.nodes, out_dir),
            "rels": write_rels_csv(out.rels, out_dir)}
