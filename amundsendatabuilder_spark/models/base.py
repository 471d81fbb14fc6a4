"""Graph primitives: standardized node/relationship DataFrames.

Reference shapes (databuilder/models/graph_node.py:6-13,
graph_relationship.py:6-17; serialized column names
graph_serializable.py:10-17): a node is (KEY, LABEL, attributes...), a
relationship is (START_KEY, START_LABEL, END_KEY, END_LABEL, TYPE,
REVERSE_TYPE, attributes...). Attributes ride in a map<string,string>
column; sinks pivot the map to per-label columns (ragged attribute sets are
a write-time concern — SURVEY §7.4).

Validation mirrors graph_serializable.py:68-91: node key/label non-null,
label Title-cased, relation type UPPER-cased. ``validate_graph`` returns the
violating rows as DataFrames (strict mode counts them in one aggregate per
side and raises), keeping the check set-level instead of per-record asserts.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NODE_KEY, NODE_LABEL = "KEY", "LABEL"
REL_START_KEY, REL_START_LABEL = "START_KEY", "START_LABEL"
REL_END_KEY, REL_END_LABEL = "END_KEY", "END_LABEL"
REL_TYPE, REL_REVERSE_TYPE = "TYPE", "REVERSE_TYPE"


class GraphOutput(NamedTuple):
    nodes: DataFrame
    rels: DataFrame


def _props_map(props: dict[str, Column]) -> Column:
    if not props:
        return F.create_map().cast("map<string,string>")
    pairs: list[Column] = []
    for name, col in props.items():
        pairs.append(F.lit(name))
        pairs.append(col.cast("string"))
    return F.map_filter(F.create_map(*pairs), lambda _, v: v.isNotNull())


def make_nodes(df: DataFrame, label: str, key: Column,
               props: dict[str, Column] | None = None,
               distinct: bool = True) -> DataFrame:
    """Project a model DataFrame into standardized node rows.

    ``distinct=True`` reproduces the reference's serialized-node dedup set
    (databuilder/models/table_metadata.py:323-326) — but set-level and
    order-free: identical (key,label,props) rows collapse; differing props
    for one key are resolved by the sink's last-write/merge semantics.
    """
    out = df.select(
        key.alias(NODE_KEY),
        F.lit(label).alias(NODE_LABEL),
        _props_map(props or {}).alias("props"),
    ).where(F.col(NODE_KEY).isNotNull())
    return out.dropDuplicates([NODE_KEY, NODE_LABEL]) if distinct else out


def make_rels(df: DataFrame, start_label: str, end_label: str,
              start_key: Column, end_key: Column,
              rel_type: str, reverse_type: str,
              props: dict[str, Column] | None = None,
              distinct: bool = True) -> DataFrame:
    """Project a model DataFrame into standardized relationship rows (the
    bidirectional pair is materialized by the sink, reference:
    publisher/neo4j_csv_publisher.py:235-287)."""
    out = df.select(
        start_key.alias(REL_START_KEY),
        F.lit(start_label).alias(REL_START_LABEL),
        end_key.alias(REL_END_KEY),
        F.lit(end_label).alias(REL_END_LABEL),
        F.lit(rel_type).alias(REL_TYPE),
        F.lit(reverse_type).alias(REL_REVERSE_TYPE),
        _props_map(props or {}).alias("props"),
    ).where(F.col(REL_START_KEY).isNotNull() & F.col(REL_END_KEY).isNotNull())
    if distinct:
        out = out.dropDuplicates([REL_START_KEY, REL_END_KEY, REL_TYPE])
    return out


def _empty_nodes(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "KEY string, LABEL string, props map<string,string>")


def _empty_rels(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "START_KEY string, START_LABEL string, END_KEY string, "
            "END_LABEL string, TYPE string, REVERSE_TYPE string, "
            "props map<string,string>")


def union_graphs(*outputs: GraphOutput) -> GraphOutput:
    """Union many model expansions into one graph. unionByName keeps this
    safe as models evolve; the final global dedup reproduces cross-model
    node dedup (e.g. the same Tag emitted by tables and dashboards)."""
    nodes = rels = None
    for out in outputs:
        nodes = out.nodes if nodes is None else nodes.unionByName(out.nodes)
        rels = out.rels if rels is None else rels.unionByName(out.rels)
    assert nodes is not None and rels is not None
    return GraphOutput(nodes.dropDuplicates([NODE_KEY, NODE_LABEL]),
                       rels.dropDuplicates([REL_START_KEY, REL_END_KEY, REL_TYPE]))


def validate_graph(out: GraphOutput, strict: bool = False) -> dict[str, DataFrame]:
    """Set-level CHECK constraints (reference:
    graph_serializable.py:68-91): returns {check: violating rows}.
    strict=True counts every check's violations in one ``count_if``
    aggregate per side (nodes, then rels) and raises
    ``graph validation failed: <check>`` for the first check that has any."""
    first_char = F.substring(F.col(NODE_LABEL), 1, 1)
    sides = [
        (out.nodes, {
            "node_key_null": F.col(NODE_KEY).isNull(),
            "node_label_not_title":
                (first_char != F.upper(first_char)) | (F.col(NODE_LABEL) == ""),
        }),
        (out.rels, {
            "rel_type_not_upper": F.col(REL_TYPE) != F.upper(F.col(REL_TYPE)),
            "rel_key_null":
                F.col(REL_START_KEY).isNull() | F.col(REL_END_KEY).isNull(),
        }),
    ]
    if strict:
        for df, checks in sides:
            counts = df.agg(*[F.count_if(cond).alias(name)
                              for name, cond in checks.items()]).first()
            for name in checks:
                if counts[name]:
                    raise ValueError(f"graph validation failed: {name}")
    return {name: df.where(cond)
            for df, checks in sides for name, cond in checks.items()}
