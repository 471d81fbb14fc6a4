"""Publishing semantics (reference: publisher/neo4j_csv_publisher.py):
idempotent key-MERGE upserts with publish-tag versioning, create-only
labels, transaction batching, deadlock retry — mapped to Spark as column
stamping + a batched foreachPartition writer with an injected upsert
callable (bolt/jdbc/... stays out of the engine)."""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark.models.base import GraphOutput


def stamp_publish_tag(out: GraphOutput, tag: str,
                      epoch_ms: int | None = None) -> GraphOutput:
    """Add published_tag + publisher_last_updated_epoch_ms to every node
    and relationship (reference: neo4j_csv_publisher.py:58-64,382-410).
    epoch_ms is passed explicitly (not now()) so a job's stamp is uniform
    across all partitions and retries."""
    ts = F.lit(epoch_ms if epoch_ms is not None
               else int(time.time() * 1000)).cast("string")

    def stamp(df: DataFrame) -> DataFrame:
        # Strip any prior stamp first: under the default
        # spark.sql.mapKeyDedupPolicy=EXCEPTION a duplicate map key throws
        # at runtime, and re-stamping an already-published generation must
        # be idempotent (the reference overwrites the same Cypher params).
        cleaned = F.map_filter(
            F.col("props"),
            lambda k, _: ~k.isin("published_tag",
                                 "publisher_last_updated_epoch_ms"))
        return df.withColumn(
            "props",
            F.map_concat(
                cleaned,
                F.create_map(F.lit("published_tag"), F.lit(tag),
                             F.lit("publisher_last_updated_epoch_ms"), ts)))

    return GraphOutput(stamp(out.nodes), stamp(out.rels))


def unique_constraint_statements(nodes: DataFrame) -> list[str]:
    """One ``CREATE CONSTRAINT`` per distinct node label, run before the
    first MERGE touches that label (reference:
    neo4j_csv_publisher.py:449-467 _try_create_index — the publisher
    creates a unique index on ``key`` per label it sees). The distinct
    label set is catalog-tiny, so the collect is a broadcast-sized
    driver round-trip, not a data move."""
    labels = sorted(r["LABEL"] for r in
                    nodes.select("LABEL").distinct().collect())
    return [f"CREATE CONSTRAINT ON (node:{label}) ASSERT node.key IS UNIQUE"
            for label in labels]


def diff_generations(old: DataFrame, new: DataFrame,
                     key_cols: list[str],
                     compare_cols: list[str]) -> DataFrame:
    """Incremental-publish diff between two publish generations: returns
    (key..., change) with change ∈ added|removed|changed (unchanged rows
    dropped — they need no write at all).

    This is the set-level upgrade of the reference's publish model (which
    re-MERGEs every staged row each run, neo4j_csv_publisher.py:271-287 —
    idempotent but O(full catalog) writes): a full-outer join on the key
    with null-safe value comparison shrinks the sink write to the actual
    delta, which at 100 TB catalog scale is the difference between
    re-writing everything nightly and touching only what moved."""
    o = old.select(*key_cols, F.struct(*compare_cols).alias("_v_old"))
    n = new.select(*key_cols, F.struct(*compare_cols).alias("_v_new"))
    change = (F.when(F.col("_v_old").isNull(), "added")
              .when(F.col("_v_new").isNull(), "removed")
              .when(~F.col("_v_old").eqNullSafe(F.col("_v_new")), "changed")
              .otherwise("unchanged"))
    return (o.join(n, key_cols, "full_outer")
            .select(*key_cols, change.alias("change"))
            .where(F.col("change") != "unchanged"))


def send_batches(items, send: Callable[[object, list], None],
                 batch_size: int, key: Callable[[object], object] = lambda _: None,
                 max_retries: int = 1, retry_sleep_sec: float = 0.0) -> None:
    """Group ``items`` into one batch per ``key(item)``; call
    ``send(key, batch)`` each time a batch reaches ``batch_size``, then once
    for every non-empty remainder in first-seen order. A failing ``send`` is
    retried up to ``max_retries`` attempts in all, sleeping
    ``retry_sleep_sec`` between them (reference: neo4j_csv_publisher.py
    :326-342 transaction batching + TransientError retry)."""
    batches: dict = {}

    def flush(k) -> None:
        batch = batches.pop(k)
        for attempt in range(max_retries):
            try:
                send(k, batch)
                return
            except Exception:  # noqa: BLE001 — mirror TransientError retry
                if attempt == max_retries - 1:
                    raise
                time.sleep(retry_sleep_sec)

    for item in items:
        k = key(item)
        batches.setdefault(k, []).append(item)
        if len(batches[k]) >= batch_size:
            flush(k)
    for k in list(batches):
        flush(k)


def pre_delete_edges(rels: DataFrame,
                     delete_batch: Callable[[list[dict]], None],
                     edge_types: frozenset[str],
                     batch_size: int = 100) -> None:
    """Desired-state preprocessor: delete listed edge types before merge so
    removed relationships don't linger (reference:
    publisher/neo4j_preprocessor.py:120-205 DeleteRelationPreprocessor).
    ``delete_batch`` receives (START_KEY, END_KEY, TYPE) dicts."""
    targets = rels.where(F.col("TYPE").isin(*edge_types)) \
        .select("START_KEY", "START_LABEL", "END_KEY", "END_LABEL", "TYPE")
    targets.foreachPartition(lambda rows: send_batches(
        (r.asDict() for r in rows), lambda _, b: delete_batch(b), batch_size))


def publish_nodes(nodes: DataFrame,
                  upsert_batch: Callable[[str, list[dict]], None],
                  batch_size: int = 500,
                  create_only_labels: frozenset[str] = frozenset(),
                  max_retries: int = 5, retry_sleep_sec: float = 2.0,
                  num_partitions: int | None = None) -> None:
    """MERGE-upsert all nodes through an injected writer.

    - ``batch_size=500`` mirrors neo4j_transaction_size (reference :96);
    - ``create_only_labels`` => the writer is told to skip ON MATCH SET
      (reference :150,289-311);
    - transient failures retry ×5 with sleep (reference :104-106,326-342);
    - ``upsert_batch(label_mode, rows)`` receives 'merge:<label>' or
      'create_only:<label>'.
    """
    if num_partitions:
        nodes = nodes.repartition(num_partitions, "LABEL")

    co_labels = set(create_only_labels)

    def mode(row: dict) -> str:
        label = row["LABEL"]
        return (f"create_only:{label}" if label in co_labels
                else f"merge:{label}")

    nodes.foreachPartition(lambda rows: send_batches(
        (r.asDict() for r in rows), upsert_batch, batch_size, key=mode,
        max_retries=max_retries, retry_sleep_sec=retry_sleep_sec))


def publish_rels(rels: DataFrame,
                 upsert_batch: Callable[[str, list[dict]], None],
                 batch_size: int = 500, max_retries: int = 5,
                 retry_sleep_sec: float = 2.0) -> None:
    """Relationship MERGE batches; the writer is expected to materialize
    the bidirectional pair (TYPE + REVERSE_TYPE) exactly as the
    reference's Cypher does (neo4j_csv_publisher.py:235-287)."""
    rels.foreachPartition(lambda rows: send_batches(
        (r.asDict() for r in rows), upsert_batch, batch_size,
        key=lambda _: "merge_rel", max_retries=max_retries,
        retry_sleep_sec=retry_sleep_sec))
