"""Relational publish in FK-topological order (reference:
publisher/mysql_csv_publisher.py:94-160 — tables written in
``Base.metadata.sorted_tables`` order, ORM merge per row, commit every
500). Spark shape: per-table batched upsert through an injected writer
(staging + MERGE or INSERT ... ON DUPLICATE KEY UPDATE), parents first so
FK constraints hold mid-publish."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from amundsendatabuilder_spark.models.rds import FK_ORDER
from amundsendatabuilder_spark.plans.publish import send_batches


def publish_relational(tables: dict[str, DataFrame],
                       upsert_batch: Callable[[str, list[dict]], None],
                       batch_size: int = 500,
                       order: list[str] = FK_ORDER) -> None:
    """Write every model table in dependency order.

    ``upsert_batch(table_name, rows)`` performs the idempotent merge —
    rows carry 'rk' as the merge key (§1.4). Each table completes fully
    before the next starts (the FK contract); within a table, partitions
    write concurrently with per-batch commits (the reference's
    transaction_size=500)."""
    for name in order:
        df = tables.get(name)
        if df is None:
            continue

        df.foreachPartition(lambda rows, _name=name: send_batches(
            (r.asDict() for r in rows), upsert_batch, batch_size,
            key=lambda _: _name))


def write_jdbc_append(df: DataFrame, url: str, table: str,
                      batch_size: int = 10_000, **options) -> None:
    """Plain append write (for fresh staging tables); real upsert goes
    through publish_relational's injected writer."""
    w = (df.write.format("jdbc").option("url", url)
         .option("dbtable", table).option("batchsize", batch_size)
         .mode("append"))
    for k, v in options.items():
        w = w.option(k, v)
    w.save()
