"""Elasticsearch staging + publish semantics (reference:
loader/file_system_elasticsearch_json_loader.py:44-57,
models/elasticsearch_document.py:15-22,
publisher/elasticsearch_publisher.py:74-123).

- ``write_documents``: newline-JSON with SORTED KEYS per document (the
  reference's ``json.dumps(sort_keys=True)``) — ``to_json(struct(sorted
  columns))`` keeps it JVM-side.
- ``publish``: bulk-index into a NEW index in batches (default 10,000,
  reference :56-57) via foreachPartition, then an atomic alias swap +
  old-index delete on the driver (:110-123). The ES client is injected so
  the flow is testable without a live cluster.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark.plans.publish import send_batches


def _json_lines(docs: DataFrame) -> DataFrame:
    # ignoreNullFields=false: the reference's json.dumps emits
    # '"field": null' for missing values; Spark's to_json drops null keys
    # by default, which would change the staged document shape.
    cols = sorted(docs.columns)
    return docs.select(
        F.to_json(F.struct(*[F.col(c) for c in cols]),
                  {"ignoreNullFields": "false"}).alias("value"))


def write_documents(docs: DataFrame, out_path: str) -> None:
    """DataFrame -> newline-JSON text files with per-doc sorted keys."""
    _json_lines(docs).write.mode("overwrite").text(out_path)


def publish(docs: DataFrame, *, new_index: str, alias: str,
            bulk_index: Callable[[str, list[str]], None],
            update_aliases: Callable[[str, str], None],
            batch_size: int = 10_000) -> None:
    """Bulk-index every partition into ``new_index`` then atomically swap
    ``alias`` (add new, remove+delete old) — reference
    elasticsearch_publisher.py:93-123. ``bulk_index(index, json_lines)``
    and ``update_aliases(alias, new_index)`` wrap the ES client."""
    _json_lines(docs).foreachPartition(lambda rows: send_batches(
        (r.value for r in rows), lambda _, b: bulk_index(new_index, b),
        batch_size))
    # driver-side atomic finalize AFTER every partition succeeded — the
    # same commit-ordering contract as the reference's alias update
    update_aliases(alias, new_index)
