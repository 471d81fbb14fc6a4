"""Staleness removal (reference: task/neo4j_staleness_removal_task.py):
mark-and-sweep deletion of graph entities missing from the current
publish, guarded by a per-label stale-percentage threshold.

Semantics reproduced:
- stale = published_tag != current_tag OR older than ms_to_expire
  (reference :143-150; tag comparison as a column predicate, never string
  splicing — SURVEY §7.4);
- validation BEFORE delete: per-label stale/total ratio must stay under
  ``staleness_max_pct`` (default 5%), else abort (reference :45,187-253);
- dry-run returns the delete set instead of applying it;
- batched deletes (default 100) through an injected delete callable
  (reference :41,126-133).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark.plans.publish import send_batches


class StalenessGuardError(RuntimeError):
    pass


def find_stale(existing: DataFrame, current_tag: str,
               ms_to_expire: int | None = None,
               now_epoch_ms: int | None = None) -> DataFrame:
    """Rows of ``existing`` (props map carries published_tag /
    publisher_last_updated_epoch_ms) that the current publish did not
    touch."""
    tag = F.col("props").getItem("published_tag")
    stale = tag.isNull() | (tag != current_tag)
    if ms_to_expire is not None:
        assert now_epoch_ms is not None, "need now_epoch_ms with ms_to_expire"
        ts = F.col("props").getItem("publisher_last_updated_epoch_ms").cast("long")
        stale = stale | ts.isNull() | (ts < (now_epoch_ms - ms_to_expire))
    return existing.where(stale)


def validate_staleness(existing: DataFrame, stale: DataFrame,
                       label_col: str = "LABEL",
                       staleness_max_pct: float = 5.0) -> DataFrame:
    """Per-label guard (reference :187-253): raises StalenessGuardError if
    any label's stale ratio >= threshold; returns the per-label report."""
    total = existing.groupBy(label_col).agg(F.count("*").alias("total"))
    stale_counts = stale.groupBy(label_col).agg(F.count("*").alias("stale"))
    report = (total.join(stale_counts, label_col, "left")
              .withColumn("stale", F.coalesce("stale", F.lit(0)))
              .withColumn("stale_pct",
                          F.col("stale") * 100.0 / F.col("total")))
    offenders = [r for r in report.collect()
                 if r["stale_pct"] >= staleness_max_pct and r["stale"] > 0]
    if offenders:
        detail = ", ".join(f"{r[label_col]}={r['stale_pct']:.1f}%"
                           for r in offenders)
        raise StalenessGuardError(
            f"staleness above {staleness_max_pct}% for: {detail}")
    return report


def sweep(existing: DataFrame, current_tag: str,
          delete_batch: Callable[[list[dict]], None] | None = None,
          *, key_cols: tuple[str, ...] = ("KEY", "LABEL"),
          staleness_max_pct: float = 5.0, batch_size: int = 100,
          ms_to_expire: int | None = None, now_epoch_ms: int | None = None,
          dry_run: bool = False) -> DataFrame:
    """Full mark-validate-sweep. Returns the delete set (always); applies
    it through ``delete_batch`` unless dry_run."""
    stale = find_stale(existing, current_tag, ms_to_expire, now_epoch_ms)
    validate_staleness(existing, stale, key_cols[-1], staleness_max_pct)
    delete_set = stale.select(*key_cols)
    if not dry_run and delete_batch is not None:
        delete_set.foreachPartition(lambda rows: send_batches(
            (r.asDict() for r in rows), lambda _, b: delete_batch(b),
            batch_size))
    return delete_set
