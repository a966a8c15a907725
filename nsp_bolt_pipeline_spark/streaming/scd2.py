"""Streaming SCD Type-2 history maintenance (merge-on-read).

The batch operator (operators.scd.scd2_intervals) collapses a FULL
fact table into per-key attribute-run intervals; a live pipeline needs
the same history kept current as events arrive. This module maintains
it incrementally in ``foreachBatch``: each micro-batch is collapsed to
its own run fragments (gaps-and-islands at event grain, one window
over batch rows), and the fragments are APPENDED to the versioned run
log. The serving view (:func:`close_intervals`) re-collapses the log —
fragments sort by (valid_from, first_id) per key, adjacent equal-
attribute fragments merge with their row counts summed — and derives
valid_to/version.

Why merge-on-read and not merge-on-write: a cross-batch EAGER merge is
only correct if micro-batches arrive in event-time order. When batch
[t2,t3) lands before [t1,t2) (a file source breaks listing ties by
modification time, Kafka gives order only per partition), eagerly
fusing the [t0,t1) and [t2,t3) fragments of one attribute run is an
over-merge that cannot be split when the middle range shows up with a
different value — observed exactly this way under the range-file
replay. Appending fragments commutes: ANY arrival order of the
disjoint event-time chunks yields the same log contents, and the
read-time collapse (a sort per key over fragments) reconstructs the
exact batch history — this is the write-optimized-log /
merge-on-read split every table format makes. A compaction that
eagerly collapses a PREFIX of contiguous arrived ranges is safe once
no earlier range is outstanding; :func:`_collapse_runs` is that
compaction step (pytest pins it equal to the one-shot collapse for
in-order fragments).

Cost bound: a batch adds at most one boundary fragment per key it
touches beyond the true run count, so the log holds <= true_runs +
batches_per_key fragments — read-time collapse stays run-scale, not
event-scale. Versions are idempotent under at-least-once delivery:
``v=N`` is rewritten deterministically as ``v=P UNION fragments(N)``,
``P`` the latest version below ``N`` (``sources.sinks.version_below``).

Reference parity: the reference keeps only latest state per key
(lambdas/TripStartProcessor/TripStartProcessor.py:60-72); the history
dimension is part of the warehouse extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nsp_bolt_pipeline_spark.operators.scd import number_runs
from nsp_bolt_pipeline_spark.sources.sinks import (
    drop_versions,
    list_versions,
    newest_version,
    restore_aside,
    swap_dir,
    version_below,
    version_dir,
)
from nsp_bolt_pipeline_spark.streaming.run import drain


def _collapse_runs(runs: DataFrame, *, key: str, attr: str) -> DataFrame:
    """Merge adjacent equal-``attr`` fragments per key, ordered by
    (valid_from, first_id) — the compaction / read-time merge. Schema
    in/out: (key, attr, valid_from, first_id, n_rows). Shares the
    run numbering with the batch build (operators.scd.number_runs)."""
    numbered = number_runs(
        runs, key=key, attr=attr, order_cols=["valid_from", "first_id"]
    )
    ordk = F.struct(F.col("valid_from"), F.col("first_id"))
    return (
        numbered.groupBy(key, "_rid")
        .agg(
            F.min(attr).alias(attr),
            F.min("valid_from").alias("valid_from"),
            F.min_by("first_id", ordk).alias("first_id"),
            F.sum("n_rows").alias("n_rows"),
        )
        .drop("_rid")
    )


def batch_to_runs(
    batch: DataFrame, *, key: str, attr: str, ts_col: str, id_col: str
) -> DataFrame:
    """Collapse event-grain rows into run fragments: one row per (key,
    consecutive equal-``attr`` stretch in (ts, id) order). Shares the
    run numbering with the batch build (operators.scd.number_runs)."""
    numbered = number_runs(
        batch, key=key, attr=attr, order_cols=[ts_col, id_col]
    )
    ordk = F.struct(F.col(ts_col), F.col(id_col))
    return (
        numbered.groupBy(key, "_rid")
        .agg(
            F.min(attr).alias(attr),
            F.min(ts_col).alias("valid_from"),
            F.min_by(id_col, ordk).alias("first_id"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .drop("_rid")
    )


def close_intervals(runs: DataFrame, *, key: str, attr: str) -> DataFrame:
    """The serving view: collapse the fragment log, then derive
    valid_to (next run's start, NULL while current) and the 1-based
    version number."""
    merged = _collapse_runs(runs, key=key, attr=attr)
    w = W.partitionBy(key).orderBy("valid_from", "first_id")
    return merged.select(
        key,
        *[c for c in merged.columns if c not in (key, "first_id")],
        F.lead("valid_from").over(w).alias("valid_to"),
        F.row_number().over(w).cast("int").alias("version"),
    )


def run_scd2_history(
    stream: DataFrame,
    *,
    history_root: str,
    checkpoint_dir: str,
    key: str,
    attr: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """Maintain the SCD2 fragment log under ``history_root/v=<batch>``
    from an event stream; returns the newest version's path. See the
    module docstring for the merge-on-read contract."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new_runs = batch_to_runs(
            batch.select(key, attr, ts_col, id_col),
            key=key,
            attr=attr,
            ts_col=ts_col,
            id_col=id_col,
        )
        # Build on the LATEST existing version, not blindly batch_id-1:
        # a batch-id gap (skipped empty trigger) or a prior run that
        # failed after checkpoint commit would otherwise silently drop
        # all accumulated history and serve a truncated log.
        prev = version_below(spark, history_root, batch_id)
        if prev is not None:
            combined = spark.read.parquet(
                version_dir(history_root, prev)
            ).unionByName(new_runs)
        else:
            combined = new_runs
        combined.write.mode("overwrite").parquet(
            version_dir(history_root, batch_id)
        )

    drain(stream.writeStream.foreachBatch(process_batch), checkpoint_dir)
    return version_dir(
        history_root, newest_version(stream.sparkSession, history_root)
    )


def compact_history(
    spark,
    history_root: str,
    *,
    key: str,
    attr: str,
    keep_versions: int = 1,
) -> str:
    """Compact the fragment log: rewrite the newest version with
    adjacent equal-attribute fragments merged (:func:`_collapse_runs`)
    and drop superseded version directories beyond ``keep_versions``.

    This is the maintenance job every merge-on-read layout schedules
    (Delta OPTIMIZE / Iceberg rewrite_data_files analogue): safe once
    no earlier event-time range is outstanding, because collapse of
    in-order fragments equals the one-shot batch collapse (pinned by
    pytest). Serving via :func:`close_intervals` is identical before
    and after — only fragment count and file count shrink. Returns
    the compacted version's path.

    The compacted rewrite KEEPS the newest version number: ingest
    builds each batch on the latest version with id < batch_id, so a
    renumbering above the newest batch id could collide with (and be
    invisible to) the next micro-batch. The rewrite goes through
    ``sources.sinks.swap_dir`` (scratch ``compact_tmp``, aside copy
    ``old_v<N>``, both ignored by the version listing); an aside copy
    a crash left behind is restored to ``v=<N>`` before the newest
    version is chosen, so the next micro-batch never silently builds
    on an older version's truncated history. Run it like any
    table-format OPTIMIZE: while ingest is quiesced."""
    for v in list_versions(spark, history_root, prefix="old_v"):
        restore_aside(
            spark, version_dir(history_root, v), f"{history_root}/old_v{v}"
        )
    versions = list_versions(spark, history_root)
    newest = newest_version(spark, history_root)
    live = version_dir(history_root, newest)
    swap_dir(
        spark,
        live,
        lambda: _collapse_runs(spark.read.parquet(live), key=key, attr=attr),
        scratch=f"{history_root}/compact_tmp",
        aside=f"{history_root}/old_v{newest}",
    )
    # prune superseded versions beyond keep_versions (newest included)
    drop_versions(
        spark, history_root, sorted(versions, reverse=True)[keep_versions:]
    )
    return live
