"""Sinks (operators S4, S7, S8, L2).

Reference: conditional DynamoDB put (S4), daily KPI JSON to S3
partitioned by date with ``coalesce(1)`` (glue_jobs/
KPI-Aggregator.py:117-125), SQS DLQ for failed events (README.md:84).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bronze(
    df: DataFrame,
    path: str,
    *,
    partition_cols: tuple[str, ...] = ("event_type", "event_date"),
    mode: str = "append",
) -> None:
    """S4: the bronze event table. Partitioned by event kind + date so
    the aggregator's scan (S5) prunes partitions instead of filtering
    rows — the Spark equivalent of the DynamoDB sk-prefix server-side
    filter. At 100 TB, date partitioning also bounds each daily run's
    input."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_daily_kpis(df: DataFrame, path: str, *, single_file: bool = False) -> None:
    """S7 + L2: date-partitioned JSON KPI output.

    ``single_file=True`` reproduces the reference's ``coalesce(1)``
    (KPI-Aggregator.py:118) — fine for a few hundred KPI rows, wrong at
    scale; the default lets each date partition write in parallel."""
    out = df.coalesce(1) if single_file else df.repartition("date")
    out.write.mode("overwrite").partitionBy("date").json(path)


def write_rejects(df: DataFrame, path: str) -> None:
    """S8: dead-letter sink — keep the full raw row for replay."""
    df.write.mode("append").parquet(path)


def hadoop_fs(spark, path: str):
    """``(fs, P)``: the Hadoop ``FileSystem`` serving ``path``'s scheme
    (local, HDFS, S3A, ...) and the JVM ``Path`` constructor, so
    callers write ``fs.exists(P(p))`` for any path on that store."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P


def _dataset_bytes(spark, path: str) -> int:
    """Total on-disk bytes of a dataset via the Hadoop FileSystem API —
    works on any Hadoop-compatible store (local, HDFS, S3A)."""
    fs, P = hadoop_fs(spark, path)
    return int(fs.getContentSummary(P(path)).getLength())


def version_dir(root: str, n: int) -> str:
    """Versioned directories back the idempotent foreachBatch sinks
    (silver SCD1, the SCD2 fragment log, the capped-completion keeper):
    batch N overwrites ``root/v=N`` from its own rows and the version
    :func:`version_below` N, so a retried batch rewrites exactly its
    own version and a batch-id gap still builds on the full history."""
    return f"{root}/v={n}"


def list_versions(spark, root: str, *, prefix: str = "v=") -> list[int]:
    """Ascending version numbers of the ``<prefix><n>`` dirs under
    ``root`` (empty if ``root`` does not exist; non-integer suffixes —
    scratch dirs — are ignored)."""
    fs, P = hadoop_fs(spark, root)
    if not fs.exists(P(root)):
        return []
    out = []
    for st in fs.listStatus(P(root)):
        name = st.getPath().getName()
        if name.startswith(prefix) and name[len(prefix):].isdigit():
            out.append(int(name[len(prefix):]))
    return sorted(out)


def version_below(spark, root: str, batch_id: int) -> int | None:
    """The version batch ``batch_id`` builds on: the newest one below
    it, or None for the first batch."""
    return max((v for v in list_versions(spark, root) if v < batch_id),
               default=None)


def newest_version(spark, root: str) -> int:
    """The newest version under ``root``; raises if there is none."""
    versions = list_versions(spark, root)
    if not versions:
        raise ValueError(
            f"{root} holds no v=<n> version: no micro-batch was delivered "
            "(empty source or fully committed checkpoint)"
        )
    return versions[-1]


def drop_versions(spark, root: str, versions) -> None:
    fs, P = hadoop_fs(spark, root)
    for v in versions:
        fs.delete(P(version_dir(root, v)), True)


def restore_aside(spark, live: str, aside: str) -> None:
    """Undo a :func:`swap_dir` cut short: a lone ``aside`` (crash
    between the moves) moves back; one beside ``live`` is dropped."""
    fs, P = hadoop_fs(spark, live)
    if fs.exists(P(aside)):
        if fs.exists(P(live)):
            fs.delete(P(aside), True)
        else:
            fs.rename(P(aside), P(live))


def swap_dir(spark, live: str, build, *, scratch: str, aside: str) -> None:
    """Crash-safe replace of dir ``live`` by ``build()`` (a DataFrame
    that may read ``live``, built after an orphaned ``aside`` is
    restored): write ``scratch``, move ``live`` to ``aside``, move
    ``scratch`` in, delete ``aside``. Run it like any table-format
    OPTIMIZE: while the writers of ``live`` are quiesced."""
    restore_aside(spark, live, aside)
    build().write.mode("overwrite").parquet(scratch)
    fs, P = hadoop_fs(spark, live)
    fs.rename(P(live), P(aside))
    fs.rename(P(scratch), P(live))
    fs.delete(P(aside), True)


def compact_to(
    spark,
    src_path: str,
    dst_path: str,
    *,
    partition_cols: tuple[str, ...] = (),
    max_records_per_file: int = 1_000_000,
) -> None:
    """Small-files compaction: rewrite a (partitioned) parquet dataset
    into few large files per partition. Streaming appends produce one
    file per micro-batch per partition; at 100 TB that degrades every
    downstream scan (listing + open overhead dominates). Compact into
    a NEW location and swap at the catalog/manifest level — rewriting
    in place is not atomic without a table format (Delta/Iceberg
    OPTIMIZE is this operation natively).

    The unpartitioned branch stays parallel: target partition count is
    sized from input bytes (~1 GiB per output file), never
    ``coalesce(1)`` — a single task funneling the whole dataset is the
    one shape that cannot survive 100 TB."""
    df = spark.read.parquet(src_path)
    if partition_cols:
        compacted = df.repartition(*partition_cols)
    else:
        target = max(1, _dataset_bytes(spark, src_path) // (1 << 30))
        compacted = df.repartition(int(target))
    out = compacted.write.mode("overwrite").option(
        "maxRecordsPerFile", str(max_records_per_file)
    )
    if partition_cols:
        out = out.partitionBy(*partition_cols)
    out.parquet(dst_path)


def write_bronze_bucketed(
    df: DataFrame,
    table_name: str,
    *,
    buckets: int,
    key: str = "trip_id",
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """S4 variant for the 100 TB path: bucket the bronze table by the
    join key so the completion join (J1) is shuffle-free.

    Two tables bucketed by ``trip_id`` with the same bucket count
    sort-merge-join without any Exchange — at scale that removes the
    single largest data movement in the pipeline (both full event
    tables). The bucket count is a table property fixed at write time;
    size it to the target corpus (buckets ~ table_bytes / 1 GiB), not
    to the test machine. Requires a catalog table (bucketing metadata
    lives in the metastore), hence ``saveAsTable``.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
