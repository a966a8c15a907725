"""How every streaming query in the package runs (see :func:`drain`)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Start ``writer`` on its checkpoint with an ``availableNow``
    trigger and wait until everything the source holds now is
    processed — the reference's daily-batch cadence (O1) that keeps
    streaming semantics: a restart on the same checkpoint resumes
    incrementally."""
    (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_append(df: DataFrame, *, out_dir: str, checkpoint_dir: str) -> None:
    """Append-mode parquet sink, drained. The file sink commits each
    batch through its own log under ``out_dir``, so every emitted row
    (a closed session, a completed trip, an enriched event) lands
    exactly once."""
    drain(
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )
