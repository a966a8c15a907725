"""The trip data plane, wired from the package's public functions:
wire -> ``run_ingest`` per stream -> bronze -> completion join ->
completed -> windowed daily KPI -> gold.

Every stage is an ``availableNow`` query over its own checkpoint, which
is how the package runs them; calling a stage again picks up whatever
has arrived since its last call.
"""

from __future__ import annotations

import math
import os

import duckdb

from pyspark.sql import types as T

from nsp_bolt_pipeline_spark import schemas
from nsp_bolt_pipeline_spark.streaming.completion import (
    run_completion_join,
    streaming_completed_trips,
)
from nsp_bolt_pipeline_spark.streaming.ingest import (
    EVENT_DATE_COL,
    read_wire_stream,
    run_ingest,
)
from nsp_bolt_pipeline_spark.streaming.kpi import (
    run_windowed_kpis,
    windowed_daily_kpis,
)

#: (wire schema, required, optional, typed schema, event-time column)
_STREAMS = {
    "start": (
        schemas.TRIP_START_WIRE_SCHEMA,
        schemas.TRIP_START_REQUIRED,
        None,
        schemas.TRIP_START_SCHEMA,
        "pickup_datetime",
    ),
    "end": (
        schemas.TRIP_END_WIRE_SCHEMA,
        schemas.TRIP_END_REQUIRED,
        schemas.TRIP_END_OPTIONAL,
        schemas.TRIP_END_SCHEMA,
        "dropoff_datetime",
    ),
}


def _bronze_schema(typed: T.StructType) -> T.StructType:
    """Bronze as ``run_ingest`` writes it: the typed columns, the
    reader's ``_corrupt_record`` and the ``event_date`` partition."""
    fields = [T.StructField(f.name, f.dataType, True) for f in typed.fields]
    return T.StructType(
        fields
        + [
            T.StructField("_corrupt_record", T.StringType()),
            T.StructField(EVENT_DATE_COL, T.DateType()),
        ]
    )


class TripChain:
    """One independent instance of the chain under ``root``."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        for kind in _STREAMS:
            os.makedirs(self.path("wire", kind), exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def ingest(self, kind: str) -> None:
        wire, required, optional, _, ts_col = _STREAMS[kind]
        stream = read_wire_stream(self.spark, self.path("wire", kind), wire)
        run_ingest(
            stream,
            bronze_dir=self.path("bronze", kind),
            dlq_dir=self.path("dlq", kind),
            checkpoint_dir=self.path("ckpt", f"ingest_{kind}"),
            required=required,
            optional=optional,
            dedup_keys=["trip_id"],
            order_cols=[ts_col],
            dedup_ts_col=ts_col,
            dedup_horizon_days=1,
        )

    def complete(self) -> None:
        bronze = {
            kind: self.spark.readStream.schema(_bronze_schema(spec[3])).parquet(
                self.path("bronze", kind)
            )
            for kind, spec in _STREAMS.items()
        }
        joined = streaming_completed_trips(bronze["start"], bronze["end"])
        run_completion_join(
            joined,
            out_dir=self.path("completed"),
            checkpoint_dir=self.path("ckpt", "completion"),
        )

    def kpi(self) -> None:
        completed = self.spark.readStream.schema(
            self.spark.read.parquet(self.path("completed")).schema
        ).parquet(self.path("completed"))
        run_windowed_kpis(
            windowed_daily_kpis(completed),
            out_dir=self.path("gold"),
            checkpoint_dir=self.path("ckpt", "kpi"),
        )

    def ready(self) -> bool:
        """Both bronze tables exist (the completion join's file sources
        need their directories)."""
        return all(os.path.isdir(self.path("bronze", k)) for k in _STREAMS)

    def counts(self) -> dict[str, dict[str, int]]:
        """Per stream: rows in bronze and in the DLQ, and the data files
        the ingest wrote to both; plus the completed-trip rows. Read
        with DuckDB, outside Spark."""
        out = {"completed": {"rows": _rows(self.path("completed"))}}
        for kind in _STREAMS:
            out[kind] = {
                "bronze_rows": _rows(self.path("bronze", kind)),
                "dlq_rows": _rows(self.path("dlq", kind)),
                "files_written": len(_parquet_files(self.path("bronze", kind)))
                + len(_parquet_files(self.path("dlq", kind))),
            }
        return out

    # -- correctness --------------------------------------------------

    def mismatches(self, expected: dict, counts: dict, *, ingest_only: bool = False) -> list[str]:
        """Compare bronze, DLQ, completed (``counts`` from
        :meth:`counts`) and gold with the expected answer, or only
        bronze and DLQ with ``ingest_only``; one message per
        disagreement."""
        bad = []
        for kind in _STREAMS:
            for table in ("bronze", "dlq"):
                got, want = counts[kind][f"{table}_rows"], expected[table][kind]
                if got != want:
                    bad.append(f"{table} {kind}: {got} != {want}")
        if ingest_only:
            return bad
        got = counts["completed"]["rows"]
        if got != expected["completed"]:
            bad.append(f"completed: {got} != {expected['completed']}")
        files = _parquet_files(self.path("gold"))
        gold = sorted(duckdb.sql(
            "SELECT date, total_fare, count_trips, average_fare, max_fare, min_fare"
            f" FROM read_parquet({files!r})"
        ).fetchall()) if files else []
        want = expected["kpis"]
        if len(gold) != len(want):
            bad.append(f"gold dates: {len(gold)} != {len(want)}")
        for g, w in zip(gold, want):
            if g[0] != w[0] or g[2] != w[2] or not all(
                math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
                for a, b in zip(g[1:], w[1:])
            ):
                bad.append(f"gold {w[0]}: {g} != {w}")
        return bad


def _parquet_files(root: str) -> list[str]:
    """Committed parquet data files under ``root`` (Spark's hidden
    ``_``/``.`` entries excluded)."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def _rows(root: str) -> int:
    files = _parquet_files(root)
    if not files:
        return 0
    return duckdb.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
