"""Seeded trip-wire generator and its independently computed answer.

The generator stands in for the reference's Kinesis simulator: it writes
``trip_start`` / ``trip_end`` JSON-lines wire files whose fields are the
string-typed ``TRIP_START_WIRE_SCHEMA`` / ``TRIP_END_WIRE_SCHEMA``
columns, in both wire datetime formats. File ``i`` of each stream carries
the events whose event time falls in the ``i``-th slice of a virtual
clock, so event time advances with file order the way a live wire does.

Perturbations are chosen so the final answer does not depend on how the
files are split into micro-batches:

- redeliveries are exact payload copies placed in a later file, so
  whichever copy first-write-wins keeps, bronze is the same;
- an out-of-order event lands at most one file late, and a file slice
  spans at most 30 minutes of event time, so no event is ever older than
  the completion join's 1-hour watermark when it arrives;
- trips last 5-55 minutes (an assumption), inside the join's 4-hour
  range bound;
- malformed lines never share a trip id with a real trip.

The expected bronze / DLQ counts, completed trips and daily KPIs are
computed by DuckDB from the generator's own record of the valid rows it
wrote, parsing the wire strings itself.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

import duckdb
import pandas as pd

#: UTC midnight starting day 0 of the generated traffic
EPOCH = dt.datetime(2024, 3, 1)
#: the virtual clock starts late on day 0, so even a short run crosses
#: into the hot day 1 and spans two KPI dates
CLOCK_START = EPOCH + dt.timedelta(hours=21)
#: python twins of ``schemas.WIRE_DATETIME_FORMATS``
PY_FORMATS = ("%d/%m/%Y %H:%M", "%Y-%m-%d %H:%M:%S")
KINDS = ("start", "end")


@dataclass(frozen=True)
class Traffic:
    """The traffic dimensions the ingest -> completion -> KPI chain's
    behaviour depends on.

    Only ``trips_per_file`` (the reference simulator's 250-record batch)
    has a source. The reference gives the kinds of perturbation but no
    shares of them, nor trip lengths; every other default here is an
    unverified assumption, listed with its reason in METRICS.md.
    """

    trips_per_file: int = 250
    redelivery_share: float = 0.05
    malformed_share: float = 0.02
    abandoned_share: float = 0.10
    out_of_order_share: float = 0.10
    #: virtual-clock days whose files each span 1/hot_factor of the
    #: normal slice, so those dates get hot_factor x the trips
    hot_days: tuple[int, ...] = (1,)
    hot_factor: int = 3
    #: event time one file spans on a normal day (<= 30 keeps every
    #: out-of-order event inside the 1-hour join watermark)
    file_span_min: int = 30


@dataclass
class WireFile:
    kind: str
    index: int
    lines: list[str] = field(default_factory=list)
    #: wire payloads (dicts of strings) of the valid rows, redeliveries
    #: included
    valid: list[dict] = field(default_factory=list)
    malformed: int = 0


class TripWire:
    """All wire files of one seeded run, built up front.

    ``files[kind][i]`` is file ``i`` of the ``kind`` stream. Events whose
    natural (or delayed) file index falls past ``n_files`` never arrive,
    like the tail of a live wire cut at a point in time.
    """

    def __init__(self, seed: int, n_files: int, traffic: Traffic = Traffic()):
        if traffic.file_span_min > 30:
            raise ValueError("file_span_min above 30 can outrun the watermark")
        self.seed = seed
        self.traffic = traffic
        self.n_files = n_files
        self.files = {
            k: [WireFile(k, i) for i in range(n_files)] for k in KINDS
        }
        self._build(random.Random(seed))

    # -- generation ---------------------------------------------------

    def _slices(self) -> list[dt.datetime]:
        """Start of each file's event-time slice, plus the end bound."""
        tr = self.traffic
        out = [CLOCK_START]
        for _ in range(self.n_files):
            day = (out[-1] - EPOCH).days
            span = tr.file_span_min / (tr.hot_factor if day in tr.hot_days else 1)
            out.append(out[-1] + dt.timedelta(minutes=span))
        return out

    def _file_of(self, bounds: list[dt.datetime], t: dt.datetime) -> int:
        lo, hi = 0, self.n_files
        while lo < hi:
            mid = (lo + hi) // 2
            if bounds[mid + 1] <= t:
                lo = mid + 1
            else:
                hi = mid
        return lo

    def _place(self, rng, kind, natural, payload, valid=True):
        """Put one payload into its file, maybe one file late, maybe
        with an exact redelivery up to three files later."""
        tr = self.traffic
        idx = natural + (rng.random() < tr.out_of_order_share)
        line = json.dumps(payload, separators=(",", ":"))
        copies = [idx]
        if rng.random() < tr.redelivery_share:
            copies.append(idx + rng.randint(0, 3))
        for i in copies:
            if i < self.n_files:
                f = self.files[kind][i]
                f.lines.append(line)
                if valid:
                    f.valid.append(payload)

    def _build(self, rng: random.Random) -> None:
        tr = self.traffic
        bounds = self._slices()
        fmt = lambda t: t.strftime(PY_FORMATS[rng.random() < 0.5])  # noqa: E731
        for i in range(self.n_files):
            lo, hi = bounds[i], bounds[i + 1]
            span_min = int((hi - lo).total_seconds() // 60)
            for k in range(tr.trips_per_file):
                trip_id = f"t{self.seed}-{i}-{k}"
                pickup = lo + dt.timedelta(minutes=rng.randrange(span_min))
                dur = dt.timedelta(minutes=rng.randint(5, 55))
                fare = rng.randint(250, 9000) / 100
                self._place(rng, "start", i, {
                    "trip_id": trip_id,
                    "pickup_datetime": fmt(pickup),
                    "estimated_dropoff_datetime": fmt(pickup + dur),
                    "pickup_location_id": str(rng.randint(1, 265)),
                    "dropoff_location_id": str(rng.randint(1, 265)),
                    "vendor_id": str(rng.randint(1, 2)),
                    "estimated_fare_amount": f"{fare:.2f}",
                })
                if rng.random() < tr.abandoned_share:
                    continue
                dropoff = pickup + dur
                self._place(rng, "end", self._file_of(bounds, dropoff), {
                    "trip_id": trip_id,
                    "dropoff_datetime": fmt(dropoff),
                    "fare_amount": f"{fare + rng.randint(-200, 300) / 100:.2f}",
                    "tip_amount": f"{rng.randint(0, 1500) / 100:.2f}",
                    "trip_distance": f"{rng.randint(5, 300) / 10:.1f}",
                    "passenger_count": str(rng.randint(1, 4)),
                    "rate_code": "1",
                    "payment_type": str(rng.randint(1, 2)),
                    "trip_type": "1",
                })
            n_bad = round(tr.malformed_share * tr.trips_per_file)
            for kind in KINDS:
                f = self.files[kind][i]
                for b in range(n_bad):
                    f.lines.append(_malformed(kind, f"bad{self.seed}-{i}-{b}", b))
                    f.malformed += 1
                rng.shuffle(f.lines)

    # -- files --------------------------------------------------------

    def write(self, kind: str, i: int, wire_dir: str) -> str:
        """Write file ``i`` of ``kind`` atomically into ``wire_dir`` (the
        file source must never list a half-written file)."""
        f = self.files[kind][i]
        name = f"{kind}-{i:06d}.json"
        tmp = os.path.join(os.path.dirname(wire_dir), f".{kind}-{i}.tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(f.lines) + "\n")
        dst = os.path.join(wire_dir, name)
        os.replace(tmp, dst)
        return dst

    def write_all(self, wire_root: str) -> None:
        """Stage every file of both streams as a backlog."""
        for kind in KINDS:
            d = os.path.join(wire_root, kind)
            os.makedirs(d, exist_ok=True)
            for i in range(self.n_files):
                self.write(kind, i, d)

    # -- expected answer ----------------------------------------------

    def expected(self) -> dict:
        """Bronze / DLQ row counts, completed trips and daily KPIs that
        the chain must produce from all the files."""
        con = duckdb.connect()
        try:
            # one thread: float sums in a fixed order, the same every run
            con.execute("SET threads TO 1")
            for kind, cols in (("start", _START_COLS), ("end", _END_COLS)):
                frame = pd.DataFrame(
                    [p for f in self.files[kind] for p in f.valid],
                    columns=list(cols),
                    dtype="string",
                )
                con.register(f"wire_{kind}", frame)
            con.execute(_EXPECTED_SQL)
            bronze = {
                k: con.execute(f"SELECT count(*) FROM {k}s").fetchone()[0]
                for k in KINDS
            }
            completed = con.execute("SELECT count(*) FROM completed").fetchone()[0]
            kpis = con.execute(
                "SELECT date, total_fare, count_trips, average_fare, max_fare,"
                " min_fare FROM kpis ORDER BY date"
            ).fetchall()
        finally:
            con.close()
        return {
            "bronze": bronze,
            "dlq": {k: sum(f.malformed for f in self.files[k]) for k in KINDS},
            "completed": completed,
            "kpis": kpis,
        }


_START_COLS = (
    "trip_id", "pickup_datetime", "estimated_dropoff_datetime",
    "pickup_location_id", "dropoff_location_id", "vendor_id",
    "estimated_fare_amount",
)
_END_COLS = (
    "trip_id", "dropoff_datetime", "fare_amount", "tip_amount",
    "trip_distance", "passenger_count", "rate_code", "payment_type",
    "trip_type",
)

_TS = (
    "coalesce(try_strptime({c}, '%d/%m/%Y %H:%M'),"
    " try_strptime({c}, '%Y-%m-%d %H:%M:%S'))"
)

_EXPECTED_SQL = f"""
CREATE TABLE starts AS
SELECT DISTINCT trip_id, {_TS.format(c='pickup_datetime')} AS pickup
FROM wire_start;
CREATE TABLE ends AS
SELECT DISTINCT trip_id, {_TS.format(c='dropoff_datetime')} AS dropoff,
       CAST(fare_amount AS DOUBLE) AS fare
FROM wire_end;
CREATE TABLE completed AS
SELECT s.trip_id, e.dropoff, e.fare
FROM starts s JOIN ends e
  ON s.trip_id = e.trip_id
 AND e.dropoff >= s.pickup AND e.dropoff <= s.pickup + INTERVAL 4 HOUR;
CREATE TABLE kpis AS
SELECT CAST(dropoff AS DATE) AS date, sum(fare) AS total_fare,
       count(*) AS count_trips, avg(fare) AS average_fare,
       max(fare) AS max_fare, min(fare) AS min_fare
FROM completed GROUP BY 1;
"""


def _malformed(kind: str, trip_id: str, n: int) -> str:
    """One DLQ-bound wire line: truncated JSON, an unparseable
    datetime, an unparseable amount, or a blank required field."""
    ts_field = "pickup_datetime" if kind == "start" else "dropoff_datetime"
    amt_field = "estimated_fare_amount" if kind == "start" else "fare_amount"
    good = {"trip_id": trip_id, ts_field: "2024-03-01 10:00:00", amt_field: "10.00"}
    if kind == "start":
        good.update(
            estimated_dropoff_datetime="2024-03-01 10:30:00",
            pickup_location_id="1", dropoff_location_id="2", vendor_id="1",
        )
    shape = n % 4
    if shape == 0:
        return json.dumps(good)[:-7]
    if shape == 1:
        good[ts_field] = "31/02/2024 25:61"
    elif shape == 2:
        good[amt_field] = "ten"
    else:
        good["trip_id"] = " "
    return json.dumps(good)
