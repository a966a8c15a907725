"""The workloads. Each takes a :class:`Run` (session, seed, run length,
tracer, progress recorder, directories) and returns a :class:`Result`:
end-to-end figures, the layer figures the traced run reports, and how
many checked units were attempted and failed.

- ``trip_chain``: first closed loop, then open. A backlog of seeded
  wire files is staged and ingested into fresh checkpoints, one trigger
  per stream per pass: triggers of a fixed size, whatever the cycle
  timing, give the capacity figures. Then one generator thread drops
  the first of those files on a fixed schedule, one file per stream every
  0.25 s at BASELINE.md's 1,000 events/s per stream, for the length of
  the run. The main thread meanwhile runs ``availableNow`` cycles of the
  whole chain (wire -> ingest per stream -> bronze -> completion ->
  completed -> KPI -> gold) over whatever has arrived, until every
  dropped file is in gold; the due-to-gold times give the lag, the
  share in gold within the grace period the keep-up.
- ``entry_mix`` (closed loop): registry entries, each run once to warm
  up (its result checked against its DuckDB oracle), then timed in at
  least two passes over the mix.

A Spark run pays ~7 s of session start and 15-30 s of first-pass
warm-up before it measures anything, and the benchmark's time budget
allows about a minute per run; that is what sizes both workloads.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from perfbench import observe
from perfbench.chain import TripChain
from perfbench.tripgen import KINDS, Traffic, TripWire

#: BASELINE.md's ingest target: the reference simulator's 250-record
#: batches every 0.25 s, per stream
TARGET_EVENTS_PER_S = 1000.0
#: one file per stream every 0.25 s with 250 trips each, i.e. the
#: target rate
PACED_TICK_S = 0.25
PACED_TRIPS_PER_FILE = 250
#: events in gold within this long after the last drop count as kept up
PACED_GRACE_S = 45.0
#: after the grace period the chain keeps cycling until the window is in
#: gold, so its outputs can be checked; a window still not in gold this
#: much later counts as failed
PACED_DRAIN_LIMIT_S = 60.0
#: the backlog: the run's seed over more files than the paced window, so
#: per-row work outweighs the fixed cost of a trigger
BACKLOG_FILES = 64
#: capacity passes over the staged backlog, each into a fresh checkpoint
#: with one trigger per stream
BACKLOG_PASSES = 3
#: untimed backlog passes in the warm-up: a fresh JVM's large ingest
#: triggers keep getting faster for about six passes (the warm-up's
#: whole-chain drain counts as one)
WARMUP_BACKLOG_PASSES = 3

#: the stream entry whose per-key Python fold (streaming/decay.py) is
#: ROADMAP direction 3, its batch twin as the control, and the nightly
#: KPI job. stream_scd2_history, semdedup_prune_scaled,
#: cosine_neardup_clusters_guarded, graph_link_prediction_guarded and
#: srp_multiprobe_guarded are left out: their warm-up and timed calls
#: add ~40 s to a run that must stay near one minute.
ENTRY_MIX = (
    "stream_t19_debounce",
    "t19_debounce_throttle",
    "trip_daily_kpi",
)
STREAM_ENTRY = "stream_t19_debounce"
#: timed passes over the mix, at least (more while the run lasts)
ENTRY_PASSES = 2
#: scale of the generated registry tables for entry_mix (the repo's
#: deterministic generator; it takes no seed)
ENTRY_SF = 0.01


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    tracer: observe.Tracer
    recorder: observe.ProgressRecorder
    #: scratch space of this run, removed at exit
    work: str
    #: kept across runs in one checkout (seedless generated inputs)
    cache: str


@dataclass
class Result:
    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)


def _warm_chain(run: Run, n_files: int) -> float:
    """Untimed warm-up on other seeded data of the same sizes, in its own
    directories: one drain of the whole chain, then backlog passes."""
    t0 = time.time()
    traffic = Traffic(trips_per_file=PACED_TRIPS_PER_FILE)
    root = os.path.join(run.work, "warmup")
    chain = _stage_and_ingest(run, TripWire(run.seed + 1, n_files, traffic), root)
    chain.complete()
    chain.kpi()
    shutil.rmtree(root, ignore_errors=True)
    backlog = TripWire(run.seed + 1, BACKLOG_FILES, traffic)
    for i in range(WARMUP_BACKLOG_PASSES):
        _stage_and_ingest(run, backlog, f"{root}-{i}")
        shutil.rmtree(f"{root}-{i}", ignore_errors=True)
    return time.time() - t0


def _stage_and_ingest(run: Run, wire: TripWire, root: str) -> TripChain:
    """Stage every file of ``wire`` under a fresh chain at ``root`` and
    ingest each stream in one trigger."""
    chain = TripChain(run.spark, root)
    with run.tracer.span("replay.stage"):
        wire.write_all(chain.path("wire"))
    for kind in KINDS:
        with run.tracer.span(f"ingest.{kind}"):
            chain.ingest(kind)
    return chain


def _in_window(progress: list[dict], t0: float, t1: float) -> list[dict]:
    return [p for p in progress if t0 <= p["_t0"] <= t1]


class Dropper(threading.Thread):
    """The open-loop generator: drops file ``i`` of each stream at
    ``t0 + i * tick`` whether or not the chain has caught up, and notes
    when each drop actually happened."""

    def __init__(self, wire: TripWire, wire_root: str, tick: float, tracer):
        super().__init__(name="perfbench-dropper", daemon=True)
        self.wire, self.root, self.tick, self.tracer = wire, wire_root, tick, tracer
        self.t0 = 0.0
        self.sent: list[float] = []
        self.error: BaseException | None = None

    def due(self, i: int) -> float:
        return self.t0 + i * self.tick

    def run(self) -> None:
        try:
            for i in range(self.wire.n_files):
                wait = self.due(i) - time.time()
                if wait > 0:
                    time.sleep(wait)
                t = time.time()
                for kind in KINDS:
                    self.wire.write(kind, i, os.path.join(self.root, kind))
                self.sent.append(t)
                self.tracer.add("replay.drop", t, time.time(), contained=False)
        except BaseException as ex:  # noqa: BLE001 - re-raised by the main thread
            self.error = ex


def _ingested_files(chain: TripChain, kind: str) -> set[str]:
    """Wire files the ingest query of ``kind`` has committed to its
    checkpoint's file-source log."""
    log = chain.path("ckpt", f"ingest_{kind}", "sources", "0")
    out = set()
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    out.add(os.path.basename(json.loads(line)["path"]))
    return out


def _paced_window(run: Run, wire: TripWire, expected: dict, res: Result) -> dict:
    """Drop ``wire`` one file per stream per tick while the main thread
    cycles the chain, until every dropped file is in gold; then check
    the outputs. A window not in gold by the drain limit counts as
    failed, since its outputs cannot be compared."""
    n_files = wire.n_files
    root = os.path.join(run.work, "paced")
    chain = TripChain(run.spark, root)
    dropper = Dropper(wire, chain.path("wire"), PACED_TICK_S, run.tracer)
    name_of = {f"{k}-{i:06d}.json": (k, i) for k in KINDS for i in range(n_files)}
    size = {(k, i): len(wire.files[k][i].lines) for k in KINDS for i in range(n_files)}
    ingested: set[tuple[str, int]] = set()
    committed: dict[tuple[str, int], float] = {}
    cycles = []
    dropper.t0 = time.time()
    keepup_by = dropper.due(n_files - 1) + PACED_GRACE_S
    deadline = keepup_by + PACED_DRAIN_LIMIT_S
    dropper.start()
    while time.time() < deadline:
        done_dropping = not dropper.is_alive()
        c0 = time.time()
        with run.tracer.span("cycle"):
            for kind in KINDS:
                with run.tracer.span(f"ingest.{kind}"):
                    chain.ingest(kind)
            ran_kpi = False
            if chain.ready():
                with run.tracer.span("completion"):
                    chain.complete()
                if os.path.isdir(chain.path("completed")):
                    with run.tracer.span("kpi"):
                        chain.kpi()
                    ran_kpi = True
        c1 = time.time()
        new = {name_of[n] for k in KINDS for n in _ingested_files(chain, k)} - ingested
        ingested |= new
        cycles.append({"t0": c0, "t1": c1, "events": sum(size[k] for k in new)})
        if ran_kpi:
            # everything ingested so far, this cycle included, is in gold
            for key in ingested - committed.keys():
                committed[key] = c1
        if done_dropping and len(committed) == len(name_of):
            break
    dropper.join()
    if dropper.error is not None:
        raise dropper.error
    res.attempted += 1
    with run.tracer.span("check"):
        counts = chain.counts()
        if len(committed) == len(name_of):
            bad = chain.mismatches(expected, counts)
        else:
            bad = [f"{len(name_of) - len(committed)} of {len(name_of)} files not in gold"
                   f" {PACED_GRACE_S + PACED_DRAIN_LIMIT_S:.0f} s after the last drop"]
    if bad:
        res.failed += 1
        res.errors.append("paced: " + "; ".join(bad[:5]))
    shutil.rmtree(root, ignore_errors=True)
    keys = sorted(size)
    due = [dropper.due(i) for _, i in keys]
    done = [committed.get(k) for k in keys]
    return {
        "cycles": cycles, "counts": counts,
        "events": sum(size.values()),
        "offered": sum(size.values()) / (n_files * PACED_TICK_S),
        "keepup": observe.keepup([size[k] for k in keys], done, keepup_by),
        "lag": observe.lags(due, done),
        "late": observe.lateness(
            [dropper.due(i) for i in range(len(dropper.sent))], dropper.sent
        ),
    }


def _backlog(run: Run, wire: TripWire, expected: dict, res: Result) -> list[dict]:
    """Stage ``wire`` as a backlog and ingest it, ``BACKLOG_PASSES``
    times, each pass into a fresh checkpoint and bronze, so every pass
    runs one trigger per stream over the same files. Checks bronze and
    DLQ after each pass; returns the passes' ingest progress events."""
    triggers = []
    for i in range(BACKLOG_PASSES):
        t0 = time.time()
        with run.tracer.span("backlog"):
            chain = _stage_and_ingest(run, wire, os.path.join(run.work, f"backlog-{i}"))
        t1 = time.time()
        # the listener bus delivers progress asynchronously
        triggers += run.recorder.wait_for(
            lambda x: t0 <= x["_t0"] <= t1 and x["numInputRows"]
            and observe.source_layer(x) == "ingest",
            len(KINDS),
        )
        res.attempted += 1
        with run.tracer.span("check"):
            bad = chain.mismatches(expected, chain.counts(), ingest_only=True)
        if bad:
            res.failed += 1
            res.errors.append(f"backlog {i}: " + "; ".join(bad[:5]))
        shutil.rmtree(chain.root, ignore_errors=True)
    return triggers


def trip_chain(run: Run, session_s: float) -> Result:
    res = Result()
    n_files = int(run.seconds / PACED_TICK_S)
    traffic = Traffic(trips_per_file=PACED_TRIPS_PER_FILE)
    gen = []
    for _ in range(3):
        t0 = time.time()
        wire = TripWire(run.seed, n_files, traffic)
        expected = wire.expected()
        backlog = TripWire(run.seed, BACKLOG_FILES, traffic)
        backlog_expected = backlog.expected()
        gen.append(time.time() - t0)
    res.setup_s = session_s + observe.median(gen) + _warm_chain(run, n_files)

    # the backlog first: right after the warm-up its triggers run at a
    # steady speed, after the paced window the first ones run slower
    ingest = _backlog(run, backlog, backlog_expected, res)
    t_start = time.time()
    p = _paced_window(run, wire, expected, res)
    paced = _in_window(run.recorder.settle(), t_start, time.time())

    def rate(xs):
        return sum(x["numInputRows"] for x in xs) / sum(x["_dur"] for x in xs)

    per_stream = {
        k: rate([x for x in ingest if f"wire/{k}" in observe.source_desc(x)]) for k in KINDS
    }
    moved = [c for c in p["cycles"] if c["events"]]
    res.e2e = {
        # ingest rows per second of trigger execution, as Structured
        # Streaming reports processedRowsPerSecond, on the backlog's
        # triggers of fixed size
        "events_per_s": rate(ingest),
        "trigger_p50_s": observe.percentile([x["_dur"] for x in ingest], 0.5),
        "trigger_p90_s": observe.percentile([x["_dur"] for x in ingest], 0.9),
        "kpi_lag_p50_s": observe.percentile(p["lag"], 0.5),
        "kpi_lag_p90_s": observe.percentile(p["lag"], 0.9),
        # share of the window's events in gold within the grace period;
        # below 1 the wire outgrew the chain at the target rate
        "keepup_ratio": p["keepup"],
        "entries_total_s": observe.median(c["t1"] - c["t0"] for c in moved),
    }
    res.notes = {
        "offered_events_per_s": p["offered"],
        "cycles": [
            {"s": round(c["t1"] - c["t0"], 3), "events": c["events"]} for c in p["cycles"]
        ],
        "ingest_trigger_events_per_s": per_stream,
        "backlog_trigger_s": [x["_dur"] for x in ingest],
        "trigger_samples": len(ingest),
        "lag_samples": len(p["lag"]),
        "lag_tail_quantile": observe.tail_quantile(len(p["lag"])),
        # event-time watermark each stateful layer reached
        "watermark": {
            layer: max((x.get("eventTime", {}).get("watermark", "") for x in paced
                        if observe.source_layer(x) == layer), default="")
            for layer in ("completion", "kpi")
        },
        "verdict": {
            "ingest_1000_ev_s_per_stream": (
                "pass" if p["keepup"] >= 1.0
                and min(per_stream.values()) >= TARGET_EVENTS_PER_S else "fail"
            ),
            "kpi_lag_p90_under_1000_s": "pass" if res.e2e["kpi_lag_p90_s"] < 1000 else "fail",
        },
    }
    res.layers = trip_layers(run, paced, ingest, [p["counts"]])
    res.layers["replay.wire_events"] = float(p["events"])
    res.layers["replay.late_p90_s"] = observe.percentile(p["late"], 0.9)
    return res


# -- per-layer figures of the trip chain ------------------------------------


def trip_layers(run: Run, progress: list[dict], backlog: list[dict], counts: list[dict]) -> dict:
    """Per-layer figures from the progress events of the paced window,
    the backlog's ingest triggers and the output counts of the window's
    checked units (per unit where it is a count)."""
    by = {"ingest": [], "completion": [], "kpi": []}
    for p in progress:
        layer = observe.source_layer(p)
        if layer:
            by[layer].append(p)
    med = lambda xs: observe.median(xs) if xs else 0.0  # noqa: E731

    def phase(layer, name):
        return med([observe.duration_s(p, name) for p in by[layer]])

    def state(layer, key, scale=1.0, agg=med):
        return agg(
            [sum(op.get(key, 0) for op in observe.state_ops(p)) * scale for p in by[layer]]
        )

    rows_in = sum(p.get("numInputRows", 0) for p in by["ingest"])
    n_units = max(1, len(counts))
    total = lambda key: sum(c[k][key] for c in counts for k in KINDS)  # noqa: E731
    bronze, dlq = total("bronze_rows"), total("dlq_rows")
    out = {
        "ingest.add_batch_s": med([observe.duration_s(p, "addBatch") for p in backlog]),
        "ingest.rows_in": rows_in / n_units,
        "ingest.dlq_rows": dlq / n_units,
        "ingest.bronze_rows": bronze / n_units,
        "ingest.suppressed_rows": (rows_in - dlq - bronze) / n_units,
        "ingest.useful_ratio": bronze / rows_in if rows_in else 0.0,
        "ingest.query_planning_s": phase("ingest", "queryPlanning"),
        "ingest.wal_commit_s": phase("ingest", "walCommit"),
        "ingest.commit_offsets_s": phase("ingest", "commitOffsets"),
        "ingest.latest_offset_s": phase("ingest", "latestOffset"),
        "ingest.start_s": _start_latency(run, by["ingest"], "ingest."),
        "ingest.files_written": total("files_written") / n_units,
        "completion.add_batch_s": phase("completion", "addBatch"),
        "completion.state_rows": state("completion", "numRowsTotal", agg=lambda xs: max(xs, default=0)),
        "completion.state_commit_s": state("completion", "commitTimeMs", 1e-3),
        "completion.state_mem_mb": state("completion", "memoryUsedBytes", 2**-20, agg=lambda xs: max(xs, default=0)),
        "completion.matched_rows": sum(c["completed"]["rows"] for c in counts) / n_units,
        "completion.dropped_by_watermark": sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in by["completion"] for op in observe.state_ops(p)
        ),
        "completion.start_s": _start_latency(run, by["completion"], "completion"),
        "kpi.add_batch_s": phase("kpi", "addBatch"),
        "kpi.state_commit_s": state("kpi", "commitTimeMs", 1e-3),
        "kpi.state_rows": state("kpi", "numRowsTotal", agg=lambda xs: max(xs, default=0)),
        "kpi.start_s": _start_latency(run, by["kpi"], "kpi"),
    }
    return out


def _start_latency(run: Run, progress: list[dict], span_prefix: str) -> float:
    """Median time from a layer call to its query's first trigger
    (needs the traced run's call spans)."""
    calls = [s for s in run.tracer.spans if s.name.startswith(span_prefix) and ".trigger" not in s.name]
    firsts = []
    for s in calls:
        starts = [p["_t0"] for p in progress if s.start <= p["_t0"] <= s.end]
        if starts:
            firsts.append(min(starts) - s.start)
    return observe.median(firsts) if firsts else 0.0


# -- entry_mix ----------------------------------------------------------------


def entry_mix(run: Run, session_s: float) -> Result:
    import duckdb

    from nsp_bolt_pipeline_spark import registry
    from nsp_bolt_pipeline_spark.registry_streaming import cleanup_workdirs
    from tools.gen_scaled_data import gen
    from tools.verify_oracle import TABLES, compare

    res = Result()
    t0 = time.time()
    registry.load_all()
    # the generator takes no seed, so its tables are made once per
    # checkout; the run that makes them counts the time in its set-up
    sf_dir = os.path.join(run.cache, f"sf{ENTRY_SF}")
    if not os.path.isdir(sf_dir):
        tmp = f"{sf_dir}.tmp-{os.getpid()}"
        gen(run.spark, ENTRY_SF, tmp)
        os.replace(tmp, sf_dir)
    gen_s = time.time() - t0

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )

    def run_entry(name: str, label: str) -> tuple[float, float, object]:
        fn, _ = registry.REGISTRY[name]
        with run.tracer.span(f"entry.{name}.build"):
            b0 = time.time()
            df = fn(run.spark, sf_dir)
            b1 = time.time()
        with run.tracer.span(f"entry.{name}.exec"):
            if label == "warm":
                pdf = df.toPandas()
            else:
                df.write.mode("overwrite").format("noop").save()
                pdf = None
            b2 = time.time()
        run.spark.catalog.clearCache()
        cleanup_workdirs()
        return b1 - b0, b2 - b1, pdf

    # warm-up pass: untimed, and the result is checked against the oracle
    t_warm = time.time()
    for name in ENTRY_MIX:
        res.attempted += 1
        try:
            with run.tracer.span("warmup"):
                _, _, pdf = run_entry(name, "warm")
            with run.tracer.span("check"):
                oracle = registry.REGISTRY[name][1]
                issues = compare(name, pdf, con.sql(oracle).df()) if oracle else []
        except Exception as ex:  # noqa: BLE001 - one entry failing is a counted failure
            issues = [f"{type(ex).__name__}: {ex}"]
        if issues:
            res.failed += 1
            res.errors.append(f"{name}: " + "; ".join(map(str, issues[:3])))
    con.close()
    warm_s = time.time() - t_warm
    res.setup_s = session_s + gen_s + warm_s

    passes = []
    t_start = time.time()
    while len(passes) < ENTRY_PASSES or time.time() - t_start < run.seconds:
        times = {}
        with run.tracer.span("pass"):
            for name in ENTRY_MIX:
                times[name] = run_entry(name, "timed")[:2]
        passes.append(times)
    t_end = time.time()

    progress = _in_window(run.recorder.settle(), t_start, t_end)
    triggers = [p["_dur"] for p in progress if p["numInputRows"]]
    rows = sum(p["numInputRows"] for p in progress)
    busy = sum(p["_dur"] for p in progress if p["numInputRows"])
    eps = rows / busy
    lag_s = [sum(t[STREAM_ENTRY]) for t in passes]
    res.e2e = {
        "events_per_s": eps,
        "trigger_p50_s": observe.percentile(triggers, 0.5),
        "trigger_p90_s": observe.percentile(triggers, 0.9),
        # the stream entry, from the call that lands its events on the
        # wire to its written result
        "kpi_lag_p50_s": observe.percentile(lag_s, 0.5),
        "kpi_lag_p90_s": observe.percentile(lag_s, 0.9),
        "keepup_ratio": eps / TARGET_EVENTS_PER_S,
        "entries_total_s": observe.median(
            sum(b + e for b, e in t.values()) for t in passes
        ),
    }
    res.notes = {
        "setup_parts_s": {"session": session_s, "data": gen_s, "warmup": warm_s},
        "passes": len(passes),
        "trigger_samples": len(triggers),
        "entry_times_s": {
            n: {"build": observe.median([p[n][0] for p in passes]),
                "exec": observe.median([p[n][1] for p in passes])}
            for n in ENTRY_MIX
        },
    }
    res.layers = {}
    for n in ENTRY_MIX:
        res.layers[f"entry.{n}.build_s"] = res.notes["entry_times_s"][n]["build"]
        res.layers[f"entry.{n}.exec_s"] = res.notes["entry_times_s"][n]["exec"]
    return res


WORKLOADS = {
    "trip_chain": trip_chain,
    "entry_mix": entry_mix,
}
