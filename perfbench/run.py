"""Trip data-plane benchmark: one run of one workload.

    python3 perfbench/run.py --workload trip_chain --seed 1 --seconds 4 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, sets
up a Spark session, warms up, measures for ``--seconds``, checks every
output against an independently computed answer, prints a table of
every figure with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}`` carrying the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, which also records spans and the Spark event log).

Everything the run writes stays in the checkout: ``.perfbench_work/``
(removed at exit), ``.perfbench_cache/`` (seedless generated tables,
reused by later runs) and ``.perfbench_out/`` (result and span files).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPARK_LAYERS = ("ingest", "completion", "kpi", "entry")
#: Spark cores (and shuffle partitions) of the benchmark's session, the
#: same on every host; on a shared 4-core host runs spread about half as
#: much as with all four cores (METRICS.md)
SPARK_CORES = 2


def _session(work: str, trace: bool):
    from nsp_bolt_pipeline_spark.session import get_spark

    conf = {
        # small and self-contained: the run may share its host
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in /tmp: the run writes only inside its
        # checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        "perfbench", master=f"local[{SPARK_CORES}]", shuffle_partitions=SPARK_CORES,
        extra_conf=conf,
    )


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin
    closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _trace_figures(run, res, events: list[dict]) -> dict:
    """Per-layer figures only the traced run has: trigger spans, self
    time, span coverage and event-log counters by layer."""
    from perfbench import observe
    from perfbench.workloads import ENTRY_MIX

    tracer = run.tracer
    measured = [s for s in tracer.spans if s.name in ("cycle", "backlog", "pass")]
    for p in run.recorder.snapshot():
        layer = observe.source_layer(p) or "entry"
        tracer.add(f"{layer}.trigger", p["_t0"], p["_t0"] + p["_dur"])

    def span_at(t: float) -> str | None:
        if not any(s.start <= t <= s.end for s in measured):
            return None
        return tracer.open_at(
            t, skip=lambda n: n.endswith(".trigger") or n.startswith("replay.")
        )

    def layer_of(name: str | None) -> str | None:
        return name.split(".")[0] if name else None

    def entry_of(name: str | None) -> str | None:
        return ".".join(name.split(".")[:2]) if name and name.startswith("entry.") else None

    out = {}
    by_layer = observe.fold_event_log(events, lambda t: layer_of(span_at(t)))
    for layer in SPARK_LAYERS:
        a = by_layer.get(layer, {})
        for key in ("shuffle_write_mb", "spill_mb", "gc_s", "task_skew"):
            out[f"spark.{layer}.{key}"] = a.get(key, 0.0)
    by_entry = observe.fold_event_log(events, lambda t: entry_of(span_at(t)))
    n_passes = max(1, res.notes.get("passes", 1))
    for name in ENTRY_MIX:
        out[f"entry.{name}.jobs"] = by_entry.get(f"entry.{name}", {}).get("jobs", 0) / n_passes
    # per trigger of the paced phase, where the fixed per-trigger work is
    cycles = [s for s in measured if s.name == "cycle"]
    triggers = sum(
        1 for s in tracer.spans
        if s.name == "ingest.trigger" and any(m.start <= s.start <= m.end for m in cycles)
    )
    cycle_jobs = observe.fold_event_log(
        events,
        lambda t: "ingest" if any(m.start <= t <= m.end for m in cycles)
        and layer_of(span_at(t)) == "ingest" else None,
    )
    out["ingest.jobs_per_trigger"] = (
        cycle_jobs.get("ingest", {}).get("jobs", 0) / triggers if triggers else 0.0
    )

    # self time of the measured work only: the measured spans and what
    # started inside them (warm-up and set-up spans are left out)
    kept = [
        i for i, s in enumerate(tracer.spans)
        if any(m.start <= s.start <= m.end for m in measured)
    ]
    remap = {old: new for new, old in enumerate(kept)}
    own = observe.self_times([
        observe.Span(s.name, s.start, s.end, remap.get(s.parent))
        for s in (tracer.spans[i] for i in kept)
    ])
    for layer in ("replay", *SPARK_LAYERS):
        out[f"{layer}.self_s"] = sum(v for k, v in own.items() if layer_of(k) == layer)
    covered = sum(
        observe.union_length(
            [(c.start, c.end) for c in tracer.spans
             if c.parent is not None and tracer.spans[c.parent] is m
             and layer_of(c.name) in (*SPARK_LAYERS, "replay")]
        )
        for m in measured
    )
    wall = sum(m.end - m.start for m in measured)
    out["trace.span_coverage"] = covered / wall if wall else 0.0
    res.notes["self_time_s"] = {
        k: round(v, 4) for k, v in sorted(own.items(), key=lambda kv: -kv[1])
    }
    res.notes["measured_wall_s"] = wall
    res.notes["trace_spans"] = len(tracer.spans)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = ("BENCHMARK.json", "nsp_bolt_pipeline_spark/__init__.py", "bench.py",
              "tools/verify_oracle.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    t_proc = time.time()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)

    from perfbench import observe
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    spark = None
    try:
        spark = _session(work, bool(args.trace))
        session_s = time.time() - t_proc
        recorder = observe.ProgressRecorder()
        spark.streams.addListener(recorder)
        run = Run(
            spark, args.seed, args.seconds, observe.Tracer(bool(args.trace)), recorder,
            work, os.path.join(ROOT, ".perfbench_cache"),
        )
        res = WORKLOADS[args.workload](run, session_s)
        res.e2e["setup_s"] = res.setup_s
        res.e2e["jvm_peak_rss_mb"] = observe.jvm_peak_rss_mb(spark)
        _stop(spark)
        spark = None
        if args.trace:
            events = observe.read_event_log(os.path.join(work, "eventlog"))
            res.layers.update(_trace_figures(run, res, events))
            run.tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json"))

        import bench

        res.notes["machine"] = bench._machine_calibration()
        res.notes["cores"] = os.cpu_count()
        res.notes["git"] = bench._git_state(ROOT)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = json.load(f)["per_layer" if args.trace else "end_to_end"]
    source = res.layers if args.trace else res.e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names
    }
    failed_ratio = res.failed / res.attempted if res.attempted else 1.0
    doc = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": res.attempted, "failed": res.failed,
        "failed_ratio": failed_ratio, "errors": res.errors, "e2e": res.e2e,
        "layers": res.layers, "notes": res.notes,
    }
    with open(os.path.join(
        out_dir, f"result-{args.workload}-{args.seed}-trace{args.trace}.json"), "w"
    ) as f:
        json.dump(doc, f, indent=1, default=str)

    for err in res.errors:
        print(f"MISMATCH {err}")
    for n, m in {**metrics, "failed_ratio": {"value": failed_ratio, "unit": "ratio"}}.items():
        print(f"{n:48s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
