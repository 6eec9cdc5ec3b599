"""CDC engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload stateful --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The workload's log is generated from
``--seed`` (and cached with its oracle under ``.perfbench/cache``), set-up is
timed, an untimed warm-up runs the operation's code paths once, then
operations are timed for ``--seconds`` and every lake is checked against the
oracle. See BENCHMARK.md for the workloads and metrics.

``--trace 0`` prints the end-to-end metrics and records the run's events/s
under ``.perfbench/results``. ``--trace 1`` starts Spark with its event log
on, registers a streaming-progress listener, repeats the drive with spans
around every layer call, probes the layers one by one (layers.py) and prints
the per-layer metrics, including the tracing overhead on events/s against the
recorded untraced runs (see ``run``).

The last stdout line is one JSON object {correct, attempted, failed, metrics}.
The exit code is 0 only when every lake matched the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3   # engine set-up is repeated and its median reported

# name -> unit, in BENCHMARK.json order
END_TO_END = {"events_per_s": "1/s", "setup_s": "s", "resume_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "engine.batches": "count", "engine.batch_ms_p50": "ms",
    "engine.jobs_per_batch": "count", "engine.core_busy_share": "ratio",
    "envelope.s": "s", "envelope.events_per_s": "1/s",
    "resolver.s": "s", "resolver.events_in": "count", "resolver.keys_out": "count",
    "resolver.keys_per_event": "ratio",
    "registry.s": "s", "registry.changes_applied": "count",
    "lake.stage_s": "s", "lake.commit_s": "s", "lake.merge_s": "s",
    "lake.rewrite_amp": "ratio", "lake.touched_bucket_share": "ratio",
    "lake.expire_s": "s", "lake.read_s": "s", "lake.space_amp": "ratio",
    "lake.bytes_written": "bytes", "lake.files_written": "count",
    "stream.triggers": "count", "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms", "state.rows_total": "count",
    "state.memory_bytes": "bytes", "state.commit_ms": "ms",
    "multi.table_ms_max": "ms", "multi.wal_read_amp": "ratio",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms", "spark.input_bytes": "bytes", "spark.task_skew": "ratio",
    "trace.events_per_s": "1/s", "trace.overhead_share": "ratio",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def measure(ctx, wl_cls, seconds: float, setup_reps: int):
    """Set-up, warm-up and the timed loop of one workload on one session.
    Returns (workload, samples, engine set-up seconds, peak RSS MB)."""
    from perfbench import host
    from perfbench.workloads import Samples

    wl = wl_cls(ctx)
    setup = []
    for _ in range(setup_reps):
        t0 = time.perf_counter()
        wl.setup_once()
        setup.append(time.perf_counter() - t0)
    wl.warm_up()
    log("set-up and warm-up done")
    s = Samples()
    rss = host.RssSampler().start()
    t_end = time.perf_counter() + seconds
    with ctx.tracer.span("timed"):
        while time.perf_counter() < t_end:
            wl.op(s, check=True)
    peak = rss.stop()
    log(f"timed: {s.attempted} ops")
    return wl, s, setup, peak


def end_to_end(s, setup_s: float, peak_mb: float) -> tuple[dict, list[str]]:
    from perfbench.spans import median

    m = {
        "events_per_s": median(s.op_rates),
        "setup_s": setup_s,
        "resume_s": median(s.resume_s),
        "peak_rss_mb": peak_mb,
    }
    notes = [
        f"events_per_s: median of {len(s.op_rates)} ops",
        f"resume_s: median of {len(s.resume_s)}",
        f"failed_share: {s.failed}/{s.attempted}",
    ]
    return m, notes


def per_layer(wl, s, untraced_rate: float, probe: dict, event: dict, progress: dict,
              cores: int, space_amp: float) -> dict:
    """Per-layer values; layers a workload does not exercise read 0."""
    from perfbench.spans import median

    drive_ms = sum(hi - lo for lo, hi in s.windows) * 1000
    batches = len(s.batch_ms)
    traced_rate = median(s.op_rates)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(probe)
    m.update(progress)
    m.update({
        "engine.batches": batches,
        "engine.batch_ms_p50": median(s.batch_ms),
        "engine.jobs_per_batch": event["jobs"] / max(batches, 1),
        "engine.core_busy_share": event["busy_ms"] / max(drive_ms * cores, 1),
        "lake.space_amp": space_amp,
        "lake.bytes_written": s.bytes_written,
        "lake.files_written": s.files_written,
        "spark.jobs": event["jobs"],
        "spark.tasks": event["tasks"],
        "spark.shuffle_write_bytes": event["shuffle_write_bytes"],
        "spark.spill_bytes": event["spill_bytes"],
        "spark.gc_ms": event["gc_ms"],
        "spark.input_bytes": event["input_bytes"],
        "spark.task_skew": event["task_skew"],
        "trace.events_per_s": traced_rate,
        "trace.overhead_share": 1 - traced_rate / untraced_rate,
    })
    if s.table_ms:
        m["multi.table_ms_max"] = median(s.table_ms)
        m["multi.wal_read_amp"] = event["scan_input_bytes"] / (wl.inputs.wal_bytes * len(s.windows))
    return m


def progress_listener():
    """A StreamingQueryListener that keeps every progress report as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.items: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.items.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def traced(cache: str, run_dir: str, wl_cls, args, untraced_rate: float):
    """The traced measurement: a session with the event log on, the progress
    listener and spans, the timed loop, the layer probes, and the event log
    parsed once the session has stopped. Returns (samples, probe lakes ok,
    per-layer metrics, notes)."""
    from perfbench import host, layers
    from perfbench.inputs import ensure_inputs
    from perfbench.spans import Tracer, parse_event_log, parse_progress
    from perfbench.workloads import Ctx

    elog = os.path.join(run_dir, "eventlog")
    spark = host.build_session(run_dir, shuffle_partitions=wl_cls.partitions, event_log=elog)
    inputs = ensure_inputs(spark, cache, wl_cls.name, wl_cls.shape, args.seed)
    listener = progress_listener()
    spark.streams.addListener(listener)
    tracer = Tracer(True)
    wl, s, _, _ = measure(Ctx(spark, inputs, run_dir, tracer), wl_cls, args.seconds, setup_reps=0)
    amp = layers.space_amp(wl.last_lake)
    probe, probe_ok = layers.probe(wl, wl.fresh_engines(), tracer)
    spark.streams.removeListener(listener)
    progress = parse_progress(listener.items, s.windows)
    spark.stop()  # flushes the event log
    lines: list[str] = []
    for fn in sorted(os.listdir(elog)):
        with open(os.path.join(elog, fn)) as f:
            lines.extend(f)
    event = parse_event_log(lines, s.windows, scan_path=inputs.wal)
    metrics = per_layer(wl, s, untraced_rate, probe, event, progress, host.host_cores(), amp)
    tdir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(tdir, exist_ok=True)
    tracer.dump(os.path.join(tdir, f"{wl_cls.name}-seed{args.seed}-{tracer.run_id}.json"))
    notes = ["span self-time s: " + json.dumps(
        {k: round(v, 3) for k, v in sorted(tracer.self_times().items())}
    )]
    return s, probe_ok, metrics, notes


def recorded_rates(path: str) -> list[float]:
    """events_per_s of the correct untraced runs recorded in ``path``."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line)["events_per_s"] for line in f if line.strip()]


def run(args, cache: str, run_dir: str) -> tuple[bool, int, int, dict, dict, list[str]]:
    """Returns (correct, attempted, failed, metrics, units, notes).

    A traced run compares its events/s with the untraced runs this checkout
    recorded for the workload. With none recorded it first makes the
    untraced measurement itself, in the same JVM, which leaves the traced
    half with a warmer JIT than an untraced run has."""
    from perfbench import host
    from perfbench.inputs import ensure_inputs
    from perfbench.spans import Tracer, median
    from perfbench.workloads import WORKLOADS, Ctx

    wl_cls = WORKLOADS[args.workload]
    results = os.path.join(ROOT, ".perfbench", "results", f"{wl_cls.name}.jsonl")
    reference = recorded_rates(results) if args.trace else []
    h0 = host.host_snapshot()
    spark = None
    correct, notes = True, []
    try:
        if reference:
            notes.append(f"overhead reference: median of {len(reference)} recorded untraced runs")
        else:
            t0 = time.perf_counter()
            spark = host.build_session(run_dir, shuffle_partitions=wl_cls.partitions)
            session_s = time.perf_counter() - t0
            inputs = ensure_inputs(spark, cache, wl_cls.name, wl_cls.shape, args.seed)
            log(f"{wl_cls.name}: {inputs.n_events} events in {len(inputs.segments)} segments")
            _, s, setup, peak = measure(
                Ctx(spark, inputs, run_dir, Tracer(False)), wl_cls, args.seconds, SETUP_REPS
            )
            spark.stop()
            spark = None
            correct = s.failed == 0
            metrics, notes = end_to_end(s, session_s + sorted(setup)[len(setup) // 2], peak)
            units = END_TO_END
            notes.append(f"setup_s: session {session_s:.3f} s + median of engine set-ups "
                         + json.dumps([round(x, 3) for x in setup]))
            reference = [metrics["events_per_s"]]
            if args.trace:
                notes.append("overhead reference: this run's untraced half")
            elif correct:
                os.makedirs(os.path.dirname(results), exist_ok=True)
                with open(results, "a") as f:
                    f.write(json.dumps({"seed": args.seed, "events_per_s": reference[0]}) + "\n")
        if args.trace:
            s, probe_ok, metrics, more = traced(cache, run_dir, wl_cls, args, median(reference))
            correct = correct and probe_ok and s.failed == 0
            units = PER_LAYER
            notes += more
        notes.append("host: " + json.dumps(host.host_diagnostics(h0, host.host_snapshot())))
    finally:
        host.shutdown(spark)
    attempted = max(s.attempted, 1)
    failed = s.failed if correct else attempted
    return correct, attempted, failed, metrics, units, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    # The script's own directory must not shadow stdlib modules; the checkout
    # root carries the engine, its oracle and this package.
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(os.path.abspath(__file__))]
    sys.path.insert(0, ROOT)
    try:
        import debezium_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        log(f"engine sources not importable from {ROOT}: {e}")
        return 2
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    cache, run_dir = host.prepare_dirs(ROOT)
    try:
        correct, attempted, failed, metrics, units, notes = run(args, cache, run_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, unit in units.items():
        print(f"{name} = {metrics[name]:.6g} {unit}")
    for n in notes:
        print(n)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
