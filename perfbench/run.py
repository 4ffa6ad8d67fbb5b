#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in this process on ``local[nproc]`` against inputs made
from ``--seed``, checks the outputs, and prints as its last line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace
0`` the metrics are the end-to-end ones. With ``--trace 1`` the workload
runs traced (Spark event log, spans, job groups) and the metrics are the
per-layer ones; the tracing overhead is taken against the untraced run of
the same workload, seed, ``--seconds`` and code kept in
``.perfbench/results/``, which the traced run makes after its own if
there is none.

Everything the run writes stays under ``.perfbench/`` in the checkout.
The run's scratch directory is removed at exit; its report, and for a
traced run the per-layer table and spans, are kept in
``.perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("queries", "ingest_search")

END_TO_END = {"setup_s": "s", "op_cpu_ms": "ms", "op_cpu_p50_ms": "ms"}
# A run during which the hypervisor stole more than this share of the
# host's CPU is flagged in its report: its figures read high, CPU per
# operation included (the same work costs more CPU time on a busy host).
STEAL_MAX_PCT = 5.0
# A traced run makes the untraced run it is compared with only if that
# fits before this many seconds after the traced run's start, and stops it
# then, so that both end within the 180 s a run may take.
TRACED_DEADLINE_S = 165
# how long a stopped child run may take to stop its JVM before it is killed
STOP_GRACE_S = 10
# what each per-layer metric should move: the end-to-end metric (and the
# wall-clock figure beside it) on a workload
Q_MEAN = "op_cpu_ms (wall: op_mean_ms), queries"
Q_P50 = "op_cpu_p50_ms (wall: op_p50_ms), queries"
I_MEAN = "op_cpu_ms (wall: op_mean_ms), ingest_search"
I_P50 = "op_cpu_p50_ms (wall: op_p50_ms), ingest_search"
# name -> (unit, better, the end-to-end metric and workload it should move)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s, every workload"),
    "jvm.jit_cpu_s": ("s", "lower",
                      "wall latency (not in op_cpu_*), every workload"),
    "operators.build_s": ("s", "lower", Q_MEAN),
    "operators.build_jobs": ("count", "lower", Q_MEAN),
    "operators.build_share": ("share", "lower", Q_MEAN),
    "operators.exec_s": ("s", "lower", Q_P50),
    "operators.stages": ("count", "lower", Q_P50),
    "operators.tasks": ("count", "lower", Q_P50),
    "operators.single_task_stage_share": ("share", "lower", Q_P50),
    "operators.task_cpu_s": ("s", "lower", Q_MEAN),
    "operators.cpu_per_wall": ("share", "higher", Q_MEAN),
    "operators.shuffle_write_mb": ("MB", "lower", Q_MEAN),
    "operators.spill_mb": ("MB", "lower", Q_MEAN),
    "operators.exec_warm_s": ("s", "lower", Q_MEAN),
    "light.build_share": ("share", "lower", Q_P50),
    "heavy.build_share": ("share", "lower", Q_MEAN),
    "cache.hit_ratio": ("share", "higher", I_P50),
    "cache.hit_ms": ("ms", "lower", I_P50),
    "cache.miss_ms": ("ms", "lower", I_P50),
    "silver.build_ms": ("ms", "lower", I_P50),
    "search.exec_ms": ("ms", "lower", I_P50),
    "stream.batches": ("count", "lower", I_P50),
    "stream.add_batch_ms": ("ms", "lower", I_P50),
    "stream.trigger_overhead_ms": ("ms", "lower", I_P50),
    "bronze.files": ("count", "lower", I_P50),
    "bronze.mb": ("MB", "lower", I_P50),
    "ingest.quarantined": ("share", "higher", "correct, ingest_search"),
    "query_total_s": ("s", "lower", Q_MEAN),
    "query_p50_s": ("s", "lower", Q_P50),
    "search_p50_ms": ("ms", "lower", I_P50),
    "freshness_p50_s": ("s", "lower", I_P50),
    "ingest_records_per_s": ("1/s", "higher", I_MEAN),
    "failed_ratio": ("share", "lower", "correct, every workload"),
    "op_p50_ms": ("ms", "lower", "wall latency, every workload"),
    "op_mean_ms": ("ms", "lower", "wall latency, every workload"),
    "peak_rss_mb": ("MB", "lower", "memory, every workload"),
    "trace.overhead_ms": ("ms", "lower", "op_cpu_ms, every workload"),
    "trace.overhead_share": ("share", "lower", "op_cpu_ms, every workload"),
}
# workload-level figures repeated in the per-layer set (their tails are in
# the report, and null while fewer than ten samples lie beyond them)
FIGURES = ("query_total_s", "query_p50_s", "search_p50_ms",
           "freshness_p50_s", "ingest_records_per_s")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _contain(work: str) -> None:
    """Point every temp/scratch location of Python, Spark and the JVM at
    the run's own directory inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None


def code_id() -> str:
    """Digest of the engine's and the benchmark's Python sources, so a
    report can be matched to the code that made it (the checkout need not
    be a git repository)."""
    h = hashlib.sha256()
    for top in ("data_ingestion_system_spark", "perfbench"):
        for dp, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(dp, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def _phase(h, args, tracer, fixture: str | None):
    """The measured pass of the workload on the session; returns (result,
    stream start seconds)."""
    from perfbench import workloads as w

    if args.workload != "ingest_search":
        return w.run_queries(h, args.seconds, tracer, fixture), 0.0
    ing = w.Ingest(h, w.IngestDirs(os.path.join(h.work, "ingest")))
    try:
        started = ing.start()
        return w.run_ingest(ing, args.seed, args.seconds, tracer), started
    finally:
        ing.stop()


def main(argv=None) -> int:
    args = _args(argv)
    started = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import data_ingestion_system_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: engine sources missing from the checkout: {ex}",
              file=sys.stderr)
        return 2
    from perfbench import stats, workloads
    from perfbench.harness import Harness
    from perfbench.trace import Tracer

    # a terminated run still stops its JVM and child processes and
    # removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    code = code_id()
    env = dict(os.environ)
    work = os.path.join(OUT, f"run-{os.getpid()}")
    _contain(work)
    steal = stats.StealMeter()
    h = Harness(work, event_dir=os.path.join(work, "events")
                if args.trace else None)
    tracer = Tracer(bool(args.trace))
    try:
        t0 = time.perf_counter()
        fixture = None
        if args.workload != "ingest_search":
            fixture = workloads.build_fixture(work, args.seed)
        fixture_s = time.perf_counter() - t0
        h.start()
        res, stream_start = _phase(h, args, tracer, fixture)
        setup_s = (fixture_s + h.session_start_s + stream_start
                   + res.warmup_s)
        facts = h.host_facts()
        peak = h.peak_rss_mb()
        if args.trace:
            workloads.operator_layers(h, res)
    finally:
        try:
            h.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    cpu = sum(res.cpu_ms) / max(1, len(res.cpu_ms))
    e2e = {"setup_s": setup_s, "op_cpu_ms": cpu,
           "op_cpu_p50_ms": stats.median(res.cpu_ms)}
    wall = {"op_p50_ms": stats.median(res.ops_ms),
            "op_mean_ms": sum(res.ops_ms) / max(1, len(res.ops_ms)),
            "op_jit_cpu_ms": sum(res.jit_ms) / max(1, len(res.jit_ms))}
    steal_pct = steal.pct()
    if steal_pct > STEAL_MAX_PCT:
        print(f"perfbench: {steal_pct}% of the CPU was stolen during the "
              f"run (over {STEAL_MAX_PCT}%); its figures read high",
              file=sys.stderr)
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "code": code,
              "ops": len(res.ops_ms), "ops_ms": res.ops_ms,
              "ops_cpu_ms": res.cpu_ms, **facts, "steal_pct": steal_pct,
              "steal_high": steal_pct > STEAL_MAX_PCT, "fixture_s": fixture_s,
              "session_start_s": h.session_start_s,
              "warmup_s": res.warmup_s, "stream_start_s": stream_start,
              "failed_ratio": res.failed / max(1, res.attempted),
              "peak_rss_mb": peak, "failures": res.failures[:20],
              **res.extra,
              **wall, "end_to_end": e2e,
              "wall_s": time.perf_counter() - started}
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
    if args.trace:
        baseline = _untraced_cpu(
            args, results, code, env,
            TRACED_DEADLINE_S - (time.perf_counter() - started),
            report["wall_s"])
        layers = _per_layer(h, res, cpu, baseline, peak)
        layers.update(op_p50_ms=wall["op_p50_ms"],
                      op_mean_ms=wall["op_mean_ms"])
        report["untraced_op_cpu_ms"] = baseline
        report["per_layer"] = layers
        report["self_s"] = tracer.self_times()
        tracer.dump(stem + "-spans.jsonl")
        table = _table(args.workload, layers, report["self_s"])
        with open(stem + "-layers.md", "w") as f:
            f.write(table)
        print(table)
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k][0]}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


def _untraced_cpu(args, results: str, code: str, env: dict,
                  seconds_left: float, traced_s: float) -> float | None:
    """``op_cpu_ms`` of the untraced run of the same workload, seed,
    ``--seconds`` and code, kept in ``results``. When there is none, that
    run is made now, in a child process with the environment ``env`` the
    run started with, so both sides are cold runs of the same inputs and
    only the tracing differs. It is made only if the ``traced_s`` the
    traced run took, more than the untraced one takes, fits in
    ``seconds_left``; a child still running after that is stopped. With
    no untraced run there is no baseline."""
    path = os.path.join(results,
                        f"{args.workload}-seed{args.seed}-trace0.json")

    def kept():
        try:
            with open(path) as f:
                r = json.load(f)
        except (OSError, ValueError):
            return None
        if (r.get("code"), r.get("seconds")) != (code, args.seconds):
            return None
        return r["end_to_end"]["op_cpu_ms"]

    if kept() is None and seconds_left > traced_s:
        # its own process group, so its JVM goes with it if it is stopped
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--workload",
             args.workload, "--seed", str(args.seed), "--seconds",
             str(args.seconds), "--trace", "0"],
            cwd=ROOT, env=env, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, start_new_session=True)
        try:
            child.wait(timeout=seconds_left - STOP_GRACE_S)
        except subprocess.TimeoutExpired:
            pass  # no baseline this time
        finally:
            _stop_group(child)
            # left behind if the child had to be killed
            shutil.rmtree(os.path.join(OUT, f"run-{child.pid}"),
                          ignore_errors=True)
    return kept()


def _stop_group(child: subprocess.Popen) -> None:
    """Terminate ``child`` if it still runs (it then stops its JVM), kill
    whatever is left of its process group, and reap it."""
    if child.poll() is None:
        child.terminate()
        try:
            child.wait(timeout=STOP_GRACE_S)
        except subprocess.TimeoutExpired:
            pass
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()


def _per_layer(h, res, traced_cpu: float, untraced_cpu: float | None,
               peak: float) -> dict:
    """Every per-layer metric of a traced run; the tracing overhead is
    against the untraced run (0 when there is none to compare with)."""
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update(res.layers)
    layers.update({k: res.extra.get(k) or 0.0 for k in FIGURES})
    layers.update({
        "session.start_s": h.session_start_s,
        "jvm.jit_cpu_s": sum(res.jit_ms) / 1e3,
        "ingest.quarantined": res.layers.get("ingest.quarantined", 0)
        / max(1, res.extra.get("injected_bad", 0)),
        "failed_ratio": res.failed / max(1, res.attempted),
        "peak_rss_mb": peak,
    })
    if untraced_cpu:
        layers["trace.overhead_ms"] = traced_cpu - untraced_cpu
        layers["trace.overhead_share"] = traced_cpu / untraced_cpu - 1
    return {k: float(v) for k, v in layers.items()}


def _table(workload: str, layers: dict, self_s: dict) -> str:
    rows = [f"# per-layer: {workload}", "",
            "| metric | value | unit | moves |", "|---|---|---|---|"]
    for k, (unit, _better, target) in PER_LAYER.items():
        rows.append(f"| {k} | {layers[k]:.4g} | {unit} | {target} |")
    rows += ["", "| span | self time (s) |", "|---|---|"]
    rows += [f"| {k} | {v:.4g} |" for k, v in sorted(self_s.items())]
    return "\n".join(rows) + "\n"


if __name__ == "__main__":
    sys.exit(main())
