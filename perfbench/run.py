"""The repository benchmark: batch extraction and corpus curation,
measured end to end, with a traced run for the layers.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 10 --trace 0

One run builds a Spark session at ``local[<cores>]`` with
``session.build_session``, makes one untimed warm pass (set-up; the
curate workload skips it, see ``workloads.ContractQueries``), then
makes timed passes until their summed wall time reaches ``--seconds``;
the last pass always completes. Every pass's output is checked outside the
timed region (see ``workloads.py``); a pass that raises or fails its
check counts in ``failed``. The last stdout line is one JSON object:
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` turns on
Spark's event log and benchmark-side spans and reports the per-layer
metrics (``layers.py``), writing the spans and per-pass layer figures
to ``perfbench/_work/traces/``.

End-to-end metrics (median over a run's timed passes):
  setup_s      build_session + the warm pass (inputs and oracle
               digests are made before it and are not counted)
  wall_s       one pass, from input to complete result
  docs_per_s   input documents / wall_s
  cpu_s        CPU of the process tree during a pass (driver, JVM,
               pyspark daemon and Python workers)
  peak_rss_mb  peak resident memory (summed PSS) of that tree in a pass
The failed share of passes is printed as ``failed_ratio``; it is not a
metric because it reads 0 whenever the program is correct.

Workloads (why each exists):
  extract_batch   kernel- and UDF-boundary-heavy, shuffle-light
  curate          q79: shuffle, persist and dedup legs, no kernel
Streaming ingest and the delta dedup queries are probed in the traced
run of extract_batch (see ``layers.py``). As workloads of their own
they would break the run budget: a comparison makes ~50 runs and
should take under an hour, so a run gets about a minute, and on a
4-core host a JVM start alone takes ~10 s.

Every process the run starts (the JVM, the pyspark daemon and its
workers, multiprocessing's helpers) has ended before the run exits,
also after an error or a SIGTERM (``procstat.end_descendants``).

Seeds: extraction corpora come from ``corpus.write_pages_parquet(n,
seed, n_files)``; the curate workload permutes the row order of the
vendored contract tables. Seed 9001 is held out for checking claims.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "docs_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MiB",
}


class Tracer:
    """Benchmark-side spans (name, start, end, parent, pass id), kept in
    memory; recorded only when enabled, always timed."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str):
        """Yields the span record; its ``duration`` (perf_counter
        seconds) is set on exit."""
        s = {
            "id": len(self.spans) + len(self._stack), "name": name, "pass": self.pass_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, "duration": None,
        }
        self._stack.append(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s["duration"] = time.perf_counter() - t0
            s["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                self.spans.append(s)


def _run_pass(wl, spark, tracer: Tracer, run_dir: str, pass_id: str, on_done=None) -> dict:
    """One pass, timed with its tree CPU and peak RSS, then checked."""
    from procstat import PeakRss, tree_cpu_s

    pass_dir = os.path.join(run_dir, pass_id)
    tracer.pass_id = pass_id
    rec = {"pass": pass_id, "ok": True}
    rss = PeakRss().start()
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    with tracer.span("pass") as whole:
        try:
            result = wl.run_pass(spark, pass_dir, pass_id, tracer.span)
        except Exception:
            traceback.print_exc()
            rec["ok"], result = False, None
    rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = tree_cpu_s() - cpu0
    rec["peak_rss_mb"] = rss.stop()
    rec["t"] = (whole["start"], whole["end"])
    tracer.pass_id = None
    if result is not None:
        if on_done is not None:
            rec["layers"] = on_done(result)
        try:
            rec["ok"] = wl.check(spark, result)
        except Exception:
            traceback.print_exc()
            rec["ok"] = False
        if not rec["ok"]:
            print(f"{pass_id}: output check failed", file=sys.stderr)
    shutil.rmtree(pass_dir, ignore_errors=True)
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import ai_pdf_extraction_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORK, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every scratch file of Python, the JVM and Spark in the checkout
    # (-XX:-UsePerfData: no /tmp/hsperfdata_<user> file from either JVM)
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=str(cores), PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    # build_session's 8g default crowds a shared host; 2g holds every
    # workload. The heap is committed and touched up front
    # (AlwaysPreTouch) so the tree's RSS does not hinge on when the
    # heap happened to grow.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    wl.prepare(args.seed, cores)

    run_dir = os.path.join(WORK, "runs", f"{wl.name}-{args.seed}-{os.getpid()}")
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)

    from ai_pdf_extraction_spark.session import build_session

    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.build_session"):
            spark = build_session(
                app_name=f"perfbench-{wl.name}", master=f"local[{cores}]", extra_conf=conf
            )
        spark.sparkContext.setLogLevel("ERROR")
        build_s = time.perf_counter() - t0
        layer_run = None
        if args.trace:
            import layers

            layer_run = layers.TracedRun(wl, spark, tracer, cores, args.seed, run_dir)
        on_done = layer_run.after_pass if layer_run else None
        warm = _run_pass(wl, spark, tracer, run_dir, "warm", on_done) if wl.warm_pass else None
        setup_s = build_s + (warm["wall_s"] if warm else 0.0)
        passes = []
        # the output checks between passes do not count toward the time
        while sum(p["wall_s"] for p in passes) < args.seconds:
            passes.append(_run_pass(wl, spark, tracer, run_dir, f"p{len(passes)}", on_done))
        if layer_run:
            try:
                layer_run.probe()
            except Exception:
                traceback.print_exc()
                layer_run.probes["probe.correct"] = False
    finally:
        if spark is not None:
            stop_spark(spark)

    # a traced run's probes count as one more attempted operation
    checked = ([warm] if warm else []) + passes
    attempted = len(checked) + bool(layer_run)
    failed = sum(not p["ok"] for p in checked)
    if layer_run and not layer_run.probes_ok():
        print("a layer probe failed or its output check failed", file=sys.stderr)
        failed += 1
    walls = [p["wall_s"] for p in passes]
    wall_s = statistics.median(walls)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "docs_per_s": wl.n_docs / wall_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in passes),
    }
    print(f"# {wl.name} seed={args.seed} local[{cores}] docs={wl.n_docs} "
          f"passes={len(passes)} (+{len(checked) - len(passes)} warm) trace={args.trace}")
    for name, unit in END_TO_END.items():
        print(f"  {name:<13} {e2e[name]:>12.4f} {unit}")
    print(f"  {'failed_ratio':<13} {failed / attempted:>12.4f} ({failed}/{attempted} passes)")
    if args.trace:
        metrics = layers.finish(layer_run, args.seed, build_s, warm, passes, e2e)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        record_untraced(WORK, wl.name, e2e)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def record_untraced(work: str, name: str, e2e: dict) -> None:
    """Append the untraced figures so a traced run in the same checkout
    can state its tracing overhead against their median."""
    path = os.path.join(work, "untraced", f"{name}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps(e2e) + "\n")


if __name__ == "__main__":
    from procstat import become_subreaper, end_descendants

    become_subreaper()
    # a SIGTERM unwinds like an exception, so the cleanup below runs
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        code = main()
    finally:
        left = end_descendants()
        if left:
            print(f"had to stop left-over processes {left}", file=sys.stderr)
    raise SystemExit(code)
