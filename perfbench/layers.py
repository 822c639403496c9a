"""Per-layer metrics of a traced run (``--trace 1``).

Sources, by layer:
- Spark engine and the Python UDF boundary: the run's event log
  (uncompressed, not rolling), parsed with the stdlib. Jobs, stages,
  tasks and SQL executions are attributed to a pass by time: a job
  belongs to the pass its submission falls in. ``pyudf.*`` are the
  totals of the Python exec nodes' SQL metrics as Spark reports them
  (summed over tasks; a reused worker's start and init times can
  exceed the task's own duration).
- ``spark.plan_ms``: ``queryExecution().tracker().phases()`` of each
  query's DataFrame (extraction: of ``extraction_plan`` over the same
  input, which is the plan ``run_extraction`` writes).
- ``kernels`` / ``operators.extract``: a sample of the workload's own
  documents run single-process through ``kernels.extract_document`` and
  through ``extract_udf.func`` on Arrow-sized batches.
- ``streaming.ingest`` (probed in the ``extract_batch`` run): one
  ``run_available_now`` drain of a 16-file corpus, observed by a
  ``StreamingQueryListener``; its output is checked like a batch pass.
- ``operators.dedup_index`` (probed in the ``extract_batch`` run): index
  build time, and the delta queries q66/q71/q75 and their recompute
  twins q22/q64 timed once each over the seed's contract-table copy
  and checked against their oracle digests.
- ``plans.curate`` legs (probed in the ``curate`` run): each public leg
  function timed as a noop write over the narrow projection.

Every metric in ``PER_LAYER`` is reported by every workload. A metric
whose layer the workload's run does not probe reads 0 and is listed,
with the reason, under ``absent`` in the trace file.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from workloads import part_files

PER_LAYER = (
    "session.build_s", "session.warm_s",
    "kernels.html_docs_per_core_s", "kernels.pdf_docs_per_core_s", "kernels.busy_s",
    "extract_udf.wrap_s", "extract.parallel_efficiency",
    "sources.scan_s", "sources.input_mb",
    "snapshot_table.files_written", "snapshot_table.write_amp", "snapshot_table.commit_s",
    "stream.microbatches", "stream.batch_p50_s", "stream.batch_max_s", "stream.plan_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.files_written",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
    "spark.run_s", "spark.cpu_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.task_skew", "spark.plan_ms", "spark.driver_s",
    "pyudf.boot_s", "pyudf.run_s", "pyudf.to_python_mb", "pyudf.from_python_mb",
    "leg.quality_s", "leg.exact_dedup_s", "leg.minhash_lsh_s", "leg.contamination_s",
    "leg.granule_s", "leg.embedding_lsh_s", "leg.span_dedup_s", "leg.lm_perplexity_s",
    "curate.q79_s", "leg.sum_over_query",
    "cache.rdds_after", "cache.mb_after",
    "delta.q66_s", "delta.q71_s", "delta.q75_s", "delta.index_build_s",
    "delta.q71_over_q22", "delta.q75_over_q64",
    "trace.wall_s", "trace.span_coverage",
)

UNITS = {
    "docs_per_core_s": "1/s", "parallel_efficiency": "ratio", "write_amp": "ratio",
    "task_skew": "ratio", "sum_over_query": "ratio", "over_q22": "ratio",
    "over_q64": "ratio", "span_coverage": "ratio", "mb_after": "MiB",
}

MB = 1024 * 1024


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    for suffix, unit in (("_ms", "ms"), ("_mb", "MiB"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def plan_phases_ms(df) -> float:
    """analysis + optimization + planning, from the QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def cache_state(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / MB
    return n, mb


def after_pass(wl, spark, result: dict) -> dict:
    """Layer state right after a traced pass (outside its timed region)."""
    out: dict = {}
    out["cache.rdds_after"], out["cache.mb_after"] = cache_state(spark)
    if wl.kind == "extract":
        from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

        files = part_files(result["out"])
        out["files_written"] = len(files)
        out["write_amp"] = sum(os.path.getsize(f) for f in files) / wl.input_bytes
        rows = SnapshotTable(result["out"]).lineage()
        out["commit_s"] = max((r["commit_elapsed_sec"] for r in rows), default=0.0)
    else:
        out["query_s"] = result["query_s"]
        out["plan_ms"] = sum(plan_phases_ms(df) for df in result["dfs"].values())
    return out


def kernel_layer(wl, sample_files: int = 2) -> dict:
    """Single-process kernel and UDF-wrapper time on the first
    ``sample_files`` part files of the workload's corpus, batched per
    file the way Arrow batches a scan task; ``kernels.busy_s`` scales the
    sample's kernel time to the whole corpus."""
    import pandas as pd
    import pyarrow.parquet as pq

    from ai_pdf_extraction_spark.kernels import extract_document
    from ai_pdf_extraction_spark.operators.extract import extract_udf
    from ai_pdf_extraction_spark.session import (
        ARROW_MAX_BYTES_PER_BATCH,
        ARROW_MAX_RECORDS_PER_BATCH,
    )

    busy = {"html": 0.0, "pdf": 0.0}
    count = {"html": 0, "pdf": 0}
    batches: list[list[bytes]] = []
    for part in part_files(wl.input)[:sample_files]:
        docs = pq.read_table(part, columns=["html"]).column("html").to_pylist()
        batch, size = [], 0
        for raw in docs:
            raw = raw or b""
            kind = "pdf" if raw[:4] == b"%PDF" else "html"
            t0 = time.perf_counter()
            extract_document(raw)
            busy[kind] += time.perf_counter() - t0
            count[kind] += 1
            if batch and (len(batch) >= ARROW_MAX_RECORDS_PER_BATCH or size + len(raw) > ARROW_MAX_BYTES_PER_BATCH):
                batches.append(batch)
                batch, size = [], 0
            batch.append(raw)
            size += len(raw)
        if batch:
            batches.append(batch)
    t0 = time.perf_counter()
    for batch in batches:
        extract_udf.func(pd.Series(batch))
    udf_s = time.perf_counter() - t0
    busy_s = busy["html"] + busy["pdf"]
    sampled = count["html"] + count["pdf"]
    return {
        "kernels.html_docs_per_core_s": count["html"] / busy["html"] if busy["html"] else 0.0,
        "kernels.pdf_docs_per_core_s": count["pdf"] / busy["pdf"] if busy["pdf"] else 0.0,
        "kernels.busy_s": busy_s * wl.n_docs / sampled,
        "extract_udf.wrap_s": (udf_s - busy_s) * wl.n_docs / sampled,
        "kernels.sampled_docs": sampled,
        "kernels.arrow_batches": len(batches),
    }


def stream_layer(spark, seed: int, workers: int, run_dir: str, span) -> dict:
    """One ``run_available_now`` drain over a 16-file corpus (two
    micro-batches of ``maxFilesPerTrigger=8``), after an untimed drain
    of one file that warms the file source; the output is checked."""
    import shutil

    from ai_pdf_extraction_spark.streaming.ingest import run_available_now
    from pyspark.sql.streaming import StreamingQueryListener

    from workloads import extraction_ok, prepare_corpus

    n_docs = 1000
    corpus, digest = prepare_corpus(n_docs, seed, 16, workers)

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    warm_in = os.path.join(run_dir, "stream-warm-in")
    os.makedirs(warm_in)
    shutil.copy(part_files(corpus)[0], warm_in)
    run_available_now(spark, warm_in, os.path.join(run_dir, "stream-warm"),
                      os.path.join(run_dir, "stream-warm-ck"))
    listener = Progress()
    spark.streams.addListener(listener)
    out = os.path.join(run_dir, "stream-out")
    with span("streaming.ingest.run_available_now"):
        wall = timed(lambda: run_available_now(spark, corpus, out, os.path.join(run_dir, "stream-ck")))
    # progress events reach Python asynchronously after the drain
    # returns: wait until no new one arrives for 0.3 s
    seen, deadline = -1, time.time() + 10
    while len(listener.batches) != seen and time.time() < deadline:
        seen = len(listener.batches)
        time.sleep(0.3)
    spark.streams.removeListener(listener)
    batches = listener.batches
    trig = [b.get("triggerExecution", 0) / 1e3 for b in batches]
    total = lambda *keys: float(sum(b.get(k, 0) for b in batches for k in keys))
    return {
        "stream.microbatches": len(batches),
        "stream.batch_p50_s": median(trig),
        "stream.batch_max_s": max(trig, default=0.0),
        "stream.plan_ms": total("queryPlanning"),
        "stream.add_batch_ms": total("addBatch"),
        "stream.wal_commit_ms": total("walCommit", "commitOffsets"),
        "stream.files_written": len(part_files(out)),
        "stream.wall_s": wall,
        "stream.docs": n_docs,
        "stream.correct": extraction_ok(spark.read.parquet(out), n_docs, digest),
    }


def curate_legs(spark, sf_dir: str) -> dict:
    """Each ``plans.curate`` leg alone over the narrow projection, with
    the knobs q73/q79 pass."""
    from pyspark.sql import functions as F

    from ai_pdf_extraction_spark.operators.dedup import (
        contamination_flags,
        embedding_near_dup_pairs_lsh,
        exact_dedup,
        granule_dedup,
        minhash_lsh_pairs,
    )
    from ai_pdf_extraction_spark.operators.lm import lm_perplexity
    from ai_pdf_extraction_spark.operators.span_dedup import span_dedup
    from ai_pdf_extraction_spark.operators.text_analysis import quality_score, token_count

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    narrow = docs.select("doc_id", "lang", "text").persist()
    narrow.count()
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(F.col("doc_id").alias("bench_id"), "text")
    legs = {
        "quality": lambda: narrow.select("doc_id", quality_score("text"), token_count("text")),
        "exact_dedup": lambda: exact_dedup(narrow),
        "minhash_lsh": lambda: minhash_lsh_pairs(narrow, n=3, k=12, bands=4, threshold=0.8),
        "contamination": lambda: contamination_flags(narrow, bench, n=3),
        "granule": lambda: granule_dedup(narrow),
        "embedding_lsh": lambda: embedding_near_dup_pairs_lsh(emb, threshold=0.45, n_planes=8, dim=64),
        "span_dedup": lambda: span_dedup(narrow, k=8),
        "lm_perplexity": lambda: lm_perplexity(narrow),
    }
    out = {f"leg.{name}_s": timed(lambda f=fn: noop_write(f())) for name, fn in legs.items()}
    narrow.unpersist()
    return out


def delta_layer(spark, sf_dir: str, golden: dict) -> dict:
    """Index build, then the delta queries and their recompute twins,
    each run once, timed to a complete result and checked."""
    from pyspark.sql import functions as F

    import __spark_entry__
    from ai_pdf_extraction_spark.operators.dedup_index import (
        index_fingerprints,
        live_index_relations,
    )
    from digest import frame_digest

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # q66/q71's index side: the documents with doc_id % 4 != 0
    old = docs.filter(F.col("doc_id") % 4 != 0).select("doc_id", "text")

    def build():
        noop_write(index_fingerprints(old))
        sigs, hot = live_index_relations(old)
        noop_write(sigs)
        if hot is not None:
            noop_write(hot)

    out = {"delta.index_build_s": timed(build)}
    fns = __spark_entry__.queries()
    short = {"q66_exact_dedup_delta": "q66", "q71_minhash_lsh_delta": "q71",
             "q75_embedding_near_dup_delta": "q75", "q22_minhash_lsh_pairs": "q22",
             "q64_embedding_near_dup_lsh": "q64"}
    for q, tag in short.items():
        t0 = time.perf_counter()
        frame = fns[q](spark, sf_dir).toPandas()
        out[f"delta.{tag}_s"] = time.perf_counter() - t0
        out[f"delta.{tag}.correct"] = golden[q] == frame_digest(frame)
    out["delta.q71_over_q22"] = out["delta.q71_s"] / out["delta.q22_s"]
    out["delta.q75_over_q64"] = out["delta.q75_s"] / out["delta.q64_s"]
    return out


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def parse_event_log(path: str, intervals: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Engine and Python-boundary totals per pass. ``intervals`` maps a
    pass id to its (start, end) in epoch seconds."""

    def owner(t_ms: float) -> str | None:
        for pid, (t0, t1) in intervals.items():
            if t0 * 1000 <= t_ms <= t1 * 1000:
                return pid
        return None

    jobs: dict[int, dict] = {}
    stage_pass: dict[int, str] = {}
    sql_pass: dict[int, str] = {}
    sql_plan: dict[int, dict] = {}
    acc_kind: dict[int, tuple[str, str]] = {}
    per = {
        p: {"jobs": 0, "stages": set(), "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_w": 0, "shuffle_r": 0, "spill": 0, "task_ms": {}, "py": {}, "job_iv": []}
        for p in intervals
    }
    task_acc: list[tuple[str, int, int]] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                p = owner(ev["Submission Time"])
                jobs[ev["Job ID"]] = {"pass": p, "start": ev["Submission Time"]}
                if p:
                    per[p]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_pass[sid] = p
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j and j["pass"]:
                    per[j["pass"]]["job_iv"].append((j["start"], ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                p = stage_pass.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if not p or not m:
                    continue
                d, info = per[p], ev["Task Info"]
                d["stages"].add(ev["Stage ID"])
                d["tasks"] += 1
                d["run_ms"] += m["Executor Run Time"]
                d["cpu_ns"] += m["Executor CPU Time"]
                d["gc_ms"] += m["JVM GC Time"]
                d["shuffle_w"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                r = m["Shuffle Read Metrics"]
                d["shuffle_r"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
                d["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                d["task_ms"].setdefault(ev["Stage ID"], []).append(info["Finish Time"] - info["Launch Time"])
                for acc in info.get("Accumulables", ()):
                    if isinstance(acc.get("Update"), (int, str)):
                        task_acc.append((p, acc["ID"], int(acc["Update"])))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql_pass[ev["executionId"]] = owner(ev["time"])
                sql_plan[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                sql_plan[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev["sqlPlanMetrics"]:
                    acc_kind[m["accumulatorId"]] = (m["name"], m["metricType"])
    for info in sql_plan.values():
        for node in _plan_nodes(info):
            for m in node.get("metrics", ()):
                acc_kind[m["accumulatorId"]] = (m["name"], m["metricType"])
    exchanges = {p: 0 for p in intervals}
    for eid, info in sql_plan.items():
        p = sql_pass.get(eid)
        if p:
            exchanges[p] += sum(
                n["nodeName"] in ("Exchange", "BroadcastExchange") for n in _plan_nodes(info)
            )
    for p, acc_id, upd in task_acc:
        name, mtype = acc_kind.get(acc_id, ("", ""))
        if "Python workers" in name:
            scale = {"nsTiming": 1e-9, "timing": 1e-3, "size": 1 / MB}.get(mtype, 1.0)
            per[p]["py"][name] = per[p]["py"].get(name, 0.0) + upd * scale
    out = {}
    for p, d in per.items():
        t0, t1 = intervals[p]
        skews = [
            max(ts) / statistics.median(ts)
            for ts in d["task_ms"].values()
            if len(ts) >= 2 and statistics.median(ts) > 0
        ]
        py = d["py"]
        out[p] = {
            "spark.jobs": d["jobs"],
            "spark.stages": len(d["stages"]),
            "spark.tasks": d["tasks"],
            "spark.exchanges": exchanges[p],
            "spark.run_s": d["run_ms"] / 1e3,
            "spark.cpu_s": d["cpu_ns"] / 1e9,
            "spark.gc_s": d["gc_ms"] / 1e3,
            "spark.shuffle_write_mb": d["shuffle_w"] / MB,
            "spark.shuffle_read_mb": d["shuffle_r"] / MB,
            "spark.spill_mb": d["spill"] / MB,
            "spark.task_skew": max(skews, default=1.0),
            "spark.driver_s": (t1 - t0) - _union_s(d["job_iv"]),
            "pyudf.boot_s": py.get("time to start Python workers", 0.0)
            + py.get("time to initialize Python workers", 0.0),
            "pyudf.run_s": py.get("time to run Python workers", 0.0),
            "pyudf.to_python_mb": py.get("data sent to Python workers", 0.0),
            "pyudf.from_python_mb": py.get("data returned from Python workers", 0.0),
        }
    return out


def _union_s(intervals_ms: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals_ms):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def span_coverage(spans: list[dict], pass_span: dict) -> float:
    """Share of a pass's wall time covered by its child spans."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == pass_span["id"]]
    wall = pass_span["end"] - pass_span["start"]
    return _union_s([(a * 1e3, b * 1e3) for a, b in kids]) / wall if wall > 0 else 0.0


class TracedRun:
    """Layer probes of one traced run: per-pass state through
    ``after_pass`` and post-pass probes through ``probe`` (both while
    the session is up); ``finish`` adds the event log after it stops."""

    def __init__(self, wl, spark, tracer, cores: int, seed: int, run_dir: str) -> None:
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.cores, self.seed, self.run_dir = cores, seed, run_dir
        self.probes: dict = {}

    def after_pass(self, result: dict) -> dict:
        return after_pass(self.wl, self.spark, result)

    def probe(self) -> None:
        wl, spark, span = self.wl, self.spark, self.tracer.span
        self.tracer.pass_id = "probe"
        if wl.kind == "extract":
            inputs = [wl.input]
        else:
            inputs = [os.path.join(wl.sf_dir, f"{t}.parquet") for t in ("documents", "embeddings")]
        with span("sources.scan"):
            self.probes["sources.scan_s"] = timed(
                lambda: [noop_write(spark.read.parquet(p)) for p in inputs]
            )
        if wl.kind == "extract":
            from ai_pdf_extraction_spark.plans.pipeline import extraction_plan

            plan = extraction_plan(spark.read.parquet(wl.input), "plan-probe", wl.n_buckets)
            plan._jdf.queryExecution().executedPlan()
            self.probes["spark.plan_ms"] = plan_phases_ms(plan)
            with span("kernels.extract_document"):
                self.probes.update(kernel_layer(wl))
            with span("streaming.ingest"):
                self.probes.update(stream_layer(spark, self.seed, self.cores, self.run_dir, span))
            # here rather than in the curate run, whose traced run is
            # already the longer of the two
            from workloads import ContractQueries

            contract = ContractQueries("delta", ())
            contract.prepare(self.seed, self.cores)
            with span("operators.dedup_index"):
                self.probes.update(delta_layer(spark, contract.sf_dir, contract.golden))
        else:
            with span("plans.curate.legs"):
                self.probes.update(curate_legs(spark, wl.sf_dir))
        self.tracer.pass_id = None

    def probes_ok(self) -> bool:
        """Every output check a probe made passed."""
        return all(v for k, v in self.probes.items() if k.endswith("correct"))


ABSENT = {
    "extract": {
        ("leg.", "curate."): "curation legs are probed in the curate run",
    },
    "queries": {
        ("delta.",): "the dedup index is probed in the extract_batch run",
        ("kernels.", "extract_udf.", "extract."): "no extraction kernel runs in the curate workload",
        ("snapshot_table.",): "no SnapshotTable is written in the curate workload",
        ("stream.",): "streaming ingest is probed in the extract_batch run",
        ("session.warm_s",): "the curate workload makes no warm pass (run budget)",
    },
}


def finish(run: TracedRun, seed: int, build_s: float, warm: dict, passes: list[dict], e2e: dict) -> dict:
    """All per-layer metrics of the run; writes the trace file."""
    from workloads import WORK

    wl, pr = run.wl, run.probes
    log_dir = os.path.join(run.run_dir, "eventlog")
    engine = parse_event_log(
        os.path.join(log_dir, os.listdir(log_dir)[0]), {p["pass"]: p["t"] for p in passes}
    )
    lay = [p.get("layers", {}) for p in passes]
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m["session.build_s"] = build_s
    m["session.warm_s"] = warm["wall_s"] if warm else 0.0
    for k in engine[passes[0]["pass"]]:
        m[k] = median([engine[p["pass"]][k] for p in passes])
    m["sources.input_mb"] = wl.input_bytes / MB
    m["cache.rdds_after"], m["cache.mb_after"] = lay[-1]["cache.rdds_after"], lay[-1]["cache.mb_after"]
    for k, v in pr.items():
        if k in m:
            m[k] = v
    if wl.kind == "extract":
        if pr.get("kernels.busy_s"):
            kernel_rate = wl.n_docs / pr["kernels.busy_s"]
            m["extract.parallel_efficiency"] = e2e["docs_per_s"] / (run.cores * kernel_rate)
        m["snapshot_table.files_written"] = median([l["files_written"] for l in lay])
        m["snapshot_table.write_amp"] = median([l["write_amp"] for l in lay])
        m["snapshot_table.commit_s"] = median([l["commit_s"] for l in lay])
    else:
        m["spark.plan_ms"] = median([l["plan_ms"] for l in lay])
        m["curate.q79_s"] = median([l["query_s"]["q79_curated_corpus_v5"] for l in lay])
        m["leg.sum_over_query"] = sum(v for k, v in pr.items() if k.startswith("leg.")) / m["curate.q79_s"]
    spans = run.tracer.spans
    pass_spans = [s for s in spans if s["name"] == "pass" and s["pass"] in engine]
    m["trace.wall_s"] = e2e["wall_s"]
    m["trace.span_coverage"] = min(span_coverage(spans, s) for s in pass_spans)

    absent = {
        k: reason for k in PER_LAYER
        for prefixes, reason in ABSENT[wl.kind].items() if k.startswith(prefixes)
    }
    overhead = None
    untraced = os.path.join(WORK, "untraced", f"{wl.name}.jsonl")
    if os.path.exists(untraced):
        with open(untraced) as fh:
            overhead = e2e["wall_s"] - median([json.loads(line)["wall_s"] for line in fh])
    path = os.path.join(WORK, "traces", f"{wl.name}-s{seed}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({
            "workload": wl.name, "seed": seed, "cores": run.cores, "end_to_end": e2e,
            "tracing_overhead_s": overhead, "metrics": m, "absent": absent, "probes": pr,
            "passes": passes, "engine": engine, "spans": spans,
        }, fh, indent=1, default=str)
    print(f"  trace: {os.path.relpath(path)}")
    print("  tracing overhead (traced wall_s - median untraced wall_s in this checkout): "
          + (f"{overhead:+.4f} s" if overhead is not None else "no untraced run yet"))
    for k in PER_LAYER:
        note = f"  (absent: {absent[k]})" if k in absent else ""
        print(f"  {k:<30} {m[k]:>12.4f} {unit_of(k)}{note}")
    return {k: {"value": m[k], "unit": unit_of(k)} for k in PER_LAYER}
