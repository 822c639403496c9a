"""Structured Streaming ingestion: continuously-arriving page files →
extraction → parquet sink.

Uses the same logical plan as the batch pipeline (same kernels, same
output schema) over a file-source stream. ``Trigger.AvailableNow``
drains the backlog in bounded micro-batches and stops — the streaming
twin of the resumable batch run; the checkpointLocation gives
exactly-once file processing across restarts (Spark's own WAL replaces
the snapshot-manifest watermark here).

Watermark/event-time note: the reference has no event-time semantics
(SURVEY.md §2.9) — late data doesn't exist for crawl extraction; the
only windowed example is the per-hour rollup, for which
``hourly_counts_stream`` shows the watermarked form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ai_pdf_extraction_spark.persist import release
from ai_pdf_extraction_spark.plans.pipeline import project_extraction

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def extraction_stream(
    spark: SparkSession, input_dir: str, run_id: str, n_buckets: int = 64
) -> DataFrame:
    """Streaming DataFrame with the batch pipeline's output schema —
    the SAME projection function (payload cap, field_confidences,
    truncation warnings included), so the schemas can't drift."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)  # bound micro-batch memory
        .parquet(input_dir)
    )
    return project_extraction(pages, run_id, n_buckets)


def _released(body):
    """A foreachBatch body that releases what its operators persisted
    (``persist.release``) when it ends, so persists do not pile up
    across micro-batches."""

    def run(batch_df: DataFrame, epoch: int) -> None:
        try:
            body(batch_df, epoch)
        finally:
            release()

    return run


def run_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream",
    timeout_sec: int = 300,
) -> None:
    """Drain all currently-available input files and stop. Raises if
    the backlog did not fully drain within ``timeout_sec`` — a partial
    drain must never masquerade as a complete one (the checkpoint makes
    a re-run resume exactly where this one stopped)."""
    stream = extraction_stream(spark, input_dir, run_id)
    query = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("bucket")
        .trigger(availableNow=True)
        .start()
    )
    finished = query.awaitTermination(timeout_sec)
    if not finished:  # pragma: no cover - host-speed dependent
        query.stop()
        raise TimeoutError(
            f"availableNow drain did not finish in {timeout_sec}s; "
            "the checkpoint preserves progress — re-run to resume"
        )


def deduped_pages_stream(
    pages_stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Bounded-state streaming URL dedup: a crawl re-fetches the same
    url within a window; ``dropDuplicatesWithinWatermark`` keeps dedup
    state only inside the event-time watermark, so state is O(window),
    not O(stream). Unbounded exact dedup is impossible over an
    infinite stream — the batch ``exact_dedup`` (q20) is the
    full-corpus form; this is its streaming complement."""
    return pages_stream.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["url"])


_HOST_PROGRESS_STATE = "n bigint"
_HOST_PROGRESS_OUT = "host string, n_docs bigint"


def _host_progress_fn(key, pdf_iter, state):
    """Cumulative per-host doc counter across micro-batches (the
    streaming form of the per-partition lineage metrics): state is one
    bigint per host; each update emits the new running total."""
    import pandas as pd

    n = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"host": [key[0]], "n_docs": [n]})


def host_progress_stream(pages_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``
    (SURVEY.md §2.10): running docs-per-host totals maintained across
    micro-batches — Arrow-batched, grouped state, no per-row Python.
    Output mode must be ``update``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ai_pdf_extraction_spark.plans.partitioning import url_host

    return (
        pages_stream.withColumn("host", url_host("url"))
        .groupBy("host")
        .applyInPandasWithState(
            _host_progress_fn,
            outputStructType=_HOST_PROGRESS_OUT,
            stateStructType=_HOST_PROGRESS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def hourly_counts_stream(pages_stream: DataFrame) -> DataFrame:
    """Watermarked event-time rollup (1h tumbling window on warc_ts,
    10 min allowed lateness) — the streaming form of
    q27_hourly_event_counts."""
    return (
        pages_stream.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), F.col("lang"))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("hour"),
            "lang",
            "n_pages",
        )
    )


def run_frontier_stream(
    spark: SparkSession,
    input_dir: str,
    seen_dir: str,
    frontier_out_dir: str,
    checkpoint_dir: str,
    url_col: str = "url",
    id_col: str = "event_id",
    timeout_sec: int = 300,
    gate=None,
    per_host: int | None = None,
    discover=None,
    input_schema: "StructType | None" = None,
) -> None:
    """Streaming crawl-frontier loop: continuously-arriving url
    batches (parquet files of ``(id, url)`` discoveries) are probed
    against the at-rest seen-set, the ``to_crawl`` frontier rows land
    under ``frontier_out_dir/batch=<epoch>/``, and the same rows are
    appended to the seen-set — so a url discovered in micro-batch N is
    already "seen" for micro-batch N+1. ``Trigger.AvailableNow`` +
    checkpoint, the module's drain-and-stop twin discipline.

    ``gate`` is the streaming seam for the politeness chain
    (``jobs/frontier_job.py`` composes the same operators in batch):
    a callable mapping the per-batch frontier to a gated frontier
    whose ``to_crawl`` column reflects the admission decision — e.g.
    ``lambda fr: robots_filter(url_prefilter(fr, url_col="canon_url",
    ...), rules, url_col="canon_url")`` composed with a ``to_crawl``
    rewrite. Only SCHEDULED urls are appended to the seen-set, so
    every gated-out url resurfaces at its next discovery — policy
    (robots/blocklist) changes are picked up automatically.
    ``per_host`` additionally caps each host's scheduled urls per
    micro-batch (``frontier_host_cap``); deferred urls likewise
    resurface. With a cap the epoch output schema is the capped one:
    ``(canon_url, host, first_id, pick_rank)``.

    ``discover`` closes the loop from EXTRACTION (the q107 /
    ``frontier_job --pages`` shape, streaming): a callable mapping
    each raw micro-batch to its ``(id_col, url_col)`` discoveries —
    e.g. fetched-page files streamed in and
    ``extract_outlinks(batch, passthrough=("doc_id",))`` emitting the
    outlink candidates. Pass ``input_schema`` alongside (the file
    stream needs the explicit page schema). It runs inside the
    foreachBatch AFTER the replay-marker check, so a committed
    epoch's replay never re-extracts.

    The probe/append pair is a foreachBatch: the seen-set manifest
    commit is an external transaction Spark's file-sink WAL cannot
    cover, and the frontier decision for batch N+1 depends on batch
    N's append — a plain streaming join against a static seen relation
    would keep serving the PLAN-TIME snapshot. Replay safety, keyed
    off the epoch output's own ``_SUCCESS`` commit marker (the seen
    manifest's local-FS discipline): if the epoch dir already
    committed, the replay re-runs ONLY the seen-append, idempotently
    (``assume_unseen=False`` anti-joins away urls the crashed run
    already appended). "Empty probe ⇒ no-op" alone cannot cover the
    crash-after-append window once a ``per_host`` cap is in play
    (gate-rejected urls are filtered out of ``to_crawl``, but
    cap-DEFERRED urls are scheduled-later work): cap-deferred urls make the replay probe NON-empty, and
    recomputing would overwrite the epoch's scheduled set with only
    the deferred urls — permanently losing the originals (they are
    already in the seen-set, so they never resurface). A crash BEFORE
    the write (no marker) replays into the same deterministic probe
    and rewrites the epoch dir; a genuinely empty probe stays a
    no-op. At scale each micro-batch probe is the q80 broadcast
    semi — the seen-set is scanned, never shuffled, per batch.
    """
    import os
    from pyspark.sql.types import LongType

    from ai_pdf_extraction_spark.sources.seen_urls import (
        append_seen_set,
        frontier_from_seen_set,
    )

    schema = (
        input_schema
        if input_schema is not None
        else StructType(
            [
                StructField(id_col, LongType(), True),
                StructField(url_col, StringType(), True),
            ]
        )
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def _probe_and_append(batch_df: DataFrame, epoch: int) -> None:
        out_path = f"{frontier_out_dir}/batch={epoch}"
        if os.path.exists(os.path.join(out_path, "_SUCCESS")):
            # replayed epoch whose frontier output already committed:
            # finish (or re-run, idempotently) only the append — see
            # the replay-safety note in the docstring
            append_seen_set(
                spark,
                seen_dir,
                spark.read.parquet(out_path),
                assume_unseen=False,
            )
            return
        if discover is not None:
            batch_df = discover(batch_df)
        fr = frontier_from_seen_set(
            spark, seen_dir, batch_df, url_col=url_col, id_col=id_col
        )
        if gate is not None:
            fr = gate(fr)
        to_crawl = fr.filter("to_crawl")
        if per_host is not None:
            from ai_pdf_extraction_spark.operators.urls import (
                frontier_host_cap,
            )

            to_crawl = frontier_host_cap(to_crawl, per_host=per_host)
        to_crawl = to_crawl.persist()
        try:
            if to_crawl.count() == 0:
                return  # replayed (or genuinely empty) batch: no-op
            (
                to_crawl.write.mode("overwrite")
                .parquet(f"{frontier_out_dir}/batch={epoch}")
            )
            append_seen_set(spark, seen_dir, to_crawl, assume_unseen=True)
        finally:
            to_crawl.unpersist()

    q = (
        stream.writeStream.foreachBatch(_released(_probe_and_append))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    # awaitTermination(timeout) returns a bool and SWALLOWS a
    # foreachBatch failure — surface it, or a crashed probe looks
    # like a clean drain with an empty frontier
    if q.exception() is not None:
        raise q.exception()


def run_dedup_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    accepted_out_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> None:
    """Streaming ingest-time dedup — the content twin of
    :func:`run_frontier_stream`, and the reference's ingest-time
    duplicate rejection (``routers/batches.py:381``: hash each upload
    against the stored hashes, reject matches) run continuously:
    continuously-arriving document files (parquet ``(doc_id, text)``)
    are exact-delta-deduped against the at-rest fingerprint index,
    ACCEPTED docs (not a duplicate of the index or of an earlier row
    in their own batch) land under ``accepted_out_dir/batch=<epoch>/``
    with their dedup verdict columns, and the batch is appended to the
    index — so a doc ingested in micro-batch N rejects its duplicate
    in micro-batch N+1.

    Same replay discipline as the frontier stream: the batch no-ops
    when nothing is accepted. A crash before the append replays into
    the same accepted set (deterministic rewrite); a crash after it
    replays into an all-``in_index`` probe — zero accepted — and
    skipping preserves the epoch output the first attempt wrote. Only
    ACCEPTED rows are appended: each duplicate group's canonical row
    carries the fingerprint into the index, which is all membership
    (the signal driving ``in_index``) needs — rejected rows would only
    inflate group counts.

    Per micro-batch the probe is one fp group-by over the batch plus
    an equi-join against the aggregated index relation (one row per
    distinct fingerprint — ≪ corpus); the old corpus is never
    re-scanned (the ``dedup_index`` contract).
    """
    from pyspark.sql.types import LongType

    from ai_pdf_extraction_spark.operators.dedup_index import (
        append_dedup_index,
        exact_delta_from_index,
        load_dedup_index,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def _dedup_and_append(batch_df: DataFrame, epoch: int) -> None:
        idx = load_dedup_index(spark, index_dir)
        verdicts = exact_delta_from_index(idx, batch_df)
        accepted = (
            batch_df.join(
                verdicts.filter(~F.col("is_dup") & ~F.col("in_index")),
                "doc_id",
            )
            .persist()
        )
        try:
            if accepted.count() == 0:
                return  # replayed (or all-duplicate) batch: no-op
            (
                accepted.write.mode("overwrite")
                .parquet(f"{accepted_out_dir}/batch={epoch}")
            )
            append_dedup_index(spark, index_dir, accepted)
        finally:
            accepted.unpersist()

    q = (
        stream.writeStream.foreachBatch(_released(_dedup_and_append))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.exception() is not None:
        raise q.exception()
