"""Leg-level decomposition of the composed headline plans (q88,
curated-corpus capstones, q71) — guide §1 measurement aid. Times each
leg with a noop sink so the composition overhead is attributable.

Usage: python tools/profile_legs.py {q88|capstone|q71} [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label, fn, n=2):
    best = None
    for _ in range(n):
        t0 = time.monotonic()
        spark.sparkContext.setJobDescription(label)
        fn()
        dt = time.monotonic() - t0
        best = dt if best is None or dt < best else best
    print(f"LEG {label}: {best:.2f}s", flush=True)


def profile_q88(spark, sf_dir):
    import __spark_entry__ as e
    from ai_pdf_extraction_spark.operators.robots import (
        parse_robots,
        robots_filter,
    )
    from ai_pdf_extraction_spark.operators.urls import (
        frontier_host_cap,
        url_prefilter,
    )

    _timed(spark, "q80 collect", lambda: e.q80_url_frontier_delta(spark, sf_dir).collect())
    fr = e.q80_url_frontier_delta(spark, sf_dir).persist()
    _timed(spark, "fr materialize", lambda: fr.count(), n=1)
    pf = url_prefilter(
        fr, url_col="canon_url", blocklist=["host5.example.com"],
        max_len=32, digit_limit=(3, 5),
    )
    _timed(spark, "prefilter leg", lambda: _noop(pf))
    robots = spark.range(7).select(
        F.concat(F.lit("host"), F.col("id").cast("string"), F.lit(".example.com")).alias("host"),
        F.when(
            F.col("id") % 2 == 0,
            F.lit("User-agent: *\nDisallow: /u/\nAllow: /u/2"),
        ).otherwise(
            F.lit("User-agent: OtherBot\nDisallow: /\n\nUser-agent: *\nDisallow: /p/9")
        ).alias("robots_txt"),
    )
    rb = robots_filter(pf, parse_robots(robots), url_col="canon_url")
    _timed(spark, "robots leg", lambda: _noop(rb))
    decided = rb.withColumn(
        "to_crawl", F.col("to_crawl") & F.col("keep") & F.col("robots_allowed")
    )
    _timed(spark, "hostcap leg", lambda: _noop(frontier_host_cap(decided, per_host=10)))
    fr.unpersist()
    _timed(spark, "q88 full collect", lambda: e.q88_frontier_politeness(spark, sf_dir).collect())


def profile_capstone(spark, sf_dir):
    import __spark_entry__ as e
    from ai_pdf_extraction_spark.operators.dedup import (
        contamination_flags,
        exact_dedup,
        granule_dedup,
        minhash_lsh_pairs,
    )
    from ai_pdf_extraction_spark.operators.lm import lm_perplexity
    from ai_pdf_extraction_spark.operators.span_dedup import span_dedup
    from ai_pdf_extraction_spark.operators.text_analysis import (
        quality_score,
        token_count,
    )
    from ai_pdf_extraction_spark.plans.curate import _narrow_docs

    d = e._t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    narrow = _narrow_docs(d)
    _timed(spark, "narrow materialize", lambda: narrow.count(), n=1)
    _timed(
        spark, "quality+tokens leg",
        lambda: _noop(narrow.select(
            "doc_id", quality_score("text").alias("q"),
            token_count("text").alias("t"))),
    )
    _timed(spark, "exact_dedup leg", lambda: _noop(exact_dedup(narrow)))
    _timed(spark, "lsh_pairs leg", lambda: _noop(minhash_lsh_pairs(narrow, threshold=0.8)))
    _timed(spark, "contamination leg", lambda: _noop(contamination_flags(narrow, bench)))
    _timed(spark, "granule leg", lambda: _noop(granule_dedup(narrow)))
    _timed(spark, "span leg", lambda: _noop(span_dedup(narrow)))
    _timed(spark, "lm leg", lambda: _noop(lm_perplexity(narrow)))
    for q in ("q36_curated_corpus", "q57_curated_corpus_v2",
              "q65_curated_corpus_v3", "q73_curated_corpus_v4",
              "q79_curated_corpus_v5"):
        _timed(spark, f"{q} full", lambda q=q: e.queries()[q](spark, sf_dir).collect())


def profile_q71(spark, sf_dir):
    import __spark_entry__ as e
    from ai_pdf_extraction_spark.operators.dedup import band_buckets
    from ai_pdf_extraction_spark.operators.dedup_index import (
        live_index_relations,
    )

    old, new = e._delta_split(e._t(spark, sf_dir, "documents"))
    sigs, hot = live_index_relations(old)
    _timed(spark, "index sigs (old side)", lambda: _noop(sigs))
    _timed(spark, "index hot set", lambda: _noop(hot) if hot is not None else None)
    _timed(spark, "old banding", lambda: _noop(band_buckets(sigs)))
    _timed(spark, "q71 full collect", lambda: e.queries()["q71_minhash_lsh_delta"](spark, sf_dir).collect())


def main():
    which = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from ai_pdf_extraction_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        app_name="profile_legs", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
    )
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    {"q88": profile_q88, "capstone": profile_capstone, "q71": profile_q71}[which](
        spark, sf_dir
    )
    spark.stop()


if __name__ == "__main__":
    main()
