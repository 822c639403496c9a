"""spark-submit entrypoint for the curation pass (the training-data
side of the engine — quality gate + exact dedup + LSH near-dup drop).

Usage::

    python tools/make_pyfiles_zip.py /tmp/engine.zip
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        jobs/curate_job.py --input <documents parquet> \
        --output <curated parquet dir> \
        [--quality 0.5] [--jaccard 0.8] [--partitions 64] \
        [--benchmark <eval parquet> [--contamination-n 13] \
         [--embeddings <vec parquet> [--cos-threshold 0.95] [--dim 64]]]

Legs (``plans.curate``): ``V1`` by default, ``V2`` with
``--benchmark`` (adds decontamination + granule-dedup stats), ``V3``
with ``--benchmark`` and ``--embeddings`` (adds semantic embedding
dedup).

Same contract as ``extract_job``: public package API only, so the
file submits unchanged to a real cluster.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    parser = argparse.ArgumentParser(description="run the corpus curation pass")
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--quality", type=float, default=0.5)
    parser.add_argument("--jaccard", type=float, default=0.8)
    parser.add_argument("--partitions", type=int, default=None)
    parser.add_argument(
        "--benchmark",
        default=None,
        help="parquet of (bench_id, text) eval items — those exact column "
        "names; when given, runs the V2 legs (adds decontamination + "
        "granule-dedup stats)",
    )
    parser.add_argument("--contamination-n", type=int, default=13)
    parser.add_argument(
        "--embeddings",
        default=None,
        help="parquet of (vec_id, embedding) keyed like the doc ids; with "
        "--benchmark, runs the V3 legs (adds semantic embedding dedup via "
        "the sign-LSH bucketed pair search)",
    )
    parser.add_argument("--cos-threshold", type=float, default=0.95)
    parser.add_argument(
        "--dim", type=int, default=64,
        help="embedding dimension (the V3 sign-LSH planes are built for "
        "it; a mismatch fails loud)",
    )
    args = parser.parse_args()

    if args.embeddings and not args.benchmark:
        raise SystemExit("--embeddings requires --benchmark (the V3 legs)")

    from ai_pdf_extraction_spark.plans.curate import V1, V2, V3, curated_corpus
    from ai_pdf_extraction_spark.session import build_session

    spark = build_session(app_name="curate")
    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    legs = V3 if args.embeddings else V2 if args.benchmark else V1
    curated = curated_corpus(
        docs,
        legs,
        spark.read.parquet(args.benchmark) if args.benchmark else None,
        spark.read.parquet(args.embeddings) if args.embeddings else None,
        quality_threshold=args.quality,
        jaccard_threshold=args.jaccard,
        contamination_n=args.contamination_n,
        cos_threshold=args.cos_threshold,
        dim=args.dim,
    )
    writer = curated.repartition(args.partitions) if args.partitions else curated
    writer.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_kept": out.count(),
                "mean_quality": round(
                    out.agg({"quality": "avg"}).collect()[0][0] or 0.0, 4
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
