#!/usr/bin/env python
"""spark-submit entrypoint for the training-data curation job.

The batch shape `curation_e2e` registers as a query, packaged as a
cluster job: quality filter -> near-dup CLUSTER survivors (connected
components over MinHash-LSH pairs) -> per-source cap, with drop
accounting at every stage (the filter-funnel convention: nothing is
removed silently).

Cluster launch (same --py-files form as jobs/run_extract.py; N vs 4N
executors change only --num-executors, the job re-plans via AQE):

    zip -r ocr_translation_spark.zip ocr_translation_spark
    spark-submit \\
      --py-files ocr_translation_spark.zip \\
      --num-executors 100 --executor-cores 4 --executor-memory 8g \\
      jobs/run_curation.py \\
      --input s3://corpus/documents --output s3://corpus/curated \\
      --jaccard 0.5 --per-source-cap 100000

Local smoke:

    spark-submit --master 'local[8]' --py-files ocr_translation_spark.zip \\
      jobs/run_curation.py --input ... --output /tmp/curated

Scale posture: each stage is an independently plan-audited operator
(BENCH/PLANS.md) — the MinHash path collapses exact duplicates before
banding and never cross-joins; CC scans the pair plan once, seeds
round 1 from the edge list and then runs O(diameter) rounds of
hash-partitioned join+min; the cap is one window shuffle on the
source key. The composition adds NO new shuffle beyond its stages,
and computes each intermediate once: the post-dedup (quality-scored)
frame is persisted for the job's lifetime, both stage counts come from
one aggregate over it, and the write reads it too.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="curated parquet path")
    p.add_argument(
        "--report", default=None,
        help="optional parquet path for the per-stage drop-accounting "
        "report (printed to stdout regardless)",
    )
    p.add_argument("--jaccard", type=float, default=0.5)
    p.add_argument(
        "--per-source-cap", type=int, default=None,
        help="keep at most this many docs per source (by n_tokens "
        "desc, doc_id asc); omit for no cap",
    )
    p.add_argument("--no-quality", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession, Window, functions as F

    from ocr_translation_spark.functions.dedup import (
        minhash_near_dup_pairs,
    )
    from ocr_translation_spark.functions.graph import dedup_clusters
    from ocr_translation_spark.functions.text import add_quality

    pre_existing = SparkSession.getActiveSession() is not None
    spark = (
        SparkSession.builder.appName("ocr-translation-curation")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(args.input)
    n_input = docs.count()

    pairs = minhash_near_dup_pairs(docs, jaccard_threshold=args.jaccard)
    surv = (
        dedup_clusters(pairs, docs).filter("is_survivor").select("doc_id")
    )
    kept = docs.join(surv, "doc_id")
    if not args.no_quality:
        kept = add_quality(kept)
    # one persisted post-dedup frame serves the counts and the write:
    # neither the survivor join nor the quality scoring runs twice
    cached = kept.persist()
    if args.no_quality:
        n_after_dedup = n_after_quality = cached.count()
    else:
        counts = cached.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("quality_keep"), 1)).alias("q"),
        ).first()
        n_after_dedup, n_after_quality = counts["n"], counts["q"]
        kept = cached.filter("quality_keep")

    if args.per_source_cap is not None:
        if "n_tokens" not in kept.columns:
            kept = kept.withColumn(
                "n_tokens",
                F.size(F.split(F.trim(F.col("text")), r"\s+")),
            )
        w = Window.partitionBy("source").orderBy(
            F.col("n_tokens").desc(), F.col("doc_id").asc()
        )
        kept = (
            kept.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= args.per_source_cap)
            .drop("_rk")
        )

    kept.write.mode("overwrite").parquet(args.output)
    cached.unpersist()
    n_output = spark.read.parquet(args.output).count()

    report = {
        "n_input": n_input,
        "n_after_neardup_cc": n_after_dedup,
        "n_dropped_neardup": n_input - n_after_dedup,
        "n_after_quality": n_after_quality,
        "n_dropped_quality": n_after_dedup - n_after_quality,
        "n_output": n_output,
        "n_dropped_source_cap": n_after_quality - n_output,
    }
    if args.report:
        spark.createDataFrame([report]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(args.report)
    print(json.dumps(report))
    if not pre_existing:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
