"""spark-submit entry point for the ingest pipeline.

Cluster usage (north_rule: "runs via spark-submit --py-files across N and
4N executor clusters with explicit partitioning and shuffle control"):

    python -m zipfile -c /tmp/flow_indexer_spark.zip flow_indexer_spark
    spark-submit \
        --master <cluster-master> \
        --py-files /tmp/flow_indexer_spark.zip \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        --conf spark.sql.adaptive.enabled=true \
        jobs/ingest_job.py \
        --input /path/to/transcripts_parquet \
        --output /path/to/index_root \
        [--streaming] [--salt 16] [--compact]

Local smoke run (this sandbox):

    python jobs/ingest_job.py --input <parquet> --output /tmp/idx --cpus 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="flow_indexer_spark ingest job")
    ap.add_argument("--input", required=False, default=None, help="transcripts parquet path/table (not needed with --forget)")
    ap.add_argument("--output", required=True, help="index output root")
    ap.add_argument("--salt", type=int, default=16, help="postings agg salt buckets")
    ap.add_argument("--streaming", action="store_true", help="AvailableNow stream tick")
    ap.add_argument(
        "--forget",
        default=None,
        metavar="CONV_ID[,CONV_ID...]",
        help="right-to-be-forgotten mode: purge these conversations from "
        "the routed table and posting lists (no ingest happens; --input "
        "is ignored)",
    )
    ap.add_argument("--compact", action="store_true", help="compact postings after")
    ap.add_argument("--cpus", type=int, default=None, help="local[N] (omit on cluster)")
    args = ap.parse_args()
    if not args.forget and not args.input:
        ap.error("--input is required unless --forget is given")

    from flow_indexer_spark.session import get_spark
    from flow_indexer_spark.plans.pipeline import PipelineConfig, run_ingest

    spark = get_spark(
        app_name="flow-indexer-ingest",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    cfg = PipelineConfig(output_root=args.output, n_salt=args.salt)
    if args.forget:
        from flow_indexer_spark.plans.pipeline import forget_conversations

        metrics = forget_conversations(
            spark, cfg, args.forget.split(",")
        )
    elif args.streaming:
        from flow_indexer_spark.streaming.ingest import stream_ingest

        stream_ingest(spark, args.input, cfg)
        metrics = {"mode": "streaming", "output": args.output}
    else:
        transcripts = spark.read.parquet(args.input)
        metrics = run_ingest(spark, transcripts, cfg)
    if args.compact:
        from flow_indexer_spark.operators.compact import compact_postings

        metrics["compaction"] = compact_postings(
            spark, cfg.postings_path, min_files=2,
            routed_path=cfg.routed_path,  # re-tightens post-forget ts bounds
        )
    print(json.dumps(metrics, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
