"""spark-submit query entry point — the CLI analogue of the reference's
``search`` / ``stats`` / ``expand`` / ``dump`` commands
(/root/reference/cmd/search.go:8-18, cmd/expandcidr.go, web.go handlers).

    python jobs/query_job.py --index /tmp/idx search 1.2.3.0/24
    python jobs/query_job.py --index /tmp/idx --transcripts <parquet> \
        stats 10.0.0.1 --bucket month/day
    python jobs/query_job.py --index /tmp/idx expand 192.168.0.0/16
    python jobs/query_job.py --index /tmp/idx --transcripts <parquet> \
        dump tool:search --contains error

Output: JSON lines on stdout (the web.go text/JSON responses analogue).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="flow_indexer_spark query CLI")
    ap.add_argument("--index", required=True, help="index root (output of ingest_job)")
    ap.add_argument("--transcripts", help="transcripts parquet (for stats/dump)")
    ap.add_argument("--cpus", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("search"); p.add_argument("query")
    p = sub.add_parser("expand"); p.add_argument("query")
    p = sub.add_parser("stats"); p.add_argument("query")
    p.add_argument("--bucket", default="month/day", help="group/count granularities")
    p = sub.add_parser("dump"); p.add_argument("query")
    p.add_argument("--contains", default=None)
    args = ap.parse_args()

    from flow_indexer_spark.session import get_spark
    from flow_indexer_spark.operators import queries as Q
    from flow_indexer_spark.server import display_entity

    spark = get_spark(
        app_name="flow-indexer-query",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    postings = spark.read.parquet(f"{args.index}/postings")

    def out(rows):
        for r in rows:
            print(json.dumps(r, default=str))

    if args.cmd == "search":
        out([r.asDict() for r in Q.search(postings, args.query).collect()])
    elif args.cmd == "expand":
        keys = [r["entity_key"] for r in Q.expand(postings, args.query).collect()]
        out([{"entity_key": k, "entity": display_entity(args.query, k)} for k in keys])
    elif args.cmd in ("stats", "dump"):
        if not args.transcripts:
            ap.error(f"{args.cmd} requires --transcripts")
        t = spark.read.parquet(args.transcripts)
        if args.cmd == "stats":
            group, _, count = args.bucket.partition("/")
            s = Q.stats(postings, t, args.query, group, count or None).collect()
            summary = Q.stats_summary(postings, t, args.query).head()
            print(json.dumps(summary.asDict(), default=str))
            out([r.asDict() for r in s])
        else:
            out([r.asDict() for r in Q.dump(postings, t, args.query, args.contains).collect()])
    spark.stop()


if __name__ == "__main__":
    main()
