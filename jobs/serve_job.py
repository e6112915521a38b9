"""spark-submit daemon entry point — the reference's ``flow-indexer
daemon`` / web.go analogue (/root/reference/flowindexer/web.go:137-154,
cmd/daemon.go): serve /indexers /search /stats /expandcidr /dump
(/v1/ aliases included) over an ingest-job output directory.

    python jobs/serve_job.py --index /tmp/idx --transcripts <parquet> \
        --name conn --port 8081

Prints one JSON line ``{"listening": "host:port", "indexers": [...]}``
on stdout once bound, then serves until interrupted. Every query route
answers in-process with pyarrow from the postings files and, for /stats
and /dump, the ``--transcripts`` parquet, and runs no Spark job; the
long-lived SparkSession opens the handles and serves only /health.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="flow_indexer_spark HTTP daemon")
    ap.add_argument("--index", required=True, action="append",
                    help="index root (output of ingest_job); repeatable")
    ap.add_argument("--transcripts", action="append", default=None,
                    help="transcripts parquet per --index (for stats/dump)")
    ap.add_argument("--name", action="append", default=None,
                    help="indexer name per --index (default: basename)")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8081)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from flow_indexer_spark.server import make_server, open_indexer
    from flow_indexer_spark.session import get_spark

    spark = get_spark(
        app_name="flow-indexer-daemon",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = args.name or []
    transcripts = args.transcripts or []
    indexers = {}
    for n, root in enumerate(args.index):
        name = names[n] if n < len(names) else os.path.basename(root.rstrip("/"))
        tpath = transcripts[n] if n < len(transcripts) else None
        indexers[name] = open_indexer(spark, root, tpath)

    server = make_server(spark, indexers, host=args.host, port=args.port)
    host, port = server.server_address[:2]
    print(json.dumps({"listening": f"{host}:{port}", "indexers": sorted(indexers)}),
          flush=True)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
        spark.stop()


if __name__ == "__main__":
    main()
