"""spark-submit query entry point — the CLI analogue of the reference's
``search`` / ``stats`` / ``expand`` / ``dump`` commands
(/root/reference/cmd/search.go:8-18, cmd/expandcidr.go, web.go handlers).

    python jobs/query_job.py --index /tmp/idx search 1.2.3.0/24
    python jobs/query_job.py --index /tmp/idx --transcripts <parquet> \
        stats 10.0.0.1 --bucket month/day
    python jobs/query_job.py --index /tmp/idx expand 192.168.0.0/16
    python jobs/query_job.py --index /tmp/idx --transcripts <parquet> \
        dump tool:search --contains error

Output: JSON lines on stdout (the web.go text/JSON responses analogue);
``stats`` prints the daemon's /stats document, ``dump`` the matched
transcript rows. Every command answers in-process with pyarrow, through
the same functions as the daemon, and starts no Spark session.
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
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("search"); p.add_argument("query")
    p = sub.add_parser("expand"); p.add_argument("query")
    p = sub.add_parser("stats"); p.add_argument("query")
    p.add_argument("--bucket", default="month/day", help="group/count granularities")
    p = sub.add_parser("dump"); p.add_argument("query")
    p.add_argument("--contains", default=None)
    args = ap.parse_args()

    import pyarrow as pa

    from flow_indexer_spark.operators import queries as Q
    from flow_indexer_spark.server import display_entity, query_stat, spark_datetimes

    def out(rows):
        for r in rows:
            print(json.dumps(r, default=str))

    files = Q.open_postings_files(f"{args.index}/postings")
    if args.cmd == "search":
        out(Q.search_files(files, args.query).to_pylist())
        return
    if args.cmd == "expand":
        keys = Q.expand_files(files, args.query)["entity_key"].to_pylist()
        out([{"entity_key": k, "entity": display_entity(args.query, k)} for k in keys])
        return

    if not args.transcripts:
        ap.error(f"{args.cmd} requires --transcripts")
    transcripts = Q.open_transcripts_files(args.transcripts)
    if args.cmd == "stats":
        print(json.dumps(query_stat(files, transcripts, args.query, args.bucket)))
        return
    rows = Q.dump_files(files, transcripts, args.query, args.contains)
    # timestamps print as the Spark path's collected values do
    cols = {
        c: spark_datetimes(rows[c]) if pa.types.is_timestamp(rows[c].type)
        else rows[c].to_pylist()
        for c in rows.column_names
    }
    out(dict(zip(cols, vals)) for vals in zip(*cols.values()))


if __name__ == "__main__":
    main()
