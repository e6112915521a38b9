"""HTTP daemon surface — the web.go analogue (SURVEY.md K4).

The reference ships a long-running daemon whose HTTP handlers wrap the
query engine (/root/reference/flowindexer/web.go:137-154 route table,
with `/v1/` aliases). This module reproduces that surface 1:1 over the
DataFrame query layer:

================  =====================================================
``/indexers``     JSON list of registered indexer names
                  (web.go:14-20)
``/search``       ``i`` + ``q`` params -> matched doc names, one per
                  line, text/plain (web.go:21-50; doc name here is the
                  composite natural key ``conv_id\tturn_idx``)
``/stats``        ``i`` + ``q`` [+ ``bucket=group/count``] -> queryStat
                  JSON: ``hits/first/last/first_time/last_time/
                  buckets[{bucket,hits}]/errors``
                  (web.go:51-81, flowindexer.go:343-397, json tags at
                  flowindexer.go:66-80)
``/expandcidr``   ``i`` + ``q`` -> matching entities one per line
                  (web.go:83-112)
``/dump``         ``i`` + ``q`` [+ ``contains``] -> matched turns' raw
                  text, one per line (web.go:113-135,
                  flowindexer.go:399-420 — the grep-matched-files dump)
``/health``       engine health report JSON (no reference analogue;
                  pairs with ``health.check``)
================  =====================================================

Error contract mirrors the reference exactly: a missing ``i``/``q``
parameter is a 400 ``Missing parameter: <name>`` (web.go:24-31); any
engine error (unknown indexer, unparseable query, bad bucket
granularity) is a 500 carrying the error text (web.go:33-42).

Execution model (the scale story): the daemon holds ONE long-lived
SparkSession; each request composes a lazy DataFrame and collects at
the API layer — exactly the split SURVEY §2 K4 documents. All
distributed work (partition-pruned postings scan, semi-join back to
transcripts) runs on the cluster; the driver only renders result rows.
Requests are served from a thread pool (``ThreadingHTTPServer``) —
Spark's scheduler interleaves concurrent driver-side actions, and the
postings/transcripts handles are immutable DataFrames so there is no
shared mutable state beyond the JVM session itself. Point lookups stay
interactive because ``search`` is a pushed-down key-range scan over the
sorted postings partitions, not a full-table pass (PLANS.md §3).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession, functions as F

from flow_indexer_spark import health
from flow_indexer_spark.functions.keys import key_to_ip
from flow_indexer_spark.operators import queries as Q


@dataclass(frozen=True)
class IndexerHandle:
    """One registered indexer: its postings table plus (optionally) the
    transcripts table that /stats and /dump resolve hits against —
    the Indexer struct analogue (/root/reference/flowindexer/
    flowindexer.go:48-54)."""

    postings: DataFrame
    transcripts: DataFrame | None = None


def open_indexer(
    spark: SparkSession, index_root: str, transcripts_path: str | None = None
) -> IndexerHandle:
    """Open an ingest-job output directory as an IndexerHandle. The
    parquet footers are read once here, not per request."""
    return IndexerHandle(
        postings=spark.read.parquet(f"{index_root}/postings"),
        transcripts=(
            spark.read.parquet(transcripts_path) if transcripts_path else None
        ),
    )


def parse_bucket_param(bucket: str | None) -> tuple[str, str | None]:
    """``bucket`` query param -> (group, count) granularities —
    parseBucketParam semantics (/root/reference/flowindexer/
    util.go:119-145): empty -> month/day; one part -> its default count
    pair; two parts -> as given. Validation happens in ``Q.stats``
    (unknown granularity raises ValueError -> HTTP 500, matching the
    reference's timeToBucket error path)."""
    if not bucket:
        return "month", "day"
    parts = bucket.split("/")
    if len(parts) == 1:
        return parts[0], Q.DEFAULT_COUNT_FOR.get(parts[0])
    if len(parts) == 2:
        return parts[0], parts[1]
    raise ValueError(f"invalid bucket parameter: {bucket!r}")


def display_entity(query: str, key: str) -> str:
    """Postings key matched by ``query`` -> display form, chosen by the
    query's entity class: ``tool:``/``role:`` keys are already display
    strings, IP keys render dotted/colon form (ExpandCIDR prints
    addresses, web.go:106-111). A key's length cannot decide this: the
    tool ``deadbeef`` is as long as an IPv4 key."""
    if query.startswith(("tool:", "role:")):
        return key
    return key_to_ip(key)


def query_stat(handle: IndexerHandle, query: str, bucket: str | None) -> dict:
    """The queryStat JSON document (/root/reference/flowindexer/
    flowindexer.go:66-80 json tags; :343-397 semantics): hits = matched
    doc count, first/last = lexicographically first/last matched doc
    name, first_time/last_time = their timestamps, buckets = two-level
    coarse/fine counts. One aggregate job + the bucket query."""
    if handle.transcripts is None:
        raise ValueError("indexer has no transcripts table (stats needs one)")
    group, count = parse_bucket_param(bucket)
    matched = Q.search_turns(handle.postings, handle.transcripts, query)
    doc = F.struct("conv_id", "turn_idx")
    summary = matched.agg(
        F.count("*").alias("hits"),
        F.min(doc).alias("first"),
        F.max(doc).alias("last"),
        F.min("ts").alias("first_time"),
        F.max("ts").alias("last_time"),
    ).head()
    buckets = Q.stats(handle.postings, handle.transcripts, query, group, count)

    def _doc_name(row) -> str:
        return f"{row['conv_id']}\t{row['turn_idx']}" if row else ""

    return {
        "hits": summary["hits"],
        "first": _doc_name(summary["first"]),
        "last": _doc_name(summary["last"]),
        "first_time": str(summary["first_time"] or ""),
        "last_time": str(summary["last_time"] or ""),
        "buckets": [
            {"bucket": str(r["bucket"]), "hits": r["hits"]}
            for r in buckets.collect()
        ],
        "errors": [],
    }


class _Handler(BaseHTTPRequestHandler):
    # injected by make_server on the generated subclass
    indexers: dict[str, IndexerHandle] = {}
    spark: SparkSession | None = None
    quiet: bool = True

    # -- response helpers ---------------------------------------------------
    def _send(self, code: int, body: str, ctype: str) -> None:
        data = body.encode()
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _json(self, obj) -> None:
        self._send(200, json.dumps(obj) + "\n", "application/json")

    def _lines(self, lines) -> None:
        self._send(200, "".join(f"{ln}\n" for ln in lines), "text/plain")

    def _error(self, code: int, msg: str) -> None:
        self._send(code, msg + "\n", "text/plain")

    def log_message(self, fmt, *args):  # noqa: N802 - stdlib signature
        if not self.quiet:
            super().log_message(fmt, *args)

    # -- routing ------------------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802 - stdlib signature
        from urllib.parse import parse_qs, urlparse

        url = urlparse(self.path)
        route = url.path
        if route.startswith("/v1/"):
            route = route[3:]
        params = {k: v[0] for k, v in parse_qs(url.query).items()}
        try:
            self._route(route, params)
        except ValueError as e:
            self._error(500, str(e))
        except Exception as e:  # engine errors -> 500, like web.go
            self._error(500, f"{type(e).__name__}: {e}")

    def _route(self, route: str, params: dict[str, str]) -> None:
        if route == "/indexers":
            self._json(sorted(self.indexers))
            return
        if route == "/health":
            self._json(health.check(self.spark))
            return
        if route not in ("/search", "/stats", "/expandcidr", "/dump"):
            self._error(404, "not found")
            return
        for p in ("i", "q"):
            if not params.get(p):
                self._error(400, f"Missing parameter: {p}")
                return
        name, query = params["i"], params["q"]
        handle = self.indexers.get(name)
        if handle is None:
            self._error(500, f"no such indexer: {name}")
            return

        if route == "/search":
            rows = Q.search(handle.postings, query).collect()
            self._lines(f"{r['conv_id']}\t{r['turn_idx']}" for r in rows)
        elif route == "/expandcidr":
            rows = Q.expand(handle.postings, query).collect()
            self._lines(display_entity(query, r["entity_key"]) for r in rows)
        elif route == "/stats":
            self._json(query_stat(handle, query, params.get("bucket")))
        elif route == "/dump":
            if handle.transcripts is None:
                raise ValueError("indexer has no transcripts table (dump needs one)")
            rows = Q.dump(
                handle.postings, handle.transcripts, query, params.get("contains")
            ).collect()
            self._lines(r["text"] for r in rows)


def make_server(
    spark: SparkSession,
    indexers: dict[str, IndexerHandle],
    host: str = "127.0.0.1",
    port: int = 0,
    quiet: bool = True,
) -> ThreadingHTTPServer:
    """Build (but do not start) the daemon. ``port=0`` binds an ephemeral
    port — read it back from ``server.server_address``. Call
    ``serve_forever()`` (blocking) or drive it from a thread in tests."""
    handler = type(
        "FlowIndexerHandler",
        (_Handler,),
        {"indexers": dict(indexers), "spark": spark, "quiet": quiet},
    )
    return ThreadingHTTPServer((host, port), handler)
