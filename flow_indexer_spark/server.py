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

Execution model: all four query routes run in-process on the handler's
thread, through each indexer's ``IndexerHandle`` opened once, and start
no Spark job. ``/search`` and ``/expandcidr`` read the key-sorted
postings files through the handle's pyarrow dataset — partition pruning
on the entity class, footer min/max pruning on the key, then an Arrow
flatten, dedup and sort (``queries.search_files`` / ``expand_files``),
like the reference's LevelDB ``Get`` and range iterator. ``/stats`` and
``/dump`` resolve those hits against the handle's transcripts dataset —
a ``conv_id`` filter, an Arrow left-semi join and a sort
(``queries.search_turns_files``) — and aggregate or render the matched
turns with Arrow kernels, no Python loop per row. The daemon's one
SparkSession serves only ``/health``. ``ThreadingHTTPServer`` starts a
new thread for each request; a handle's datasets are immutable, so
handler threads share no mutable state. A handle lists the files of the
live batches when it is opened; once a compaction or forget deletes
batches it listed, the next request through it fails with a not-found
error, and the daemon reopens the handle once and answers from the new
one.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampType

from flow_indexer_spark import health
from flow_indexer_spark.functions.keys import key_to_ip
from flow_indexer_spark.operators import queries as Q
from flow_indexer_spark.sources.manifest import read_live


@dataclass(frozen=True)
class IndexerHandle:
    """One registered indexer — the reference's Indexer struct analogue
    (flowindexer/flowindexer.go:48-54): its index root, its postings
    table as a pyarrow dataset (every route) and the transcripts parquet
    path and dataset that /stats and /dump resolve hits against (None
    without one). ``postings`` and ``transcripts``, the same tables as
    Spark DataFrames, serve no route: they are the library-side oracle
    of a served handle."""

    root: str
    postings: DataFrame
    postings_files: ds.Dataset
    transcripts_path: str | None = None
    transcripts: DataFrame | None = None
    transcripts_files: ds.Dataset | None = None


def open_indexer(
    spark: SparkSession,
    index_root: str,
    transcripts: str | None = None,
) -> IndexerHandle:
    """Open an ingest-job output directory as an IndexerHandle; the one
    constructor of handles. ``transcripts`` is the transcripts parquet
    path. The postings DataFrame and dataset each snapshot the live
    batches' files (``manifest.live_batch_dirs``), and the transcripts
    DataFrame and dataset the files under ``transcripts``, here, once,
    not per request. Raises if the postings table has no live batch."""
    postings_path = f"{index_root}/postings"
    return IndexerHandle(
        root=index_root,
        postings=read_live(spark, postings_path),
        postings_files=Q.open_postings_files(postings_path),
        transcripts_path=transcripts,
        transcripts=None if transcripts is None else spark.read.parquet(transcripts),
        transcripts_files=(
            None if transcripts is None else Q.open_transcripts_files(transcripts)
        ),
    )


def parse_bucket_param(bucket: str | None) -> tuple[str, str | None]:
    """``bucket`` query param -> (group, count) granularities —
    parseBucketParam semantics (/root/reference/flowindexer/
    util.go:119-145): empty -> month/day; one part -> its default count
    pair; two parts -> as given. Validation happens in
    ``Q.stats_buckets`` (unknown granularity raises ValueError -> HTTP
    500, matching the reference's timeToBucket error path)."""
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


#: Bodies of fewer lines are joined in Python. Each Arrow call releases
#: and retakes the interpreter lock, and under concurrent requests each
#: retake waits for another thread; below this size the Python join
#: also costs less on its own.
PY_JOIN_MAX_LINES = 64


def _text_lines(lines: pa.ChunkedArray) -> str:
    """A text/plain body, one line per string; a null renders as
    ``None``, like ``str(None)``. Large bodies are joined in Arrow:
    building a hot key's ~10^4 lines as Python strings holds the
    interpreter lock for ~20 ms, which every concurrent request waits
    out."""
    if len(lines) < PY_JOIN_MAX_LINES:
        return "".join(f"{s}\n" for s in lines.to_pylist())
    lines = pc.fill_null(lines, "None").combine_chunks()
    one_list = pa.ListArray.from_arrays([0, len(lines)], lines)
    return pc.binary_join(one_list, "\n")[0].as_py() + "\n"


def _doc_name_lines(hits: pa.Table) -> str:
    """The /search body, one ``conv_id<TAB>turn_idx`` line per hit."""
    if hits.num_rows < PY_JOIN_MAX_LINES:
        rows = zip(hits["conv_id"].to_pylist(), hits["turn_idx"].to_pylist())
        return "".join(f"{c}\t{i}\n" for c, i in rows)
    return _text_lines(pc.binary_join_element_wise(
        hits["conv_id"], pc.cast(hits["turn_idx"], pa.string()), "\t"
    ))


def spark_datetimes(ts: pa.ChunkedArray | pa.Array) -> list:
    """Timestamps -> the Python values Spark's ``collect`` gives for them
    (``TimestampType.fromInternal``: local wall time, no zone), so that
    ``str()`` renders them as the Spark path does."""
    micros = pc.cast(Q.utc_timestamps(ts), pa.int64())
    return [TimestampType().fromInternal(us) for us in micros.to_pylist()]


def query_stat(
    files: ds.Dataset, transcripts: ds.Dataset, query: str, bucket: str | None
) -> dict:
    """The queryStat JSON document (/root/reference/flowindexer/
    flowindexer.go:66-80 json tags; :343-397 semantics): hits = matched
    turn count, first/last = lexicographically first/last matched doc
    name, first_time/last_time = the earliest/latest non-null timestamp,
    buckets = two-level coarse/fine counts. Computed in Arrow from one
    ``search_turns_files`` read; Python touches only the few values of
    the document itself."""
    group, count = parse_bucket_param(bucket)
    turns = Q.search_turns_files(
        files, transcripts, query, ["conv_id", "turn_idx", "ts"]
    )
    buckets = Q.stats_buckets(turns, group, count)
    ends = turns.take([0, turns.num_rows - 1]) if turns.num_rows else turns
    names = [f"{r['conv_id']}\t{r['turn_idx']}" for r in ends.to_pylist()]
    span = pc.min_max(turns["ts"])
    first_time, last_time = spark_datetimes(pa.array([span["min"], span["max"]]))
    return {
        "hits": turns.num_rows,
        "first": names[0] if names else "",
        "last": names[-1] if names else "",
        "first_time": str(first_time or ""),
        "last_time": str(last_time or ""),
        "buckets": [
            {"bucket": str(b), "hits": n}
            for b, n in zip(
                spark_datetimes(buckets["bucket"]), buckets["hits"].to_pylist()
            )
        ],
        "errors": [],
    }


def dump_text(
    files: ds.Dataset, transcripts: ds.Dataset, query: str, contains: str | None
) -> str:
    """The /dump body: each matched turn's text, one per line."""
    turns = Q.dump_files(
        files, transcripts, query, contains, ["conv_id", "turn_idx", "text"]
    )
    return _text_lines(turns["text"])


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
        try:
            self._answer(route, handle, query, params)
        except FileNotFoundError:
            # a compaction or forget superseded the handle's files
            handle = open_indexer(self.spark, handle.root, handle.transcripts_path)
            self.indexers[name] = handle
            self._answer(route, handle, query, params)

    def _answer(
        self, route: str, handle: IndexerHandle, query: str, params: dict[str, str]
    ) -> None:
        if route == "/search":
            hits = Q.search_files(handle.postings_files, query)
            self._send(200, _doc_name_lines(hits), "text/plain")
            return
        if route == "/expandcidr":
            keys = Q.expand_files(handle.postings_files, query)["entity_key"]
            self._lines(display_entity(query, k) for k in keys.to_pylist())
            return
        if handle.transcripts_files is None:
            raise ValueError(f"indexer has no transcripts table ({route[1:]} needs one)")
        if route == "/stats":
            self._json(query_stat(
                handle.postings_files, handle.transcripts_files, query,
                params.get("bucket"),
            ))
        else:  # /dump
            body = dump_text(
                handle.postings_files, handle.transcripts_files, query,
                params.get("contains"),
            )
            self._send(200, body, "text/plain")


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
