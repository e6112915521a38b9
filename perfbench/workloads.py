"""The benchmark workloads and the traced per-layer tour.

Each workload function takes a :class:`Bench` and returns
``(end_to_end, per_layer, details)``:

- ``bulk_ingest``: one large batch ingested into a fresh index root per
  repeat (``plans.pipeline.run_ingest`` with the dimension tables).
- ``query_serve``: a closed loop of up to 4 client threads sending a seeded
  request mix to the ``server`` HTTP daemon over a prebuilt index.

The program only ever sees the generated parquet (``gen.py``). End-to-end
numbers come from untraced runs; a traced run records spans around every
call into a layer and adds :func:`layer_tour`, which times each layer's
public functions on the workload's own data, including small delta
batches and ``operators.compact.compact_postings`` on its index.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import math
import os
import random
import re
import shutil
import statistics
import threading
import time
from urllib.parse import urlencode

import gen
from tracing import Tracer

#: set-up is repeated this many times per run; setup_s is the median
SETUP_ROUNDS = 3
#: every timed loop runs at least this many operations, even past --seconds
MIN_OPS = 3

#: every workload's set-up builds an index of this many turns
START_TURNS = 12_000
START_FILES = 4

BULK_TURNS = 40_000
BULK_FILES = 8

#: the traced tour ingests this many small delta batches into the index
TOUR_DELTAS = 3
DELTA_TURNS = 2_000
#: the starting batch is dated days [0, 60); delta k is dated day 60 + k
BASE_DAYS = 60

INDEXER = "bench"
#: query_serve request mix: category -> cards in a 40-card deck, split
#: evenly over the category's requests in :func:`serve_pool` (5 lookups
#: x 5, 3 ranges x 3, 2 joins x 2, 1 hot key x 2). No record of real
#: query traffic exists to derive it from, so the shares are an
#: assumption: mostly point lookups, hot-key searches rare (5%).
MIX = {"lookup": 25, "range": 9, "join": 4, "hot": 2}
WARM_SECONDS = 5
#: bulk_ingest runs this many untimed full-size ingests before measuring
WARM_INGESTS = 2

perf = time.perf_counter


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 1])."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def tree_bytes(*paths: str) -> int:
    """Bytes of the data files under ``paths`` (hidden and ``_`` files,
    such as checksums and commit markers, excluded)."""
    total = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith((".", "_"))
            )
    return total


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(sum(f.endswith(suffix) for f in files) for _r, _d, files in os.walk(path))


def count_batch_dirs(*paths: str) -> int:
    return sum(
        sum(d.startswith("batch_id=") for d in dirs)
        for path in paths
        for _r, dirs, _f in os.walk(path)
    )


class Bench:
    """One benchmark run: the Spark session, the tracer, the operation
    timings and the correctness tally."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.ncpu = len(os.sched_getaffinity(0))
        self.spark = None
        self.dims = None
        self.server = None
        self._server_thread = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        #: (wall_s, n_turns, stage_ms, counted) of every ingest; the
        #: counted ones are the workload's measured operations
        self.ingests: list[tuple[float, int, dict, bool]] = []
        #: op walls split by whether the op was traced (traced runs only)
        self.op_walls: dict[bool, list[float]] = {True: [], False: []}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = perf()
        #: phase name -> seconds since the run started, when it ended
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        self.phases[phase] = round(perf() - self._t0, 2)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    # -- program entry points -------------------------------------------
    def session(self) -> None:
        """``session.get_spark`` with the program's defaults at
        ``local[nproc]`` (nothing is tuned here); the first call builds
        the session, later calls get the running one back."""
        from flow_indexer_spark.generator import make_dims
        from flow_indexer_spark.session import get_spark

        t0 = perf()
        with self.tracer.span("session.get_spark"):
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.ncpu}]",
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        self.get_spark_s.append(perf() - t0)
        if spark is not self.spark:
            spark.sparkContext.setLogLevel("ERROR")
            self.spark = spark
            self.dims = make_dims(spark)

    def ingest(self, src: str, root: str, n_expected: int, counted: bool = True) -> float:
        """``run_ingest`` of the parquet table ``src`` into ``root``;
        returns the wall time, reading the source included."""
        from flow_indexer_spark.plans.pipeline import PipelineConfig, run_ingest

        t0 = perf()
        with self.tracer.span("plans.pipeline.run_ingest") as sid:
            transcripts = self.spark.read.parquet(src)
            m = run_ingest(self.spark, transcripts, PipelineConfig(output_root=root), *self.dims)
        wall = perf() - t0
        at = t0
        for stage, ms in m.get("stage_ms", {}).items():
            self.tracer.add(f"plans.pipeline.{stage}", at, at + ms / 1000, sid)
            at += ms / 1000
        self.check(
            not m["skipped"] and m["n_turns"] == n_expected,
            f"ingest of {os.path.basename(src)}: expected {n_expected} turns, got {m}",
        )
        self.ingests.append((wall, m["n_turns"], m.get("stage_ms", {}), counted))
        return wall

    def start_server(self, indexers: dict) -> int:
        from flow_indexer_spark.server import make_server

        self.stop_server()
        with self.tracer.span("server.make_server"):
            self.server = make_server(self.spark, indexers)
        self._server_thread = threading.Thread(
            target=self.server.serve_forever, name="daemon", daemon=True
        )
        self._server_thread.start()
        return self.server.server_address[1]

    def stop_server(self) -> None:
        if self.server is None:
            return
        self.server.shutdown()
        self.server.server_close()
        self._server_thread.join(timeout=30)
        self.server = self._server_thread = None

    def close(self) -> None:
        """Stop the daemon and the session, then end the JVM: it exits
        when its stdin closes, and takes the Python workers with it."""
        from pyspark import SparkContext

        self.stop_server()
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.poll() is None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # -- measurement helpers --------------------------------------------
    def op(self, fn):
        """Run one measured operation and return ``(result, wall_s)``. In
        a traced run every other operation of a thread runs with spans
        off, so the two halves give ``trace.overhead_frac``."""
        n = self._local.__dict__.setdefault("n_ops", 0)
        self._local.n_ops = n + 1
        traced = self.trace and n % 2 == 1
        t0 = perf()
        if self.trace and not traced:
            with self.tracer.suppressed():
                out = fn()
        else:
            out = fn()
        wall = perf() - t0
        if self.trace:
            with self._lock:
                self.op_walls[traced].append(wall)
        return out, wall

    def setup_round(self, fn) -> None:
        t0 = perf()
        with self.tracer.span("setup"):
            fn()
        self.setup_s.append(perf() - t0)

    def digest(self, root: str) -> tuple:
        """Order-independent content digest of an index's postings and
        routed tables (row counts plus XOR of per-row hashes)."""
        from pyspark.sql import functions as F

        post = self.spark.read.parquet(f"{root}/postings").agg(
            F.count("*"),
            F.expr("bit_xor(xxhash64(entity_class, entity_key, chunk_id, postings, ts_min, ts_max))"),
        )
        routed = self.spark.read.parquet(f"{root}/routed").agg(
            F.count("*"),
            F.expr("bit_xor(xxhash64(conv_id, turn_idx, entity_class, entity_key, ts))"),
        )
        return tuple(post.first()) + tuple(routed.first())

    def common_layers(self) -> dict:
        """Per-layer numbers every workload reports from its own calls."""
        stages = ("orphan_cleanup", "extract_and_route", "postings_index",
                  "lineage_metrics", "manifest_commit")
        traced, plain = self.op_walls[True], self.op_walls[False]
        return {
            "session.get_spark_s": self.get_spark_s[0],
            **{
                f"pipeline.{s}_ms": _median([st.get(s, 0) for _w, _n, st, _c in self.measured()])
                for s in stages
            },
            "trace.overhead_frac": (
                _median(traced) / _median(plain) - 1 if traced and plain else 0.0
            ),
        }

    def measured(self) -> list:
        """The counted ingests, or every ingest when none is counted."""
        return [i for i in self.ingests if i[3]] or self.ingests

    def ingest_turns_per_s(self) -> float:
        return _median([n / w for w, n, _s, _c in self.measured()])


# -- queries: the pool, the library answer, the HTTP answer ----------------

_ONE_OFF = re.compile(r"one-off (\S+)")


def serve_pool(pdf) -> list[tuple[str, str, str]]:
    """``(category, route, query)`` requests over an index of ``pdf``."""
    offs = pdf["text"].str.extract(_ONE_OFF, expand=False).dropna()
    return [
        ("lookup", "/search", offs.iloc[0]),
        ("lookup", "/search", offs.iloc[len(offs) // 2]),
        ("lookup", "/search", f"tool:{gen.TOOLS[-1]}"),
        ("lookup", "/search", f"role:{gen.AGENTS[-1]}"),
        ("lookup", "/search", gen.MISS_IP),
        ("range", "/search", "192.168.3.0/24"),
        ("range", "/expandcidr", "172.16.0.0/12"),
        ("range", "/search", f"tool:{gen.TOOL_PREFIXES[-1]}_*"),
        ("join", "/stats", gen.MEDIUM_IPS[9]),
        ("join", "/dump", gen.MEDIUM_IPS[9]),
        ("hot", "/search", gen.HOT_IP),
    ]


def _stats_digest(doc: dict) -> str:
    return json.dumps({"hits": doc["hits"], "buckets": doc["buckets"]}, sort_keys=True)


def library_answer(handle, route: str, query: str) -> tuple[str, int, int]:
    """The in-process ``operators.queries`` answer rendered as the daemon
    renders it: ``(digest, result_rows, body_bytes)``."""
    from flow_indexer_spark.functions.keys import key_to_ip
    from flow_indexer_spark.operators import queries as Q

    if route == "/stats":
        hits = Q.search_turns(handle.postings, handle.transcripts, query).count()
        buckets = [
            {"bucket": str(r["bucket"]), "hits": r["hits"]}
            for r in Q.stats(handle.postings, handle.transcripts, query, "month", "day").collect()
        ]
        return _stats_digest({"hits": hits, "buckets": buckets}), hits, 0
    if route == "/search":
        rows = Q.search(handle.postings, query).collect()
        lines = [f"{r['conv_id']}\t{r['turn_idx']}" for r in rows]
    elif route == "/expandcidr":
        rows = Q.expand(handle.postings, query).collect()
        lines = [key_to_ip(r["entity_key"]) for r in rows]
    else:  # /dump
        rows = Q.dump(handle.postings, handle.transcripts, query).collect()
        lines = [r["text"] for r in rows]
    body = "".join(f"{ln}\n" for ln in lines).encode()
    return hashlib.sha1(body).hexdigest(), len(lines), len(body)


def http_answer(port: int, route: str, query: str) -> tuple[int, str, int, int]:
    """One request to the daemon: ``(status, digest, lines, body_bytes)``."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", f"{route}?{urlencode({'i': INDEXER, 'q': query})}")
        resp = conn.getresponse()
        body = resp.read()
    finally:
        conn.close()
    if route == "/stats" and resp.status == 200:
        digest = _stats_digest(json.loads(body))
    else:
        digest = hashlib.sha1(body).hexdigest()
    return resp.status, digest, body.count(b"\n"), len(body)


# -- workloads --------------------------------------------------------------


def _index_bytes(root: str) -> int:
    return tree_bytes(*(f"{root}/{t}" for t in ("routed", "postings", "manifest")))


def _setup_rounds(b: Bench, src: str, root: str) -> tuple:
    """The set-up every workload repeats ``SETUP_ROUNDS`` times: get the
    session, ingest the starting batch ``src`` (``START_TURNS`` turns)
    into a fresh ``root``, open it and start the daemon on it, until the
    daemon has answered its first query. The first round also boots the
    JVM and compiles everything; setup_s is the median round. Earlier
    rounds' indexes are removed; the last round's daemon keeps running.
    Returns its ``(handle, port)``."""
    from flow_indexer_spark.server import open_indexer

    out = ()

    def setup() -> None:
        nonlocal out
        b.session()
        shutil.rmtree(root, ignore_errors=True)
        b.ingest(src, root, START_TURNS, counted=False)
        with b.tracer.span("server.open_indexer"):
            handle = open_indexer(b.spark, root, src)
        port = b.start_server({INDEXER: handle})
        status, *_ = http_answer(port, "/search", gen.MISS_IP)
        b.check(status == 200, f"first request after start: HTTP {status}")
        out = (handle, port)

    for _ in range(SETUP_ROUNDS):
        b.setup_round(setup)
    b.mark("setup")
    return out


def bulk_ingest(b: Bench):
    from flow_indexer_spark.operators import queries as Q

    pdf = gen.make_batch(b.seed, 0, BULK_TURNS, 0, BASE_DAYS)
    src = b.path("in", "bulk")
    raw = gen.write_parquet(pdf, src, BULK_FILES)

    start = b.path("in", "start")
    gen.write_parquet(pdf.iloc[:START_TURNS], start, START_FILES)
    _setup_rounds(b, start, b.path("start-index"))
    b.stop_server()

    # untimed full-size ingests first: ingest keeps speeding up over a
    # JVM's first jobs; the first is the reference every later one must match
    ref_root = b.path("reference")
    b.ingest(src, ref_root, BULK_TURNS, counted=False)
    ref = b.digest(ref_root)
    for k in range(1, WARM_INGESTS):
        b.ingest(src, b.path(f"warm{k}"), BULK_TURNS, counted=False)
        b.check(b.digest(b.path(f"warm{k}")) == ref, "bulk ingest output differs across repeats")
        shutil.rmtree(b.path(f"warm{k}"))
    stored = _index_bytes(ref_root) / raw
    hot = Q.search(b.spark.read.parquet(f"{ref_root}/postings"), gen.HOT_IP).count()
    b.check(hot == gen.hot_turns(pdf), f"hot-IP hits {hot} != pandas count {gen.hot_turns(pdf)}")
    b.mark("warm-up")

    walls: list[float] = []
    deadline = perf() + b.seconds
    while len(walls) < MIN_OPS or perf() < deadline:
        root = b.path(f"rep{len(walls)}")
        walls.append(b.op(lambda: b.ingest(src, root, BULK_TURNS))[1])
        b.check(b.digest(root) == ref, "bulk ingest output differs across repeats")
        shutil.rmtree(root)
    b.mark("measure")

    layers = b.common_layers()
    if b.trace:
        layers.update(layer_tour(b, src, pdf, ref_root))
    e2e = {
        "stored_bytes_per_input_byte": stored,
        "op_p50_ms": 1000 * _median(walls),
        "ops_per_s": len(walls) / sum(walls),
    }
    details = {
        "batch_turns": BULK_TURNS,
        "batches": len(walls),
        "batch_walls_s": walls,
        "ingest_turns_per_s": b.ingest_turns_per_s(),
        # share of a measured batch's wall spent in the stages that
        # extract entities and build postings
        "extract_postings_share": _median([
            (st["extract_and_route"] + st["postings_index"]) / (1000 * w)
            for w, _n, st, _c in b.measured()
        ]),
    }
    return e2e, layers, details


def _client(b: Bench, port: int, pool, seq: list[int], deadline, out: list) -> None:
    """One closed-loop client: sends the next request of ``seq`` once the
    previous one is answered, until ``deadline`` (None: the whole seq)."""
    for qi in seq:
        if deadline is not None and perf() >= deadline:
            return
        _cat, route, query = pool[qi]

        def request():
            with b.tracer.span(f"server{route}"):
                return http_answer(port, route, query)

        t0 = perf()
        try:
            (status, digest, lines, nbytes), wall = b.op(request)
        except Exception as e:  # a request that raises is a failed operation
            status, digest, lines, nbytes, wall = -1, repr(e), 0, 0, perf() - t0
        out.append((qi, wall, status, digest, lines, nbytes))


def _run_clients(b: Bench, port: int, pool, seqs: list[list[int]], deadline) -> list[list]:
    """One thread per sequence in ``seqs``; returns each client's
    ``(pool index, latency_s, status, digest, lines, bytes)`` records."""
    results: list[list] = [[] for _ in seqs]
    threads = [
        threading.Thread(target=_client, args=(b, port, pool, seq, deadline, out))
        for seq, out in zip(seqs, results)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return results


def query_serve(b: Bench):
    pdf = gen.make_batch(b.seed, 0, START_TURNS, 0, BASE_DAYS)
    src = b.path("in", "transcripts")
    raw = gen.write_parquet(pdf, src, START_FILES)
    root = b.path("index")
    handle, port = _setup_rounds(b, src, root)
    stored = _index_bytes(root) / raw

    pool = serve_pool(pdf)
    clients = min(4, b.ncpu)
    n_cat = {c: sum(p[0] == c for p in pool) for c in MIX}
    assert all(MIX[c] % n_cat[c] == 0 for c in MIX), (MIX, n_cat)
    deck = [i for i, p in enumerate(pool) for _ in range(MIX[p[0]] // n_cat[p[0]])]

    def dealt(tag: str) -> list[list[int]]:
        """Per-client request sequences, each dealt from its own shuffled
        copies of the deck, so every run sees the same mix."""
        seqs = []
        for t in range(clients):
            rng = random.Random(f"{tag}-{b.seed}-{t}")
            seq = []
            for _ in range(1000):
                rng.shuffle(deck)
                seq.extend(deck)
            seqs.append(seq)
        return seqs

    # untimed warm-up: every pool request once, then the closed loop for
    # WARM_SECONDS, since query planning keeps speeding up over a JVM's
    # first few hundred jobs
    _run_clients(b, port, pool, [list(range(t, len(pool), clients)) for t in range(clients)], None)
    _run_clients(b, port, pool, dealt("warm"), perf() + WARM_SECONDS)
    b.op_walls = {True: [], False: []}
    b.mark("warm-up")

    t0 = perf()
    results = _run_clients(b, port, pool, dealt("measure"), t0 + b.seconds)
    wall = perf() - t0
    responses = [r for rs in results for r in rs]
    b.mark("measure")

    expected = {}
    for qi in sorted({r[0] for r in responses}):
        _cat, route, query = pool[qi]
        with b.tracer.span(f"operators.queries.{route.strip('/')}"):
            expected[qi] = library_answer(handle, route, query)
    hot_turns = gen.hot_turns(pdf)
    for qi, _lat, status, digest, lines, _nb in responses:
        cat, route, query = pool[qi]
        b.check(
            status == 200 and digest == expected[qi][0],
            f"{route} {query}: HTTP {status}" + (f" {digest}" if status == -1 else ", digest mismatch"),
        )
        if cat == "hot" and status == 200:
            b.check(lines == hot_turns, f"hot-IP hits {lines} != pandas count {hot_turns}")
    b.mark("verify")

    lat = {c: [1000 * r[1] for r in responses if pool[r[0]][0] == c] for c in MIX}
    all_ms = [1000 * r[1] for r in responses]
    layers = b.common_layers()
    if b.trace:
        layers.update(layer_tour(b, src, pdf, root))
    e2e = {
        "stored_bytes_per_input_byte": stored,
        "op_p50_ms": _median(lat["lookup"]),
        "ops_per_s": len(responses) / wall,
    }
    details = {
        "clients": clients,
        "requests": len(responses),
        "query_ops_per_s": len(responses) / wall,
        **{f"{c}_n": len(lat[c]) for c in MIX},
        **{f"{c}_p50_ms": _median(lat[c]) for c in MIX},
        **{f"{c}_p90_ms": _pct(lat[c], 0.9) for c in MIX if len(lat[c]) >= 100},
        # each category's share of the requests and of the summed latency
        "request_share": {c: len(lat[c]) / len(responses) for c in MIX},
        "latency_share": {c: sum(lat[c]) / sum(all_ms) for c in MIX},
        "all_p90_ms": _pct(all_ms, 0.9),
        "query_p50_ms": {
            f"{route} {query}": _median([1000 * r[1] for r in responses if r[0] == qi])
            for qi, (_c, route, query) in enumerate(pool)
        },
        "ingest_turns_per_s": b.ingest_turns_per_s(),
    }
    return e2e, layers, details


# -- traced per-layer tour ---------------------------------------------------


def layer_tour(b: Bench, src: str, pdf, root: str) -> dict:
    """Time each layer's public functions once on the workload's data
    (``src``, the parquet of ``pdf``) and its index at ``root``. Delta
    batches with fresh dates and conv_ids grow the index before the
    manifest, query and compaction steps, so those see a multi-batch
    table."""
    from pyspark.sql import functions as F

    from flow_indexer_spark.functions.extractors import IP_PATTERN, extract_entities
    from flow_indexer_spark.operators.compact import compact_postings
    from flow_indexer_spark.operators.enrich import enrich
    from flow_indexer_spark.operators.postings import build_postings, write_postings
    from flow_indexer_spark.plans.pipeline import PipelineConfig
    from flow_indexer_spark.server import open_indexer
    from flow_indexer_spark.sources import manifest as M

    spark, tr, out = b.spark, b.tracer, {}
    cfg = PipelineConfig(output_root=root)
    df = spark.read.parquet(src)

    ext = extract_entities(
        M.with_src_partition(df),
        carry_cols=("conv_id", "turn_idx", "role", "text", "tool", "ts", "src_partition"),
        keep_empty_turns=True,
    )
    t0 = perf()
    with tr.span("functions.extractors.extract_entities+operators.enrich.enrich"):
        enrich(ext, *b.dims).write.format("noop").mode("overwrite").save()
    out["extractors.extract_enrich_s"] = perf() - t0
    c = ext.agg(
        F.sum(F.col("_turn_head").cast("long")).alias("turns"),
        F.count("entity_key").alias("rows"),
        F.sum((F.col("entity_class") == "ip").cast("long")).alias("ips"),
    ).first()
    cands = df.agg(
        F.sum(F.size(F.regexp_extract_all(F.coalesce("text", F.lit("")), F.lit(IP_PATTERN), F.lit(0))))
    ).first()[0]
    out["extractors.entity_rows_per_turn"] = c["rows"] / c["turns"]
    out["extractors.ip_valid_ratio"] = c["ips"] / cands

    cached = (
        ext.filter(F.col("entity_key").isNotNull())
        .select("entity_class", "entity_key", "conv_id", "turn_idx", "ts")
        .cache()
    )
    cached.count()
    tour_postings = b.path("tour", "postings")
    t0 = perf()
    with tr.span("operators.postings.build_postings+write_postings"):
        write_postings(
            build_postings(cached, n_salt=cfg.n_salt, chunk_mode=cfg.chunk_mode),
            tour_postings,
            layout=cfg.postings_layout,
        )
    out["postings.build_write_s"] = perf() - t0
    cached.unpersist()
    p = spark.read.parquet(tour_postings).agg(F.count("*").alias("n"), F.max("ndocs").alias("mx")).first()
    out["postings.chunk_rows"] = p["n"]
    out["postings.max_chunk_ndocs"] = p["mx"]
    out["postings.files_written"] = count_files(tour_postings)
    out["postings.bytes_written"] = tree_bytes(tour_postings)

    walls = []
    for k in range(1, TOUR_DELTAS + 1):
        delta = gen.make_batch(b.seed, k, DELTA_TURNS, BASE_DAYS + k, 1)
        dsrc = b.path("tour", f"delta{k}")
        gen.write_parquet(delta, dsrc)
        walls.append(b.ingest(dsrc, root, DELTA_TURNS, counted=False))
    out["pipeline.delta_batch_s"] = _median(walls)

    t0 = perf()
    with tr.span("sources.manifest.read_manifest+committed_run_ids"):
        committed = M.committed_run_ids(M.read_manifest(spark, cfg.manifest_path))
    out["manifest.read_ms"] = 1000 * (perf() - t0)
    t0 = perf()
    with tr.span("sources.manifest.clean_orphan_batches"):
        removed = M.clean_orphan_batches([cfg.routed_path, cfg.postings_path], committed)
    out["manifest.clean_orphans_ms"] = 1000 * (perf() - t0)
    b.check(removed == [], f"published index had orphan batch dirs: {removed}")
    t0 = perf()
    with tr.span("sources.manifest.commit_partitions"):
        M.commit_partitions(spark, b.path("tour", "manifest"), [{"src_partition": "tour"}])
    out["manifest.commit_ms"] = 1000 * (perf() - t0)
    out["manifest.batch_dirs"] = count_batch_dirs(cfg.routed_path, cfg.postings_path)

    # one query per category, served alone: HTTP minus library latency
    handle = open_indexer(spark, root, src)
    port = b.start_server({INDEXER: handle})
    firsts = {}
    for item in serve_pool(pdf):
        firsts.setdefault(item[0], item)
    for cat, route, query in firsts.values():
        http_answer(port, route, query)  # warm-up
        lib, web = [], []
        for _ in range(3):
            t0 = perf()
            with tr.span(f"operators.queries.{route.strip('/')}"):
                digest, rows, _nb = library_answer(handle, route, query)
            lib.append(1000 * (perf() - t0))
            t0 = perf()
            with tr.span(f"server{route}"):
                status, got, _lines, nbytes = http_answer(port, route, query)
            web.append(1000 * (perf() - t0))
            b.check(status == 200 and got == digest, f"tour {route} {query} mismatch")
        out[f"queries.{cat}_lib_ms"] = _median(lib)
        # minima: the fixed HTTP cost is small next to Spark job jitter
        out[f"server.{cat}_overhead_ms"] = min(web) - min(lib)
        if cat == "hot":
            out["queries.hot_result_rows"] = rows
            out["server.response_bytes"] = nbytes
    b.stop_server()

    t0 = perf()
    with tr.span("operators.compact.compact_postings"):
        comp = compact_postings(spark, cfg.postings_path)
    out["compact.compact_s"] = perf() - t0
    out["compact.files_before"] = comp["files_before"]
    out["compact.files_after"] = comp["files_after"]
    b.check(comp["compacted"] and comp["files_after"] < comp["files_before"], f"compaction: {comp}")
    return out
