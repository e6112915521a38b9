"""HTTP daemon surface tests — response-shape + parity with the library
query layer (the web.go contract, /root/reference/flowindexer/web.go)."""

from __future__ import annotations

import datetime
import json
import threading
import time
import urllib.error
import urllib.request

import pytest

from flow_indexer_spark.functions.keys import key_to_ip
from flow_indexer_spark.operators import queries as Q
from flow_indexer_spark.operators.postings import build_postings
from flow_indexer_spark.server import make_server, open_indexer
from tests.published import publish_postings
from tests.query_paths import spark_stat


def _serve(spark, indexers):
    srv = make_server(spark, indexers)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    host, port = srv.server_address[:2]
    yield f"http://{host}:{port}"
    srv.shutdown()
    srv.server_close()


@pytest.fixture(scope="module")
def server(spark, pipeline_out, transcripts_path):
    cfg, _ = pipeline_out
    yield from _serve(
        spark, {"conn": open_indexer(spark, cfg.output_root, transcripts_path)}
    )


@pytest.fixture(scope="module")
def hex_server(spark, tmp_path_factory):
    """One index holding deadbeef both as a tool name and as the IPv4
    key of 222.173.190.239."""
    ts = datetime.datetime(2024, 1, 1)
    root = str(tmp_path_factory.mktemp("hex"))
    publish_postings(
        spark,
        build_postings(
            spark.createDataFrame(
                [("tool", "deadbeef", "c0", 0, ts), ("ip", "deadbeef", "c0", 1, ts)],
                "entity_class string, entity_key string, conv_id string, "
                "turn_idx int, ts timestamp",
            )
        ),
        root,
    )
    yield from _serve(spark, {"hex": open_indexer(spark, root)})


def _get(url: str) -> tuple[int, str]:
    try:
        with urllib.request.urlopen(url, timeout=120) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_indexers_endpoint(server):
    code, body = _get(f"{server}/indexers")
    assert code == 200
    assert json.loads(body) == ["conn"]


def test_search_parity_and_v1_alias(server, postings):
    want = [
        f"{r['conv_id']}\t{r['turn_idx']}"
        for r in Q.search(postings, "10.0.0.1").collect()
    ]
    assert want, "fixture must contain the hot IP"
    code, body = _get(f"{server}/search?i=conn&q=10.0.0.1")
    assert code == 200
    assert body.splitlines() == want
    code_v1, body_v1 = _get(f"{server}/v1/search?i=conn&q=10.0.0.1")
    assert (code_v1, body_v1) == (code, body)


def test_search_missing_params(server):
    code, body = _get(f"{server}/search?q=10.0.0.1")
    assert code == 400 and body.strip() == "Missing parameter: i"
    code, body = _get(f"{server}/search?i=conn")
    assert code == 400 and body.strip() == "Missing parameter: q"


def test_search_bad_query_is_500(server):
    code, body = _get(f"{server}/search?i=conn&q=not-an-ip")
    assert code == 500 and "not an IP" in body


def test_unknown_indexer_is_500(server):
    code, body = _get(f"{server}/search?i=nope&q=10.0.0.1")
    assert code == 500 and "no such indexer" in body


def test_unknown_route_is_404(server):
    code, _ = _get(f"{server}/frobnicate")
    assert code == 404


def test_expandcidr_renders_addresses(server, postings):
    keys = [r["entity_key"] for r in Q.expand(postings, "10.0.0.0/8").collect()]
    assert keys
    code, body = _get(f"{server}/expandcidr?i=conn&q=10.0.0.0/8")
    assert code == 200
    assert body.splitlines() == [key_to_ip(k) for k in keys]


def test_expandcidr_display_follows_query_class(hex_server):
    """An 8-hex tool name has the length of an IPv4 key: the query's
    entity class, not the key's length, picks the display form."""
    code, body = _get(f"{hex_server}/expandcidr?i=hex&q=tool:dead*")
    assert (code, body.splitlines()) == (200, ["deadbeef"])
    code, body = _get(f"{hex_server}/expandcidr?i=hex&q=222.173.190.0/24")
    assert (code, body.splitlines()) == (200, ["222.173.190.239"])


def test_stats_document_shape_and_parity(server, postings, transcripts):
    code, body = _get(f"{server}/stats?i=conn&q=10.0.0.1")
    assert code == 200
    stat = json.loads(body)
    assert set(stat) == {
        "hits", "first", "last", "first_time", "last_time", "buckets", "errors",
    }
    n_hits = Q.search(postings, "10.0.0.1").count()
    assert stat["hits"] == n_hits and stat["errors"] == []
    # default bucket=month/day (parseBucketParam, util.go:119-124)
    want_buckets = [
        {"bucket": str(r["bucket"]), "hits": r["hits"]}
        for r in Q.stats(postings, transcripts, "10.0.0.1", "month", "day").collect()
    ]
    assert stat["buckets"] == want_buckets
    assert sum(b["hits"] for b in stat["buckets"]) <= n_hits
    assert stat["first"] <= stat["last"]
    assert stat["first_time"] <= stat["last_time"]


def test_stats_single_part_bucket_defaults(server, postings, transcripts):
    code, body = _get(f"{server}/stats?i=conn&q=10.0.0.1&bucket=day")
    assert code == 200
    want = [
        {"bucket": str(r["bucket"]), "hits": r["hits"]}
        for r in Q.stats(postings, transcripts, "10.0.0.1", "day", "hour").collect()
    ]
    assert json.loads(body)["buckets"] == want


def test_stats_bad_bucket_is_500(server):
    code, body = _get(f"{server}/stats?i=conn&q=10.0.0.1&bucket=fortnight")
    assert code == 500 and "granularity" in body


def test_dump_matches_library_dump(server, postings, transcripts):
    want = [r["text"] for r in Q.dump(postings, transcripts, "10.0.0.1").collect()]
    code, body = _get(f"{server}/dump?i=conn&q=10.0.0.1")
    assert code == 200
    assert body.splitlines() == want
    # contains re-filter (the FilterIPs grep analogue)
    token = want[0].split()[0]
    filtered = [
        r["text"]
        for r in Q.dump(postings, transcripts, "10.0.0.1", token).collect()
    ]
    code, body = _get(
        f"{server}/dump?i=conn&q=10.0.0.1&contains={urllib.request.quote(token)}"
    )
    assert code == 200 and body.splitlines() == filtered


def test_concurrent_requests(server, postings):
    want = Q.search(postings, "10.0.0.1").count()
    results: list[int] = []

    def hit():
        code, body = _get(f"{server}/search?i=conn&q=10.0.0.1")
        assert code == 200
        results.append(len(body.splitlines()))

    threads = [threading.Thread(target=hit) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results == [want] * 4


def _settled_job_ids(spark) -> set[int]:
    """Job ids the status tracker holds, read once two reads 0.2 s apart
    agree: job events reach the tracker asynchronously."""
    tracker = spark.sparkContext.statusTracker()
    ids = set(tracker.getJobIdsForGroup(None))
    for _ in range(50):
        time.sleep(0.2)
        now = set(tracker.getJobIdsForGroup(None))
        if now == ids:
            return ids
        ids = now
    raise AssertionError("Spark jobs kept starting while the test waited")


def test_fast_routes_run_no_spark_job(spark, server):
    """Every query route answers in-process from the postings and
    transcripts files: a burst of all four starts no Spark job, while
    one explicit Spark action does."""
    before = _settled_job_ids(spark)
    for q in ("10.0.0.1", "10.0.0.0/8", "0.0.0.0/0", "tool:*", "9.9.9.9"):
        for route in (
            "search", "expandcidr", "v1/search", "stats", "v1/stats",
            "stats?bucket=day&", "dump", "v1/dump", "dump?contains=a&",
        ):
            sep = "" if route.endswith("&") else "?"
            code, body = _get(f"{server}/{route}{sep}i=conn&q={q}")
            assert code == 200, body
    assert _settled_job_ids(spark) == before
    assert spark.range(1).count() == 1
    assert _settled_job_ids(spark) - before, "the Spark witness ran no job"


def test_concurrent_file_lookups_agree(server):
    """The handle's Arrow datasets serve every handler thread: more
    threads than cores, with frequent thread switches, all get the
    single-threaded answer."""
    import sys

    urls = [
        f"{server}/search?i=conn&q=10.0.0.1",
        f"{server}/search?i=conn&q=10.0.0.0/8",
        f"{server}/expandcidr?i=conn&q=0.0.0.0/0",
        f"{server}/stats?i=conn&q=10.0.0.0/8&bucket=day",
        f"{server}/dump?i=conn&q=10.0.0.1",
    ]
    want = {u: _get(u) for u in urls}
    assert all(code == 200 and body for code, body in want.values())
    got: list[bool] = []

    def hit(url):
        got.append(_get(url) == want[url])

    threads = [
        threading.Thread(target=hit, args=(urls[i % len(urls)],)) for i in range(15)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert got == [True] * 15


def _assert_routes_answer(base, spark, root, transcripts, q, routes):
    """Each route answers 200 with the library answer for the postings
    table now on disk."""
    post = spark.read.parquet(f"{root}/postings")
    want = {
        "/search": [f"{r['conv_id']}\t{r['turn_idx']}" for r in Q.search(post, q).collect()],
        "/expandcidr": [key_to_ip(r["entity_key"]) for r in Q.expand(post, q).collect()],
        "/dump": [r["text"] for r in Q.dump(post, transcripts, q).collect()],
    }
    for route in routes:
        code, body = _get(f"{base}{route}?i=live&q={q}")
        assert code == 200, (route, body)
        if route == "/stats":
            assert json.loads(body) == spark_stat(post, transcripts, q, None)
        else:
            assert body.splitlines() == want[route], route


def test_served_handle_survives_compaction_and_forget(
    spark, two_batch_root, transcripts, transcripts_path, tmp_path
):
    """A handle opened on a two-batch root keeps serving every route
    after a compaction and then a forget delete the files it listed: the
    first request through each reader reopens it on the live batches."""
    import shutil

    from pyspark.sql import functions as F

    from flow_indexer_spark.operators.compact import compact_postings
    from flow_indexer_spark.plans.pipeline import PipelineConfig, forget_conversations

    cfg = PipelineConfig(output_root=str(tmp_path / "idx"))
    shutil.copytree(two_batch_root, cfg.output_root)
    serving = _serve(
        spark, {"live": open_indexer(spark, cfg.output_root, transcripts_path)}
    )
    base = next(serving)
    try:
        q = "10.0.0.1"
        assert compact_postings(spark, cfg.postings_path, min_files=1)["compacted"]
        _assert_routes_answer(  # /search meets the deleted files first
            base, spark, cfg.output_root, transcripts, q,
            ["/search", "/expandcidr", "/stats", "/dump"],
        )
        victim = (
            Q.search(open_indexer(spark, cfg.output_root).postings, q)
            .select(F.min("conv_id")).first()[0]
        )
        assert forget_conversations(spark, cfg, [victim])["n_batches_rewritten"] > 0
        _assert_routes_answer(  # now /stats does
            base, spark, cfg.output_root, transcripts, q,
            ["/stats", "/dump", "/search", "/expandcidr"],
        )
        code, body = _get(f"{base}/search?i=live&q={q}")
        assert code == 200 and body
        assert not [ln for ln in body.splitlines() if ln.split("\t")[0] == victim]
    finally:
        next(serving, None)
