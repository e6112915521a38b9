"""Differential checks of the two query paths: the Spark DataFrame path
(``Q.search`` / ``Q.expand`` / ``Q.stats`` / ``Q.dump``, the oracle) and
the in-process Arrow path (``Q.search_files`` / ``Q.expand_files``, and
the daemon's ``query_stat`` / ``dump_text``) over the same files."""

from __future__ import annotations

from pyspark.sql import functions as F

from flow_indexer_spark.functions.keys import key_to_ip
from flow_indexer_spark.operators import queries as Q
from flow_indexer_spark.server import dump_text, parse_bucket_param, query_stat

#: range queries spanning many entities, batches and salt chunks, so
#: dedup and ordering across them are exercised
RANGE_QUERIES = ("0.0.0.0/0", "::/0", "10.0.0.0/8", "tool:*", "role:*")


def hit_tuples(hits) -> list[tuple]:
    """``search_files`` result -> [(conv_id, turn_idx), ...]."""
    return list(zip(hits["conv_id"].to_pylist(), hits["turn_idx"].to_pylist()))


def assert_query_paths_agree(spark, path: str) -> None:
    """Every entity's point lookup, and each of ``RANGE_QUERIES`` as
    search and expand, gives the same rows in the same order on both
    paths."""
    files = Q.open_postings_files(path)
    postings = spark.read.parquet(path)
    per_entity = (
        postings.select("entity_class", "entity_key", F.explode("postings").alias("p"))
        .groupBy("entity_class", "entity_key")
        .agg(F.array_sort(F.collect_set("p")).alias("hits"))
        .collect()
    )
    assert per_entity, f"no postings under {path}"
    for r in per_entity:
        key = r["entity_key"]
        query = key_to_ip(key) if r["entity_class"] == "ip" else f"{r['entity_class']}:{key}"
        want = [(p["conv_id"], p["turn_idx"]) for p in r["hits"]]
        assert hit_tuples(Q.search_files(files, query)) == want, query
    for query in RANGE_QUERIES:
        want = [(r["conv_id"], r["turn_idx"]) for r in Q.search(postings, query).collect()]
        assert want, f"{query} matches nothing under {path}"
        assert hit_tuples(Q.search_files(files, query)) == want, query
        keys = [r["entity_key"] for r in Q.expand(postings, query).collect()]
        assert Q.expand_files(files, query)["entity_key"].to_pylist() == keys, query


# -- /stats and /dump: Spark oracle vs the in-process Arrow path ------------

#: point, CIDR (v4 and v6), prefix, role and miss queries for /stats and /dump
TURN_QUERIES = ("10.0.0.1", "10.0.0.0/8", "::/0", "tool:*", "role:user", "9.9.9.9")
#: ``bucket`` parameters: the default, one-part and two-part forms
BUCKETS = (None, "day", "year/month", "hour/minute")


def spark_stat(postings, transcripts, query: str, bucket: str | None) -> dict:
    """The /stats document computed with Spark from ``Q.search_turns``
    and ``Q.stats``, rendering values with ``str()`` of what ``collect``
    returns: the oracle of ``server.query_stat``."""
    group, count = parse_bucket_param(bucket)
    matched = Q.search_turns(postings, transcripts, query)
    doc = F.struct("conv_id", "turn_idx")
    summary = matched.agg(
        F.count("*").alias("hits"),
        F.min(doc).alias("first"),
        F.max(doc).alias("last"),
        F.min("ts").alias("first_time"),
        F.max("ts").alias("last_time"),
    ).head()

    def doc_name(row) -> str:
        return f"{row['conv_id']}\t{row['turn_idx']}" if row else ""

    return {
        "hits": summary["hits"],
        "first": doc_name(summary["first"]),
        "last": doc_name(summary["last"]),
        "first_time": str(summary["first_time"] or ""),
        "last_time": str(summary["last_time"] or ""),
        "buckets": [
            {"bucket": str(r["bucket"]), "hits": r["hits"]}
            for r in Q.stats(postings, transcripts, query, group, count).collect()
        ],
        "errors": [],
    }


def spark_dump(postings, transcripts, query: str, contains: str | None) -> str:
    """The /dump body from ``Q.dump``: the oracle of ``server.dump_text``."""
    rows = Q.dump(postings, transcripts, query, contains).collect()
    return "".join(f"{r['text']}\n" for r in rows)


def assert_turn_paths_agree(
    handle, queries=TURN_QUERIES, buckets=BUCKETS, contains=()
) -> int:
    """Every query's /stats document (for each of ``buckets``) and /dump
    body (without ``contains``, with each of ``contains`` and with the
    second word of the body) are equal on a handle's Spark DataFrames
    and its Arrow datasets. Returns the summed hits, so a caller can
    check the queries matched something."""
    total = 0
    for query in queries:
        for bucket in buckets:
            want = spark_stat(handle.postings, handle.transcripts, query, bucket)
            got = query_stat(handle.postings_files, handle.transcripts_files, query, bucket)
            assert got == want, (query, bucket)
        total += want["hits"]
        body = spark_dump(handle.postings, handle.transcripts, query, None)
        assert dump_text(handle.postings_files, handle.transcripts_files, query, None) == body
        words = body.split()[1:2]
        for token in (*contains, *words):
            want_body = spark_dump(handle.postings, handle.transcripts, query, token)
            got_body = dump_text(handle.postings_files, handle.transcripts_files, query, token)
            assert got_body == want_body, (query, token)
    return total
