"""Differential check of the two query paths over one postings table:
the Spark DataFrame path (``Q.search`` / ``Q.expand``, the oracle) and
the in-process Arrow path (``Q.search_files`` / ``Q.expand_files``)
over the same files."""

from __future__ import annotations

from pyspark.sql import functions as F

from flow_indexer_spark.functions.keys import key_to_ip
from flow_indexer_spark.operators import queries as Q

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
