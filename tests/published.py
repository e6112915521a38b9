"""Fixture roots published through the manifest, so readers that list
only live batches (``manifest.live_batch_dirs``) see them, plus the
content summary the crash tests compare against a clean run."""

from __future__ import annotations

from pyspark.sql import functions as F

from flow_indexer_spark.operators.postings import write_postings
from flow_indexer_spark.sources import manifest as M


def publish(spark, root: str, batch_id: str) -> None:
    """Publish batch ``batch_id`` of the tables under ``root``."""
    M.commit_partitions(
        spark, f"{root}/manifest", [{"src_partition": "fixture"}], run_id=batch_id
    )


def publish_postings(spark, postings, root: str) -> str:
    """Write ``postings`` as one published batch of ``root``'s postings
    table; returns the table path."""
    batch = M.new_batch_id()
    path = f"{root}/postings"
    write_postings(
        postings.withColumn("batch_id", F.lit(batch)),
        path,
        partition_cols=("batch_id", "entity_class"),
    )
    publish(spark, root, batch)
    return path


def contents(spark, root: str, live: bool = True) -> dict:
    """What an index root holds, read through its live batches (or, with
    ``live=False``, every file on disk): summed ``ndocs``, the sorted
    exploded posting set, its duplicate entries, and an order-free digest
    of the routed rows."""
    read = (lambda p: M.read_live(spark, p)) if live else spark.read.parquet
    post = read(f"{root}/postings")
    entries = post.select(
        "entity_class", "entity_key", F.explode("postings").alias("p")
    ).select("entity_class", "entity_key", "p.conv_id", "p.turn_idx")
    routed = read(f"{root}/routed").agg(
        F.count("*"),
        F.expr("bit_xor(xxhash64(conv_id, turn_idx, entity_class, entity_key, ts, text))"),
    )
    exploded = sorted(map(tuple, entries.collect()))
    return {
        "ndocs": post.agg(F.sum("ndocs")).first()[0],
        "postings": exploded,
        "duplicates": len(exploded) - len(set(exploded)),
        "routed": tuple(routed.first()),
    }
