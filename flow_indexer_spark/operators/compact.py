"""Table maintenance: compaction of small files + posting-chunk folding.

Reference analogue: LevelDB ``CompactRange`` after bulk indexing
(/root/reference/store/leveldb.go:50-52, flowindexer/compact.go:7-13,
cmd/compact.go:8-15). Incremental ingest appends one batch directory of
salt-chunk rows per run; after many batches the postings table fragments
into many small files and many chunk rows per entity, which at 100 TB
scale means catalog pressure and poor scan locality. On Iceberg this is
``rewrite_data_files``; on plain parquet we fold the live postings
batches into one new batch, same-(entity, chunk) rows merged into one
sorted row each, written by ``write_postings`` in the one
sorted-by-entity_key layout that makes range queries file-skipping
scans, and published by the protocol in sources/manifest.py.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from flow_indexer_spark.operators.postings import write_postings
from flow_indexer_spark.sources.manifest import (
    clean_orphan_batches,
    commit_partitions,
    live_batch_dirs,
    new_batch_id,
    read_live,
    superseded_rows,
    writer_lock,
)


def _parquet_file_count(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def fold_posting_chunks(postings):
    """Merge accumulated per-batch chunk rows: one row per
    (entity_class, entity_key, chunk_id) with a single sorted posting
    array — the offline merge step of the incremental-append design
    (the reference's read-modify-write posting union,
    /root/reference/store/leveldb.go:261-278, done as one batch groupBy).
    Batches index disjoint documents, so flatten (no distinct) is exact;
    a hot entity still merges as n_salt parallel chunk groups, not one
    serial task."""
    return (
        postings.groupBy("entity_class", "entity_key", "chunk_id")
        .agg(
            F.array_sort(F.flatten(F.collect_list("postings"))).alias("postings"),
            F.min("ts_min").alias("ts_min"),
            F.max("ts_max").alias("ts_max"),
        )
        .withColumn("ndocs", F.size("postings"))
    )


def recompute_ts_bounds(folded, turn_ts):
    """Re-derive each posting row's ts_min/ts_max EXACTLY from the turns
    it still references. Posting structs carry only (conv_id, turn_idx),
    so after ``forget_conversations`` the stored bounds are stale outer
    bounds (pipeline.py documents "exactness comes back at the next
    compaction" — this is that step). ``turn_ts`` is any (conv_id,
    turn_idx, ts) source, normally the routed table.

    Scale shape: one explode + one shuffle equi-join on (conv_id,
    turn_idx) + one re-aggregation on the posting key — all partial-
    aggregating, no per-key arrays beyond the postings rows themselves.
    That is a full-table pass, which is exactly what compaction already
    is; it adds no new asymptotics to the rewrite."""
    keys = ["entity_class", "entity_key", "chunk_id"]
    # routed stores a turn once per entity class it contains; ts is a
    # per-turn fact, so any representative is exact
    turn_ts = turn_ts.groupBy("conv_id", "turn_idx").agg(F.max("ts").alias("_ts"))
    exploded = folded.select(*keys, F.explode("postings").alias("_p")).select(
        *keys,
        F.col("_p.conv_id").alias("conv_id"),
        F.col("_p.turn_idx").alias("turn_idx"),
    )
    bounds = (
        exploded.join(turn_ts, ["conv_id", "turn_idx"])
        .groupBy(*keys)
        .agg(F.min("_ts").alias("ts_min"), F.max("_ts").alias("ts_max"))
    )
    # left join: a posting entry with no surviving turn row keeps null
    # bounds rather than silently dropping the chunk (conservative —
    # null never satisfies a pruning predicate's negation)
    return folded.drop("ts_min", "ts_max").join(bounds, keys, "left")


def compact_postings(
    spark: SparkSession,
    path: str,
    *,
    min_files: int = 8,
    routed_path: str | None = None,
) -> dict:
    """Rewrite the postings table at ``path`` if fragmented: fold the
    live batches into one new batch, written by ``write_postings`` in
    every batch's layout, and publish it as superseding them in the
    manifest next to ``path`` (protocol: sources/manifest.py). Returns
    {files_before, files_after, compacted}.

    ``routed_path``: when given, ts_min/ts_max are recomputed exactly
    from the live routed turns (see :func:`recompute_ts_bounds`) instead
    of folded from the stored outer bounds — this is what re-tightens
    time pruning after ``forget_conversations`` deliberately left them
    stale.
    """
    root, table = os.path.split(os.path.abspath(path))
    with writer_lock(root):
        clean_orphan_batches([path])
        live = live_batch_dirs(path)
        before = sum(_parquet_file_count(d) for d in live)
        if before < min_files:
            return {"files_before": before, "files_after": before, "compacted": False}

        folded = fold_posting_chunks(read_live(spark, path).drop("batch_id"))
        if routed_path is not None:
            turn_ts = read_live(spark, routed_path).select("conv_id", "turn_idx", "ts")
            folded = recompute_ts_bounds(folded, turn_ts)
        run_id = new_batch_id()
        write_postings(
            folded.withColumn("batch_id", F.lit(run_id)),
            path,
            mode="append",
            partition_cols=("batch_id", "entity_class"),
        )
        commit_partitions(
            spark,
            os.path.join(root, "manifest"),
            superseded_rows(table, [d.rsplit("batch_id=", 1)[1] for d in live]),
            run_id=run_id,
        )
        clean_orphan_batches([path])
        after = _parquet_file_count(os.path.join(path, f"batch_id={run_id}"))
    return {"files_before": before, "files_after": after, "compacted": True}
