"""Table maintenance: compaction of small files + posting-chunk folding.

Reference analogue: LevelDB ``CompactRange`` after bulk indexing
(/root/reference/store/leveldb.go:50-52, flowindexer/compact.go:7-13,
cmd/compact.go:8-15). Incremental ingest appends one batch directory of
salt-chunk rows per run; after many batches the postings table fragments
into many small files and many chunk rows per entity, which at 100 TB
scale means catalog pressure and poor scan locality. On Iceberg this is
``rewrite_data_files``; on plain parquet we rewrite the whole table into
a single ``batch_id=compact-*`` directory, folding same-(entity, chunk)
rows into one merged sorted row each, preserving the sorted-by-entity_key
layout that makes range queries file-skipping scans.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import SparkSession, functions as F


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
    sort_col: str = "entity_key",
    partition_col: str = "entity_class",
    routed_path: str | None = None,
) -> dict:
    """Rewrite the postings table if fragmented: read, fold chunk rows,
    range-repartition on (partition, sort) keys, re-sort within
    partitions, atomic swap via a sibling temp dir + rename. Returns
    {files_before, files_after, compacted}.

    The rewrite preserves the write-layout invariants of
    ``write_postings``: one writer per key range -> non-overlapping
    parquet min/max on ``sort_col`` -> range queries keep skipping files.
    The output lands under a fresh ``batch_id=compact-*`` directory —
    ingest's orphan cleanup treats compact ids as always-published, so a
    compacted table survives subsequent incremental runs.

    ``routed_path``: when given, ts_min/ts_max are recomputed exactly
    from the routed turns (see :func:`recompute_ts_bounds`) instead of
    folded from the stored outer bounds — this is what re-tightens time
    pruning after ``forget_conversations`` deliberately left them stale.
    """
    before = _parquet_file_count(path)
    if before < min_files:
        return {"files_before": before, "files_after": before, "compacted": False}

    df = spark.read.parquet(path)
    folded = fold_posting_chunks(df.drop("batch_id") if "batch_id" in df.columns else df)
    if routed_path is not None:
        turn_ts = spark.read.parquet(routed_path).select(
            "conv_id", "turn_idx", "ts"
        )
        folded = recompute_ts_bounds(folded, turn_ts)
    out = folded.withColumn("batch_id", F.lit("compact-" + uuid.uuid4().hex[:8]))
    parent = os.path.dirname(os.path.abspath(path))
    tmp = tempfile.mkdtemp(prefix="_compact_", dir=parent)
    tmp_out = os.path.join(tmp, "data")
    (
        out.repartitionByRange(partition_col, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .option(f"parquet.bloom.filter.enabled#{sort_col}", "true")
        .partitionBy("batch_id", partition_col)
        .parquet(tmp_out)
    )
    # local-POSIX-only swap (at S3/HDFS scale this is an Iceberg
    # rewrite_data_files snapshot commit instead); clear any stale _old
    # left by a prior crash-after-rename so the swap can't wedge.
    old = path.rstrip("/") + "_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp_out, path)
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    after = _parquet_file_count(path)
    return {"files_before": before, "files_after": after, "compacted": True}
