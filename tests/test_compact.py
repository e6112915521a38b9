"""Compaction: fragmented postings rewrite preserves content + layout."""

from __future__ import annotations

from flow_indexer_spark.operators.compact import _parquet_file_count, compact_postings
from flow_indexer_spark.operators.queries import search
from tests.layout import assert_postings_layout
from tests.published import publish
from tests.query_paths import assert_query_paths_agree


def _counts(spark, path):
    df = spark.read.parquet(path)
    return sorted(
        (r["entity_class"], r["entity_key"], r["ndocs"])
        for r in df.select("entity_class", "entity_key", "ndocs").collect()
    )


def test_compact_preserves_content_and_reduces_files(spark, pipeline_out, tmp_path):
    cfg, metrics = pipeline_out
    # fragment a copy of the postings table: rewrite with many partitions,
    # as the same batch, published in the copy's own manifest
    frag = str(tmp_path / "postings")
    df = spark.read.parquet(cfg.postings_path)
    df.repartition(24).write.partitionBy("batch_id", "entity_class").parquet(frag)
    publish(spark, str(tmp_path), metrics["run_id"])
    before_content = _counts(spark, frag)
    before_files = _parquet_file_count(frag)

    res = compact_postings(spark, frag, min_files=4)
    assert res["compacted"]
    assert res["files_after"] < before_files
    assert _counts(spark, frag) == before_content
    # query layer still works over the compacted table
    post = spark.read.parquet(frag)
    assert search(post, "10.0.0.1").count() > 0


def test_compact_folds_incremental_batch_chunks(spark, transcripts, dims, tmp_path):
    """After two incremental batches, an entity has chunk rows in BOTH
    batch dirs; compaction must fold them to one row per (entity, chunk)
    with the merged sorted posting array — the offline analogue of the
    reference's read-modify-write posting union
    (/root/reference/store/leveldb.go:261-278)."""
    from pyspark.sql import functions as F

    from flow_indexer_spark.plans.pipeline import PipelineConfig, run_ingest

    cfg = PipelineConfig(output_root=str(tmp_path / "inc"))
    tr, rt = dims
    parts = sorted(
        r.p
        for r in transcripts.select(F.date_format("ts", "yyyy-MM-dd").alias("p"))
        .distinct()
        .collect()
    )
    cut = parts[len(parts) // 2]
    run_ingest(spark, transcripts.filter(F.date_format("ts", "yyyy-MM-dd") < cut), cfg, tr, rt)
    run_ingest(spark, transcripts, cfg, tr, rt)

    def exploded(path):
        return sorted(
            map(
                repr,
                spark.read.parquet(path)
                .select("entity_class", "entity_key", F.explode("postings").alias("p"))
                .select("entity_class", "entity_key", "p.conv_id", "p.turn_idx")
                .collect(),
            )
        )

    before = exploded(cfg.postings_path)
    assert_postings_layout(cfg.postings_path)
    # the in-process Arrow path dedups across batch dirs and chunks
    assert_query_paths_agree(spark, cfg.postings_path)
    # the hot entity appears in both batches -> duplicate (entity, chunk) rows
    hot_rows_before = (
        spark.read.parquet(cfg.postings_path)
        .groupBy("entity_class", "entity_key", "chunk_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert hot_rows_before > 0

    res = compact_postings(spark, cfg.postings_path, min_files=1)
    assert res["compacted"]
    assert_postings_layout(cfg.postings_path)
    assert_query_paths_agree(spark, cfg.postings_path)
    post = spark.read.parquet(cfg.postings_path)
    assert exploded(cfg.postings_path) == before
    assert (
        post.groupBy("entity_class", "entity_key", "chunk_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )
    # per-chunk arrays are sorted and ndocs consistent
    bad = post.filter(
        (F.size("postings") != F.col("ndocs"))
        | (F.to_json(F.array_sort("postings")) != F.to_json("postings"))
    )
    assert bad.count() == 0
    assert search(post, "10.0.0.1").count() > 0


def test_compact_tightens_ts_bounds_after_forget(spark, transcripts, dims, tmp_path):
    """forget_conversations deliberately leaves ts_min/ts_max as stale
    outer bounds ("exactness comes back at the next compaction" —
    pipeline.py). Forget the conversation holding an entity's MINIMUM
    ts, then compact with routed_path: the stored ts_min must move up
    to the true post-forget minimum (and every row's bounds must equal
    the bounds recomputed from its surviving postings)."""
    from pyspark.sql import functions as F

    from flow_indexer_spark.plans.pipeline import (
        PipelineConfig,
        forget_conversations,
        run_ingest,
    )

    cfg = PipelineConfig(output_root=str(tmp_path / "fb"))
    tr, rt = dims
    run_ingest(spark, transcripts, cfg, tr, rt)

    # pick the hot entity's min-ts conversation from the routed truth
    routed = spark.read.parquet(cfg.routed_path)
    # 10.0.0.1's sortable hex key (functions/keys.py ip_to_key)
    hot = routed.filter(F.col("entity_key") == "0a000001")
    victim, old_min = hot.orderBy("ts", "conv_id").select("conv_id", "ts").head()
    # the victim must be the UNIQUE holder of the minimum for the bound
    # to provably move; the generator ties are broken by dropping every
    # conversation sharing the old minimum
    victims = [
        r["conv_id"]
        for r in hot.filter(F.col("ts") == old_min).select("conv_id")
        .distinct().collect()
    ]
    forget_conversations(spark, cfg, victims)

    def hot_bounds():
        return (
            spark.read.parquet(cfg.postings_path)
            .filter(F.col("entity_key") == "0a000001")
            .agg(F.min("ts_min"), F.max("ts_max"))
            .head()
        )

    stale_min, _ = hot_bounds()
    assert stale_min == old_min  # forget left the outer bound stale

    res = compact_postings(
        spark, cfg.postings_path, min_files=1, routed_path=cfg.routed_path
    )
    assert res["compacted"]
    new_min, _ = hot_bounds()
    assert new_min > old_min  # the bound tightened past the forgotten turn

    # exactness, every row: stored bounds == bounds recomputed from the
    # routed ts of each row's own surviving postings
    post = spark.read.parquet(cfg.postings_path)
    turn_ts = spark.read.parquet(cfg.routed_path).groupBy(
        "conv_id", "turn_idx"
    ).agg(F.max("ts").alias("_ts"))
    truth = (
        post.select(
            "entity_class", "entity_key", "chunk_id",
            F.explode("postings").alias("p"),
        )
        .select("entity_class", "entity_key", "chunk_id", "p.conv_id", "p.turn_idx")
        .join(turn_ts, ["conv_id", "turn_idx"])
        .groupBy("entity_class", "entity_key", "chunk_id")
        .agg(F.min("_ts").alias("want_min"), F.max("_ts").alias("want_max"))
    )
    bad = post.join(truth, ["entity_class", "entity_key", "chunk_id"]).filter(
        (F.col("ts_min") != F.col("want_min"))
        | (F.col("ts_max") != F.col("want_max"))
    )
    assert bad.count() == 0


def test_compact_skips_small_tables(spark, pipeline_out):
    cfg, _ = pipeline_out
    res = compact_postings(spark, cfg.postings_path, min_files=10_000)
    assert not res["compacted"]
