"""End-to-end pipeline tests: per-sink aggregate counts, routed-row
equality, enrich null path, manifest resume idempotence — the north_rule
correctness criteria."""

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flow_indexer_spark.generator import make_transcripts
from flow_indexer_spark.plans.pipeline import PipelineConfig, run_ingest
from tests.layout import assert_postings_layout
from tests.oracle import extract_oracle


def test_metrics_counts(pipeline_out, transcripts_pdf):
    _, metrics = pipeline_out
    assert metrics["skipped"] is False
    assert metrics["n_turns"] == len(transcripts_pdf)
    assert metrics["n_entities"] == len(extract_oracle(transcripts_pdf))
    assert metrics["n_partitions"] > 1


def test_per_sink_aggregate_counts(spark, pipeline_out, transcripts_pdf):
    """Per-entity-class routed row counts == oracle (per-sink counts)."""
    cfg, _ = pipeline_out
    routed = spark.read.parquet(cfg.routed_path)
    got = {
        r.entity_class: r.n
        for r in routed.groupBy("entity_class").agg(F.count("*").alias("n")).collect()
    }
    want = extract_oracle(transcripts_pdf).groupby("entity_class").size().to_dict()
    assert got == want


def test_routed_row_equality(spark, pipeline_out, transcripts_pdf):
    """Routed rows preserve the original turn columns exactly (per-turn text
    equality under stable (conv_id, turn_idx) ordering)."""
    cfg, _ = pipeline_out
    routed = (
        spark.read.parquet(cfg.routed_path)
        .select("conv_id", "turn_idx", "text", "role", "tool")
        .dropDuplicates(["conv_id", "turn_idx"])
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    src = transcripts_pdf.set_index(["conv_id", "turn_idx"])
    for r in routed.itertuples():
        s = src.loc[(r.conv_id, r.turn_idx)]
        assert r.text == s["text"] and r.role == s["role"] and r.tool == s["tool"]


def test_postings_files_sorted_with_disjoint_key_ranges(pipeline_out):
    """Every postings file is sorted by entity_key and, within one
    batch/class directory, covers a key range no other file overlaps."""
    cfg, _ = pipeline_out
    assert assert_postings_layout(cfg.postings_path) > 0


def test_enrich_columns_and_null_path(spark, pipeline_out):
    cfg, _ = pipeline_out
    routed = spark.read.parquet(cfg.routed_path)
    assert {"tool_class", "owner", "role_class"} <= set(routed.columns)
    # ghost_tool appears in transcripts but not in the registry -> nulls
    ghost = routed.filter(F.col("tool") == "ghost_tool")
    if ghost.count() > 0:
        assert ghost.filter(F.col("tool_class").isNotNull()).count() == 0
    # known tool enriched
    known = routed.filter(F.col("tool") == "search")
    if known.count() > 0:
        assert known.filter(F.col("tool_class") != "search").count() == 0


def test_manifest_resume_idempotent(spark, transcripts, dims, tmp_path):
    """Re-running a batch is a no-op on BOTH sinks: no routed row is
    appended twice, and no posting entry is indexed twice (neither
    inside one chunk row nor across the entity's chunk rows)."""
    cfg = PipelineConfig(output_root=str(tmp_path / "out"))
    tr, rt = dims

    def ndocs_total():
        post = spark.read.parquet(cfg.postings_path)
        return post.agg(F.sum("ndocs")).first()[0]

    m1 = run_ingest(spark, transcripts, cfg, tr, rt)
    n_routed_1 = spark.read.parquet(cfg.routed_path).count()
    ndocs_1 = ndocs_total()
    m2 = run_ingest(spark, transcripts, cfg, tr, rt)
    n_routed_2 = spark.read.parquet(cfg.routed_path).count()
    assert m1["skipped"] is False and m2["skipped"] is True
    assert n_routed_1 == n_routed_2  # no duplicate appends
    assert ndocs_total() == ndocs_1 > 0
    entries = spark.read.parquet(cfg.postings_path).select(
        "entity_class", "entity_key", F.explode("postings").alias("p")
    )
    assert entries.count() == entries.distinct().count()


def test_incremental_new_partition_only(spark, transcripts, dims, tmp_path):
    """Feed half the partitions, then all: second run must process only the
    remainder, and final tables must equal a one-shot run."""
    cfg = PipelineConfig(output_root=str(tmp_path / "inc"))
    tr, rt = dims
    parts = sorted(
        r.p for r in transcripts.select(F.date_format("ts", "yyyy-MM-dd").alias("p")).distinct().collect()
    )
    cut = parts[len(parts) // 2]
    first = transcripts.filter(F.date_format("ts", "yyyy-MM-dd") < cut)
    m1 = run_ingest(spark, first, cfg, tr, rt)
    m2 = run_ingest(spark, transcripts, cfg, tr, rt)
    assert m1["n_turns"] + m2["n_turns"] == transcripts.count()

    cfg_full = PipelineConfig(output_root=str(tmp_path / "full"))
    run_ingest(spark, transcripts, cfg_full, tr, rt)
    inc_post = spark.read.parquet(cfg.postings_path)
    full_post = spark.read.parquet(cfg_full.postings_path)

    # O(delta) evidence: each batch appended its OWN chunk dir — the second
    # run did not rebuild/rewrite batch 1's postings from history.
    assert {r["batch_id"] for r in inc_post.select("batch_id").distinct().collect()} == {
        m1["run_id"],
        m2["run_id"],
    }

    # Query-level equivalence: the union of per-batch salt chunks explodes
    # to exactly the same posting set as the one-shot build (chunking is a
    # storage layout, not a semantic).
    def exploded(df):
        return sorted(
            map(
                repr,
                df.select(
                    "entity_class", "entity_key", F.explode("postings").alias("p")
                )
                .select("entity_class", "entity_key", "p.conv_id", "p.turn_idx")
                .collect(),
            )
        )

    assert exploded(inc_post) == exploded(full_post)


def _exploded_postings(df):
    return sorted(
        map(
            repr,
            df.select("entity_class", "entity_key", F.explode("postings").alias("p"))
            .select("entity_class", "entity_key", "p.conv_id", "p.turn_idx")
            .collect(),
        )
    )


@pytest.mark.parametrize("crash_stage", ["before_postings", "before_commit"])
def test_kill_between_stages_resume(
    spark, transcripts, dims, tmp_path, monkeypatch, crash_stage
):
    """SURVEY §5 item 6: kill between stages, re-run, counts unchanged.

    Crash (a) after the routed append but before the postings write, and
    (b) after both data writes but before the manifest commit. The crashed
    attempt leaves unpublished batch dirs; the retry's orphan cleanup must
    delete them so the final tables equal a clean one-shot run — the
    reference's HasDocument re-index guard
    (/root/reference/store/leveldb.go:58-68) at batch granularity."""
    import flow_indexer_spark.plans.pipeline as pl

    cfg = PipelineConfig(output_root=str(tmp_path / "crash"))
    tr, rt = dims

    boom = RuntimeError("injected crash")
    if crash_stage == "before_postings":
        monkeypatch.setattr(
            pl, "write_postings", lambda *a, **k: (_ for _ in ()).throw(boom)
        )
    else:
        monkeypatch.setattr(
            pl, "commit_partitions", lambda *a, **k: (_ for _ in ()).throw(boom)
        )
    with pytest.raises(RuntimeError, match="injected crash"):
        run_ingest(spark, transcripts, cfg, tr, rt)
    monkeypatch.undo()

    # orphan batch dirs exist on disk right now (the crash leftovers)
    routed_files_crashed = spark.read.parquet(cfg.routed_path).count()
    assert routed_files_crashed > 0

    m = run_ingest(spark, transcripts, cfg, tr, rt)  # the retry
    assert m["skipped"] is False

    clean = PipelineConfig(output_root=str(tmp_path / "clean"))
    run_ingest(spark, transcripts, clean, tr, rt)

    assert (
        spark.read.parquet(cfg.routed_path).count()
        == spark.read.parquet(clean.routed_path).count()
    )
    assert _exploded_postings(spark.read.parquet(cfg.postings_path)) == (
        _exploded_postings(spark.read.parquet(clean.postings_path))
    )


def test_error_records_accumulated(spark, transcripts, dims, tmp_path):
    """Per-doc error accumulation (A7): rows whose ts can't be bucketed
    route to the reserved _invalid_ts partition and surface as n_errors in
    the lineage — mirroring the reference's filename→time error table
    (/root/reference/flowindexer/flowindexer_test.go:205-228). The rows
    are still indexed (time only feeds stats, like the reference)."""
    from pyspark.sql import Row

    bad = spark.createDataFrame(
        [
            Row(conv_id="conv-err", turn_idx=0, role="user",
                text="bad row 203.0.113.99 here", tool="", ts=None),
            Row(conv_id="conv-err", turn_idx=1, role="user",
                text="another bad 203.0.113.99", tool="", ts=None),
        ],
        transcripts.schema,
    )
    cfg = PipelineConfig(output_root=str(tmp_path / "err"))
    tr, rt = dims
    m = run_ingest(spark, transcripts.unionByName(bad), cfg, tr, rt)
    assert m["n_errors"] == 2
    assert m["n_turns"] == transcripts.count() + 2

    man = spark.read.parquet(cfg.manifest_path)
    err_rows = man.filter(F.col("src_partition") == "_invalid_ts").collect()
    assert len(err_rows) == 1
    assert err_rows[0]["n_errors"] == 2 and err_rows[0]["n_turns"] == 2
    # normal partitions report zero errors
    assert man.filter(
        (F.col("src_partition") != "_invalid_ts") & (F.col("n_errors") > 0)
    ).count() == 0

    # the bad rows ARE indexed and searchable
    from flow_indexer_spark.operators.queries import search

    hits = search(spark.read.parquet(cfg.postings_path), "203.0.113.99")
    assert {(r["conv_id"], r["turn_idx"]) for r in hits.collect()} == {
        ("conv-err", 0),
        ("conv-err", 1),
    }


def test_zero_entity_turn_counted_and_retained(spark, transcripts, dims, tmp_path):
    """A turn with null role/tool and entity-free text still lands in the
    routed table (null entity_class) and is counted in n_turns — the
    lineage counts derive from the routed read-back, so no turn may be
    dropped by the entity explode."""
    from pyspark.sql import Row

    empty = spark.createDataFrame(
        [Row(conv_id="conv-empty", turn_idx=0, role=None,
             text="nothing interesting here", tool=None,
             ts=transcripts.select("ts").first()["ts"])],
        transcripts.schema,
    )
    cfg = PipelineConfig(output_root=str(tmp_path / "empty"))
    tr, rt = dims
    m = run_ingest(spark, transcripts.unionByName(empty), cfg, tr, rt)
    assert m["n_turns"] == transcripts.count() + 1

    routed = spark.read.parquet(cfg.routed_path)
    row = routed.filter(F.col("conv_id") == "conv-empty").collect()
    assert len(row) == 1 and row[0]["entity_class"] is None
    # and it contributes zero entities: n_entities == non-null routed rows
    assert m["n_entities"] == routed.filter(F.col("entity_key").isNotNull()).count()


def test_lineage_records(spark, pipeline_out):
    cfg, metrics = pipeline_out
    man = spark.read.parquet(cfg.manifest_path)
    rows = man.collect()
    assert all(r.state == "done" for r in rows)
    assert len({r.src_partition for r in rows}) == metrics["n_partitions"]
    assert all(r.run_id == metrics["run_id"] for r in rows)
    assert sum(r.n_turns for r in rows) == metrics["n_turns"]
    assert sum(r.n_entities for r in rows) == metrics["n_entities"]


def test_forget_conversations_purges_both_sinks(spark, transcripts, dims, tmp_path):
    """Right-to-be-forgotten: after forgetting a conversation, search
    finds nothing for it, routed rows are gone, untouched batch
    partitions keep their files, the audit row lands in the manifest,
    and a re-run is a no-op."""
    from flow_indexer_spark.operators import queries as Q
    from flow_indexer_spark.plans.pipeline import (
        PipelineConfig,
        forget_conversations,
        run_ingest,
    )

    cfg = PipelineConfig(output_root=str(tmp_path / "idx"))
    tool_registry, role_taxonomy = dims
    run_ingest(spark, transcripts, cfg, tool_registry, role_taxonomy)

    routed = spark.read.parquet(cfg.routed_path)
    victim = routed.select("conv_id").first()["conv_id"]
    before_rows = routed.count()
    victim_rows = routed.filter(F.col("conv_id") == victim).count()
    post_before = spark.read.parquet(cfg.postings_path)
    victim_postings = post_before.select(
        F.sum(
            F.size(F.filter("postings", lambda x: x["conv_id"] == victim))
        ).alias("n")
    ).collect()[0]["n"]
    assert victim_rows > 0 and victim_postings > 0

    res = forget_conversations(spark, cfg, [victim])
    assert res["n_routed_forgotten"] == victim_rows
    assert res["n_postings_forgotten"] == victim_postings

    routed_after = spark.read.parquet(cfg.routed_path)
    assert routed_after.filter(F.col("conv_id") == victim).count() == 0
    assert routed_after.count() == before_rows - victim_rows
    post_after = spark.read.parquet(cfg.postings_path)
    leaked = post_after.select(
        F.sum(
            F.size(F.filter("postings", lambda x: x["conv_id"] == victim))
        ).alias("n")
    ).collect()[0]["n"]
    assert (leaked or 0) == 0
    # no empty chunks survive, and search semantics stay intact
    assert post_after.filter(F.size("postings") == 0).count() == 0
    assert_postings_layout(cfg.postings_path)
    hot = Q.search(post_after, "10.0.0.1")
    assert hot.filter(F.col("conv_id") == victim).count() == 0
    assert hot.count() > 0  # other conversations still indexed

    man = spark.read.parquet(cfg.manifest_path)
    audit = man.filter(F.col("state") == "forgotten").collect()
    assert len(audit) == 1 and audit[0]["n_entities"] == victim_rows

    # idempotent retry: nothing left to forget
    res2 = forget_conversations(spark, cfg, [victim])
    assert res2["n_routed_forgotten"] == 0
    assert res2["n_batches_rewritten"] == 0
    assert spark.read.parquet(cfg.routed_path).count() == before_rows - victim_rows


def test_forget_after_compaction_purges_compacted_postings(
    spark, transcripts, dims, tmp_path
):
    """Postings purge must be scoped by CONTENT: after compact_postings
    rewrites everything into one new postings batch, the routed table's
    batch_ids no longer name any postings partition — a routed-derived
    scope would match nothing and silently leak the forgotten entries."""
    from flow_indexer_spark.operators.compact import compact_postings
    from flow_indexer_spark.plans.pipeline import (
        PipelineConfig,
        forget_conversations,
        run_ingest,
    )

    cfg = PipelineConfig(output_root=str(tmp_path / "idx"))
    tool_registry, role_taxonomy = dims
    m = run_ingest(spark, transcripts, cfg, tool_registry, role_taxonomy)
    compact_postings(spark, cfg.postings_path, min_files=1)
    post = spark.read.parquet(cfg.postings_path)
    batches = {r["batch_id"] for r in post.select("batch_id").distinct().collect()}
    assert len(batches) == 1 and m["run_id"] not in batches  # all compacted

    victim = post.select(
        F.explode("postings").alias("p")
    ).select("p.conv_id").first()["conv_id"]
    victim_postings = post.select(
        F.sum(
            F.size(F.filter("postings", lambda x: x["conv_id"] == victim))
        ).alias("n")
    ).collect()[0]["n"]
    assert victim_postings > 0

    res = forget_conversations(spark, cfg, [victim])
    assert res["n_postings_forgotten"] == victim_postings

    post_after = spark.read.parquet(cfg.postings_path)
    leaked = post_after.select(
        F.sum(
            F.size(F.filter("postings", lambda x: x["conv_id"] == victim))
        ).alias("n")
    ).collect()[0]["n"]
    assert (leaked or 0) == 0
    assert post_after.filter(F.size("postings") == 0).count() == 0


def test_forget_purges_entity_free_turns(spark, transcripts, dims, tmp_path):
    """Entity-free turns route to the Hive null partition
    (entity_class=__HIVE_DEFAULT_PARTITION__). A purge that misses
    null-class rows leaves the forgotten turn's full text in the routed
    table."""
    from flow_indexer_spark.plans.pipeline import (
        PipelineConfig,
        forget_conversations,
        run_ingest,
    )

    cfg = PipelineConfig(output_root=str(tmp_path / "idx"))
    tool_registry, role_taxonomy = dims
    victim = "conv-nullclass"
    extra = spark.createDataFrame(
        [
            (victim, 0, None, "plain words, nothing extractable", None,
             datetime.datetime(2015, 4, 1)),
            (victim, 1, "user", "reach me at 10.77.0.1 please", None,
             datetime.datetime(2015, 4, 1, 0, 1)),
        ],
        schema=transcripts.schema,
    )
    run_ingest(
        spark, transcripts.unionByName(extra), cfg, tool_registry, role_taxonomy
    )
    routed = spark.read.parquet(cfg.routed_path)

    nullclass = routed.filter(F.col("entity_class").isNull())
    null_total = nullclass.count()
    victim_null_rows = nullclass.filter(F.col("conv_id") == victim).count()
    victim_rows = routed.filter(F.col("conv_id") == victim).count()
    assert victim_null_rows > 0 and victim_rows > victim_null_rows

    res = forget_conversations(spark, cfg, [victim])
    assert res["n_routed_forgotten"] == victim_rows  # null rows counted too

    routed_after = spark.read.parquet(cfg.routed_path)
    assert routed_after.filter(F.col("conv_id") == victim).count() == 0
    # the surviving null-partition rows of OTHER conversations are intact
    other_null = routed_after.filter(F.col("entity_class").isNull()).count()
    assert other_null == null_total - victim_null_rows
