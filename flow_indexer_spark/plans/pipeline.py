"""End-to-end ingest pipeline: parse -> enrich -> route -> index.

The Spark re-expression of the reference's indexall lifecycle
(/root/reference/cmd/indexall.go:8-19 ->
/root/reference/flowindexer/flowindexer.go:422-437 ->
/root/reference/flowindexer/index.go:16-53):

transcripts
  -> derive src_partition, anti-join ingest manifest        [resume, J2/T3]
  -> extract_entities (native regex + Arrow UDF normalize)  [S5/S6]
  -> enrich (broadcast dims)                                [J4]
  -> routed sink: parquet/Iceberg batch dirs by entity_class   [K2]
  -> postings: salted groupBy -> sorted posting-list chunks     [A2]
  -> manifest append with per-partition lineage metrics     [publish]

One linear DataFrame job graph with a single wide shuffle (the postings
groupBy); the routed sink reuses the extraction output before the shuffle.

Incremental scale contract (the reference's core value prop —
store/leveldb.go:261-278 incremental posting union, flowindexer/index.go:
17-24 per-doc idempotence): each batch builds postings **from that batch's
rows only** and APPENDS new salt-chunk rows under its batch directory —
O(delta) work per increment, never O(history). The salt-chunk layout
merges at query time (explode/union — operators/postings.py), and
``compact_postings`` folds accumulated chunks offline. Crash safety is
write-audit-publish: data lands under uncommitted ``batch_id=`` dirs, the
manifest append at the end publishes them, and the next run deletes any
unpublished dirs before working (sources/manifest.py).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import ClassVar

from pyspark.sql import DataFrame, SparkSession, functions as F

from flow_indexer_spark.functions.extractors import extract_entities
from flow_indexer_spark.operators.enrich import enrich
from flow_indexer_spark.operators.postings import build_postings, write_postings
from flow_indexer_spark.sources.manifest import (
    StageTimer,
    clean_orphan_batches,
    commit_partitions,
    committed_run_ids,
    manifest_exists,
    new_batch_id,
    pending_partitions,
    read_manifest,
    with_src_partition,
)


@dataclass
class PipelineConfig:
    """One 'indexer' in reference terms
    (/root/reference/flowindexer/flowindexer.go:26-37): where to read,
    where to route, how to aggregate. Postings are always pre-sorted salt
    chunks (n_salt per entity at most), and every batch APPENDS its own
    chunk rows — O(delta) per increment (see build_postings). Every
    postings file has one layout, written only by ``write_postings``:
    range-partitioned on (entity_class, entity_key), sorted by
    entity_key, with a bloom filter on entity_key."""

    #: the one posting format and the one file layout, readable as
    #: ``cfg.chunk_mode`` / ``cfg.postings_layout`` by callers that pass
    #: them on to build_postings / write_postings; constants, not fields
    chunk_mode: ClassVar[str] = "salt"
    postings_layout: ClassVar[str] = "range"

    output_root: str
    n_salt: int = 16
    #: optional (name, cidr) netblock dimension: every routed row's
    #: entity_key gets longest-prefix-match (block_name, prefix_len)
    #: columns via the join-free in-row LPM (operators/ipblocks.py
    #: lpm_enrich_inrow — one projection inside the extract stage's
    #: codegen span, zero extra shuffles on the ingest hot path).
    #: config.py exposes this as the per-indexer ``ip_blocks`` key.
    ip_blocks: tuple[tuple[str, str], ...] | None = None

    @property
    def routed_path(self) -> str:
        return f"{self.output_root}/routed"

    @property
    def postings_path(self) -> str:
        return f"{self.output_root}/postings"

    @property
    def manifest_path(self) -> str:
        return f"{self.output_root}/manifest"


def run_ingest(
    spark: SparkSession,
    transcripts: DataFrame,
    config: PipelineConfig,
    tool_registry: DataFrame | None = None,
    role_taxonomy: DataFrame | None = None,
    *,
    use_manifest_antijoin: bool = True,
    extra_manifest_rows: list[dict] | None = None,
) -> dict:
    """Run one ingest batch. Returns metrics dict (turns/entities/errors).

    Idempotent two ways: partitions already 'done' in the manifest are
    skipped via anti-join (resume), and a crashed batch's unpublished
    output dirs are deleted before new work (retry). Single writer per
    output_root assumed (the reference runs one daemon per config too).

    ``use_manifest_antijoin=False`` disables the date-level anti-join —
    Structured Streaming's foreachBatch sets it because the checkpoint
    already delivers each file exactly once, while the date-level unit
    would drop later same-day batches (streaming/ingest.py).

    ``extra_manifest_rows`` are committed atomically with this batch's
    lineage rows (same manifest append, same run_id) — the streaming layer
    uses them to publish per-file 'file_done' records (the reference's
    HasDocument unit, /root/reference/store/leveldb.go:58-68).
    """
    timer = StageTimer()
    stage_ms: dict[str, int] = {}
    last = [0]

    def _mark(name: str) -> None:
        now = timer.ms()
        stage_ms[name] = now - last[0]
        last[0] = now

    run_id = new_batch_id()
    have_manifest = manifest_exists(config.manifest_path)
    manifest = read_manifest(spark, config.manifest_path)
    # first run on a fresh root: no committed ids to collect, no
    # partitions to anti-join — skip both driver round trips
    committed = committed_run_ids(manifest) if have_manifest else set()
    clean_orphan_batches([config.routed_path, config.postings_path], committed)
    _mark("orphan_cleanup")

    src = with_src_partition(transcripts)
    if use_manifest_antijoin and have_manifest:
        src = pending_partitions(src, manifest)

    extracted = extract_entities(
        src,
        carry_cols=("conv_id", "turn_idx", "role", "text", "tool", "ts", "src_partition"),
        keep_empty_turns=True,  # routed retains every turn -> exact lineage counts
    )
    routed = enrich(extracted, tool_registry, role_taxonomy)
    if config.ip_blocks:
        from flow_indexer_spark.operators.ipblocks import lpm_enrich_inrow

        routed = lpm_enrich_inrow(routed, [tuple(b) for b in config.ip_blocks])
        # the LPM probe guards on key LENGTH (hex-width = family); a
        # non-ip entity whose key happens to be 8/32 chars must not
        # inherit a block — scope the columns to the ip class
        is_ip = F.col("entity_class") == "ip"
        routed = routed.withColumn(
            "block_name", F.when(is_ip, F.col("block_name"))
        ).withColumn("prefix_len", F.when(is_ip, F.col("prefix_len")))

    # Routed sink first (pre-shuffle reuse of the extraction output): one
    # pipelined scan of the input, landing under this run's batch dir.
    (
        routed.withColumn("batch_id", F.lit(run_id))
        .write.mode("append")
        .partitionBy("entity_class", "batch_id")
        .parquet(config.routed_path)
    )
    _mark("extract_and_route")

    # Everything downstream derives from the routed read-back (columnar,
    # pruned to this batch's dirs) — no second scan of the raw input, no
    # driver-side pre-count pass.
    try:
        routed_back = spark.read.parquet(config.routed_path)
    except Exception:
        return {"skipped": True, "n_turns": 0, "n_entities": 0, "n_errors": 0,
                "wall_ms": timer.ms()}
    batch_rows = routed_back.filter(F.col("batch_id") == run_id)

    # All three metrics are plain conditional sums (no distinct aggs): the
    # extraction marks exactly one row per input turn (_turn_head), so the
    # lineage pass is a 3-column pruned scan + map-side-combined partial
    # aggregation — shuffle bytes O(partitions), not O(turns).
    #
    # The lineage job OVERLAPS the postings job (one Spark session runs
    # concurrent actions from separate threads; the small lineage agg
    # drains in the postings scan's slack instead of serializing ~0.3 s
    # of wall before it). Safe w.r.t. the empty-batch skip: the postings
    # APPEND lands under this run's unpublished batch_id dir, so if
    # lineage turns out empty we return without the manifest commit and
    # remove the just-written dirs (clean_orphan_batches would equally
    # reclaim them on the next run — write-audit-publish).
    head = F.col("_turn_head")
    lineage_df = batch_rows.groupBy("src_partition").agg(
        F.sum(head.cast("long")).alias("n_turns"),
        F.count("entity_key").alias("n_entities"),  # count() skips null rows
        F.sum((head & F.col("ts").isNull()).cast("long")).alias("n_errors"),
    )
    lineage_box: dict = {}

    def _collect_lineage() -> None:
        try:
            lineage_box["rows"] = lineage_df.collect()
        except BaseException as e:  # re-raised on the caller thread
            lineage_box["err"] = e

    lineage_thread = threading.Thread(target=_collect_lineage, daemon=True)
    lineage_thread.start()

    # Postings index: aggregate THIS batch only and append its salt-chunk
    # rows — O(delta), never a rebuild from history.
    postings = build_postings(
        batch_rows.filter(F.col("entity_key").isNotNull()).select(
            "entity_class", "entity_key", "conv_id", "turn_idx", "ts"
        ),
        n_salt=config.n_salt,
    )
    write_postings(
        postings.withColumn("batch_id", F.lit(run_id)),
        config.postings_path,
        mode="append",
        partition_cols=("batch_id", "entity_class"),
    )
    _mark("postings_index")

    lineage_thread.join()
    if "err" in lineage_box:
        raise lineage_box["err"]
    lineage = lineage_box["rows"]
    _mark("lineage_metrics")
    if not lineage:
        # nothing to publish: reclaim this run's unpublished batch dirs
        clean_orphan_batches(
            [config.routed_path, config.postings_path], committed
        )
        return {"skipped": True, "n_turns": 0, "n_entities": 0, "n_errors": 0,
                "wall_ms": timer.ms()}

    wall = timer.ms()
    metrics = [
        {
            "src_partition": r["src_partition"],
            "n_turns": r["n_turns"],
            "n_entities": r["n_entities"],
            "n_errors": r["n_errors"],
            "wall_ms": wall,
        }
        for r in sorted(lineage, key=lambda r: r["src_partition"])
    ]
    commit_partitions(
        spark,
        config.manifest_path,
        metrics + list(extra_manifest_rows or []),
        run_id=run_id,
    )
    _mark("manifest_commit")
    total = lambda k: sum(m[k] for m in metrics)  # noqa: E731
    return {
        "skipped": False,
        "run_id": run_id,
        "n_partitions": len(metrics),
        "n_turns": total("n_turns"),
        "n_entities": total("n_entities"),
        "n_errors": total("n_errors"),
        "wall_ms": wall,
        "stage_ms": stage_ms,
        "turns_per_sec": total("n_turns") / max(wall / 1000.0, 1e-9),
    }


def forget_conversations(
    spark: SparkSession,
    config: PipelineConfig,
    conv_ids: list[str],
) -> dict:
    """Right-to-be-forgotten: purge a set of conversations from BOTH
    sinks — routed rows deleted, posting lists rewritten without the
    forgotten (conv_id, turn_idx) entries — with an audit record
    appended to the manifest. The reference can only drop whole index
    DBs; a compliance pipeline must delete per-document, so this is a
    deliberate capability extension on the same write-audit layout.

    Scale design: the forget list is small (a deletion request batch),
    so it rides into the scans as an IN-list predicate; only the
    (entity_class, batch_id) partitions that actually CONTAIN a
    forgotten conversation are rewritten, via dynamic partition
    overwrite — untouched partitions (the overwhelming majority at
    10^12 turns: a conversation lives in one batch) keep their files
    byte-identical. The two sinks are scoped INDEPENDENTLY and by
    CONTENT: routed partitions by a conv_id membership scan, postings
    partitions by ``exists(postings, x -> x.conv_id IN ids)`` — NOT by
    the routed rows' batch_ids, because postings batch_ids diverge from
    routed batch_ids after ``compact_postings`` (everything lands under
    ``batch_id=compact-*``). Entity-free
    turns live under the Hive null partition, so entity_class is
    coalesced to ``__HIVE_DEFAULT_PARTITION__`` on both sides of every
    partition-membership test (concat_ws silently drops NULLs) and in
    the directory paths. Posting chunks are rewritten by an in-row
    ``filter()`` over the postings array; chunks left empty are
    dropped, and the rest go back through ``write_postings`` so the
    rewritten partitions keep the table's one file layout. ts_min/ts_max
    stay as-is: after deletion they remain VALID OUTER BOUNDS (deletion
    can only shrink the true range), so time pruning stays correct,
    merely conservative — exactness comes
    back at the next compaction (``compact_postings(...,
    routed_path=...)`` -> ``recompute_ts_bounds``, tested by
    test_compact.py::test_compact_tightens_ts_bounds_after_forget). Partitions whose every row is
    forgotten are removed directly (local-FS scope, same as
    compact_postings; use a catalog DELETE/rewrite at S3 scale).

    Idempotent: re-running with the same ids is a no-op (the filters
    find nothing), so a crashed forget run is retried safely.

    Returns {n_routed_forgotten, n_postings_forgotten,
    n_partitions_rewritten, run_id}.
    """
    import os
    import shutil

    if not conv_ids:
        raise ValueError("conv_ids must be non-empty")
    ids = [str(c) for c in conv_ids]
    run_id = new_batch_id()
    overwrite_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    hive_null = "__HIVE_DEFAULT_PARTITION__"
    ecn = F.coalesce(F.col("entity_class"), F.lit(hive_null))
    try:
        routed = spark.read.parquet(config.routed_path)
        pairs = {
            (r.ec, r.batch_id)
            for r in routed.filter(F.col("conv_id").isin(ids))
            .select(ecn.alias("ec"), "batch_id")
            .distinct()
            .collect()
        }
        n_routed = n_post = 0
        if pairs:
            in_pairs = F.concat_ws("/", ecn, F.col("batch_id")).isin(
                [f"{ec}/{b}" for ec, b in pairs]
            )
            aff = routed.filter(in_pairs)
            n_routed = aff.filter(F.col("conv_id").isin(ids)).count()
            # materialize survivors BEFORE overwriting the path they came
            # from (Spark refuses to overwrite a path still being read);
            # memory is bounded by the affected partitions only
            keep = aff.filter(~F.col("conv_id").isin(ids)).localCheckpoint(
                eager=True
            )
            keep.write.mode("overwrite").partitionBy(
                "entity_class", "batch_id"
            ).parquet(config.routed_path)
            kept_pairs = {
                (r.ec, r.batch_id)
                for r in keep.select(ecn.alias("ec"), "batch_id")
                .distinct()
                .collect()
            }
            for ec, b in pairs - kept_pairs:  # wholly-forgotten partitions
                shutil.rmtree(
                    os.path.join(
                        config.routed_path,
                        f"entity_class={ec}",
                        f"batch_id={b}",
                    ),
                    ignore_errors=True,
                )

        # Postings are scoped by CONTENT, independently of the routed
        # pairs: after compaction the postings live under batch_ids the
        # routed table has never heard of.
        post = spark.read.parquet(config.postings_path)
        touched = F.exists("postings", lambda x: x["conv_id"].isin(ids))
        post_pairs = {
            (r.ec, r.batch_id)
            for r in post.filter(touched)
            .select(ecn.alias("ec"), "batch_id")
            .distinct()
            .collect()
        }
        if post_pairs:
            in_post_pairs = F.concat_ws("/", ecn, F.col("batch_id")).isin(
                [f"{ec}/{b}" for ec, b in post_pairs]
            )
            aff_post = post.filter(in_post_pairs)
            n_post = (
                aff_post.filter(touched)
                .select(
                    F.sum(
                        F.size(
                            F.filter(
                                "postings",
                                lambda x: x["conv_id"].isin(ids),
                            )
                        )
                    ).alias("n")
                )
                .collect()[0]["n"]
                or 0
            )
            new_post = (
                aff_post.withColumn(
                    "postings",
                    F.filter(
                        "postings", lambda x: ~x["conv_id"].isin(ids)
                    ),
                )
                .withColumn("ndocs", F.size("postings"))
                .filter(F.size("postings") > 0)
                .localCheckpoint(eager=True)
            )
            write_postings(
                new_post,
                config.postings_path,
                mode="overwrite",
                partition_cols=("batch_id", "entity_class"),
            )
            kept_post_pairs = {
                (r.ec, r.batch_id)
                for r in new_post.select(ecn.alias("ec"), "batch_id")
                .distinct()
                .collect()
            }
            for ec, b in post_pairs - kept_post_pairs:
                shutil.rmtree(
                    os.path.join(
                        config.postings_path,
                        f"batch_id={b}",
                        f"entity_class={ec}",
                    ),
                    ignore_errors=True,
                )
        commit_partitions(
            spark,
            config.manifest_path,
            [
                {
                    "src_partition": f"forget:{run_id}",
                    "state": "forgotten",
                    "n_turns": 0,
                    "n_entities": n_routed,
                    "n_errors": 0,
                    "wall_ms": 0,
                }
            ],
            run_id=run_id,
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", overwrite_mode
        )
    return {
        "run_id": run_id,
        "n_routed_forgotten": n_routed,
        "n_postings_forgotten": n_post,
        "n_partitions_rewritten": len(pairs) + len(post_pairs),
    }
