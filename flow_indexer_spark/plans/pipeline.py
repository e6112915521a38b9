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
``compact_postings`` folds accumulated chunks offline. Ingest, compaction
and forget share one publish protocol, described in sources/manifest.py:
data lands under a fresh ``batch_id=`` dir, one manifest commit publishes
it, and every writer first deletes the dirs that are not live.
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
    live_batch_dirs,
    manifest_exists,
    new_batch_id,
    pending_partitions,
    read_live,
    read_manifest,
    superseded_rows,
    with_src_partition,
    writer_lock,
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
    output dirs are deleted before new work (retry). Holds the root's
    writer lock throughout (sources/manifest.py).

    ``use_manifest_antijoin=False`` disables the date-level anti-join —
    Structured Streaming's foreachBatch sets it because the checkpoint
    already delivers each file exactly once, while the date-level unit
    would drop later same-day batches (streaming/ingest.py).

    ``extra_manifest_rows`` are committed atomically with this batch's
    lineage rows (same manifest append, same run_id) — the streaming layer
    uses them to publish per-file 'file_done' records (the reference's
    HasDocument unit, /root/reference/store/leveldb.go:58-68).
    """
    with writer_lock(config.output_root):
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
        clean_orphan_batches([config.routed_path, config.postings_path])
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
        _write_routed(routed.withColumn("batch_id", F.lit(run_id)), config.routed_path)
        _mark("extract_and_route")

        # Everything downstream derives from the read-back of this batch's
        # own routed dirs (columnar) — no second scan of the raw input, no
        # driver-side pre-count pass. No dir matches when the batch is empty.
        try:
            batch_rows = spark.read.option("basePath", config.routed_path).parquet(
                f"{config.routed_path}/entity_class=*/batch_id={run_id}"
            )
        except Exception:
            return {"skipped": True, "n_turns": 0, "n_entities": 0, "n_errors": 0,
                    "wall_ms": timer.ms()}

        # All three metrics are plain conditional sums (no distinct aggs): the
        # extraction marks exactly one row per input turn (_turn_head), so the
        # lineage pass is a 3-column pruned scan + map-side-combined partial
        # aggregation — shuffle bytes O(partitions), not O(turns).
        #
        # The lineage job OVERLAPS the postings job (one Spark session runs
        # concurrent actions from separate threads; the small lineage agg
        # drains in the postings scan's slack instead of serializing ~0.3 s
        # of wall before it). The batch read back at least one routed row,
        # so the lineage is never empty.
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


def _write_routed(routed: DataFrame, path: str) -> None:
    """Append rows carrying ``batch_id`` to the routed table."""
    routed.write.mode("append").partitionBy("entity_class", "batch_id").parquet(path)


def _rewrite_batches(spark, path, run_id, hits, keep, write) -> tuple[list[str], int]:
    """Forget's rewrite of one table: the live batches whose rows hold
    forgotten entries (``hits``, a per-row count) are rewritten through
    ``keep`` by ``write`` into the one new batch ``run_id``. Returns the
    ids of the batches it supersedes and the summed ``hits``."""
    if not live_batch_dirs(path):
        return [], 0
    df = read_live(spark, path)
    touched = (
        df.groupBy("batch_id").agg(F.sum(hits).alias("n")).filter("n > 0").collect()
    )
    gone = sorted(r["batch_id"] for r in touched)
    if gone:
        rows = df.filter(F.col("batch_id").isin(gone))
        write(keep(rows).withColumn("batch_id", F.lit(run_id)), path)
    return gone, sum(r["n"] for r in touched)


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
    deliberate capability extension.

    Forget publishes like every writer (protocol in sources/manifest.py):
    in each table, the live batches that hold a forgotten conversation
    are rewritten without it into one new batch, and one commit — the
    audit row plus the superseded ``(table, batch_id)`` rows — publishes
    both new batches. The forget list is small, so it rides into the
    scans as an IN-list predicate; untouched batches (at 10^12 turns, a
    conversation lives in one ingest batch) keep their files. Each table
    is scoped by its own content: after ``compact_postings`` the
    postings batches are not the routed ones. Routed rows are filtered;
    posting chunks are filtered in-row, chunks left empty are dropped,
    ``ndocs`` is recomputed, and the rewrite goes through
    ``write_postings`` so it keeps the table's one file layout.
    ts_min/ts_max stay as-is: after deletion they remain VALID OUTER
    BOUNDS (deletion can only shrink the true range), so time pruning
    stays correct, merely conservative — exactness comes back at the
    next compaction (``compact_postings(..., routed_path=...)`` ->
    ``recompute_ts_bounds``, tested by
    test_compact.py::test_compact_tightens_ts_bounds_after_forget).

    Idempotent: re-running with the same ids rewrites nothing, so a
    crashed forget run is retried safely.

    Returns {n_routed_forgotten, n_postings_forgotten,
    n_batches_rewritten, run_id}.
    """
    if not conv_ids:
        raise ValueError("conv_ids must be non-empty")
    ids = [str(c) for c in conv_ids]
    forgotten = F.col("conv_id").isin(ids)
    in_chunk = lambda x: x["conv_id"].isin(ids)  # noqa: E731
    tables = [config.routed_path, config.postings_path]
    with writer_lock(config.output_root):
        clean_orphan_batches(tables)
        run_id = new_batch_id()
        routed_gone, n_routed = _rewrite_batches(
            spark, config.routed_path, run_id,
            hits=forgotten.cast("long"),
            keep=lambda df: df.filter(~forgotten),
            write=_write_routed,
        )
        postings_gone, n_post = _rewrite_batches(
            spark, config.postings_path, run_id,
            hits=F.size(F.filter("postings", in_chunk)),
            keep=lambda df: df.withColumn(
                "postings", F.filter("postings", lambda x: ~in_chunk(x))
            ).withColumn("ndocs", F.size("postings")).filter(F.col("ndocs") > 0),
            write=lambda df, path: write_postings(
                df, path, mode="append", partition_cols=("batch_id", "entity_class")
            ),
        )
        audit = {
            "src_partition": f"forget:{run_id}",
            "state": "forgotten",
            "n_entities": n_routed,
        }
        commit_partitions(
            spark,
            config.manifest_path,
            [audit]
            + superseded_rows("routed", routed_gone)
            + superseded_rows("postings", postings_gone),
            run_id=run_id,
        )
        clean_orphan_batches(tables)
    return {
        "run_id": run_id,
        "n_routed_forgotten": n_routed,
        "n_postings_forgotten": n_post,
        "n_batches_rewritten": len(routed_gone) + len(postings_gone),
    }
