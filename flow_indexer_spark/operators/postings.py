"""Inverted-index build: entity -> sorted posting chunks of (conv_id, turn_idx).

Reference analogue: ``store.AddDocument`` read-modify-write of per-entity
bitsets in LevelDB (/root/reference/store/leveldb.go:70-96, 261-278), with
codecs in store/codec.go. In Spark the index is an **appended aggregate**,
not a mutable store: each ingest batch groups its own rows into pre-sorted
salt-chunk rows and appends them; the posting union happens at query time
(explode) and offline in ``compact.fold_posting_chunks``. Parquet/Iceberg
delta+RLE encodings on the sorted arrays replace the hand-rolled
bitset/msgpack codecs (store/codec.go:25-220 — measured ~2-3.5x there;
free here).

Skew: a hot entity present in ~every turn (the dense-bitset case the
reference documents in experiments/convert_to_msgpack.go:10-12) would put
one groupBy key on one reducer. Salting the group key by a hash of the
document splits it into n_salt chunk rows of ~N/n_salt postings each, so
no task holds or sorts a whole hot list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

POSTING_STRUCT = "struct(conv_id, turn_idx)"


def build_postings(
    extracted: DataFrame,
    *,
    n_salt: int = 16,
    chunk_mode: str = "salt",
) -> DataFrame:
    """Salted skew-aware inverted-index aggregate, one row per salt chunk.

    Input: long-format entity rows with at most one row per
    (entity_class, entity_key, conv_id, turn_idx) — ``extract_entities``
    guarantees this via its per-turn dropDuplicates. Output schema:
      entity_class, entity_key, chunk_id, postings:
      array<struct<conv_id,turn_idx>>, ndocs, ts_min, ts_max.

    Each (entity, salt) bucket becomes its own chunk row, so the build is
    ONE shuffle with no merge groupBy, and a hot entity's list is sorted
    as n_salt parallel ~N/n_salt-element sorts instead of one serial
    N-element sort (a key present in ~every turn is 10^12 elements at
    target scale, impossible as one array row anyway). ``postings`` is
    sorted by (conv_id, turn_idx) *within* each chunk — array_sort on
    structs orders by fields left-to-right, matching the reference's
    sorted doc-id bitsets. Chunks of one entity interleave (salt is a
    hash of the doc key), exactly like the reference's per-month DBs
    interleave doc ids across stores; queries explode chunks, and
    ``entity_totals`` sums their ndocs. The input's uniqueness makes
    collect_list exact without array_distinct, which over array<struct>
    is an O(n^2) nested loop in Spark.

    ``chunk_mode`` accepts only ``'salt'``, the one posting format.
    """
    if chunk_mode != "salt":
        raise ValueError(
            f"chunk_mode must be 'salt' (the only posting format), got {chunk_mode!r}"
        )
    return (
        extracted.withColumn(
            "chunk_id", F.pmod(F.hash("conv_id", "turn_idx"), F.lit(n_salt))
        )
        .groupBy("entity_class", "entity_key", "chunk_id")
        .agg(
            F.array_sort(F.collect_list(F.expr(POSTING_STRUCT))).alias("postings"),
            F.min("ts").alias("ts_min"),
            F.max("ts").alias("ts_max"),
        )
        .withColumn("ndocs", F.size("postings"))
    )


def entity_totals(postings: DataFrame) -> DataFrame:
    """Per-entity totals over a chunked postings table:
    (entity_class, entity_key, ndocs). Cheap second-level aggregate — the
    per-chunk rows are already tiny relative to the corpus."""
    return postings.groupBy("entity_class", "entity_key").agg(
        F.sum("ndocs").alias("ndocs")
    )


def class_entity_counts_approx(
    routed: DataFrame, rsd: float = 0.02
) -> DataFrame:
    """HLL++ scale path for the per-class unique-entity metric (the
    reference's "Wrote N unique ips" counter, A4 —
    /root/reference/flowindexer/index.go:46-51). The exact
    ``count_distinct`` shuffles every distinct key; ``approx_count_
    distinct`` ships one fixed-size HLL sketch per partition per class —
    constant shuffle bytes at any corpus size, with relative standard
    deviation ``rsd``. Use for monitoring/lineage dashboards; the exact
    path remains the correctness metric."""
    return (
        routed.filter(F.col("entity_key").isNotNull())
        .groupBy("entity_class")
        .agg(
            F.approx_count_distinct("entity_key", rsd).alias("n_entities_approx")
        )
    )


def write_postings(
    postings: DataFrame,
    path: str,
    mode: str = "overwrite",
    layout: str = "range",
    partition_cols: tuple[str, ...] = ("entity_class",),
) -> None:
    """Routed, sorted sink for the postings table.

    Layout = the reference's per-class LevelDB roots + sorted keys
    (/root/reference/example_config.json:5-46, store/leveldb.go:85):
    partitioned by entity_class, files sorted by entity_key so Parquet
    min/max stats (and Iceberg sort order in production) make point/range
    lookups file-skipping scans.

    ``layout='range'``: repartitionByRange keeps one writer per key range
    -> non-overlapping min/max across files (optimal pruning). Costs one
    extra shuffle plus a persist (repartitionByRange samples its input to
    compute bounds; without persistence the sampling pass re-executes the
    whole upstream extract+aggregate job a second time).

    ``layout='local'``: sort within the aggregation's existing hash
    partitions and write directly — no extra shuffle, no persist. Files
    are each sorted but their key ranges overlap across files; point
    lookups still skip via bloom filters + row-group stats, range scans
    prune less sharply. The ingest-throughput-optimal choice; compaction
    (operators.compact, the Iceberg rewrite_data_files analogue) restores
    the range layout offline.
    """
    if layout == "local":
        (
            postings.sortWithinPartitions("entity_class", "entity_key")
            .write.mode(mode)
            .option("parquet.bloom.filter.enabled#entity_key", "true")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
        return
    postings.persist()
    try:
        postings.count()
        (
            postings.repartitionByRange("entity_class", "entity_key")
            .sortWithinPartitions("entity_key")
            .write.mode(mode)
            .option("parquet.bloom.filter.enabled#entity_key", "true")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        postings.unpersist()
