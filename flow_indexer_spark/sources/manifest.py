"""Ingest manifest: checkpoint / resume / lineage, and the one publish
protocol of the index.

Reference analogues: per-store HasDocument dedup check
(/root/reference/store/leveldb.go:58-68, flowindexer/index.go:17-24) and
the in-memory indexed-files cache (flowindexer/flowindexer.go:193-195).
Here the unit of idempotence is a **source partition** (a date bucket of
the transcripts table), not a file: processed partitions are recorded with
metrics, and ingest anti-joins the manifest so re-runs only process new
partitions — resumable-from-checkpoint per the north_rule.

Publish protocol. The manifest alone decides which ``batch_id=``
directories of a table (``routed``, ``postings``) are table contents.
Ingest, compaction and forget all change the index the same way:

1. write the new rows under a fresh ``batch_id=`` directory in the table;
2. append one manifest commit whose rows carry the new id as ``run_id``
   (publishing it) and supersede ``(table, batch_id)`` pairs, one
   ``state='superseded'``, ``src_partition='<table>/<batch_id>'`` row each;
3. delete the superseded directories.

A batch of a table is live when its id is published and not superseded
for that table (supersession is per table: compaction retires postings
batches only). Every reader and every writer's input lists files through
:func:`live_batch_dirs`, and each writer first deletes what is not live
(:func:`clean_orphan_batches`), so a crash at any step leaves an index
that reads as the last commit. Writers hold an exclusive ``flock`` on
``<root>/.lock`` (:func:`writer_lock`). This is LevelDB's MANIFEST edit,
or an Iceberg ``rewrite_data_files`` snapshot commit.

Error records: rows whose ``ts`` cannot be bucketed (null) route to the
reserved ``_invalid_ts`` partition and are counted as ``n_errors`` in the
lineage row — the analogue of the reference's per-doc filename→time parse
errors (/root/reference/flowindexer/flowindexer.go:391-393, golden test
flowindexer_test.go:205-228). The rows are still indexed (the reference
indexes files whose timestamps fail to parse too; time only feeds stats).
"""

from __future__ import annotations

import fcntl
import os
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

MANIFEST_SCHEMA = StructType(
    [
        StructField("src_partition", StringType(), False),
        StructField("state", StringType(), False),
        StructField("n_turns", LongType(), True),
        StructField("n_entities", LongType(), True),
        StructField("n_errors", LongType(), True),
        StructField("wall_ms", LongType(), True),
        StructField("run_id", StringType(), True),
    ]
)

#: reserved partition for rows whose ts is null/unbucketable (error channel)
INVALID_TS_PARTITION = "_invalid_ts"

#: manifest state of a row that retires one ``<table>/<batch_id>``
SUPERSEDED = "superseded"


def new_batch_id() -> str:
    """Batch/run id for the publish protocol. 'b' prefix keeps the value
    non-numeric so parquet partition-column type inference can't coerce a
    digits-only id to a long (which would break batch_id equality filters)."""
    return "b" + uuid.uuid4().hex[:12]


def with_src_partition(df: DataFrame, col: str = "ts") -> DataFrame:
    """Derive the ingest partition key (UTC date of ts) — the analogue of
    the reference's filename->database regex routing
    (/root/reference/flowindexer/util.go:12-26). Null/unparseable ts maps
    to the reserved error partition instead of a null join key (a null key
    would never match the manifest anti-join and reprocess forever)."""
    return df.withColumn(
        "src_partition",
        F.coalesce(F.date_format(F.col(col), "yyyy-MM-dd"), F.lit(INVALID_TS_PARTITION)),
    )


def _local_manifest_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Manifest rows as a JVM-side LocalRelation (pandas/Arrow path).
    ``createDataFrame`` on a plain Python list pickles the rows into a
    Python RDD, and EVERY downstream action then launches a Python
    worker to re-evaluate it — measured 1.3-1.4 s per manifest append
    inside the ingest hot path (27% of a bench ingest wall). The
    pandas route materializes the same rows as an Arrow LocalRelation
    once: the identical append costs ~0.2 s and the empty-manifest
    anti-join plan stays free of PythonRDD scans."""
    import pandas as pd

    cols = [f.name for f in MANIFEST_SCHEMA.fields]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=cols), MANIFEST_SCHEMA
    )


def manifest_exists(path: str) -> bool:
    """Cheap local-FS existence probe (this module's lifecycle ops are
    local-FS by design — see clean_orphan_batches; on Iceberg these are
    catalog calls). Lets first-run callers skip the exception-path Spark
    read and the manifest anti-join on a fresh output root."""
    return os.path.exists(path)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    if not manifest_exists(path):
        return _local_manifest_df(spark, [])
    try:
        return spark.read.parquet(path)
    except Exception:
        return _local_manifest_df(spark, [])


def pending_partitions(df: DataFrame, manifest: DataFrame) -> DataFrame:
    """Anti-join already-committed partitions (J2): keep rows whose
    src_partition has no 'done' manifest record."""
    done = manifest.filter(F.col("state") == "done").select("src_partition").distinct()
    return df.join(F.broadcast(done), on="src_partition", how="left_anti")


def committed_run_ids(manifest: DataFrame) -> set[str]:
    """All run ids ever published (any state), from a Spark manifest
    DataFrame."""
    return {
        r["run_id"]
        for r in manifest.select("run_id").distinct().collect()
        if r["run_id"]
    }


def _batch_dirs(table_path: str) -> list[tuple[str, str]]:
    """(batch_id, directory) of every ``batch_id=`` directory under the
    table. The walk stops at each one (they never nest), so it is
    O(partitions), not O(files), and skips ``_``/``.`` temp dirs."""
    out = []
    for root, dirs, _files in os.walk(table_path):
        for d in list(dirs):
            if d.startswith("batch_id="):
                out.append((d.split("=", 1)[1], os.path.join(root, d)))
            if d.startswith(("batch_id=", "_", ".")):
                dirs.remove(d)
    return sorted(out)


def _publish_state(root: str) -> tuple[set[str], set[str]]:
    """(published batch ids, superseded ``<table>/<batch_id>`` pairs) per
    the manifest of the index root, read with pyarrow: no JVM."""
    import pyarrow.dataset as ds

    mpath = os.path.join(root, "manifest")
    if not os.path.isdir(mpath):
        return set(), set()
    rows = ds.dataset(mpath, format="parquet").to_table(
        columns=["src_partition", "state", "run_id"]
    ).to_pylist()
    published = {r["run_id"] for r in rows if r["run_id"]}
    superseded = {r["src_partition"] for r in rows if r["state"] == SUPERSEDED}
    return published, superseded


def _classify_batches(
    table_path: str, state: tuple[set[str], set[str]]
) -> list[tuple[str, str, bool]]:
    """(batch_id, directory, live) of every batch directory of the table,
    given its root's ``_publish_state``. An unpublished ``compact-*``
    directory holds a whole table that a compaction from before this
    protocol swapped in: an error, not an orphan."""
    published, superseded = state
    table = os.path.basename(os.path.abspath(table_path))
    out = []
    for batch, d in _batch_dirs(table_path):
        if batch.startswith("compact-") and batch not in published:
            raise ValueError(
                f"{d}: compacted before the manifest publish protocol; publish "
                f"it with a manifest row whose run_id is {batch!r}, or re-ingest"
            )
        out.append((batch, d, batch in published and f"{table}/{batch}" not in superseded))
    return out


def live_batch_dirs(table_path: str) -> list[str]:
    """The directories of the table's live batches, per the manifest
    next to the table (``<root>/manifest``)."""
    root = os.path.dirname(os.path.abspath(table_path))
    return [d for _b, d, live in _classify_batches(table_path, _publish_state(root)) if live]


def read_live(spark: SparkSession, table_path: str) -> DataFrame:
    """The table's live batches as one DataFrame (partition columns
    included). Raises ValueError when the table has none."""
    dirs = live_batch_dirs(table_path)
    if not dirs:
        raise ValueError(f"no live batches under {table_path}")
    return spark.read.option("basePath", table_path).parquet(*dirs)


def clean_orphan_batches(
    paths: list[str], committed: set[str] | None = None
) -> list[str]:
    """Delete every batch directory under ``paths`` that is not live
    (unpublished crash leftovers, superseded batches); returns their ids.
    ``committed``, a set of ids, also deletes batches outside it. Reads
    each index root's manifest once and walks each table once. On
    Iceberg this is snapshot expiry / remove_orphan_files."""
    removed: list[str] = []
    states: dict[str, tuple[set[str], set[str]]] = {}
    for path in paths:
        root = os.path.dirname(os.path.abspath(path))
        if root not in states:
            states[root] = _publish_state(root)
        for batch, d, live in _classify_batches(path, states[root]):
            if not live or (committed is not None and batch not in committed):
                shutil.rmtree(d, ignore_errors=True)
                removed.append(batch)
    return removed


def superseded_rows(table: str, batch_ids) -> list[dict]:
    """Manifest rows by which a commit supersedes ``batch_ids`` of
    ``table`` (step 2 of the publish protocol)."""
    return [
        {"src_partition": f"{table}/{b}", "state": SUPERSEDED} for b in batch_ids
    ]


@contextmanager
def writer_lock(root: str):
    """Hold the index root's exclusive writer lock for the block, waiting
    for any other writer. The kernel drops a ``flock`` when its holder
    dies, so a crash never blocks the root."""
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, ".lock"), "a") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        yield


def commit_partitions(
    spark: SparkSession,
    path: str,
    metrics: list[dict],
    run_id: str | None = None,
) -> str:
    """Append 'done' records with per-partition metrics (lineage rows) —
    the publish step of the write-audit-publish batch protocol."""
    run_id = run_id or new_batch_id()
    rows = [
        {
            "src_partition": m["src_partition"],
            "state": m.get("state", "done"),
            "n_turns": int(m.get("n_turns", 0)),
            "n_entities": int(m.get("n_entities", 0)),
            "n_errors": int(m.get("n_errors", 0)),
            "wall_ms": int(m.get("wall_ms", 0)),
            "run_id": run_id,
        }
        for m in metrics
    ]
    _local_manifest_df(spark, rows).coalesce(1).write.mode("append").parquet(path)
    return run_id


class StageTimer:
    def __init__(self) -> None:
        self.t0 = time.monotonic()

    def ms(self) -> int:
        return int((time.monotonic() - self.t0) * 1000)
