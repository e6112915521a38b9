"""Query layer: search / expand / stats / dump.

Reference entry points re-expressed as DataFrame library functions:
- search:  /root/reference/store/leveldb.go:147-205 (point Get / CIDR range
           scan + bitset union) + flowindexer.go:317-327 (fan-out over
           stores — here one partition-pruned table scan).
- expand:  ExpandCIDR /root/reference/store/leveldb.go:116-145.
- stats:   FilenamesToStats /root/reference/flowindexer/flowindexer.go:352-397
           (hits / first / last + two-level time buckets).
- dump:    /root/reference/flowindexer/flowindexer.go:399-420 (re-open
           matched files, emit matching raw lines) — here a semi-join back
           to the transcripts table.

Each of these returns a DataFrame (composable, lazily planned). They
are the batch and composition path and the oracle for the interactive
path, which answers the same queries in-process with pyarrow and
without a Spark job: ``search_files`` and ``expand_files`` read the
key-sorted postings files (the reference's LevelDB ``Get`` / range
iterator); ``search_turns_files`` resolves those hits against the
transcripts files, and ``stats_buckets`` and ``dump_files`` build on it.
Both paths take their predicate from one parser, ``parse_query``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame, functions as F

from flow_indexer_spark.functions.keys import (
    V4_KEY_LEN,
    V6_KEY_LEN,
    cidr_to_key_range,
    ip_to_key,
)
from flow_indexer_spark.sources.manifest import live_batch_dirs

#: bucket-granularity name -> Spark date_trunc unit; reference supports
#: minute/hour/day/month/year (/root/reference/flowindexer/util.go:92-117)
GRANULARITIES = ("minute", "hour", "day", "month", "year")

#: default group/count pair per coarse bucket — parseBucketParam defaults
#: (/root/reference/flowindexer/util.go:119-145): month->day, day->hour,
#: hour->minute, year->month, minute->minute.
DEFAULT_COUNT_FOR = {
    "year": "month",
    "month": "day",
    "day": "hour",
    "hour": "minute",
    "minute": "minute",
}


@dataclass(frozen=True)
class KeyQuery:
    """A parsed entity query: the entity class plus exactly one key
    predicate — a ``point`` key, an inclusive ``key_range`` of
    ``(lo, hi, key_len)`` (the length is the family guard), or a name
    ``prefix``."""

    klass: str
    point: str | None = None
    key_range: tuple[str, str, int] | None = None
    prefix: str | None = None


def parse_query(query: str) -> KeyQuery:
    """Entity query string -> KeyQuery, the one grammar of both query paths.

    '1.2.3.4' / 'fe80::1'  -> point lookup on the hex key
    '1.2.3.0/24'           -> inclusive key range + family-length guard
                              (the reference's same-byte-length filter,
                              /root/reference/store/leveldb.go:170-174)
    'tool:NAME'/'role:NAME'-> point lookup in that class
    'tool:PRE*'            -> prefix range scan (the CIDR-range analogue for
                              name-keyed classes)

    Anything else raises ``ValueError('not an IP/CIDR/tool:/role: query')``.
    """
    for klass in ("tool", "role"):
        prefix = f"{klass}:"
        if query.startswith(prefix):
            name = query[len(prefix):]
            if name.endswith("*"):
                return KeyQuery(klass, prefix=name[:-1])
            return KeyQuery(klass, point=name)
    try:
        if "/" in query:
            lo, hi = cidr_to_key_range(query)
            key_len = V4_KEY_LEN if len(lo) == V4_KEY_LEN else V6_KEY_LEN
            return KeyQuery("ip", key_range=(lo, hi, key_len))
        key = ip_to_key(query)
    except ValueError:
        key = None
    if key is None:
        raise ValueError(f"not an IP/CIDR/tool:/role: query: {query!r}")
    return KeyQuery("ip", point=key)


def _spark_filter(q: KeyQuery) -> Column:
    """KeyQuery -> Spark predicate. entity_class equality prunes partition
    directories; ``==``/``between``/``startswith`` push down to the
    parquet scan's min/max and bloom-filter pruning."""
    key = F.col("entity_key")
    if q.point is not None:
        pred = key == q.point
    elif q.prefix is not None:
        pred = key.startswith(q.prefix)
    else:
        lo, hi, key_len = q.key_range
        pred = key.between(lo, hi) & (F.length(key) == key_len)
    return (F.col("entity_class") == q.klass) & pred


def _arrow_filter(q: KeyQuery) -> pc.Expression:
    """KeyQuery -> pyarrow dataset filter, the same predicate as
    ``_spark_filter``: partition pruning on entity_class, row-group
    min/max pruning on entity_key."""
    key = pc.field("entity_key")
    if q.point is not None:
        pred = key == q.point
    elif q.prefix is not None:
        pred = pc.starts_with(key, q.prefix)
    else:
        lo, hi, key_len = q.key_range
        pred = (key >= lo) & (key <= hi) & (pc.utf8_length(key) == key_len)
    return (pc.field("entity_class") == q.klass) & pred


def search(postings: DataFrame, query: str) -> DataFrame:
    """entity (point or CIDR range) -> distinct (conv_id, turn_idx), sorted.

    entity_class equality prunes partitions; the key predicate prunes files
    via Parquet min/max (the table is written sorted by entity_key) — the
    Spark analogue of the reference's LevelDB range iterator.
    """
    return (
        postings.filter(_spark_filter(parse_query(query)))
        .select(F.explode("postings").alias("p"))
        .select("p.conv_id", "p.turn_idx")
        .dropDuplicates()
        .orderBy("conv_id", "turn_idx")
    )


def expand(postings: DataFrame, cidr: str) -> DataFrame:
    """CIDR -> sorted distinct entity keys in range (ExpandCIDR analogue).
    Byte order == numeric order by key construction, so a plain orderBy on
    the hex key reproduces the reference's numerically sorted output
    (/root/reference/ipset/ipset.go:96-105)."""
    return (
        postings.filter(_spark_filter(parse_query(cidr)))
        .select("entity_key")
        .distinct()
        .orderBy("entity_key")
    )


def open_postings_files(path: str) -> ds.Dataset:
    """The postings table at ``path`` as a pyarrow dataset for
    ``search_files`` / ``expand_files``: the files of its live batches
    (``manifest.live_batch_dirs``), listed once here, with their hive
    partition columns. Like a DataFrame, the dataset keeps the file
    listing it was opened with. Raises ValueError when the table has no
    live batch."""
    dirs = live_batch_dirs(path)
    if not dirs:
        raise ValueError(f"no live batches under {path}")
    files = [
        os.path.join(root, f)
        for d in dirs
        for root, _dirs, names in os.walk(d)
        for f in names
        if f.endswith(".parquet")
    ]
    return ds.dataset(
        files, format="parquet", partitioning="hive", partition_base_dir=path
    )


def search_files(files: ds.Dataset, query: str) -> pa.Table:
    """``search`` answered in-process from the postings files: the
    distinct (conv_id, turn_idx) hits as an Arrow table, sorted in byte
    order like ``search``'s ``orderBy``. Reads only the ``postings``
    column of rows that survive partition and row-group pruning, on the
    calling thread: a lookup touches a few KB, and the daemon already
    serves requests concurrently."""
    chunks = files.to_table(
        columns=["postings"],
        filter=_arrow_filter(parse_query(query)),
        use_threads=False,
    )["postings"].combine_chunks()  # a miss yields no chunks at all
    hits = pa.Table.from_struct_array(pc.list_flatten(chunks))
    if hits.num_rows < 2:  # nothing to dedup or sort
        return hits
    return (
        hits.group_by(["conv_id", "turn_idx"], use_threads=False)
        .aggregate([])
        .sort_by(
            [("conv_id", "ascending"), ("turn_idx", "ascending")],
            null_placement="at_start",  # where Spark's ascending orderBy puts nulls
        )
    )


def expand_files(files: ds.Dataset, cidr: str) -> pa.Table:
    """``expand`` answered in-process from the postings files: the
    distinct matching ``entity_key``s as an Arrow table, sorted."""
    keys = files.to_table(
        columns=["entity_key"],
        filter=_arrow_filter(parse_query(cidr)),
        use_threads=False,
    )
    return (
        keys.group_by("entity_key", use_threads=False)
        .aggregate([])
        .sort_by("entity_key")
    )


def search_turns(postings: DataFrame, transcripts: DataFrame, query: str) -> DataFrame:
    """Resolve hits back to full transcript rows (J1/J3): left-semi join on
    the composite natural key, stable (conv_id, turn_idx) order."""
    hits = search(postings, query)
    return transcripts.join(
        hits, on=["conv_id", "turn_idx"], how="left_semi"
    ).orderBy("conv_id", "turn_idx")


def _count_granularity(group_by: str, count: str | None) -> str:
    """Validate a (group, count) granularity pair; returns the count
    granularity, ``group_by``'s default when ``count`` is None."""
    if group_by not in GRANULARITIES or count not in (*GRANULARITIES, None):
        raise ValueError(f"bucket granularity must be one of {GRANULARITIES}")
    return count or DEFAULT_COUNT_FOR[group_by]


def stats(
    postings: DataFrame,
    transcripts: DataFrame,
    query: str,
    group_by: str = "month",
    count: str | None = None,
) -> DataFrame:
    """Two-level time-bucket stats over matched turns.

    Reference semantics (/root/reference/flowindexer/flowindexer.go:368-394):
    group matched docs by coarse bucket, count *distinct* fine buckets within
    each — their sorted single-pass transition counter is exactly
    ``count_distinct(date_trunc(fine, ts))`` per coarse bucket.
    Returns one row per coarse bucket: (bucket, hits); the matched total
    and first/last are ``server.query_stat``'s.
    """
    count = _count_granularity(group_by, count)
    matched = search_turns(postings, transcripts, query)
    return (
        matched.groupBy(F.date_trunc(group_by, "ts").alias("bucket"))
        .agg(F.count_distinct(F.date_trunc(count, "ts")).alias("hits"))
        .orderBy("bucket")
    )


def dump(
    postings: DataFrame, transcripts: DataFrame, query: str, contains: str | None = None
) -> DataFrame:
    """Matched original rows, optionally re-filtered by substring — the
    reference's grep-matched-files Dump (P6). Returns original transcript
    rows in stable order (per-turn text equality invariant)."""
    rows = search_turns(postings, transcripts, query)
    if contains is not None:
        rows = rows.filter(F.col("text").contains(contains))
    return rows


# -- the in-process path for /stats and /dump ------------------------------


def open_transcripts_files(path: str) -> ds.Dataset:
    """The transcripts parquet at ``path`` as a pyarrow dataset for
    ``search_turns_files``: its files listed once here, with any hive
    partition columns, as ``spark.read.parquet`` discovers them."""
    return ds.dataset(path, format="parquet", partitioning="hive")


def search_turns_files(
    files: ds.Dataset,
    transcripts: ds.Dataset,
    query: str,
    columns: list[str] | None = None,
) -> pa.Table:
    """``search_turns`` answered in-process: the ``search_files`` hits,
    the transcripts rows of the hit conversations (a ``conv_id`` ``isin``
    filter), an Arrow left-semi join on (conv_id, turn_idx) and a sort.
    ``columns`` (None: all) must include both join keys."""
    keys = ["conv_id", "turn_idx"]
    hits = search_files(files, query)
    hits = hits.cast(pa.schema([transcripts.schema.field(k) for k in keys]))
    rows = transcripts.to_table(
        columns=columns,
        filter=pc.field("conv_id").isin(pc.unique(hits["conv_id"])),
        use_threads=False,
    )
    return rows.join(hits, keys=keys, join_type="left semi", use_threads=False).sort_by(
        [(k, "ascending") for k in keys], null_placement="at_start"
    )


def utc_timestamps(ts: pa.Array | pa.ChunkedArray) -> pa.Array | pa.ChunkedArray:
    """A timestamp column in either parquet encoding — Spark's naive
    INT96, read in UTC wall time, or a zoned ``timestamp[us, UTC]`` — as
    naive ``timestamp[us]`` in UTC, the session time zone Spark's
    ``date_trunc`` works in."""
    micros = pc.cast(pc.cast(ts, pa.timestamp("us", ts.type.tz)), pa.int64())
    return pc.cast(micros, pa.timestamp("us"))


def stats_buckets(
    turns: pa.Table, group_by: str = "month", count: str | None = None
) -> pa.Table:
    """``stats``' (bucket, hits) rows computed in Arrow from the ``ts``
    column of ``search_turns_files`` rows: per coarse bucket, the count
    of distinct fine buckets. A null ``ts`` forms a null bucket with 0
    hits, sorted first, as in Spark."""
    count = _count_granularity(group_by, count)
    ts = utc_timestamps(turns["ts"])
    return (
        pa.table({
            "bucket": pc.floor_temporal(ts, unit=group_by),
            "fine": pc.floor_temporal(ts, unit=count),
        })
        .group_by("bucket", use_threads=False)
        .aggregate([("fine", "count_distinct")])
        .select(["bucket", "fine_count_distinct"])
        .rename_columns(["bucket", "hits"])
        .sort_by("bucket", null_placement="at_start")
    )


def dump_files(
    files: ds.Dataset,
    transcripts: ds.Dataset,
    query: str,
    contains: str | None = None,
    columns: list[str] | None = None,
) -> pa.Table:
    """``dump`` answered in-process: ``search_turns_files`` rows,
    optionally re-filtered by substring of ``text``."""
    rows = search_turns_files(files, transcripts, query, columns)
    if contains is not None:
        rows = rows.filter(pc.match_substring(rows["text"], contains))
    return rows
