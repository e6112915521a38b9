"""Two-level bucket stats — golden test mirroring the reference's
FilenamesToStats expectations (month/hour over a 2015-04 + 2016-05 layout,
/root/reference/flowindexer/flowindexer_test.go:131-204)."""

import os

import pandas as pd
import pytest

from flow_indexer_spark.functions.extractors import extract_entities
from flow_indexer_spark.operators.postings import build_postings
from flow_indexer_spark.operators import queries as Q
from flow_indexer_spark.server import open_indexer, query_stat
from tests.published import publish_postings
from tests.query_paths import BUCKETS, assert_turn_paths_agree


@pytest.fixture(scope="module")
def stats_fixture(spark):
    """One entity seen at the reference test's time layout:
    2015-04: two distinct hours on one day; 2016-05: four distinct hours
    across two days -> month/hour buckets {2015-04: 2, 2016-05: 4}."""
    ts_list = [
        "2015-04-02 10:00:00",
        "2015-04-02 10:30:00",  # same hour -> not a new fine bucket
        "2015-04-02 11:00:00",
        "2016-05-03 08:00:00",
        "2016-05-03 09:00:00",
        "2016-05-04 08:00:00",
        "2016-05-04 09:15:00",
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(ts_list))],
            "turn_idx": [0] * len(ts_list),
            "role": ["user"] * len(ts_list),
            "text": ["hit 7.7.7.7 here"] * len(ts_list),
            "tool": [""] * len(ts_list),
            "ts": pd.to_datetime(ts_list),
        }
    )
    t = spark.createDataFrame(pdf)
    t = t.withColumn("turn_idx", t["turn_idx"].cast("int"))
    p = build_postings(extract_entities(t), n_salt=2)
    return p.cache(), t.cache()


def test_month_hour_buckets_golden(stats_fixture):
    postings, transcripts = stats_fixture
    got = {
        r.bucket.strftime("%Y-%m"): r.hits
        for r in Q.stats(postings, transcripts, "7.7.7.7", "month", "hour").collect()
    }
    assert got == {"2015-04": 2, "2016-05": 4}


def test_month_day_default_count(stats_fixture):
    postings, transcripts = stats_fixture
    # parseBucketParam default: month -> count distinct days (util.go:119-145)
    got = {
        r.bucket.strftime("%Y-%m"): r.hits
        for r in Q.stats(postings, transcripts, "7.7.7.7", "month").collect()
    }
    assert got == {"2015-04": 1, "2016-05": 2}


def test_query_stat_first_last(spark, stats_fixture, tmp_path):
    """hits / first / last of the /stats document, which
    ``query_job stats`` prints too."""
    postings, transcripts = stats_fixture
    publish_postings(spark, postings, str(tmp_path))
    transcripts.write.parquet(str(tmp_path / "t"))
    handle = open_indexer(spark, str(tmp_path), str(tmp_path / "t"))
    stat = query_stat(handle.postings_files, handle.transcripts_files, "7.7.7.7", None)
    assert stat["hits"] == 7
    assert stat["first_time"] == "2015-04-02 10:00:00"
    assert stat["last_time"] == "2016-05-04 09:15:00"
    assert (stat["first"], stat["last"]) == ("c0\t0", "c6\t0")


@pytest.fixture(scope="module")
def null_ts_root(spark, stats_fixture, tmp_path_factory):
    """``stats_fixture``'s turns plus one hit turn with a null ``ts``,
    indexed under one root, with the transcripts written in both parquet
    timestamp encodings: Spark's naive INT96 and pyarrow's zoned
    ``timestamp[us, UTC]``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    _, t = stats_fixture
    null_turn = t.limit(1).select(
        F.lit("c7").alias("conv_id"), "turn_idx", "role", "text", "tool",
        F.lit(None).cast("timestamp").alias("ts"),
    )
    t = t.unionByName(null_turn)
    root = tmp_path_factory.mktemp("null_ts")
    publish_postings(spark, build_postings(extract_entities(t), n_salt=2), str(root))
    paths = {"int96": str(root / "int96"), "utc": str(root / "utc")}
    t.write.parquet(paths["int96"])
    table = pa.Table.from_pandas(t.toPandas(), preserve_index=False)
    schema = table.schema.set(
        table.schema.get_field_index("ts"), pa.field("ts", pa.timestamp("us", tz="UTC"))
    )
    os.makedirs(paths["utc"])
    pq.write_table(table.cast(schema), os.path.join(paths["utc"], "part-0.parquet"))
    return str(root), paths


@pytest.mark.parametrize("encoding", ["int96", "utc"])
def test_null_ts_turn_and_timestamp_encodings(spark, null_ts_root, encoding):
    """A hit turn with a null ``ts`` counts in ``hits``, is left out of
    ``first_time``/``last_time`` and forms a ``None`` bucket with 0 hits,
    sorted first; both parquet timestamp encodings render like ``str()``
    of Spark's value. The Arrow path equals the Spark one on all of it."""
    import pyarrow.parquet as pq

    root, paths = null_ts_root
    ts_type = pq.read_schema(os.path.join(
        paths[encoding], sorted(f for f in os.listdir(paths[encoding]) if f.endswith(".parquet"))[0]
    )).field("ts").type
    assert (ts_type.unit, ts_type.tz) == (("ns", None) if encoding == "int96" else ("us", "UTC"))
    handle = open_indexer(spark, root, paths[encoding])
    stat = query_stat(handle.postings_files, handle.transcripts_files, "7.7.7.7", "month/hour")
    assert stat["hits"] == 8
    assert stat["first_time"] == "2015-04-02 10:00:00"
    assert stat["last_time"] == "2016-05-04 09:15:00"
    assert stat["buckets"] == [
        {"bucket": "None", "hits": 0},
        {"bucket": "2015-04-01 00:00:00", "hits": 2},
        {"bucket": "2016-05-01 00:00:00", "hits": 4},
    ]
    queries = ("7.7.7.7", "0.0.0.0/0")
    assert assert_turn_paths_agree(handle, queries, BUCKETS, ("absent",)) == 16


def test_turn_paths_agree_through_compaction_and_forget(
    spark, two_batch_root, transcripts_path, tmp_path
):
    """/stats documents and /dump bodies are equal on the Spark and the
    Arrow path over a two-batch root, after its compaction, and after a
    forget."""
    import shutil

    from flow_indexer_spark.operators.compact import compact_postings
    from flow_indexer_spark.plans.pipeline import PipelineConfig, forget_conversations

    cfg = PipelineConfig(output_root=str(tmp_path / "idx"))
    shutil.copytree(two_batch_root, cfg.output_root)

    def check(bucket) -> int:
        handle = open_indexer(spark, cfg.output_root, transcripts_path)
        return assert_turn_paths_agree(handle, buckets=(bucket,))

    hits = check("day")
    assert hits > 0
    assert compact_postings(spark, cfg.postings_path, min_files=1)["compacted"]
    assert check("year/month") == hits
    victim = Q.search(open_indexer(spark, cfg.output_root).postings, "10.0.0.1").first()
    assert forget_conversations(spark, cfg, [victim["conv_id"]])["n_batches_rewritten"] > 0
    assert 0 < check(None) < hits


def test_stats_bad_granularity(stats_fixture):
    postings, transcripts = stats_fixture
    with pytest.raises(ValueError):
        Q.stats(postings, transcripts, "7.7.7.7", "fortnight")


def test_dump_contains_filter(stats_fixture):
    postings, transcripts = stats_fixture
    n_all = Q.dump(postings, transcripts, "7.7.7.7").count()
    n_some = Q.dump(postings, transcripts, "7.7.7.7", contains="hit 7.7.7.7").count()
    n_none = Q.dump(postings, transcripts, "7.7.7.7", contains="absent").count()
    assert (n_all, n_some, n_none) == (7, 7, 0)
