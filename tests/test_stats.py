"""Two-level bucket stats — golden test mirroring the reference's
FilenamesToStats expectations (month/hour over a 2015-04 + 2016-05 layout,
/root/reference/flowindexer/flowindexer_test.go:131-204)."""

import pandas as pd
import pytest

from flow_indexer_spark.functions.extractors import extract_entities
from flow_indexer_spark.operators.postings import build_postings
from flow_indexer_spark.operators import queries as Q
from flow_indexer_spark.server import open_indexer, query_stat
from tests.published import publish_postings


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
    handle = open_indexer(spark, str(tmp_path), transcripts)
    stat = query_stat(handle, "7.7.7.7", None)
    assert stat["hits"] == 7
    assert stat["first_time"] == "2015-04-02 10:00:00"
    assert stat["last_time"] == "2016-05-04 09:15:00"
    assert (stat["first"], stat["last"]) == ("c0\t0", "c6\t0")


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
