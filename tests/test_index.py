"""Index + query-layer tests: query tables (point/CIDR -> expected doc
lists), CIDR expansion, family separation, adversarial keys — the analogue
of /root/reference/store/store_test.go:23-122."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flow_indexer_spark.functions.extractors import extract_entities
from flow_indexer_spark.operators.postings import build_postings, write_postings
from flow_indexer_spark.operators import queries as Q
from tests.oracle import extract_oracle, postings_oracle


def _mini_transcripts(spark):
    """3-doc fixture in the spirit of store_test.go:60-75."""
    rows = [
        ("c1", 0, "user", "saw 1.2.3.4 and 5.6.7.8", "", "2015-04-01 10:00:00"),
        ("c1", 1, "assistant", "also 1.2.3.4 plus v6 2001:db8::1", "search", "2015-04-01 10:05:00"),
        ("c2", 0, "user", "edge 100.111.99.58 and 109.97.120.95", "", "2015-05-02 09:00:00"),
        ("c2", 1, "tool", "nothing here", "doc:", "2015-05-02 09:10:00"),
        ("c3", 0, "system", "range 1.2.3.200 outside /25", "", "2016-05-01 08:00:00"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    df = spark.createDataFrame(pdf)
    return df.withColumn("turn_idx", df["turn_idx"].cast("int"))


@pytest.fixture(scope="module")
def mini_postings(spark):
    t = _mini_transcripts(spark)
    return build_postings(extract_entities(t), n_salt=4).cache()


QUERY_TABLE = [
    # (query, expected (conv_id, turn_idx) hits) — store_test.go:23-31 style
    ("1.2.3.4", [("c1", 0), ("c1", 1)]),
    ("5.6.7.8", [("c1", 0)]),
    ("1.2.3.0/24", [("c1", 0), ("c1", 1), ("c3", 0)]),
    ("1.2.3.0/25", [("c1", 0), ("c1", 1)]),  # .200 excluded
    ("2001:db8::/32", [("c1", 1)]),
    ("100.111.99.58", [("c2", 0)]),  # bytes spell 'doc:'
    ("109.97.120.95", [("c2", 0)]),  # bytes spell 'max_'
    ("0.0.0.0/0", [("c1", 0), ("c1", 1), ("c2", 0), ("c3", 0)]),
    ("::/0", [("c1", 1)]),  # family separation: only the v6 entity
    ("9.9.9.9", []),
    ("tool:doc:", [("c2", 1)]),  # adversarial tool name round-trip
    ("tool:search", [("c1", 1)]),
    ("role:system", [("c3", 0)]),
    # prefix range scans — the CIDR-range analogue for name-keyed classes
    ("tool:sea*", [("c1", 1)]),
    ("tool:doc*", [("c2", 1)]),
    ("role:*", [("c1", 0), ("c1", 1), ("c2", 0), ("c2", 1), ("c3", 0)]),
    ("tool:zzz*", []),
]


@pytest.mark.parametrize("query,expected", QUERY_TABLE)
def test_query_table(mini_postings, query, expected):
    got = [(r.conv_id, r.turn_idx) for r in Q.search(mini_postings, query).collect()]
    assert got == expected


EXPAND_TABLE = [
    # (cidr, expected sorted IPs) — store_test.go:41-58 style
    ("1.2.3.0/24", ["1.2.3.4", "1.2.3.200"]),
    ("0.0.0.0/0", ["1.2.3.4", "1.2.3.200", "5.6.7.8", "100.111.99.58", "109.97.120.95"]),
    ("2001:db8::/32", ["2001:db8::1"]),
    ("10.0.0.0/8", []),
]


@pytest.mark.parametrize("cidr,expected", EXPAND_TABLE)
def test_expand_table(mini_postings, cidr, expected):
    from flow_indexer_spark.functions.keys import key_to_ip

    got = [key_to_ip(r.entity_key) for r in Q.expand(mini_postings, cidr).collect()]
    assert got == expected


def test_postings_sorted_and_distinct(postings):
    bad = postings.filter(
        (F.col("postings") != F.array_sort("postings"))
        | (F.size("postings") != F.size(F.array_distinct("postings")))
    ).count()
    assert bad == 0


def _entity_postings(postings) -> dict:
    """(entity_class, entity_key) -> sorted (conv_id, turn_idx) list,
    reassembled from the entity's salt chunks (a duplicate entry, in one
    chunk or across chunks, stays visible)."""
    got: dict = {}
    for r in (
        postings.select("entity_class", "entity_key", F.explode("postings").alias("p"))
        .select("entity_class", "entity_key", "p.conv_id", "p.turn_idx")
        .collect()
    ):
        got.setdefault((r.entity_class, r.entity_key), []).append((r.conv_id, r.turn_idx))
    return {k: sorted(v) for k, v in got.items()}


def test_postings_match_pandas_oracle(postings, transcripts_pdf):
    want = postings_oracle(extract_oracle(transcripts_pdf))
    assert _entity_postings(postings) == want


def test_ndocs_equals_postings_size(postings):
    assert postings.filter(F.col("ndocs") != F.size("postings")).count() == 0


def test_salting_invariance(spark, transcripts):
    """Index content must not depend on salt fan-out (1 vs 32): chunk rows
    differ with n_salt, the per-entity posting sets must not."""
    e = extract_entities(transcripts)
    a = build_postings(e, n_salt=1)
    b = build_postings(e, n_salt=32)
    assert a.select("chunk_id").distinct().collect() == [(0,)]
    assert b.count() > a.count()  # hot entities really split into chunks
    assert _entity_postings(a) == _entity_postings(b)


def test_build_postings_rejects_other_chunk_modes(spark, transcripts):
    with pytest.raises(ValueError, match="chunk_mode"):
        build_postings(extract_entities(transcripts), chunk_mode="none")


def test_write_postings_rejects_other_layouts(mini_postings, tmp_path):
    with pytest.raises(ValueError, match="layout"):
        write_postings(mini_postings, str(tmp_path / "p"), layout="local")
    assert not (tmp_path / "p").exists()


def test_multi_entity_and_search(mini_postings):
    got = [
        (r.conv_id, r.turn_idx)
        for r in Q.multi_entity_search(mini_postings, ["1.2.3.4", "5.6.7.8"]).collect()
    ]
    assert got == [("c1", 0)]


def test_search_turns_roundtrip(spark, mini_postings):
    t = _mini_transcripts(spark)
    rows = Q.search_turns(mini_postings, t, "1.2.3.4").collect()
    assert [(r.conv_id, r.turn_idx) for r in rows] == [("c1", 0), ("c1", 1)]
    # per-turn text equality under stable ordering (north_rule invariant)
    assert rows[0].text == "saw 1.2.3.4 and 5.6.7.8"
    assert rows[1].text == "also 1.2.3.4 plus v6 2001:db8::1"


def test_any_entity_or_search(mini_postings):
    got = [
        (r.conv_id, r.turn_idx)
        for r in Q.any_entity_search(
            mini_postings, ["5.6.7.8", "100.111.99.58"]
        ).collect()
    ]
    assert got == [("c1", 0), ("c2", 0)]


def test_exclude_entity_not_search(mini_postings):
    # all turns with 1.2.3.4 except those also containing 5.6.7.8
    got = [
        (r.conv_id, r.turn_idx)
        for r in Q.exclude_entity_search(
            mini_postings, "1.2.3.4", ["5.6.7.8"]
        ).collect()
    ]
    assert got == [("c1", 1)]


def test_class_entity_counts_approx_within_rsd(spark):
    """HLL++ per-class unique counts land within ~3*rsd of exact."""
    from flow_indexer_spark.operators.postings import class_entity_counts_approx

    rows = [
        ("ip", f"k{i % 350}") for i in range(2000)
    ] + [("tool", f"t{i % 47}") for i in range(500)] + [("role", None)]
    routed = spark.createDataFrame(rows, ["entity_class", "entity_key"])
    got = {
        r["entity_class"]: r["n_entities_approx"]
        for r in class_entity_counts_approx(routed, rsd=0.02).collect()
    }
    assert set(got) == {"ip", "tool"}  # null-key rows excluded
    assert abs(got["ip"] - 350) <= 350 * 0.06
    assert abs(got["tool"] - 47) <= max(47 * 0.06, 2)
