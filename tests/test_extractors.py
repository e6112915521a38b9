"""Extraction tests: golden counts on fixed strings, differential
native-vs-pandas (nfdump-pair analogue,
/root/reference/backend/nfdump_test.go:30-55), oracle equality on the full
seeded fixture."""

import pandas as pd
import pytest

from flow_indexer_spark.functions.extractors import extract_entities
from tests.oracle import extract_oracle


def _mini_df(spark, texts, role="user", tool=""):
    rows = [
        {"conv_id": "c0", "turn_idx": i, "role": role, "text": t, "tool": tool,
         "ts": pd.Timestamp("2020-01-01")}
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    return df.withColumn("turn_idx", df["turn_idx"].cast("int"))


def _keys(df, klass):
    return sorted(
        r.entity_key
        for r in df.filter(df.entity_class == klass).select("entity_key").collect()
    )


GOLDEN_CASES = [
    # (text, expected distinct IP keys) — golden-count style (bro=12 analogue)
    ("host 1.2.3.4 talked to 5.6.7.8", ["01020304", "05060708"]),
    ("dup 1.2.3.4 and again 1.2.3.4", ["01020304"]),
    ("v6 2001:db8::1 here", ["20010db8000000000000000000000001"]),
    ("mapped ::ffff:1.2.3.4 ok", ["00000000000000000000ffff01020304"]),
    ("bare :: loopback", ["00000000000000000000000000000000"]),
    ("overlong 1.2.3.4.5 skipped", []),
    ("clock 10:27:26 not an ip", []),
    ("octet 999.1.2.3 invalid", []),
    ("edge 0.0.0.0 and 255.255.255.255", ["00000000", "ffffffff"]),
    ("# comment 1.2.3.4 still counts", ["01020304"]),
    ("full fe80:0:0:0:0:0:dead:beef form", ["fe8000000000000000000000deadbeef"]),
]


@pytest.mark.parametrize("text,expected", GOLDEN_CASES)
def test_ip_extraction_golden(spark, text, expected):
    df = extract_entities(_mini_df(spark, [text]))
    assert _keys(df, "ip") == expected


def test_tool_extraction_plain_json_marker(spark):
    df = _mini_df(
        spark,
        ["calling <tool:browser> and <tool:search> now", "no markers"],
        tool='{"tool": "python_exec", "args": {"q": 1}}',
    )
    out = extract_entities(df)
    assert _keys(out, "tool") == ["browser", "python_exec", "python_exec", "search"]


def test_role_extraction_column_and_marker(spark):
    df = _mini_df(spark, ["ping @assistant please"], role="user")
    out = extract_entities(df)
    assert _keys(out, "role") == ["assistant", "user"]


def test_differential_native_vs_pandas(spark, transcripts):
    cols = ["conv_id", "turn_idx", "entity_class", "entity_key"]
    a = sorted(map(tuple, extract_entities(transcripts).select(*cols).collect()))
    b = sorted(
        map(
            tuple,
            extract_entities(transcripts, use_pandas_ip_extractor=True)
            .select(*cols)
            .collect(),
        )
    )
    assert a == b
    assert len(a) > 0


def test_extraction_matches_pandas_oracle(spark, transcripts, transcripts_pdf):
    cols = ["conv_id", "turn_idx", "entity_class", "entity_key"]
    got = sorted(map(tuple, extract_entities(transcripts).select(*cols).collect()))
    want = sorted(map(tuple, extract_oracle(transcripts_pdf)[cols].itertuples(index=False)))
    assert got == want


def test_zero_entity_turns_produce_role_only(spark):
    # a prose-only turn still contributes its role column entity
    df = _mini_df(spark, ["plain words only"], role="system")
    out = extract_entities(df)
    assert _keys(out, "ip") == []
    assert _keys(out, "tool") == []
    assert _keys(out, "role") == ["system"]


def test_differential_joined_vs_array_normalize(spark, transcripts):
    """The joined-string Arrow boundary (round-4 extract hot path:
    array_join -> str UDF -> split/array_remove) must produce the exact
    key arrays of the original array<string> boundary on the full
    fixture plus adversarial v6/junk rows."""
    from pyspark.sql import functions as F

    from flow_indexer_spark.functions.extractors import (
        IP_PATTERN,
        normalize_ip_array_udf,
        normalize_ip_joined_udf,
    )

    extra = _mini_df(
        spark,
        [
            "v6 2001:db8::1 mapped ::ffff:1.2.3.4 junk 999.1.2.3 10:27:26",
            "dups 1.2.3.4 1.2.3.4 01.2.3.4 and ::1 0:0:0:0:0:0:0:1",
            "",
            "bare :: and 64:ff9b::1.2.3.4 embedded",
        ],
    )
    for df0 in (transcripts, extra):
        cands = F.array_distinct(
            F.regexp_extract_all(
                F.coalesce(F.col("text"), F.lit("")), F.lit(IP_PATTERN), F.lit(0)
            )
        )
        joined = F.array_remove(
            F.split(normalize_ip_joined_udf(F.array_join(cands, " ")), " "), ""
        )
        df = df0.select(
            joined.alias("joined"),
            normalize_ip_array_udf(cands).alias("arr"),
        )
        # exact order too — both emit first-occurrence order
        assert df.filter(F.col("joined") != F.col("arr")).count() == 0


# --- loose candidate scan vs strict scan (round-3 speedup) ------------------

def _valid_keys(pattern, text):
    import ipaddress
    import re as _re

    out = set()
    for tok in _re.findall(pattern, text):
        try:
            out.add(ipaddress.ip_address(tok).packed.hex())
        except ValueError:
            pass
    return out


_SCAN_ADVERSARIAL = [
    "plain 10.0.0.1 and fe80::1 in text",
    "1.2.3.4.5 999.999.999.999 01.2.3.4 256.1.1.1",
    "v4 mapped ::ffff:192.168.0.1 and 64:ff9b::1.2.3.4",
    "::1:2:3:4:5:6:7 has eight colons",
    "1:2:3:4:5:6:7:8 1:2:3:4:5:6:7:8:9 1::2::3",
    "fe80:: :: ::1 a::b ab:cd 12:30 time",
    "trailing 1.2.3.4: colon and :5.6.7.8 leading",
    "x1.2.3.4 1.2.3.4x 1.2.3.456 1.2.3.4567",
    "deadbeef:cafe dead:beef:cafe:babe:dead:beef:cafe:babe",
    "port 10.0.0.1:8080 url http://1.2.3.4/x?q=::2",
    "12345:1 1:54321 0.0.0.0 255.255.255.255",
    "00::1 0:0:0:0:0:0:0:1 cafe::",
]


def _run_oracle_keys(text):
    """Third-authority ground truth, independent of BOTH scan patterns:
    the boundary rule says an IP token may not touch [\\w.:] on either
    side, so every candidate is a maximal run of those characters —
    enumerate the runs and let ipaddress alone decide validity."""
    import ipaddress
    import re as _re

    out = set()
    for run in _re.findall(r"[\w.:]+", text):
        try:
            out.add(ipaddress.ip_address(run).packed.hex())
        except ValueError:
            pass
    return out


def test_loose_scan_equals_run_oracle_adversarial():
    """The loose candidate pattern + ipaddress validation must equal the
    run-enumeration oracle exactly, and must be a SUPERSET of the strict
    pattern's keys (the strict alternation's one blind spot is general
    v4-embedded IPv6 like 64:ff9b::1.2.3.4, which the loose scan fixes —
    it only special-cased ::ffff:v4)."""
    from flow_indexer_spark.functions.extractors import (
        IP_PATTERN,
        IP_PATTERN_STRICT,
    )

    for text in _SCAN_ADVERSARIAL:
        got = _valid_keys(IP_PATTERN, text)
        want = _run_oracle_keys(text)
        assert got == want, (text, got, want)
        assert _valid_keys(IP_PATTERN_STRICT, text) <= got, text


from hypothesis import given, settings, strategies as st  # noqa: E402

_scan_atoms = st.one_of(
    st.from_regex(r"(?:[0-9]{1,4}\.){1,4}[0-9]{1,4}", fullmatch=True),
    st.from_regex(r"[0-9A-Fa-f:]{1,24}", fullmatch=True),
    st.from_regex(r"(?:[0-9A-Fa-f]{1,4}:){1,8}[0-9A-Fa-f]{0,4}", fullmatch=True),
    st.sampled_from(
        ["::", "::1", "10.0.0.1", "1.2.3.4.5", "::ffff:1.2.3.4", "fe80::",
         "word", "a.b", "x:", ".", ":", "@", "<tool:x>"]
    ),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_scan_atoms, max_size=8), st.sampled_from([" ", "  ", ",", " | "]))
def test_loose_scan_equals_run_oracle_property(atoms, sep):
    from flow_indexer_spark.functions.extractors import (
        IP_PATTERN,
        IP_PATTERN_STRICT,
    )

    text = sep.join(atoms)
    got = _valid_keys(IP_PATTERN, text)
    assert got == _run_oracle_keys(text)
    assert _valid_keys(IP_PATTERN_STRICT, text) <= got


def test_v4_fast_key_matches_ipaddress():
    import ipaddress

    from flow_indexer_spark.functions.extractors import _v4_fast_key

    cases = [
        "10.0.0.1", "0.0.0.0", "255.255.255.255", "1.2.3.4",
        "256.1.1.1", "01.2.3.4", "1.2.3", "1.2.3.4.5", "", "1..2.3",
        "999.1.2.3", "1.2.3.004", "00.0.0.0", "12.34.56.789",
    ]
    for tok in cases:
        try:
            want = ipaddress.ip_address(tok).packed.hex()
        except ValueError:
            want = None
        assert _v4_fast_key(tok) == want, tok
