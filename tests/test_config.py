"""Config-driven multi-indexer lifecycle tests (RunIndexAll / RunDaemon
analogues, /root/reference/flowindexer/flowindexer.go:422-465)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from flow_indexer_spark.config import (
    AppConfig,
    IndexerSpec,
    index_all,
    load_config,
    open_indexers,
)
from flow_indexer_spark.generator import make_transcripts
from flow_indexer_spark.operators import queries as Q


def _write_config(tmp_path, doc) -> str:
    p = tmp_path / "config.json"
    p.write_text(json.dumps(doc))
    return str(p)


def test_load_config_valid(tmp_path):
    cfg = load_config(
        _write_config(
            tmp_path,
            {
                "http": {"bind": "127.0.0.1:0"},
                "indexers": [
                    {"name": "conn", "input": "/a", "output": "/b"},
                    {"name": "tools", "input": "/a", "output": "/c",
                     "filter": "role = 'tool'", "salt": 4},
                ],
            },
        )
    )
    assert cfg.http_bind == "127.0.0.1:0"
    assert [ix.name for ix in cfg.indexers] == ["conn", "tools"]
    assert cfg.indexers[1].filter == "role = 'tool'"
    assert cfg.indexers[1].salt == 4
    assert cfg.indexers[0].pipeline_config().n_salt == 16


def test_load_config_parses_shipped_example():
    """The example config in the repo root stays loadable by the strict
    loader (a removed knob left in it would make it raise)."""
    from pathlib import Path

    example = Path(__file__).resolve().parents[1] / "example_pipeline_config.json"
    cfg = load_config(str(example))
    assert cfg.http_bind == "127.0.0.1:8081"
    assert [ix.name for ix in cfg.indexers] == ["conn", "tool_turns"]
    pc = cfg.indexers[0].pipeline_config()
    assert (pc.n_salt, pc.postings_layout, pc.chunk_mode) == (16, "range", "salt")
    assert len(pc.ip_blocks) == 4
    assert cfg.indexers[1].filter == "role = 'tool'"


@pytest.mark.parametrize(
    "doc, msg",
    [
        ({"indexers": []}, "no indexers"),
        ({"indexers": [{"name": "a", "input": "/a"}]}, "missing keys"),
        ({"indexers": [{"name": "a", "input": "/a", "output": "/b",
                        "glob": "*"}]}, "unknown keys"),
        ({"indexers": [{"name": "a", "input": "/a", "output": "/b"},
                       {"name": "a", "input": "/a", "output": "/c"}]},
         "duplicate indexer name"),
        ({"indexerz": []}, "unknown config keys"),
        ({"indexers": [{"name": "a", "input": "/a", "output": "/b",
                        "chunk_mode": "salt"}]}, "unknown keys"),
        ({"indexers": [{"name": "a", "input": "/a", "output": "/b",
                        "incremental": False}]}, "unknown keys"),
        ({"indexers": [{"name": "a", "input": "/a", "output": "/b",
                        "postings_layout": "range"}]}, "unknown keys"),
    ],
)
def test_load_config_rejects(tmp_path, doc, msg):
    with pytest.raises(ValueError, match=msg):
        load_config(_write_config(tmp_path, doc))


@pytest.fixture(scope="module")
def multi_index(spark, dims, tmp_path_factory):
    """Two indexers over one input table: 'conn' (all turns) and
    'tool_turns' (role='tool' subset), ingested in one parallel
    index_all — plus the input path for incremental-tick tests."""
    root = tmp_path_factory.mktemp("multi")
    inp = str(root / "transcripts")
    make_transcripts(spark, 24).write.parquet(inp)
    cfg = AppConfig(
        indexers=(
            IndexerSpec(name="conn", input=inp, output=str(root / "conn")),
            IndexerSpec(name="tool_turns", input=inp,
                        output=str(root / "tools"), filter="role = 'tool'"),
        )
    )
    tool_registry, role_taxonomy = dims
    metrics = index_all(spark, cfg, tool_registry, role_taxonomy)
    return cfg, inp, metrics


def test_index_all_runs_every_indexer(spark, multi_index):
    cfg, inp, metrics = multi_index
    assert set(metrics) == {"conn", "tool_turns"}
    for m in metrics.values():
        assert "error" not in m and m["n_turns"] > 0 and not m["skipped"]
    n_tool = spark.read.parquet(inp).filter("role = 'tool'").count()
    assert metrics["tool_turns"]["n_turns"] == n_tool
    assert metrics["conn"]["n_turns"] > n_tool


def test_filtered_indexer_indexes_only_its_rows(spark, multi_index):
    cfg, inp, _ = multi_index
    handles = open_indexers(spark, cfg)
    # role-entity postings in the filtered index know only 'tool'
    roles = {
        r["entity_key"]
        for r in handles["tool_turns"].postings.filter(
            F.col("entity_class") == "role"
        ).select("entity_key").distinct().collect()
    }
    assert "tool" in roles
    # any other primary role only enters via in-text @markers, which the
    # generator puts in assistant/user turns — the filtered index must
    # not contain 'assistant' (every turn's own role lands in the full
    # index but only tool-turns were scanned here)
    full_roles = {
        r["entity_key"]
        for r in handles["conn"].postings.filter(
            F.col("entity_class") == "role"
        ).select("entity_key").distinct().collect()
    }
    assert "assistant" in full_roles


def test_index_all_rerun_skips(spark, dims, multi_index):
    cfg, _, _ = multi_index
    tool_registry, role_taxonomy = dims
    again = index_all(spark, cfg, tool_registry, role_taxonomy)
    assert all(m["skipped"] for m in again.values())


def test_incremental_tick_ingests_only_delta(spark, dims, multi_index):
    cfg, inp, first = multi_index
    tool_registry, role_taxonomy = dims
    # new conversations land as new files in the same input table, on
    # fresh dates (seed shifts the generator's date arithmetic)
    new = make_transcripts(spark, 6, seed=777).withColumn(
        "conv_id", F.concat(F.lit("late-"), "conv_id")
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 400 DAYS"))
    new.write.mode("append").parquet(inp)
    tick = index_all(spark, cfg, tool_registry, role_taxonomy)
    assert not tick["conn"]["skipped"]
    assert 0 < tick["conn"]["n_turns"] < first["conn"]["n_turns"] + new.count()
    # the delta is queryable after re-opening handles (RefreshStores)
    handles = open_indexers(spark, cfg)
    hits = Q.search(handles["conn"].postings, "role:tool")
    assert hits.filter(F.col("conv_id").startswith("late-")).count() > 0


def test_index_all_isolates_a_failing_indexer(spark, dims, tmp_path):
    tool_registry, role_taxonomy = dims
    inp = str(tmp_path / "t")
    make_transcripts(spark, 4).write.parquet(inp)
    cfg = AppConfig(
        indexers=(
            IndexerSpec(name="bad", input=str(tmp_path / "missing"),
                        output=str(tmp_path / "bad_out")),
            IndexerSpec(name="good", input=inp, output=str(tmp_path / "good_out")),
        )
    )
    metrics = index_all(spark, cfg, tool_registry, role_taxonomy)
    assert "error" in metrics["bad"]
    assert metrics["good"]["n_turns"] > 0


def test_ip_blocks_config_enriches_routed_sink(spark, dims, tmp_path):
    """Per-indexer ``ip_blocks`` key: RFC1918 blocks declared in the
    config must land as LPM (block_name, prefix_len) columns on the
    routed sink, with per-block counts oracle-checked against the
    ipaddress module applied to the same routed keys."""
    import ipaddress

    tool_registry, role_taxonomy = dims
    inp = str(tmp_path / "t")
    make_transcripts(spark, 24).write.parquet(inp)
    blocks = [
        ["rfc1918-10", "10.0.0.0/8"],
        ["rfc1918-172", "172.16.0.0/12"],
        ["rfc1918-192", "192.168.0.0/16"],
        ["rfc1918-192-hot", "192.168.9.0/24"],  # overlap: longest must win
    ]
    cfg = load_config(
        _write_config(
            tmp_path,
            {"indexers": [{"name": "conn", "input": inp,
                           "output": str(tmp_path / "out"),
                           "ip_blocks": blocks}]},
        )
    )
    metrics = index_all(spark, cfg, tool_registry, role_taxonomy)
    assert metrics["conn"]["n_turns"] > 0
    routed = spark.read.parquet(str(tmp_path / "out" / "routed"))
    assert {"block_name", "prefix_len"} <= set(routed.columns)

    got = {
        r["block_name"]: r["n"]
        for r in routed.groupBy("block_name").agg(F.count("*").alias("n")).collect()
    }

    # independent oracle: longest-prefix-match each routed row's key via
    # the ipaddress module (None for non-ip rows and unmatched ips)
    nets = [(n, ipaddress.ip_network(c)) for n, c in blocks]
    want: dict = {}
    for r in routed.select("entity_class", "entity_key").collect():
        name = None
        if r["entity_class"] == "ip" and len(r["entity_key"]) == 8:
            addr = ipaddress.ip_address(bytes.fromhex(r["entity_key"]))
            cands = [(net.prefixlen, n) for n, net in nets if addr in net]
            if cands:
                name = max(cands)[1]
        want[name] = want.get(name, 0) + 1
    assert got == want
    assert got.get("rfc1918-192-hot", 0) > 0  # the overlap actually fired
    assert got.get("rfc1918-10", 0) > 0
    # no non-ip row carries a block
    assert routed.filter(
        (F.col("entity_class") != "ip") & F.col("block_name").isNotNull()
    ).count() == 0


def test_ip_blocks_config_rejects_bad_entries(tmp_path):
    base = {"name": "a", "input": "/a", "output": "/b"}
    with pytest.raises(ValueError, match="pairs"):
        load_config(_write_config(
            tmp_path, {"indexers": [{**base, "ip_blocks": ["10.0.0.0/8"]}]}
        ))
    with pytest.raises(ValueError, match="nibble-aligned"):
        load_config(_write_config(
            tmp_path,
            {"indexers": [{**base, "ip_blocks": [["x", "10.0.0.0/9"]]}]},
        ))
    with pytest.raises(ValueError):
        load_config(_write_config(
            tmp_path,
            {"indexers": [{**base, "ip_blocks": [["x", "999.0.0.0/8"]]}]},
        ))


def test_open_indexers_isolates_a_failing_indexer(spark, dims, tmp_path, capsys):
    """The daemon's refresh path must match index_all's isolation: one
    indexer whose ingest failed (no readable postings output) must not
    crash open_indexers — the other indexers keep serving, like the
    reference's RunDaemon (flowindexer.go:439-465). With a previous
    handle available, the broken indexer keeps serving stale data."""
    tool_registry, role_taxonomy = dims
    inp = str(tmp_path / "t")
    make_transcripts(spark, 4).write.parquet(inp)
    cfg = AppConfig(
        indexers=(
            IndexerSpec(name="bad", input=str(tmp_path / "missing"),
                        output=str(tmp_path / "bad_out")),
            IndexerSpec(name="good", input=inp, output=str(tmp_path / "good_out")),
        )
    )
    index_all(spark, cfg, tool_registry, role_taxonomy)
    handles = open_indexers(spark, cfg)  # must not raise
    assert set(handles) == {"good"}  # bad skipped, not fatal
    assert handles["good"].postings.count() > 0
    assert "bad" in capsys.readouterr().err
    # previous= keeps a stale-but-serving handle across a broken refresh
    prev = {"bad": handles["good"], **handles}
    again = open_indexers(spark, cfg, previous=prev)
    assert set(again) == {"bad", "good"}
    assert again["bad"] is prev["bad"]
