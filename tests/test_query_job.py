"""``jobs/query_job.py``: the same JSON lines as the library's Spark
path, answered from the postings and transcripts files without a JVM."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from flow_indexer_spark.operators import queries as Q
from flow_indexer_spark.server import display_entity
from tests.query_paths import spark_stat

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(index_root: str, *args: str) -> list[str]:
    # no JVM can start under this JAVA_HOME, so a pass shows none was needed
    env = {**os.environ, "JAVA_HOME": os.path.join(index_root, "no-jvm")}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "query_job.py"), "--index", index_root, *args],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return proc.stdout.splitlines()


@pytest.mark.parametrize("query", ["10.0.0.1", "10.0.0.0/8", "tool:*", "9.9.9.9"])
def test_cli_search_matches_library(pipeline_out, postings, query):
    cfg, _ = pipeline_out
    want = [json.dumps(r.asDict(), default=str) for r in Q.search(postings, query).collect()]
    assert _cli(cfg.output_root, "search", query) == want


@pytest.mark.parametrize("query", ["0.0.0.0/0", "tool:*"])
def test_cli_expand_matches_library(pipeline_out, postings, query):
    cfg, _ = pipeline_out
    keys = [r["entity_key"] for r in Q.expand(postings, query).collect()]
    assert keys
    want = [
        json.dumps({"entity_key": k, "entity": display_entity(query, k)}, default=str)
        for k in keys
    ]
    assert _cli(cfg.output_root, "expand", query) == want


@pytest.mark.parametrize(
    "query,bucket", [("10.0.0.1", "month/day"), ("10.0.0.0/8", "day"), ("9.9.9.9", "year")]
)
def test_cli_stats_matches_library(
    pipeline_out, postings, transcripts, transcripts_path, query, bucket
):
    cfg, _ = pipeline_out
    want = spark_stat(postings, transcripts, query, bucket)
    assert want["hits"] or query == "9.9.9.9"
    got = _cli(
        cfg.output_root, "--transcripts", transcripts_path, "stats", query, "--bucket", bucket
    )
    assert got == [json.dumps(want)]


@pytest.mark.parametrize(
    "query,contains", [("10.0.0.1", None), ("tool:*", "a"), ("9.9.9.9", None)]
)
def test_cli_dump_matches_library(
    pipeline_out, postings, transcripts, transcripts_path, query, contains
):
    cfg, _ = pipeline_out
    rows = Q.dump(postings, transcripts, query, contains).collect()
    assert rows or query == "9.9.9.9"
    want = [json.dumps(r.asDict(), default=str) for r in rows]
    extra = ["--contains", contains] if contains is not None else []
    got = _cli(cfg.output_root, "--transcripts", transcripts_path, "dump", query, *extra)
    assert got == want
