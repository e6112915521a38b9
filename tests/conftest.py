"""Shared fixtures: one SparkSession per test session (boot ~20s), seeded
transcripts, and a fully-ingested pipeline output reused across tests."""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from flow_indexer_spark.generator import make_dims, make_transcripts, make_transcripts_pdf
from flow_indexer_spark.plans.pipeline import PipelineConfig, run_ingest
from flow_indexer_spark.session import get_spark

N_CONVS = 40
SEED = 42


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="flow-indexer-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_pdf():
    return make_transcripts_pdf(N_CONVS, SEED)


@pytest.fixture(scope="session")
def transcripts(spark):
    return make_transcripts(spark, N_CONVS, SEED).cache()


@pytest.fixture(scope="session")
def transcripts_path(transcripts, tmp_path_factory):
    """``transcripts`` written as parquet (naive INT96 ``ts``), the form
    the daemon's /stats and /dump read."""
    path = str(tmp_path_factory.mktemp("transcripts") / "t")
    transcripts.write.parquet(path)
    return path


@pytest.fixture(scope="session")
def dims(spark):
    return make_dims(spark)


@pytest.fixture(scope="session")
def pipeline_out(spark, transcripts, dims, tmp_path_factory):
    """Run the full ingest once; tests read its tables."""
    root = str(tmp_path_factory.mktemp("pipeline"))
    cfg = PipelineConfig(output_root=root)
    tool_registry, role_taxonomy = dims
    metrics = run_ingest(spark, transcripts, cfg, tool_registry, role_taxonomy)
    return cfg, metrics


@pytest.fixture(scope="session")
def postings(spark, pipeline_out):
    cfg, _ = pipeline_out
    return spark.read.parquet(cfg.postings_path).cache()


@pytest.fixture(scope="session")
def halves(transcripts):
    """The fixture transcripts before their middle date, and all of them:
    two ingest batches."""
    from pyspark.sql import functions as F

    day = F.date_format("ts", "yyyy-MM-dd")
    parts = sorted(r.p for r in transcripts.select(day.alias("p")).distinct().collect())
    return transcripts.filter(day < parts[len(parts) // 2]), transcripts


@pytest.fixture(scope="session")
def first_half_root(spark, halves, dims, tmp_path_factory):
    """An index root holding the first half, published; copy, don't write."""
    cfg = PipelineConfig(output_root=str(tmp_path_factory.mktemp("half") / "idx"))
    run_ingest(spark, halves[0], cfg, *dims)
    return cfg.output_root


@pytest.fixture(scope="session")
def two_batch_root(spark, halves, dims, first_half_root, tmp_path_factory):
    """``first_half_root`` plus the second half as a second batch; copy,
    don't write."""
    root = str(tmp_path_factory.mktemp("two") / "idx")
    shutil.copytree(first_half_root, root)
    run_ingest(spark, halves[1], PipelineConfig(output_root=root), *dims)
    return root
