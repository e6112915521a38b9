"""The publish protocol (sources/manifest.py) under crashes: ingest,
compaction and forget each killed at every step, then retried, must
leave an index equal to a clean run; readers see only live batches; one
writer holds a root at a time.

The roots are built once and copied per test; the fixture transcripts
are split at their middle date into two ingest batches (``halves``)."""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F

import flow_indexer_spark.operators.compact as compact_mod
import flow_indexer_spark.plans.pipeline as pl
from flow_indexer_spark.operators import queries as Q
from flow_indexer_spark.operators.compact import compact_postings
from flow_indexer_spark.plans.pipeline import (
    PipelineConfig,
    forget_conversations,
    run_ingest,
)
from flow_indexer_spark.server import open_indexer
from flow_indexer_spark.sources import manifest as M
from tests.layout import assert_postings_layout
from tests.published import contents

#: summed ndocs of the whole fixture, and the 0.0.0.0/0 hits of its first half
CLEAN_NDOCS = 1139
FIRST_HALF_V4_HITS = 221


class Crash(Exception):
    pass


def _boom(*_a, **_k):
    raise Crash("injected crash")


def crash_on_batch_delete(monkeypatch, n: int) -> None:
    """Make the ``n``-th deletion of a ``batch_id=`` directory (from 1)
    raise: n=1 stops a writer right after its manifest commit, n=2
    between two deletes."""
    real = shutil.rmtree
    deleted = []

    def rmtree(path, *a, **k):
        if os.path.basename(str(path)).startswith("batch_id="):
            deleted.append(path)
            if len(deleted) == n:
                raise Crash("injected crash")
        return real(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", rmtree)


@pytest.fixture(scope="module")
def crashed_root(spark, halves, dims, first_half_root, tmp_path_factory):
    """The first half published, and the second half's ingest killed
    before its manifest commit: its batch dirs are on disk, unpublished."""
    root = str(tmp_path_factory.mktemp("crashed") / "idx")
    shutil.copytree(first_half_root, root)
    mp = pytest.MonkeyPatch()
    mp.setattr(pl, "commit_partitions", _boom)
    try:
        with pytest.raises(Crash):
            run_ingest(spark, halves[1], PipelineConfig(output_root=root), *dims)
    finally:
        mp.undo()
    return root


@pytest.fixture(scope="module")
def clean(spark, pipeline_out):
    """The contents of a clean one-shot ingest of the whole fixture."""
    got = contents(spark, pipeline_out[0].output_root, live=False)
    assert got["ndocs"] == CLEAN_NDOCS and got["duplicates"] == 0
    return got


def _copy(root: str, tmp_path) -> PipelineConfig:
    dst = str(tmp_path / "idx")
    shutil.copytree(root, dst)
    return PipelineConfig(output_root=dst)


def assert_settled(spark, cfg: PipelineConfig, want: dict) -> None:
    """Every file on disk under the root is ``want``, in the one postings
    layout: no dead batch directory is left."""
    assert contents(spark, cfg.output_root, live=False) == want
    assert_postings_layout(cfg.postings_path)
    assert M.clean_orphan_batches([cfg.routed_path, cfg.postings_path]) == []


# -- crashes around compaction and ingest --------------------------------


def test_compaction_crash_then_ingest_then_compact(
    spark, halves, dims, first_half_root, clean, tmp_path, monkeypatch
):
    """A compaction killed after publishing, before it deleted what it
    superseded, then an ingest and a compaction: nothing is lost, nothing
    doubled, and no temp directory is left beside the tables."""
    cfg = _copy(first_half_root, tmp_path)
    crash_on_batch_delete(monkeypatch, 1)
    with pytest.raises(Crash):
        compact_postings(spark, cfg.postings_path, min_files=1)
    monkeypatch.undo()
    run_ingest(spark, halves[1], cfg, *dims)
    assert compact_postings(spark, cfg.postings_path, min_files=1)["compacted"]
    assert_settled(spark, cfg, clean)
    assert sorted(os.listdir(cfg.output_root)) == [".lock", "manifest", "postings", "routed"]


def test_readers_skip_unpublished_batch(spark, crashed_root):
    """A handle opened after an ingest died before its commit answers
    from the published batch only, on the Spark and the Arrow path."""
    handle = open_indexer(spark, crashed_root)
    assert Q.search(handle.postings, "0.0.0.0/0").count() == FIRST_HALF_V4_HITS
    assert len(Q.search_files(handle.postings_files, "0.0.0.0/0")) == FIRST_HALF_V4_HITS


def test_compaction_ignores_unpublished_batch(
    spark, halves, dims, crashed_root, clean, tmp_path
):
    """Compaction between a crashed ingest and its retry folds only
    published batches, so the retry indexes the second half exactly once."""
    cfg = _copy(crashed_root, tmp_path)
    assert compact_postings(spark, cfg.postings_path, min_files=1)["compacted"]
    assert not run_ingest(spark, halves[1], cfg, *dims)["skipped"]
    assert_settled(spark, cfg, clean)


# -- fault injection at each step of compaction and forget -----------------


STEPS = ["after_data_write", "after_manifest_commit", "between_deletes"]


def _inject(monkeypatch, module, step: str) -> None:
    if step == "after_data_write":
        monkeypatch.setattr(module, "commit_partitions", _boom)
    else:
        crash_on_batch_delete(monkeypatch, 1 if step == "after_manifest_commit" else 2)


@pytest.mark.parametrize("step", STEPS)
def test_compaction_crash_then_retry(
    spark, two_batch_root, clean, tmp_path, monkeypatch, step
):
    cfg = _copy(two_batch_root, tmp_path)
    _inject(monkeypatch, compact_mod, step)
    with pytest.raises(Crash):
        compact_postings(spark, cfg.postings_path, min_files=1)
    monkeypatch.undo()
    # readers see the last commit whatever is left on disk
    assert contents(spark, cfg.output_root) == clean
    assert compact_postings(spark, cfg.postings_path, min_files=1)["compacted"]
    assert_settled(spark, cfg, clean)
    assert len(M.live_batch_dirs(cfg.postings_path)) == 1


@pytest.fixture(scope="module")
def victim(spark, pipeline_out):
    """A conversation with postings in several entity classes."""
    routed = spark.read.parquet(pipeline_out[0].routed_path)
    return (
        routed.filter(F.col("entity_class").isNotNull())
        .groupBy("conv_id")
        .agg(F.count_distinct("entity_class").alias("n"))
        .orderBy(F.desc("n"), "conv_id")
        .first()["conv_id"]
    )


@pytest.fixture(scope="module")
def clean_forgotten(spark, pipeline_out, victim, tmp_path_factory):
    cfg = _copy(pipeline_out[0].output_root, tmp_path_factory.mktemp("forgot"))
    forget_conversations(spark, cfg, [victim])
    got = contents(spark, cfg.output_root)
    assert victim not in {p[2] for p in got["postings"]}
    return got


@pytest.mark.parametrize("step", STEPS)
def test_forget_crash_then_retry(
    spark, pipeline_out, victim, clean, clean_forgotten, tmp_path, monkeypatch, step
):
    cfg = _copy(pipeline_out[0].output_root, tmp_path)
    _inject(monkeypatch, pl, step)
    with pytest.raises(Crash):
        forget_conversations(spark, cfg, [victim])
    monkeypatch.undo()
    # before the commit nothing is forgotten yet; after it, all of it is
    published = step != "after_data_write"
    assert contents(spark, cfg.output_root) == (clean_forgotten if published else clean)
    forget_conversations(spark, cfg, [victim])
    assert_settled(spark, cfg, clean_forgotten)


# -- the live-listing rule and the writer lock ------------------------------


def test_uncommitted_compact_dir_is_an_error(tmp_path):
    """A ``compact-*`` directory no manifest row publishes holds a whole
    table swapped in without a commit: listing it as an orphan would
    delete the table, so the live listing refuses the root."""
    d = tmp_path / "postings" / "batch_id=compact-1a2b3c4d"
    d.mkdir(parents=True)
    with pytest.raises(ValueError, match="batch_id=compact-1a2b3c4d"):
        M.live_batch_dirs(str(tmp_path / "postings"))
    with pytest.raises(ValueError):
        M.clean_orphan_batches([str(tmp_path / "postings")])
    assert d.exists()


def test_second_writer_waits_for_the_lock(spark, halves, dims, tmp_path):
    cfg = PipelineConfig(output_root=str(tmp_path / "idx"))
    held, release = threading.Event(), threading.Event()

    def holder():
        with M.writer_lock(cfg.output_root):
            held.set()
            release.wait(120)

    out = {}
    t_hold = threading.Thread(target=holder, daemon=True)
    t_hold.start()
    t_ingest = threading.Thread(
        target=lambda: out.update(run_ingest(spark, halves[0], cfg, *dims)),
        daemon=True,
    )
    try:
        assert held.wait(30)
        t_ingest.start()
        time.sleep(2)
        assert t_ingest.is_alive() and not out
        assert sorted(os.listdir(cfg.output_root)) == [".lock"]  # no work started
    finally:
        release.set()
    t_hold.join(30)
    t_ingest.join(300)
    assert not t_hold.is_alive() and not t_ingest.is_alive()
    assert out and not out["skipped"]
