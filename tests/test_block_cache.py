"""The postings reader's row-group cache (``queries.BLOCK_CACHE``): its
byte bound, its stat check against deleted files, and its decode-time
sort of files written unsorted."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flow_indexer_spark.operators import queries as Q
from tests.published import publish
from tests.query_paths import assert_query_paths_agree, hit_tuples
from tests.test_index import EXPAND_TABLE, QUERY_TABLE, mini_postings  # noqa: F401


def _cached_paths(prefix: str) -> set[str]:
    return {key[0] for key in Q.BLOCK_CACHE.blocks if key[0].startswith(prefix)}


def test_block_over_the_bound_is_used_and_not_kept(
    spark, pipeline_out, two_batch_root, tmp_path, monkeypatch
):
    """With a bound of 1 byte every row group is decoded for its request
    and dropped: answers stay right, nothing of the root is kept, and
    the blocks already cached are not evicted for it."""
    cfg, _ = pipeline_out
    Q.search_files(Q.open_postings_files(cfg.postings_path), "10.0.0.0/8")
    before = list(Q.BLOCK_CACHE.blocks)
    assert before
    root = str(tmp_path / "idx")
    shutil.copytree(two_batch_root, root)
    monkeypatch.setattr(Q, "BLOCK_CACHE_BYTES", 1)
    assert_query_paths_agree(spark, f"{root}/postings")
    assert not _cached_paths(root)
    assert list(Q.BLOCK_CACHE.blocks) == before


def test_warm_reader_raises_once_compaction_deletes_its_files(
    spark, two_batch_root, tmp_path
):
    """Cached blocks do not outlive their file: after a compaction
    deletes the files a warm reader listed, ``search_files`` raises
    FileNotFoundError, which makes the daemon reopen its handle."""
    from flow_indexer_spark.operators.compact import compact_postings

    root = str(tmp_path / "idx")
    shutil.copytree(two_batch_root, root)
    files = Q.open_postings_files(f"{root}/postings")
    assert len(Q.search_files(files, "10.0.0.1"))
    assert _cached_paths(root)
    assert compact_postings(spark, f"{root}/postings", min_files=1)["compacted"]
    with pytest.raises(FileNotFoundError):
        Q.search_files(files, "10.0.0.1")


def test_unsorted_postings_file_answers_like_search(spark, mini_postings, tmp_path):
    """A postings file written by pyarrow in descending key order, as
    files were before the key-sorted layout: the reader sorts each row
    group once when it decodes it, and every query answers as
    ``Q.search`` / ``Q.expand`` do."""
    from flow_indexer_spark.functions.keys import key_to_ip

    root = str(tmp_path / "unsorted")
    batch = "unsorted-0"
    hit = pa.struct([("conv_id", pa.string()), ("turn_idx", pa.int32())])
    schema = pa.schema([("entity_key", pa.string()), ("postings", pa.list_(hit))])
    rows = mini_postings.orderBy("entity_key", ascending=False).collect()
    for klass in sorted({r["entity_class"] for r in rows}):
        table = pa.Table.from_pylist(
            [
                {"entity_key": r["entity_key"],
                 "postings": [p.asDict() for p in r["postings"]]}
                for r in rows if r["entity_class"] == klass
            ],
            schema,
        )
        out = f"{root}/postings/batch_id={batch}/entity_class={klass}"
        os.makedirs(out)
        pq.write_table(table, f"{out}/part-0.parquet")
    publish(spark, root, batch)
    ip_keys = [r["entity_key"] for r in rows if r["entity_class"] == "ip"]
    assert ip_keys != sorted(ip_keys)
    files = Q.open_postings_files(f"{root}/postings")
    for query, expected in QUERY_TABLE:
        want = [(r.conv_id, r.turn_idx) for r in Q.search(mini_postings, query).collect()]
        assert want == expected
        assert hit_tuples(Q.search_files(files, query)) == want, query
    for cidr, expected in EXPAND_TABLE:
        keys = Q.expand_files(files, cidr)["entity_key"].to_pylist()
        assert [key_to_ip(k) for k in keys] == expected, cidr
