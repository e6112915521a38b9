"""Postings-table layout check, read straight from the parquet files.

Range queries skip files only if every file of a partition directory is
sorted by ``entity_key`` and the files cover disjoint key ranges (the
reference's sorted LevelDB keys, /root/reference/store/leveldb.go:147-205).
"""

from __future__ import annotations

import glob
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq


def _key_range(meta, col: int) -> tuple[str, str]:
    """[min, max] of one column over a file's row groups, from the footer."""
    stats = [meta.row_group(g).column(col).statistics for g in range(meta.num_row_groups)]
    assert all(s is not None and s.has_min_max for s in stats), "entity_key lacks min/max stats"
    return min(s.min for s in stats), max(s.max for s in stats)


def assert_postings_layout(path: str) -> int:
    """For every ``batch_id=*/entity_class=*`` directory under ``path``:
    each file's ``entity_key`` column is sorted, and the files' footer
    ``[min, max]`` key ranges do not overlap. Returns the number of
    non-empty files checked."""
    n_files = 0
    dirs = sorted(glob.glob(os.path.join(path, "batch_id=*", "entity_class=*")))
    assert dirs, f"no batch_id=*/entity_class=* directories under {path}"
    for d in dirs:
        ranges = []
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            pf = pq.ParquetFile(f)
            meta = pf.metadata
            if meta.num_rows == 0:
                continue
            keys = pf.read(columns=["entity_key"]).column("entity_key").combine_chunks()
            unsorted = pc.sum(pc.less(keys[1:], keys[:-1])).as_py() or 0
            assert unsorted == 0, f"{f}: entity_key not sorted ({unsorted} descents)"
            col = meta.schema.names.index("entity_key")
            ranges.append((*_key_range(meta, col), f))
            n_files += 1
        ranges.sort()
        for (_, prev_hi, prev_f), (lo, _, f) in zip(ranges, ranges[1:]):
            assert lo > prev_hi, f"key ranges overlap: {prev_f} ends {prev_hi!r}, {f} starts {lo!r}"
    return n_files
