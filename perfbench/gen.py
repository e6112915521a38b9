"""Seeded transcript generator for the benchmark workloads.

Rows have the ``generator.make_transcripts_pdf`` shape
``(conv_id, turn_idx, role, text, tool, ts)``; each turn's phrase list
is repeated ``TEXT_REPEAT`` times so turns are ~420 characters, like
real transcript text that mentions the same entities several times.

Entity mix (per non-empty turn):
- the hot IP ``HOT_IP`` in ~85% of turns (the skewed, dense-posting key);
- one of ``MEDIUM_IPS`` in ~10%;
- a one-off IP, unique to the turn, in ~5% (the cold point-lookup keys);
- an IPv6 address from a small pool in ~8%;
- a ``<tool:NAME>`` marker from a long-tailed vocabulary in ~15%,
  and a ``tool`` column value in ~20%;
- an ``@agent_NN`` role marker in ~10%;
- IP-like distractors (``1.2.3.4.5``, ``999.999.999.999``) in ~10%.
About 10% of turns mention no entity in their text.

Every value derives from ``(seed, batch)`` only, so the same seed gives
byte-identical inputs. Batches never share a date or a conv_id, so no
batch is dropped by the ingest manifest's date-level anti-join.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HOT_IP = "10.0.0.1"
MEDIUM_IPS = [f"192.168.{i // 8}.{i % 8 + 1}" for i in range(64)]
V6_POOL = ["2001:db8::1", "2001:db8::2", "fe80::dead:beef", "2001:db8:85a3::8a2e:370:7334"]
TOOL_PREFIXES = ["fetch", "exec", "file", "calc"]
TOOLS = [f"{p}_{i:02d}" for p in TOOL_PREFIXES for i in range(16)]
ROLES = ["user", "assistant", "system", "tool"]
AGENTS = [f"agent_{i:02d}" for i in range(32)]
DISTRACTOR = "version 1.2.3.4.5 at 10:27:26 build 999.999.999.999"
TEXT_REPEAT = 8
#: an IP the generator never emits — the guaranteed-miss lookup
MISS_IP = "203.0.113.77"
EPOCH = datetime(2015, 4, 1)
MAX_TURNS_PER_CONV = 20


def one_off_ip(n: int) -> str:
    """Turn serial -> an address in 172.16.0.0/12 unique to that turn."""
    return f"172.{16 + (n >> 16) % 16}.{(n >> 8) & 255}.{n & 255}"


def _zipf_pick(rng: np.random.Generator, size: int, n: int) -> np.ndarray:
    """Indices in [0, n) with a long tail: index 0 is common, the last rare."""
    w = 1.0 / np.arange(1, n + 1)
    return rng.choice(n, size=size, p=w / w.sum())


def make_batch(seed: int, batch: int, n_turns: int, first_day: int, n_days: int) -> pd.DataFrame:
    """``n_turns`` turns (conversations are cut to fit) dated within
    ``[first_day, first_day + n_days)`` days after ``EPOCH``. ``batch``
    namespaces conv_ids and one-off IPs so batches stay disjoint."""
    rng = np.random.default_rng([seed, batch])
    conv_len = rng.integers(1, MAX_TURNS_PER_CONV + 1, size=n_turns)
    ends = np.cumsum(conv_len)
    n_conv = int(np.searchsorted(ends, n_turns)) + 1
    conv_len = conv_len[:n_conv]
    conv_len[-1] -= int(ends[n_conv - 1]) - n_turns
    conv = np.repeat(np.arange(n_conv), conv_len)
    turn_idx = np.arange(n_turns) - np.repeat(np.concatenate([[0], ends[: n_conv - 1]]), conv_len)

    # conversations start in the first half of a day and last <= ~10 h,
    # so every turn of a conversation falls on its start date
    day = first_day + rng.integers(0, n_days, size=n_conv)
    start_s = day * 86400 + rng.integers(0, 12, size=n_conv) * 3600
    ts_s = start_s[conv] + turn_idx * 31 * 60 + rng.integers(0, 60, size=n_turns)
    ts = pd.to_datetime(EPOCH) + pd.to_timedelta(ts_s, unit="s")

    u = rng.random((9, n_turns))
    kind = rng.random(n_turns)
    medium = rng.integers(0, len(MEDIUM_IPS), size=n_turns)
    v6 = rng.integers(0, len(V6_POOL), size=n_turns)
    marker_tool = _zipf_pick(rng, n_turns, len(TOOLS))
    col_tool = _zipf_pick(rng, n_turns, len(TOOLS))
    agent = _zipf_pick(rng, n_turns, len(AGENTS))
    role = rng.integers(0, len(ROLES), size=n_turns)
    serial0 = batch * (1 << 17)  # one-off IP namespace per batch

    texts, tools = [], []
    for i in range(n_turns):
        tool = ""
        if kind[i] < 0.05:
            texts.append("# fields ts id.orig_h id.resp_h - header-like noise")
            tools.append(tool)
            continue
        if kind[i] < 0.10:
            texts.append("plain prose with no entities at all, just words")
            tools.append(tool)
            continue
        words = []
        if u[0, i] < 0.85:
            words.append(f"src host {HOT_IP} contacted")
        if u[1, i] < 0.10:
            words.append(f"peer {MEDIUM_IPS[medium[i]]}")
        if u[2, i] < 0.05:
            words.append(f"one-off {one_off_ip(serial0 + i)}")
        if u[3, i] < 0.08:
            words.append(f"v6 {V6_POOL[v6[i]]} seen")
        if u[4, i] < 0.15:
            words.append(f"invoking <tool:{TOOLS[marker_tool[i]]}> now")
        if u[5, i] < 0.10:
            words.append(f"ping @{AGENTS[agent[i]]} marker")
        if u[6, i] < 0.10:
            words.append(DISTRACTOR)
        words.append(f"at step {turn_idx[i]:02d} ok")
        phrase = " ".join(words)
        texts.append(" | ".join([phrase] * TEXT_REPEAT))
        if u[7, i] < 0.20:
            name = TOOLS[col_tool[i]]
            tool = name if u[8, i] < 0.6 else f'{{"tool": "{name}", "args": {{"q": "x"}}}}'
        tools.append(tool)

    return pd.DataFrame(
        {
            "conv_id": [f"b{batch:03d}-{c:06d}" for c in conv],
            "turn_idx": turn_idx.astype(np.int32),
            "role": np.asarray(ROLES)[role],
            "text": texts,
            "tool": tools,
            "ts": ts.tz_localize("UTC"),
        }
    )


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int = 1) -> int:
    """Write ``pdf`` as ``n_files`` parquet part files under directory
    ``path`` (a multi-file table, so Spark reads it in parallel).
    Returns the raw input field bytes (see :func:`raw_bytes`)."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    table = table.cast(
        pa.schema(
            [
                ("conv_id", pa.string()),
                ("turn_idx", pa.int32()),
                ("role", pa.string()),
                ("text", pa.string()),
                ("tool", pa.string()),
                ("ts", pa.timestamp("us", tz="UTC")),
            ]
        )
    )
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))
    return raw_bytes(pdf)


def raw_bytes(pdf: pd.DataFrame) -> int:
    """Raw field bytes of the input: string lengths (all ASCII) plus 4
    bytes per turn_idx and 8 per ts."""
    strs = sum(int(pdf[c].str.len().sum()) for c in ("conv_id", "role", "text", "tool"))
    return strs + 4 * len(pdf) + 8 * len(pdf)


def hot_turns(pdf: pd.DataFrame, ip: str = HOT_IP) -> int:
    """Independent count of turns whose text mentions ``ip`` as a whole
    token (same boundary rule as the extractor: no word char, dot or
    colon on either side)."""
    pat = r"(?<![\w.:])" + ip.replace(".", r"\.") + r"(?![\w.:])"
    return int(pdf["text"].str.contains(pat, regex=True).sum())
