"""Config-file-driven multi-indexer lifecycle.

The reference is configured by one JSON file declaring many named
indexers (``example_config.json``: name / backend / file_glob /
database_root per indexer, plus the HTTP bind), loaded by
``NewFlowIndexerFromConfigFilename`` and driven by
``RunIndexAll`` — one goroutine per indexer, wait-group join
(/root/reference/flowindexer/flowindexer.go:422-437) — and
``RunDaemon`` — per-indexer periodic IndexRecent loops plus the web
API (:439-465). This module is that lifecycle over the DataFrame
pipeline:

* ``IndexerSpec`` — one indexer: input table + optional row filter
  (the file_glob analogue: the reference points each indexer at a
  different file subset; here each points at a table/path and an
  optional SQL predicate), output root, and the PipelineConfig knobs.
* ``load_config`` — strict JSON loader (unknown keys are errors:
  a typo'd tuning knob silently ignored is how a 100 TB run ends up
  un-salted).
* ``index_all`` — run every indexer's ingest batch; with
  ``parallel=True`` each runs on its own driver thread in its own
  FAIR scheduler pool, the Spark idiom for the reference's
  goroutine-per-indexer: jobs from all indexers interleave on the
  cluster instead of convoying FIFO behind the largest one. Each
  ingest is itself incremental (manifest anti-join), so a daemon
  tick is the IndexRecent analogue — O(new partitions), not O(history).
* ``open_indexers`` — indexer name -> server.IndexerHandle for the
  HTTP layer (RefreshStores analogue: parquet file listings are
  snapshotted into the DataFrame plan at open time, so the daemon
  re-opens handles after each tick).

``jobs/daemon_job.py`` wires these into the long-running process.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, fields
from typing import Callable

from pyspark.sql import SparkSession

from flow_indexer_spark.plans.pipeline import PipelineConfig, run_ingest
from flow_indexer_spark.server import IndexerHandle


@dataclass(frozen=True)
class IndexerSpec:
    """One named indexer (indexerConfig analogue,
    /root/reference/flowindexer/flowindexer.go:26-37)."""

    name: str
    input: str
    output: str
    #: optional SQL predicate applied to the input table — the
    #: file_glob analogue (each reference indexer reads a different
    #: file subset; each Spark indexer a different row subset)
    filter: str | None = None
    salt: int = 16
    #: optional netblock dimension: [[name, cidr], ...] — every routed
    #: row gets longest-prefix-match (block_name, prefix_len) columns
    #: (operators/ipblocks.py; in-row LPM, validated at load time so a
    #: bad CIDR fails the config load, not the 100th ingest tick)
    ip_blocks: tuple | None = None

    def pipeline_config(self) -> PipelineConfig:
        return PipelineConfig(
            output_root=self.output,
            n_salt=self.salt,
            ip_blocks=tuple(tuple(b) for b in self.ip_blocks)
            if self.ip_blocks
            else None,
        )


@dataclass(frozen=True)
class AppConfig:
    """The whole config file (Config analogue: http.bind + indexers,
    /root/reference/example_config.json)."""

    indexers: tuple[IndexerSpec, ...]
    http_bind: str | None = None


def load_config(path: str) -> AppConfig:
    """Parse + validate the JSON config. Strict: unknown keys,
    duplicate indexer names, and missing required fields all raise
    ValueError with the offending key named."""
    with open(path) as fh:
        raw = json.load(fh)
    known_top = {"http", "indexers"}
    if unknown := set(raw) - known_top:
        raise ValueError(f"unknown config keys: {sorted(unknown)}")
    http = raw.get("http") or {}
    if unknown := set(http) - {"bind"}:
        raise ValueError(f"http: unknown keys {sorted(unknown)}")
    http_bind = http.get("bind")
    specs = []
    seen = set()
    spec_fields = {f.name for f in fields(IndexerSpec)}
    required = {"name", "input", "output"}
    for i, ix in enumerate(raw.get("indexers") or []):
        if unknown := set(ix) - spec_fields:
            raise ValueError(f"indexer[{i}]: unknown keys {sorted(unknown)}")
        if missing := required - set(ix):
            raise ValueError(f"indexer[{i}]: missing keys {sorted(missing)}")
        spec = IndexerSpec(**ix)
        if spec.ip_blocks:
            from flow_indexer_spark.operators.ipblocks import block_table

            for b in spec.ip_blocks:
                if not (isinstance(b, (list, tuple)) and len(b) == 2):
                    raise ValueError(
                        f"indexer[{i}]: ip_blocks entries must be "
                        f"[name, cidr] pairs, got {b!r}"
                    )
            block_table([tuple(b) for b in spec.ip_blocks])  # raises on bad CIDR
        if spec.name in seen:
            raise ValueError(f"duplicate indexer name: {spec.name!r}")
        seen.add(spec.name)
        specs.append(spec)
    if not specs:
        raise ValueError("config declares no indexers")
    return AppConfig(indexers=tuple(specs), http_bind=http_bind)


def _read_input(spark: SparkSession, spec: IndexerSpec):
    df = spark.read.parquet(spec.input)
    return df.filter(spec.filter) if spec.filter else df


def index_all(
    spark: SparkSession,
    cfg: AppConfig,
    tool_registry=None,
    role_taxonomy=None,
    parallel: bool = True,
    on_done: Callable[[str, dict], None] | None = None,
) -> dict[str, dict]:
    """Run one ingest batch for every configured indexer; returns
    name -> run_ingest metrics (RunIndexAll analogue,
    /root/reference/flowindexer/flowindexer.go:422-437).

    ``parallel=True`` runs each indexer on its own driver thread with
    ``spark.scheduler.pool`` set to the indexer name — under FAIR
    scheduling (set ``spark.scheduler.mode=FAIR`` on the session, as
    jobs/daemon_job.py does) every indexer makes progress concurrently;
    under default FIFO the property is harmless. Outputs are disjoint
    roots, so the only shared state is the thread-safe SparkSession.
    A failing indexer doesn't abort the others: its metrics entry is
    ``{"error": ...}``, mirroring the reference where one goroutine's
    log.Fatal-free errors leave the rest running.
    """
    results: dict[str, dict] = {}

    def one(spec: IndexerSpec) -> None:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", spec.name)
        try:
            metrics = run_ingest(
                spark,
                _read_input(spark, spec),
                spec.pipeline_config(),
                tool_registry,
                role_taxonomy,
            )
        except Exception as e:  # noqa: BLE001 - per-indexer isolation
            metrics = {"error": f"{type(e).__name__}: {e}"}
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
        results[spec.name] = metrics
        if on_done is not None:
            on_done(spec.name, metrics)

    if parallel and len(cfg.indexers) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(cfg.indexers)) as pool:
            list(pool.map(one, cfg.indexers))
    else:
        for spec in cfg.indexers:
            one(spec)
    return results


def open_indexers(
    spark: SparkSession,
    cfg: AppConfig,
    previous: dict[str, IndexerHandle] | None = None,
) -> dict[str, IndexerHandle]:
    """name -> IndexerHandle for the HTTP layer. The indexer's input
    table doubles as the transcripts side of /stats and /dump. Re-call
    after each ingest tick: a DataFrame snapshots the parquet file
    listing when opened (RefreshStores analogue,
    /root/reference/flowindexer/flowindexer.go:281-316).

    Per-indexer failure isolation, matching ``index_all``'s: an indexer
    whose ingest failed (or hasn't run yet) has no readable postings
    output, and ``spark.read.parquet`` on it raises. That must not take
    the daemon down — the reference's RunDaemon keeps every other
    indexer serving when one breaks. On open failure the indexer keeps
    its ``previous`` handle (stale-but-serving) or, with none, is
    skipped for this refresh; either way the error is logged to stderr
    and the remaining indexers open normally."""
    import sys

    out = {}
    previous = previous or {}
    for spec in cfg.indexers:
        try:
            out[spec.name] = IndexerHandle(
                postings=spark.read.parquet(f"{spec.output}/postings"),
                transcripts=_read_input(spark, spec),
            )
        except Exception as e:  # noqa: BLE001 - per-indexer isolation
            print(
                f"open_indexers: indexer {spec.name!r} not readable "
                f"({type(e).__name__}: {e}); "
                + ("keeping previous handle" if spec.name in previous
                   else "skipping"),
                file=sys.stderr,
            )
            if spec.name in previous:
                out[spec.name] = previous[spec.name]
    return out
