"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` and removed at exit; a traced run also writes its
spans to ``.perfbench_out/``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
``BENCHMARK.json`` declares with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it carries workload details (sample
counts, per-category latencies). Exit code 0 only when every correctness
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _isolate(work: str) -> None:
    """Point the scratch directories of this process, the JVM and the
    Python workers into ``work``, and let the workers import the package
    whatever their working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says, so it is turned off to keep every write inside ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for ``pids`` to exit; kill any still running after the timeout."""
    deadline = time.monotonic() + timeout_s
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if _running(p)]
        time.sleep(0.1)
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_ingest", "query_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "flow_indexer_spark", "__init__.py")):
        print(f"no flow_indexer_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    import workloads
    from tracing import RssSampler, descendants

    bench = workloads.Bench(work, args.seed, args.seconds, bool(args.trace))
    try:
        with RssSampler() as rss:
            e2e, layers, details = getattr(workloads, args.workload)(bench)
    finally:
        started = descendants(os.getpid())
        bench.close()
        _reap(started)
        shutil.rmtree(work, ignore_errors=True)
    bench.mark("close")
    e2e["setup_s"] = statistics.median(bench.setup_s)
    details["peak_rss_mb"] = rss.peak_mb
    if args.trace:
        bench.tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}-{os.getpid()}.json"
        ))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else e2e
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared},
    }
    details.update(setup_rounds_s=bench.setup_s, phase_end_s=bench.phases, errors=bench.errors[:10])
    print(json.dumps({"details": details}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
