PY ?= python

.PHONY: test bench package smoke

test:
	$(PY) -m pytest tests/ -x -q

# one seeded run of each workload in BENCHMARK.json; prints one JSON line each
bench:
	$(PY) perfbench/run.py --workload bulk_ingest --seed 1 --seconds 15
	$(PY) perfbench/run.py --workload query_serve --seed 1 --seconds 15

# spark-submit --py-files payload
package:
	$(PY) -m zipfile -c dist/flow_indexer_spark.zip flow_indexer_spark

smoke:
	$(PY) -c "import __spark_entry__ as e; from flow_indexer_spark import get_spark; \
s = get_spark(master='local[8]'); print(e.entry(s).count())"
