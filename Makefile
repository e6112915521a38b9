PY ?= python

.PHONY: test bench package smoke

# the ROADMAP tier-1 command: same env, timeout and flags as the gate; then
# its wall time and the CPU-seconds stolen from this host's CPUs meanwhile
# (/proc/stat's steal column), and the suite's exit status
STEAL = awk '/^cpu /{print $$9}' /proc/stat
test:
	@steal0=$$($(STEAL)); t0=$$(date +%s); \
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider; \
	rc=$$?; steal1=$$($(STEAL)); t1=$$(date +%s); \
	echo "tier-1 wall $$((t1 - t0)) s, steal $$(( (steal1 - steal0) / $$(getconf CLK_TCK) )) CPU-s"; \
	exit $$rc

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
