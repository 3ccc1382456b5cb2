# Convenience targets; everything is plain python underneath.

ROUND ?= 05
SF_DIR ?= /root/testdata/sf0.01
WORKLOAD ?= webmix
SEED ?= 1
TRACE ?= 0

.PHONY: test perf profile correctness bench scaling

# the ROADMAP tier-1 command: local[nproc] (nproc counted with
# OMP_NUM_THREADS unset, which would otherwise cap it), not local[32]
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider -rs

# one benchmark run (BENCHMARK.json's command): end-to-end metrics with
# TRACE=0, the per-layer metrics with TRACE=1
perf:
	python3 perfbench/run.py --workload $(WORKLOAD) --seed $(SEED) --seconds 2 --trace $(TRACE)

# every registered query: min-of-3 noop wall time plus jobs, stages,
# tasks, executor/JVM/Python-worker time, shuffle and spill from the
# Spark event log
profile:
	SPARK_GRAFT_SF_DIR=$(SF_DIR) python tools/profile_registry.py --json PROFILE.json

# full-registry oracle sweep (ALL registered queries, not just the
# driver's 50-query window) -> committed artifact next to the driver's
# CORRECTNESS_r$(ROUND).json
correctness:
	python tools/check_oracles.py $(SF_DIR) --json CORRECTNESS_local_r$(ROUND).json

bench:
	python bench.py

scaling:
	python tools/bench_scaling.py
