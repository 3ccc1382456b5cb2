# Convenience targets; everything is plain python underneath.

ROUND ?= 05
SF_DIR ?= /root/testdata/sf0.01

.PHONY: test correctness bench bench-ab scaling

# the ROADMAP tier-1 command: local[nproc] (nproc counted with
# OMP_NUM_THREADS unset, which would otherwise cap it), not local[32]
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# full-registry oracle sweep (ALL registered queries, not just the
# driver's 50-query window) -> committed artifact next to the driver's
# CORRECTNESS_r$(ROUND).json
correctness:
	python tools/check_oracles.py $(SF_DIR) --json CORRECTNESS_local_r$(ROUND).json

bench:
	python bench.py

# session-accumulation A/B probe (fresh JVM per run, interleaved)
bench-ab:
	python tools/bench_ab.py 5

scaling:
	python tools/bench_scaling.py
