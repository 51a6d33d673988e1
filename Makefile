SHELL := /bin/bash

.PHONY: test check check-small bench isolate plans scaling all

test:            ## Tier-1: full pytest suite (oracle-differential, plans, API, parity, streaming, properties)
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

check:           ## driver-contract emulation at sf0.01 (the graded gate)
	python tools/driver_check.py

check-small:     ## fast contract check at sf0.001
	python tools/driver_check.py /root/testdata/sf0.001

BASELINE_BENCH := $(shell ls BENCH_r*.json 2>/dev/null | sort | tail -1)

bench:           ## headline timings at sf0.1 (one JSON line) + regression gate vs last round
	set -o pipefail; python bench.py | tee /tmp/bench_latest.json
ifneq ($(BASELINE_BENCH),)
	python tools/bench_diff.py $(BASELINE_BENCH) /tmp/bench_latest.json
else
	@echo "no BENCH_r*.json baseline — skipping regression diff"
endif

isolate:         ## isolated re-timing: make isolate Q="q_x q_y" (fresh JVM per query, min-of-3)
	python tools/bench_isolate.py $(Q)

plans:           ## regenerate PLANS.md plan-evidence artifact
	python tools/dump_plans.py

scaling:         ## regenerate SCALING.md 100x scale-up table
	python tools/scaling_probe.py

all: test check bench
