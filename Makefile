# Evidence + verification entry points (round-7 verdict item 1).
# `make evidence` regenerates everything a registry edit invalidates;
# `make check` is the fast freshness guard the pre-commit hook runs.

.PHONY: evidence check catalog sf01 hooks test perf perf-ab

evidence: catalog sf01 check

catalog:
	python tools/catalog_report.py

sf01:
	python tools/sf01_gate.py --update

check:
	python tools/check_evidence.py

hooks:
	python tools/install_hooks.py

# the tier-1 command (ROADMAP.md): the whole suite inside its 2670 s window
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# one untraced benchmark run: make perf W=stream_backfill SEED=11
W ?= stream_backfill
SEED ?= 11
perf:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 15 --trace 0

# same-host A/B, alternating order: make perf-ab W=head_follow BASE=HEAD PAIRS=10
# TRACE=1 runs both sides traced and compares the per-layer metrics
BASE ?= HEAD
PAIRS ?= 10
TRACE ?= 0
perf-ab:
	python3 tools/perf_ab.py --base $(BASE) --workload $(W) --pairs $(PAIRS) --seed0 $(SEED) --trace $(TRACE)
