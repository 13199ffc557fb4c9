# Evidence + verification entry points (round-7 verdict item 1).
# `make evidence` regenerates everything a registry edit invalidates;
# `make check` is the fast freshness guard the pre-commit hook runs.

.PHONY: evidence check catalog sf01 hooks test perf

evidence: catalog sf01 check

catalog:
	python tools/catalog_report.py

sf01:
	python tools/sf01_gate.py --update

check:
	python tools/check_evidence.py

hooks:
	python tools/install_hooks.py

test:
	python -m pytest tests/ -x -q

# one untraced benchmark run: make perf W=stream_backfill SEED=11
W ?= stream_backfill
SEED ?= 11
perf:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 15 --trace 0
