"""``tools/perf_ab.py``'s summary line (pure Python, no Spark)."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import perf_ab  # noqa: E402


def test_summary_marks_only_a_loss_beyond_the_bound():
    base = [100.0, 100.0, 100.0]
    slower = perf_ab._summary_line("latency_ms", 10, base, [130.0] * 3, "lower", 0.25)
    assert "+30.0%" in slower and slower.endswith("BEYOND BOUND")
    within = perf_ab._summary_line("latency_ms", 10, base, [120.0] * 3, "lower", 0.25)
    assert "+20.0%" in within and "BEYOND" not in within
    faster = perf_ab._summary_line("throughput_per_s", 16, base, [140.0] * 3, "higher", 0.25)
    assert "+40.0%" in faster and "3/3" in faster and "BEYOND" not in faster
    fewer = perf_ab._summary_line("throughput_per_s", 16, base, [70.0] * 3, "higher", 0.25)
    assert "-30.0%" in fewer and fewer.endswith("BEYOND BOUND")
    # per-layer metrics carry no bound
    layer = perf_ab._summary_line("store.store_logs_s", 18, base, [300.0] * 3, "lower", None)
    assert "BEYOND" not in layer
