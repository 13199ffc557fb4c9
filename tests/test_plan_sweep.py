"""Global plan audit: EVERY registry entry's physical plan is free of
the two unambiguous 100 TB scale-killers —

- ``CartesianProduct``: an unbroadcastable all-pairs join (the
  broadcast variant, BroadcastNestedLoopJoin, is how deliberate tiny
  cross-joins of scalar frames compile, and is allowed);
- ``BatchEvalPython``: a row-at-a-time Python UDF in the plan (Arrow
  paths compile to ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
  and are allowed).

This is the codified version of the per-operator .explain audits: a new
query (or a regression in an old one) that sneaks either node into a
graded plan fails CI, not the 100 TB run.  Plans are BUILT at sf0.001
(some entries legitimately run small driver jobs — k-means fits, PQ
training — while constructing the DataFrame; that is part of their
contract and stays cheap at this SF)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_plan_has_no_scale_killers(registry_plan, name):
    plan = registry_plan(name, "/root/testdata/sf0.001")
    hits = [p for p in FORBIDDEN if p in plan]
    assert not hits, f"{name}: {hits}\n{plan[:2000]}"
