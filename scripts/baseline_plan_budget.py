#!/usr/bin/env python
"""Append exchange-count budgets (tests/plan_budget.json) and
scan-column budgets (tests/scan_budget.json) for queries not yet in
each file (new queries are skipped by the gates until baselined
here).  Existing budgets are never modified — loosening a committed
budget stays a conscious manual edit.

Usage: python scripts/baseline_plan_budget.py
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_multi_threaded_spark.session import get_spark
from map_reduce_multi_threaded_spark.registry import collect_specs
from map_reduce_multi_threaded_spark.streaming import windows as W
from tests.test_plan_policy import SF, _batch_specs, _exchange_count, _scan_cols


def _write(path: str, budget: dict) -> None:
    with open(path, "w") as f:
        f.write("{\n")
        f.write(",\n".join(f'"{k}": {v}' for k, v in sorted(budget.items())))
        f.write("\n}\n")


def main() -> int:
    import re

    tests = os.path.join(os.path.dirname(__file__), "..", "tests")
    ex_path = os.path.join(tests, "plan_budget.json")
    sc_path = os.path.join(tests, "scan_budget.json")
    pf_path = os.path.join(tests, "pushdown_floor.json")
    with open(ex_path) as f:
        ex_budget = json.load(f)
    with open(sc_path) as f:
        sc_budget = json.load(f)
    with open(pf_path) as f:
        pf_floor = json.load(f)
    spark = get_spark(app_name="baseline_plan_budget")
    spark.sparkContext.setLogLevel("ERROR")
    ex_added, sc_added, pf_added = {}, {}, {}
    for s in _batch_specs():
        if s.name in ex_budget and s.name in sc_budget and s.name in pf_floor:
            continue
        plan = s.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if s.name not in ex_budget:
            n = _exchange_count(plan)
            ex_added[s.name] = n
            print(f"ADD exchange {s.name}: {n}", flush=True)
        if s.name not in sc_budget:
            c = _scan_cols(plan)
            sc_added[s.name] = c
            print(f"ADD scan-cols {s.name}: {c}", flush=True)
        if s.name not in pf_floor:
            p = len(re.findall(r"PushedFilters: \[(?!\])", plan))
            pf_added[s.name] = p
            print(f"ADD pushdown-floor {s.name}: {p}", flush=True)
    ex_budget.update(ex_added)  # written once, after the streaming pass
    if sc_added:
        sc_budget.update(sc_added)
        _write(sc_path, sc_budget)
    # Streaming pass: test_streaming_exchange_counts_within_budget
    # requires EVERY streaming query to carry a plan_budget.json entry,
    # taken from its drain-free template plan.  Streaming queries are
    # exchange-budget-only (the scan/pushdown ratchets are batch gates).
    for s in collect_specs():
        if s.streaming and s.name not in ex_budget:
            n = _exchange_count(W.capture_template(s, spark, SF).plan)
            ex_added[s.name] = ex_budget[s.name] = n
            print(f"ADD exchange (streaming) {s.name}: {n}", flush=True)
    if ex_added:
        _write(ex_path, ex_budget)
    if pf_added:
        pf_floor.update(pf_added)
        _write(pf_path, pf_floor)
    print(
        f"baselined {len(ex_added)} exchange + {len(sc_added)} scan "
        f"+ {len(pf_added)} pushdown entries"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
