#!/usr/bin/env python
"""Capture `explain("formatted")` for named queries into plan files.

Usage:
  python scripts/capture_plans.py --out plans/r19 --suffix before \
      --sf SF_DIR q1 q2 ...

Writes <out>/<query>_<suffix>.txt for each name — committed evidence
files that show a plan change without running Spark.  Each file holds
the plan of every DataFrame the query collects or pins while it is
built (driver-held queries and seeds through ``collect``, centroid
sums through ``toArrow``, pinned subplans such as PPJoin edges through
``localCheckpoint``), then the compiled plan of the query itself.  A
streaming query's file starts with its template plan (the drain-free
``windows.capture_template``) and holds the executed plan of the last
micro-batch of each drain it ran (``windows.RECENT_PLANS``).

Expression ids (``#123``), exchange plan ids (``plan_id=7``), RDD ids
(``RDD[23]``), lambda-variable counters (``lambda x_8``), streaming
run ids, batch times and sink writer object ids, the random part of streaming scratch dirs, the staging root
and the ``--sf`` directory are replaced by stable tokens, so a before/after
pair captured in different sessions or checkouts diffs clean with
plain ``diff``.
"""
from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame

from map_reduce_multi_threaded_spark.registry import collect_specs
from map_reduce_multi_threaded_spark.session import get_spark
from map_reduce_multi_threaded_spark.sources import tables
from map_reduce_multi_threaded_spark.streaming import windows as W


def _formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _normalized(plan: str, sf: str) -> str:
    plan = plan.replace(tables._STAGE_ROOT, "<stage>")
    plan = plan.replace(os.path.abspath(sf), "<sf>")
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    plan = re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1_N", plan)
    # tables.tmpfs_scratch_dir names: prefix + 8 random mkdtemp chars
    plan = re.sub(r"(/sg_[a-z_]*?_)[a-z0-9_]{8}(?=[\]/,\s])", r"\1N", plan)
    plan = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>", plan)
    plan = re.sub(r"(Write)@[0-9a-f]+", r"\1@N", plan)  # sink writer object ids
    plan = re.sub(r"(Timeout, )\d+", r"\1<batch ms>", plan)  # GroupState batch time
    return re.sub(r"#\d+", "#N", plan)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", default="plans/r19")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    a = ap.parse_args()
    specs = {s.name: s for s in collect_specs()}
    bad = [n for n in a.names if n not in specs]
    if bad:
        sys.exit(f"unknown query name(s): {', '.join(bad)}")
    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(a.out, exist_ok=True)
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    actions = {m: getattr(frame, m) for m in ("collect", "toArrow", "localCheckpoint")}
    built: list[tuple[str, str]] = []

    def recording(m, action):
        def run(df: DataFrame, *args, **kwargs):
            built.append((m, _formatted(df)))
            return action(df, *args, **kwargs)

        return run

    for name in a.names:
        spec = specs[name]
        built.clear()
        W.RECENT_PLANS.clear()
        template = []
        if spec.streaming:
            template = [f"== template ==\n{W.capture_template(spec, spark, a.sf).plan}"]
        for m, action in actions.items():
            setattr(frame, m, recording(m, action))
        try:
            df = spec.fn(spark, a.sf)
        finally:
            for m, action in actions.items():
                setattr(frame, m, action)
        parts = [
            f"== build-time {m} {i + 1} ==\n{p}" for i, (m, p) in enumerate(built)
        ]
        executed = [f"== executed {q} ==\n{p}" for q, p in W.RECENT_PLANS.items()]
        plan = "\n".join(template + parts + executed + [_formatted(df)])
        path = os.path.join(a.out, f"{name}_{a.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(_normalized(plan, a.sf))
        print(f"wrote {path} ({len(plan)} bytes)", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
