#!/usr/bin/env python
"""Floating-point accumulation-order audit (VERDICT r11 ask #4c).

Double addition is not associative, so any double-typed output that is
produced by summing doubles in partition order would be free to change
value when the partitioning changes — across shuffle widths locally,
and across executor counts/fetch order on a real cluster.  This
engine's claim (relational.py:12-15, docs/SCALE.md) is that floating
outputs are *exact-by-construction*: every aggregate runs over exact
DECIMAL/integer sums and only the FINAL expression casts to double, so
the result is one deterministic IEEE value independent of order.

This script tests that claim empirically, query by query:

1. enumerate every registered batch query whose output schema contains
   float/double (top-level, array element, or struct field);
2. execute each twice in one session under maximally different
   physical layouts —
     run A: shuffle.partitions=1,  one scan split per file
     run B: shuffle.partitions=61, scans split down to 16 KiB
   (spark.sql.shuffle.partitions and spark.sql.files.* are runtime
   SQLConf, so per-run `spark.conf.set` is honored by each execution);
3. compare the result multisets at full precision (repr / %.17g) —
   NOT the driver gate's 12-significant-digit canonicalization — so
   even sub-gate drift is visible;
4. report per query: bit-identical, gate-identical (12g), or DRIFT.

Streaming queries are excluded here (their state-store checkpoints pin
the shuffle width mid-run); their float outputs are enumerated and
flagged as covered by the SPARK_GRAFT_SHUFFLE=61 full-registry oracle
sweep (docs/altfixture_r10.md) instead.

Usage: python scripts/fp_order_audit.py [sf_dir] [--out report.json]
"""
from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T

from map_reduce_multi_threaded_spark.registry import collect_specs
from map_reduce_multi_threaded_spark.session import get_spark
from map_reduce_multi_threaded_spark.streaming import windows as W

RUN_A = {
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.files.minPartitionNum": "1",
}
RUN_B = {
    "spark.sql.shuffle.partitions": "61",
    "spark.sql.files.maxPartitionBytes": "16384",
    "spark.sql.files.minPartitionNum": "32",
}


def _float_fields(dt: T.DataType, prefix: str = "") -> list[str]:
    """Paths of all float/double leaves inside a (possibly nested) type."""
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return [prefix or "<value>"]
    if isinstance(dt, T.ArrayType):
        return _float_fields(dt.elementType, prefix + "[]")
    if isinstance(dt, T.MapType):
        return (_float_fields(dt.keyType, prefix + "<key>")
                + _float_fields(dt.valueType, prefix + "<val>"))
    if isinstance(dt, T.StructType):
        out = []
        for f in dt.fields:
            out.extend(_float_fields(f.dataType, f"{prefix}.{f.name}"
                                     if prefix else f.name))
        return out
    return []


def _canon(rows, sig: int) -> list[tuple]:
    def c(v):
        if isinstance(v, float):
            return f"{v:.{sig}g}"
        if isinstance(v, (list, tuple)):
            return tuple(c(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, c(x)) for k, x in v.items()))
        return v
    return sorted(tuple(c(v) for v in r) for r in rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/fp_order_audit.json")
    a = ap.parse_args()

    spark = get_spark(app_name="fp_order_audit")
    spark.sparkContext.setLogLevel("ERROR")
    specs = collect_specs()

    report: dict[str, dict] = {}
    n_float = n_bit = n_gate_only = n_drift = 0
    for s in specs:
        if s.streaming:
            continue  # enumerated from their template plans below
        df = s.fn(spark, a.sf_dir)
        floats = []
        for f in df.schema.fields:
            floats.extend(_float_fields(f.dataType, f.name))
        if not floats:
            continue
        n_float += 1
        rows = {}
        for tag, conf in (("A", RUN_A), ("B", RUN_B)):
            for k, v in conf.items():
                spark.conf.set(k, v)
            try:
                rows[tag] = [tuple(r) for r in s.fn(spark, a.sf_dir).collect()]
            finally:
                for k in conf:
                    spark.conf.unset(k)
        bit = _canon(rows["A"], 17) == _canon(rows["B"], 17)
        gate = bit or _canon(rows["A"], 12) == _canon(rows["B"], 12)
        verdict = ("bit-identical" if bit
                   else "gate-identical" if gate else "DRIFT")
        if bit:
            n_bit += 1
        elif gate:
            n_gate_only += 1
        else:
            n_drift += 1
        report[s.name] = {"float_cols": floats, "verdict": verdict}
        print(f"{verdict:>14}  {s.name}  ({', '.join(floats)})", flush=True)

    # streaming: enumerate float outputs from drain-free template plans
    stream_float = {}
    for s in specs:
        if not s.streaming:
            continue
        floats = []
        for f in W.capture_template(s, spark, a.sf_dir).schema.fields:
            floats.extend(_float_fields(f.dataType, f.name))
        if floats:
            stream_float[s.name] = floats
            print(f"   streaming-61  {s.name}  ({', '.join(floats)})", flush=True)

    summary = {
        "batch_with_float_output": n_float,
        "bit_identical": n_bit,
        "gate_identical_only": n_gate_only,
        "drift": n_drift,
        "streaming_with_float_output": sorted(stream_float),
    }
    with open(a.out, "w") as f:
        json.dump({"summary": summary, "queries": report,
                   "streaming": stream_float}, f, indent=1, sort_keys=True)
    print(json.dumps(summary), flush=True)
    spark.stop()
    return 1 if n_drift else 0


if __name__ == "__main__":
    raise SystemExit(main())
