#!/usr/bin/env python
"""Measure the SCALE.md "collapse exact duplicates before near-dup
banding" composition on a giant-identical-family fixture (round 15,
VERDICT r14 ask #2: the rule was stated and reasoned in r14 but never
MEASURED as the mitigation for the capped similarity paths).

The raw production path (`embedding_neardup_lsh`) materializes every
cosine≥τ pair — on a fixture whose embeddings collapse into giant
identical/cluster families the OUTPUT is quadratic in family size
(irreducible for pairs semantics: ~168M pairs at 80k vectors on the
r14 stress fixture).  The composition this script measures is the
100 TB spelling:

  1. exact collapse — groupBy the embedding vector itself (one hash
     shuffle, O(n)): representative vec_id + family weight;
  2. near-dup banding + exact cosine verification over the DISTINCT
     representatives only (every bucket now bounded by the count of
     distinct vectors);
  3. weighted readout — cross-family duplicate mass is w_a·w_b per
     surviving representative pair and within-family mass is
     C(w, 2), both as integer aggregates.  Downstream dedup
     consumers (cluster keep/drop, corpus release) want exactly this
     (cluster, weight) form — the quadratic pair list never needs to
     exist as rows.

Verification: the weighted pair count from (3) must EXACTLY equal the
raw path's materialized pair count for the same τ — Σ_fam C(w_f, 2)
 + Σ_{(a,b) reps, cos≥τ} w_a·w_b == |embedding_neardup_lsh output|
(given every identical pair collides in every LSH table, recall over
exact-dup mass is 1 by construction, and representatives face the
same banding as the raw path).  The raw count can be taken from a
prior sweep record (--raw-rows) or recomputed here (--run-raw).

Usage:
  python scripts/measure_dup_collapse.py /tmp/altdata/skew100_r14 \
      [--raw-rows 168447445 | --run-raw] [--json docs/dup_collapse_r15.json]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from map_reduce_multi_threaded_spark.session import get_spark
from map_reduce_multi_threaded_spark.sources.tables import load_table


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("fixture")
    ap.add_argument("--raw-rows", type=int, default=None,
                    help="materialized pair count of embedding_neardup_lsh "
                         "on this fixture, from a prior sweep record")
    ap.add_argument("--run-raw", action="store_true",
                    help="recompute the raw pair count here (expensive: "
                         "materializes the quadratic pair stream)")
    ap.add_argument("--json", default="")
    a = ap.parse_args()

    spark = get_spark(app_name="measure_dup_collapse")
    spark.sparkContext.setLogLevel("ERROR")
    from map_reduce_multi_threaded_spark.operators import similarity as S

    out: dict = {"fixture": a.fixture}
    emb = load_table(spark, a.fixture, "embeddings")

    # -- composed path, timed end to end ---------------------------------
    t0 = time.perf_counter()
    # 1. exact collapse: the vector IS the key (bit-exact float32
    #    arrays group exactly; at 100 TB you'd key on a digest of the
    #    bytes — same single hash shuffle either way)
    fams = (
        emb.groupBy("embedding")
        .agg(F.min("vec_id").alias("rep_id"), F.count(F.lit(1)).alias("w"))
        .localCheckpoint()  # the collapsed table is tiny; pin it
    )
    n_fams = fams.count()
    within = fams.select(
        F.sum(F.col("w") * (F.col("w") - 1) / 2).cast("long").alias("m")
    ).first()["m"]

    # 2. banding + exact cosine over representatives only, via the
    #    REGISTERED production path run against a staged reps-only
    #    fixture dir (same code path, no test-only respelling).  The
    #    banding parameters are part of the INDEX definition, not of
    #    the probe set: the collapsed path must band at the plane
    #    count the full corpus chose, or borderline-cosine family
    #    pairs would collide differently and break the exact identity
    #    below — so the corpus count of the staged dir is patched to
    #    the RAW corpus count while the query is built.
    n_raw = emb.count()
    reps_dir = os.path.join("/tmp", "dup_collapse_reps")
    fams.select(F.col("rep_id").alias("vec_id"), "embedding",
                F.lit(0).alias("label")) \
        .coalesce(1).write.mode("overwrite").parquet(f"{reps_dir}/embeddings.parquet")
    corpus_count = S.corpus_count
    S.corpus_count = lambda sp, d: n_raw if d == reps_dir else corpus_count(sp, d)
    try:
        rep_pairs = S.embedding_neardup_lsh(spark, reps_dir)
    finally:
        S.corpus_count = corpus_count

    # 3. weighted readout: cross-family duplicate mass without ever
    #    materializing the pairs
    wa = fams.select(F.col("rep_id").alias("vec_a"), F.col("w").alias("wa"))
    wb = fams.select(F.col("rep_id").alias("vec_b"), F.col("w").alias("wb"))
    cross = (
        rep_pairs.join(wa, "vec_a").join(wb, "vec_b")
        .select(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("m"))
        .first()["m"]
    ) or 0
    composed_s = time.perf_counter() - t0
    total = int(within) + int(cross)
    out.update({
        "n_vectors": n_raw,
        "n_families": n_fams,
        "within_family_pairs": int(within),
        "cross_family_pairs": int(cross),
        "composed_total_pairs": total,
        "composed_secs": round(composed_s, 2),
    })
    print(f"COMPOSED {composed_s:.2f}s: {n_fams} families, "
          f"{within} within + {cross} cross = {total} pairs", flush=True)

    raw = a.raw_rows
    if a.run_raw:
        t0 = time.perf_counter()
        raw = S.embedding_neardup_lsh(spark, a.fixture).count()
        out["raw_secs"] = round(time.perf_counter() - t0, 2)
        print(f"RAW      {out['raw_secs']}s: {raw} pairs", flush=True)
    if raw is not None:
        out["raw_total_pairs"] = int(raw)
        out["exact_match"] = (total == int(raw))
        print(f"IDENTITY {'EXACT' if out['exact_match'] else 'MISMATCH'}: "
              f"composed {total} vs raw {raw}", flush=True)
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    spark.stop()
    return 0 if raw is None or out.get("exact_match") else 1


if __name__ == "__main__":
    sys.exit(main())
