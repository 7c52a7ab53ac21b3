"""UDF/UDAF/UDTF coverage: oracle parity and degenerate-input pins."""

from __future__ import annotations

import pandas as pd
import pytest

from map_reduce_multi_threaded_spark.operators import udf_suite
from tests.oracle_utils import compare

ORACLE_SPECS = [s for s in udf_suite.SPECS if s.oracle is not None]


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=[s.name for s in ORACLE_SPECS])
def test_oracle_parity(spark, sf_oracle_dir, spec):
    compare(spec.fn(spark, sf_oracle_dir), spec.oracle, sf_oracle_dir)


def test_grouped_map_zscore_degenerate_groups(spark, tmp_path):
    """Round-10 sparse-alt-fixture catch, pinned deterministically: a
    single-event user and a constant-value user have zero variance and
    must z-score to exactly 0.0 on BOTH engines (the oracle previously
    computed an unguarded 0/0 -> NULL while the Spark side emitted 0.0
    — invisible on every fixture where all user_id < 20 groups happened
    to contain two distinct values)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_multi_threaded_spark.operators.udf_suite import (
        _GROUPED_MAP_ORACLE,
        grouped_map_zscore,
    )
    from tests.oracle_utils import TABLES

    src = "/root/testdata/sf0.001"
    dst = tmp_path / "fx"
    dst.mkdir()
    for t in TABLES:
        shutil.copy(f"{src}/{t}.parquet", dst / f"{t}.parquet")

    ev = pq.read_table(f"{src}/events.parquet")
    pdf = ev.to_pandas()
    base = pdf[~pdf["user_id"].isin([3, 4])]
    template = pdf.iloc[0].to_dict()
    nxt = int(pdf["event_id"].max()) + 1
    crafted = [
        # user 3: a SINGLE event (n=1 -> variance 0)
        {**template, "event_id": nxt, "user_id": 3, "value": 214.58},
        # user 4: three events with IDENTICAL values (min == max)
        *[
            {**template, "event_id": nxt + 1 + k, "user_id": 4, "value": -7.25}
            for k in range(3)
        ],
    ]
    out = pd.concat([base, pd.DataFrame(crafted)], ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(out, schema=ev.schema, preserve_index=False),
        dst / "events.parquet",
    )

    compare(grouped_map_zscore(spark, str(dst)), _GROUPED_MAP_ORACLE, str(dst))
    degenerate = grouped_map_zscore(spark, str(dst)).where(
        "user_id IN (3, 4)"
    ).collect()
    assert len(degenerate) == 4
    assert all(r["zscore"] == 0.0 for r in degenerate), degenerate
