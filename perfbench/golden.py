"""Output comparison for the registry workload.

Queries with a DuckDB ``oracle_sql()`` twin are compared against it the
way ``tests/test_oracle_parity.py`` does: same row count, same column
names, equal values after sorting. The rows-only queries have no oracle;
their row count and a digest of their sorted rows are pinned in
``golden.json``, which ``python3 perfbench/golden.py`` rewrites from the
current tree.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pandas as pd


def canon(df: pd.DataFrame, digits: int = 9) -> pd.DataFrame:
    """Columns sorted by name, cells normalised, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(digits)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    try:
        pd.testing.assert_frame_equal(canon(got), canon(want), check_dtype=False,
                                      check_exact=False, rtol=0, atol=1e-8)
    except AssertionError as e:
        return False, str(e).splitlines()[0]
    return True, ""


def digest(df: pd.DataFrame) -> dict:
    """Row count and sha256 of the sorted rows, floats at 6 digits."""
    text = canon(df, digits=6).to_csv(index=False)
    return {"rows": len(df), "sha256": hashlib.sha256(text.encode()).hexdigest()}


if __name__ == "__main__":
    import worker
    from dup_ocropy_spark.session import get_spark

    reg = worker.Registry()
    spark = get_spark("local[4]", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        reg.bind(spark)
        gold = {q: digest(reg.registry[q].spark(spark, worker.DATA).toPandas())
                for q in worker.QUERIES if reg.registry[q].sql is None}
    finally:
        worker.stop_spark(spark)
    with open(worker.GOLDEN, "w") as f:
        json.dump(gold, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(gold, indent=2))
