"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every ``queries()[name]`` on Spark and its ``oracle_sql()[name]`` on
DuckDB against the same parquet directory, then compares:

1. row count and column-name set;
2. order-insensitive NUMERIC cell values (exact; useful diagnostics —
   reports the max float diff to guide fixes);
3. order-insensitive DRIVER-STYLE STRINGIFIED cells. The driver hashes
   stringified values, so two results that are numerically equal can still
   hash apart: Spark stringifies booleans ``true``/``false`` while the
   DuckDB→pandas path yields ``True``/``False``; DuckDB HUGEINT/DECIMAL
   aggregates come back as float64 (``976.0``) while Spark bigints print
   ``976``; ``-0.0`` and ``0.0`` are numerically equal but string-distinct.
   Round 1 shipped two driver-red queries that the old numeric-only compare
   green-lit — this pass exists to make local green predict driver green.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd


def _numeric_view(df: pd.DataFrame) -> pd.DataFrame:
    """Type-normalized copy used for the numeric compare AND as the sort key
    (both sides sort identically when numerically equal, so the string pass
    compares aligned rows)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].astype("string")
    return df


def sorted_views(df: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(numeric view, raw frame) both in the numeric view's sort order."""
    num = _numeric_view(df)
    order = num.sort_values(by=list(num.columns), kind="mergesort").index
    raw = df[sorted(df.columns)].iloc[order].reset_index(drop=True)
    return num.iloc[order].reset_index(drop=True), raw


def cell_str(v, spark_side: bool) -> str:
    """Driver-style stringification of one cell.

    Spark booleans stringify lowercase on the JVM; the DuckDB→pandas oracle
    path yields Python ``True``/``False`` — so any raw boolean output column
    is a driver-hash hazard and fails here by construction. Ints print
    undecorated, floats via shortest repr with NO -0.0 folding (the driver
    doesn't fold either; being stricter than the driver is the safe side).
    """
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ", ".join(cell_str(x, spark_side) for x in v) + "]"
    try:
        if pd.isna(v):
            return "\x00NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, np.bool_)):
        return ("true" if v else "false") if spark_side else str(bool(v))
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    return str(v)


def _array_cols(df: pd.DataFrame) -> list[str]:
    """Columns holding list/ndarray/dict cells — the driver's row-sort
    canonicalization crashes on these (``TypeError: unhashable type``), so
    a local pass over them would NOT predict driver green."""
    bad = []
    for c in df.columns:
        col = df[c]
        if col.dtype == object and col.map(
            lambda v: isinstance(v, (list, tuple, dict, np.ndarray))
        ).any():
            bad.append(c)
    return bad


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    arr = sorted(set(_array_cols(spark_df)) | set(_array_cols(oracle_df)))
    if arr:
        problems.append(
            f"array/map cells in column(s) {arr}: the DRIVER checker crashes "
            f"on these (unhashable in its row-sort pass) — CSV-join this "
            f"column on both sides (concat_ws / array_to_string)"
        )
        return problems
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
        )
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
        return problems
    s, s_raw = sorted_views(spark_df)
    o, o_raw = sorted_views(oracle_df)
    for c in s.columns:
        if pd.api.types.is_float_dtype(s[c]) and pd.api.types.is_float_dtype(o[c]):
            a, b = s[c].to_numpy(), o[c].to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            diff = np.where(both_nan, 0.0, np.abs(a - b))
            bad = ~(both_nan | (a == b))
            if bad.any():
                problems.append(
                    f"float col {c}: {bad.sum()} mismatches, max diff {np.nanmax(diff[bad]):.3e}"
                )
        else:
            neq = ~((s[c] == o[c]) | (s[c].isna() & o[c].isna()))
            if neq.any():
                i = int(np.argmax(neq.to_numpy()))
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches, first at row {i}: "
                    f"spark={s[c].iloc[i]!r} oracle={o[c].iloc[i]!r}"
                )
    # Driver-style string pass: catches bool-vs-bool, int-vs-float dtype
    # drift, and -0.0 — all invisible to the numeric compare above.
    for c in s_raw.columns:
        a = [cell_str(v, True) for v in s_raw[c]]
        b = [cell_str(v, False) for v in o_raw[c]]
        bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
        if bad and not any(p.startswith(f"float col {c}:") or p.startswith(f"col {c}:") for p in problems):
            i = bad[0]
            problems.append(
                f"stringified col {c}: {len(bad)} driver-hash mismatches, first at "
                f"row {i}: spark={a[i]!r} oracle={b[i]!r}"
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # data-dependent oracle literals (trained IVF codebook) must be built
    # from the SAME parquet this run checks against — set before import
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    import __spark_entry__ as ent
    from global_seismic_data_pipeline_spark.session import (
        get_spark,
        materialized_scope,
    )

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = ent.queries()
    sqls = ent.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # release what the query cached once it is collected, so blocks
            # do not pile up across the sweep
            with materialized_scope():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in sqls:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(sqls[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name} ({len(sdf)} rows):")
            for p in problems:
                print(f"    {p}")
            failed.append(name)
        else:
            print(f"OK   {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    n_ran = len([n for n in qs if not only or n in only])
    print(f"\n{n_ran - len(failed)}/{n_ran} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
