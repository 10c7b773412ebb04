#!/usr/bin/env python
"""Local mimic of the driver's correctness gate: run every queries() entry on
Spark AND its oracle_sql() on DuckDB at sf0.01, compare row-count, column
names, and order-insensitive values.

Usage: python tools/diffcheck.py [query_name ...] [--sf DIR]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if isinstance(v, float):
        if v != v:
            return None
        return round(v, 6) + 0.0  # + 0.0: -0.0 and 0.0 canon identically
    if isinstance(v, np.floating):
        return round(float(v), 6) + 0.0
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (pd.Timestamp,)):
        return str(v.date()) if v.time() == pd.Timestamp(0).time() else str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, np.ndarray)):
        return tuple(norm_cell(x) for x in v)
    return v


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))


# Per-cell canon() is O(rows x cols) python objects — fine for the
# catalog's result sizes, but a 17.7M-row frame (q2 at sf3) takes >1 h
# in norm_cell alone. Above BIG_ROWS both frames go through a
# VECTORIZED normalize-sort-compare; any apparent mismatch falls back
# to the proven tuple path before being reported, so the fast path can
# never introduce a false FAIL.
BIG_ROWS = 1_000_000


def _canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64").round(6) + 0.0  # -0.0 -> 0.0
        elif pd.api.types.is_datetime64_any_dtype(s):
            # match norm_cell: date-only timestamps render as the date
            all_midnight = bool((s.dropna() == s.dropna().dt.normalize()).all())
            out[c] = (
                s.dt.strftime("%Y-%m-%d") if all_midnight else s.astype(str)
            )
        elif pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        else:
            out[c] = s.map(norm_cell)
    nf = pd.DataFrame(out)
    return nf.sort_values(
        by=list(nf.columns), kind="mergesort", na_position="last"
    ).reset_index(drop=True)


def fast_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool | None:
    """Vectorized order-insensitive compare. True/False, or None when a
    column pair is not vectorizable (mixed object types) — caller falls
    back to canon()."""
    try:
        ca, cb = _canon_frame(a), _canon_frame(b)
    except (TypeError, ValueError):
        return None
    if list(ca.columns) != list(cb.columns):
        return False
    for c in ca.columns:
        sa, sb = ca[c], cb[c]
        if pd.api.types.is_float_dtype(sa) and pd.api.types.is_float_dtype(sb):
            both_nan = sa.isna() & sb.isna()
            if not bool((both_nan | (sa == sb)).all()):
                return False
        elif str(sa.dtype) != str(sb.dtype):
            return None
        elif not sa.equals(sb):
            return False
    return True


def main() -> int:
    argv = sys.argv[1:]
    if "-h" in argv or "--help" in argv:
        print(__doc__.strip())
        return 0
    sf = SF_DIR
    if "--sf" in argv:
        i = argv.index("--sf")
        sf = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    args = [a for a in argv if not a.startswith("--")]

    import __spark_entry__ as entry
    from etl_jetro_spark.session import get_spark

    # 30x-scale runs collect multi-GiB result frames for comparison
    # (q2 at sf3 is 17.7M canonical rows) — the default 1g cap aborts
    # the COLLECT, not the computation (noop-write verified fine)
    spark = get_spark(
        app_name="diffcheck",
        shuffle_partitions=8,
        extra_conf={"spark.driver.maxResultSize": "8g"},
    )
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships flat files; a table Spark wrote is a
        # directory of parts — glob the parts for DuckDB there
        p = f"{sf}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entry.queries(), entry.oracle_sql()
    names = args or list(qs)
    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        if not problems:
            fast = fast_equal(sdf, ddf) if len(sdf) > BIG_ROWS else None
            if fast is True:
                pass
            else:
                # fast path said False/None -> confirm on the tuple path
                a, b = canon(sdf), canon(ddf)
                if a != b:
                    diffs = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
                    k = diffs[0] if diffs else min(len(a), len(b)) - 1
                    problems.append(f"values differ at sorted row {k}:\n  spark={a[k]}\n  duck ={b[k]}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {len(names)-n_pass-n_fail} rows-only ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
