#!/usr/bin/env python3
"""Local pre-flight replica of the driver's DuckDB oracle compare.

Usage: python3 tools/compare.py <sfDir> <outDir>

Reads <outDir>/oracle_sql.json (written by graft.Verify), executes each
oracle SQL in DuckDB over views named after the parquet tables in <sfDir>,
and compares against the engine's parquet output in <outDir>/<name>/.

Comparison is driver-faithful: column names are sorted, then rows are
VALUE-SORTED on both sides before comparing (the driver pandas-
sort_values every column before hashing), and floats compared
bit-exactly (struct.pack), which is stricter than any plausible driver
hash. Outputs containing complex-typed values (lists/structs/maps) are
REJECTED up front: the driver's comparator crashes on them
(`TypeError: unhashable type: 'numpy.ndarray'`, see round-10
fn_regexp), so local green must never be claimed for such an output.
Both sides are read as pandas frames, the form the reference compare
hashes: DuckDB's `.df()` for the oracle, `pd.read_parquet` for the
engine's output. A cell the two conversions represent differently fails
here as it does there: a NULL DECIMAL is float NaN from `.df()` but
`None` from `read_parquet`.
Dev tool only; not part of the shipped library.
"""
import datetime
import decimal
import json
import os
import math
import struct
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """One pandas cell as a comparable string. The kind of a missing
    value is kept: float NaN, None and NaT stay distinct, because the
    hashed frames keep them distinct. A non-null DECIMAL is a float
    in `.df()` and a decimal.Decimal from `read_parquet`; both compare
    by their double value."""
    if v is None:
        return "None"
    if v is pd.NaT:
        return "NaT"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "NaN"
        return struct.pack(">d", float(v)).hex()
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    # a DATE is datetime.date from read_parquet, a midnight Timestamp
    # from .df(); compare both as timestamps
    if isinstance(v, (pd.Timestamp, datetime.date)):
        t = pd.Timestamp(v)
        if t.tzinfo is not None:
            t = t.tz_convert("UTC").tz_localize(None)
        return t.isoformat()
    return repr(v)


def frame(df):
    """(column names, row tuples) of a pandas frame."""
    return list(df.columns), list(df.itertuples(index=False, name=None))


def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        # base testdata tables are single files; StressGen scale-ups
        # are directories of part files — glob handles both
        src = f"read_parquet('{sf_dir}/{t}.parquet" + (
            "/*.parquet')" if os.path.isdir(f"{sf_dir}/{t}.parquet") else "')")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        if t == "events":
            # base fixture stores ts as TIMESTAMP(NANOS); Spark cannot
            # write that type, so StressGen scale-ups carry the raw
            # nanos BIGINT (the Spark side reads BOTH as nanos-longs via
            # nanosAsLong). Rebuild the view as timestamp_ns so the
            # oracle SQL sees one type at every scale.
            (typ,) = con.execute(
                "SELECT typeof(ts) FROM events LIMIT 1").fetchone()
            if typ == "BIGINT":
                # this DuckDB (v1.0.0) has no make_timestamp_ns; the
                # fixture's nanos are µs-aligned (verified: zero rows
                # with ts % 1000 != 0), so micros reconstruct exactly
                con.execute(
                    "CREATE OR REPLACE VIEW events AS SELECT * REPLACE "
                    "(CAST(make_timestamp(ts // 1000) AS TIMESTAMP_NS)"
                    f" AS ts) FROM {src}")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    produced = sorted(d for d in os.listdir(out_dir)
                      if os.path.isdir(f"{out_dir}/{d}"))
    if only:
        produced = [n for n in produced if n in only]
    n_pass = n_fail = 0
    for name in produced:
        try:
            my_cols, my_rows = frame(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:
            print(f"FAIL {name}: cannot read own output: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            status = "ROWS-ONLY"
            ok = len(my_rows) > 0
            print(f"{'pass' if ok else 'FAIL'} {name}: {status} rows={len(my_rows)}")
            n_pass += ok
            n_fail += (not ok)
            continue
        try:
            ref_cols, ref_rows = frame(con.execute(oracle[name]).df())
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        # driver sorts columns by name before hashing
        mperm = sorted(range(len(my_cols)), key=lambda i: my_cols[i])
        rperm = sorted(range(len(ref_cols)), key=lambda i: ref_cols[i])
        if sorted(my_cols) != sorted(ref_cols):
            print(f"FAIL {name}: schema {sorted(my_cols)} != {sorted(ref_cols)}")
            n_fail += 1
            continue
        if len(my_rows) != len(ref_rows):
            print(f"FAIL {name}: rows {len(my_rows)} != {len(ref_rows)}")
            n_fail += 1
            continue
        # driver-faithfulness pre-flight: the driver's pandas
        # sort_values crashes on list/struct/map cells — reject them
        # here so local green predicts driver green
        complex_cell = next(
            (my_cols[i] for r in my_rows[:100] for i in range(len(r))
             if isinstance(r[i], (list, tuple, dict, np.ndarray))), None)
        if complex_cell:
            print(f"FAIL {name}: complex-typed column '{complex_cell}' — "
                  "driver comparator crashes on array/struct/map values "
                  "(unhashable type); serialize to string first")
            n_fail += 1
            continue
        # driver sorts rows by value (pandas sort_values over all
        # columns) before hashing — replicate so written order is
        # irrelevant, exactly as on the driver
        mine_sorted = sorted([canon(r[i]) for i in mperm] for r in my_rows)
        ref_sorted = sorted([canon(r[i]) for i in rperm] for r in ref_rows)
        bad = None
        for ri, (mv, rv) in enumerate(zip(mine_sorted, ref_sorted)):
            if mv != rv:
                bad = (ri, list(zip(sorted(my_cols), mv, rv)))
                break
        if bad:
            ri, detail = bad
            diffs = [(c, a, b) for c, a, b in detail if a != b][:4]
            print(f"FAIL {name}: row {ri} differs: {diffs}")
            n_fail += 1
        else:
            print(f"pass {name}: {len(my_rows)} rows")
            n_pass += 1
    if not only:
        missing = sorted(set(oracle) - set(produced))
        for name in missing:
            print(f"FAIL {name}: oracle declared but no output written")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    # optional argv[3]: comma-separated key filter for targeted re-checks
    sys.exit(main(sys.argv[1], sys.argv[2],
                  set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None))
