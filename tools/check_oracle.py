#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: check_oracle.py <verifyOutDir> <sfDir>
For each <name> subdir (Spark parquet result) with an entry in
oracle_sql.json: run the SQL in DuckDB against the sf parquet tables,
sort both results by all columns (columns ordered by name), and
compare values. Every gate named in Verify's _errors.json (it threw,
so it may have no output directory) counts as a failure.
"""
import sys, os, json, glob
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def dtype_class(s) -> str:
    """Coarse dtype class mirroring the driver's canonical hash: an int64
    column and a float64 column hash differently even when values match."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "ts"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "obj"

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize widths within a dtype class (int32 vs int64 is fine;
    # int vs float is NOT — that is checked separately via dtype_class)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def float_bits(s: pd.Series) -> np.ndarray:
    """Raw float64 bit patterns (so -0.0 != +0.0; NaN == NaN when the
    payload bits agree — both engines emit the canonical quiet NaN)."""
    return s.to_numpy(dtype="float64", na_value=np.nan).view("uint64")

def bit_diff_cols(g: pd.DataFrame, e: pd.DataFrame):
    """Columns that would fail the driver's bitwise hash. Floats compare
    by bit pattern; everything else by exact equality (NaN/NaT-aware via
    Series.equals — dtypes are already normalized by norm())."""
    bad = []
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(e[c]):
            if not np.array_equal(float_bits(g[c]), float_bits(e[c])):
                bad.append(c)
        elif not g[c].equals(e[c]):
            bad.append(c)
    return bad

def first_diff_row(a: pd.Series, b: pd.Series) -> int:
    if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
        neq = float_bits(a) != float_bits(b)
    else:
        neq = ~((a.values == b.values) | (pd.isna(a).values & pd.isna(b).values))
        neq = np.asarray([bool(x) if x is not pd.NA else True for x in neq])
    idx = np.nonzero(neq)[0]
    return int(idx[0]) if len(idx) else 0

def main(outdir, sfdir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    errors_path = f"{outdir}/_errors.json"
    errors = json.load(open(errors_path)) if os.path.exists(errors_path) else {}
    n_pass = n_fail = 0
    for name in sorted(errors):
        print(f"  [FAIL-run ] {name}: {errors[name]}")
        n_fail += 1
    for name in sorted(os.listdir(outdir)):
        d = os.path.join(outdir, name)
        if not os.path.isdir(d) or name in errors:
            continue
        files = glob.glob(f"{d}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracle:
            print(f"  [rows-only] {name}: rows={len(got)}")
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"  [FAIL-sql ] {name}: {e}")
            n_fail += 1
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"  [FAIL-cols] {name}: spark={list(g.columns)} duck={list(e.columns)}")
            n_fail += 1
            continue
        bad_dt = [c for c in g.columns if dtype_class(g[c]) != dtype_class(e[c])]
        if bad_dt:
            print(f"  [FAIL-dtyp] {name}: " + ", ".join(
                f"{c}: spark={dtype_class(g[c])} duck={dtype_class(e[c])}" for c in bad_dt))
            n_fail += 1
        elif len(g) != len(e):
            print(f"  [FAIL-rows] {name}: spark={len(g)} duck={len(e)}")
            n_fail += 1
        else:
            # Driver-equivalent compare: the driver hashes raw column
            # bytes, so float columns must match BIT-FOR-BIT (-0.0 != +0.0,
            # last-ulp drift fails). rtol-based compares are strictly
            # weaker and once let a signed-zero red row ship (r9 ta12).
            bad_vals = bit_diff_cols(g, e)
            if bad_vals:
                print(f"  [FAIL-vals] {name}: bit-mismatch in {bad_vals}")
                for c in bad_vals[:3]:
                    i = first_diff_row(g[c], e[c])
                    print(f"        {c} row {i}: spark={g[c].iloc[i]!r} "
                          f"duck={e[c].iloc[i]!r} "
                          f"(key={g.iloc[i].to_dict()})")
                n_fail += 1
            else:
                print(f"  [pass] {name}: rows={len(g)}")
                n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
