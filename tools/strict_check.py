#!/usr/bin/env python3
"""STRICT emulation of the driver's correctness hash: no float tolerance.

The driver (per VERDICT r1) sorts columns by name, sorts rows, and hashes
the rendered values of the Spark parquet dump vs the DuckDB oracle result.
A 1e-9 relative float tolerance masked 9 hash misses in round 1, so this
checker renders every cell to a canonical string (repr for floats →
bit-exact requirement; ints as `3`, floats as `3.0`, so an int-vs-float
column fails) and compares the two frames byte-for-byte, also reporting
dtype pairs so decimal-vs-float divergence is visible.  It is the only
oracle checker (`tools/gate.sh` runs it).

Usage: python3 tools/strict_check.py [sfdir] [verify_out_dir] [only_query...]
"""
import duckdb, glob, json, sys
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def render(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical cell rendering, deliberately dtype-sensitive for floats."""
    df = df[sorted(df.columns)].copy()
    out = {}
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime64"):
            s = s.astype("datetime64[us]")
            out[c] = s.map(lambda v: "NULL" if pd.isna(v) else v.isoformat())
        elif pd.api.types.is_float_dtype(s):
            # repr of the float64 → bit-exact comparison
            out[c] = s.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            out[c] = s.map(lambda v: "NULL" if pd.isna(v) else str(int(v)))
        else:
            # object: Decimal, str, arrays, dates...
            def r(v):
                if v is None:
                    return "NULL"
                if isinstance(v, float):
                    return repr(v)
                if isinstance(v, (list, np.ndarray)):
                    return "[" + ",".join(r(x) for x in v) + "]"
                try:
                    if pd.isna(v):
                        return "NULL"
                except (ValueError, TypeError):
                    pass
                return str(v)
            out[c] = s.map(r)
    r = pd.DataFrame(out)
    return r.sort_values(by=list(r.columns), kind="mergesort").reset_index(drop=True)


def dtypes_of(df):
    return {c: str(df[c].dtype) for c in sorted(df.columns)}


def compare(name, spark_df, duck_df, verbose=False):
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"COLUMNS spark={sorted(spark_df.columns)} oracle={sorted(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"ROWS spark={len(spark_df)} oracle={len(duck_df)}"
    sd, dd = dtypes_of(spark_df), dtypes_of(duck_df)
    a, b = render(spark_df), render(duck_df)
    for c in a.columns:
        neq = a[c] != b[c]
        if neq.any():
            i = int(neq.idxmax())
            return (f"VALUE col={c} row={i} spark={a[c][i]!r} oracle={b[c][i]!r}"
                    f" (dtypes spark={sd[c]} oracle={dd[c]}; {int(neq.sum())} cells differ)")
    if verbose:
        mism = {c: (sd[c], dd[c]) for c in sd if sd[c] != dd[c]}
        if mism:
            return f"OK-values DTYPES-DIFFER {mism}"
    return "OK"


def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    dumps = sorted(p.split("/")[-1] for p in glob.glob(f"{out}/*") if not p.endswith(".json"))
    n_ok = n_checked = n_bad = 0
    for name in dumps:
        if only and name not in only:
            continue
        spark_df = pd.read_parquet(f"{out}/{name}")
        if name not in oracle:
            empty = len(spark_df) == 0
            n_bad += int(empty)
            print(f"{name}: rows-only ({len(spark_df)} rows)"
                  + ("" if not empty else " EMPTY!"))
            continue
        n_checked += 1
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            n_bad += 1
            print(f"{name}: ORACLE SQL ERROR: {e}")
            continue
        verdict = compare(name, spark_df, duck_df, verbose=True)
        if verdict == "OK":
            n_ok += 1
            print(f"{name}: STRICT-OK ({len(spark_df)} rows)")
        elif verdict.startswith("OK-values"):
            # identical rendered values, differing container dtype (e.g.
            # datetime64[ns] vs [us]); r1 showed the driver passes these
            n_ok += 1
            print(f"{name}: STRICT-OK (warn: {verdict})")
        else:
            n_bad += 1
            print(f"{name}: MISMATCH {verdict}")
    # queries that have an oracle but produced no dump = failed in Verify
    missing = sorted(set(oracle) - set(dumps)) if not only else \
        sorted(set(only) & set(oracle) - set(dumps))
    for name in missing:
        n_bad += 1
        print(f"{name}: NO SPARK DUMP (query failed?)")
    print(f"\n{n_ok}/{n_checked} strict-OK")
    # a gate that cannot fail is not a gate (round-14 review finding)
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
