"""Checks `suite` outputs against an engine apart from the program.

Each pinned slot's rows (written by the JVM to RUN_DIR/dumps/<slot>) are
compared, column-name sorted and row sorted with every cell rendered exactly
(floats by repr, so a last-bit difference counts; a row is its cells joined
by SEP), against DuckDB running the slot's `SparkEntry.oracleSql` on the
same table files.  DuckDB results are
cached under .bench_data/oracle, keyed by the SQL text and the size and
SHA-256 of every table file.  A slot without oracle SQL is compared against a
pinned rendering in perfbench/pins/<slot>.json.

    python3 perfbench/oracle.py rebuild       # drop the cache, refill it with one suite run
    python3 perfbench/oracle.py pin SLOT...   # re-pin slots from a fresh suite run
"""
import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_DIR = os.path.join(HERE, "pins")
SEP = "\x1f"  # between a row's cells
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def render(df):
    """Sorted column names and the sorted rows, each its canonical cell
    strings joined by SEP."""
    import numpy as np
    import pandas as pd

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NULL" if v != v else repr(v)
        if isinstance(v, (bool, np.bool_)):
            return str(int(v))
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        if isinstance(v, np.floating):
            return cell(float(v))
        if isinstance(v, pd.Timestamp):
            return v.to_datetime64().astype("datetime64[us]").astype(str)
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
        try:
            if pd.isna(v):
                return "NULL"
        except (TypeError, ValueError):
            pass
        return str(v)

    def cells(s):
        # the same strings as `cell`, a column at a time for the plain dtypes
        if s.dtype.kind in "iu":
            return s.astype(str).tolist()
        if s.dtype.kind == "b":
            return s.astype(int).astype(str).tolist()
        if s.dtype.kind == "f":
            return ["NULL" if x != x else repr(x) for x in s.tolist()]
        return [cell(v) for v in s.tolist()]

    cols = sorted(df.columns)
    rows = sorted(SEP.join(r) for r in zip(*(cells(df[c]) for c in cols))) if len(df) else []
    return {"columns": cols, "rows": rows}


def compare(got, want):
    """None when the renderings agree, else the first difference."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows, want {len(want['rows'])}"
    for i, (a, b) in enumerate(zip(got["rows"], want["rows"])):
        if a != b:
            return f"row {i}: {a.split(SEP)} != {b.split(SEP)}"
    return None


def table_key(tables_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        with open(p, "rb") as f:
            h.update(f"{t}:{os.path.getsize(p)}:".encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_rows(slot, sql, tables_dir, cache_dir, key, con_box):
    """DuckDB's rendering of `sql`, from the cache when the key matches."""
    path = os.path.join(cache_dir, f"{slot}-{hashlib.sha256((sql + key).encode()).hexdigest()[:20]}.json")
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    if not con_box:
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        con_box.append(con)
    rows = render(con_box[0].execute(sql).fetchdf())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(rows, f)
    os.replace(path + ".tmp", path)
    return rows


def check_run(run_dir, tables_dir, cache_dir):
    """(slots whose rows disagree, check errors) for one suite run."""
    import pandas as pd
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    key = table_key(tables_dir)
    con_box, disagree, errors, rendered = [], set(), [], {}
    for dump in sorted(glob.glob(os.path.join(run_dir, "dumps", "*"))):
        slot = os.path.basename(dump)
        got = rendered[slot] = render(pd.read_parquet(dump))
        if slot in sqls:
            try:
                want = oracle_rows(slot, sqls[slot], tables_dir, cache_dir, key, con_box)
            except Exception as e:  # an oracle that cannot run checks nothing
                errors.append(f"{slot}: oracle SQL failed in DuckDB: {e}")
                continue
        else:
            pin = os.path.join(PINS_DIR, f"{slot}.json")
            if not os.path.isfile(pin):
                errors.append(f"{slot}: no oracle SQL and no pin {pin}")
                continue
            with open(pin) as f:
                want = json.load(f)
        diff = compare(got, want)
        if diff:
            disagree.add(slot)
            print(f"oracle: {slot} disagrees: {diff}", file=sys.stderr)
    # self-test: the comparison must reject a slot's rows with one row dropped
    victim = next((s for s, r in rendered.items() if r["rows"] and s not in disagree), None)
    if victim is None:
        errors.append("self-test: no slot with rows to perturb")
    else:
        dropped = {"columns": rendered[victim]["columns"], "rows": rendered[victim]["rows"][1:]}
        if compare(dropped, rendered[victim]) is None:
            errors.append(f"self-test: the comparison accepted {victim} with a dropped row")
    return disagree, errors


def _suite_run(env):
    """Runs one short suite run with the given environment; returns its run dir."""
    import subprocess
    root = os.path.dirname(HERE)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "suite",
                    "--seed", "1", "--seconds", "1", "--trace", "0"],
                   cwd=root, env=dict(os.environ, **env))
    runs = sorted(glob.glob(os.path.join(root, ".bench_runs", "suite-*")), key=os.path.getmtime)
    return runs[-1]


def main(argv):
    import shutil
    data = os.path.join(os.path.dirname(HERE), ".bench_data")
    if argv[:1] == ["rebuild"]:
        shutil.rmtree(os.path.join(data, "oracle"), ignore_errors=True)
        print(f"cache refilled by {_suite_run({})}")
    elif argv[:1] == ["pin"] and len(argv) > 1:
        import pandas as pd
        run_dir = _suite_run({"PERFBENCH_KEEP": "1"})
        os.makedirs(PINS_DIR, exist_ok=True)
        for slot in argv[1:]:
            with open(os.path.join(PINS_DIR, f"{slot}.json"), "w") as f:
                json.dump(render(pd.read_parquet(os.path.join(run_dir, "dumps", slot))), f, indent=0)
            print(f"pinned {slot} from {run_dir}")
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
