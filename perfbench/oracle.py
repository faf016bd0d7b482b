"""Output checks: every query's warm-up result and every flow's warm-up and
last-pass outputs against DuckDB oracles.

Both sides are canonicalised the way tools/check.py does it: through
pandas, columns sorted by name, rows sorted by every column, then compared
with dtypes. A query whose oracle disagrees, or whose output cannot be read,
is a wrong result and counts in error_rate.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def compare(got, want):
    """None when equal, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if list(map(str, got.dtypes)) != list(map(str, want.dtypes)):
        return f"dtypes {list(map(str, got.dtypes))} != {list(map(str, want.dtypes))}"
    if not got.equals(want):
        neq = (got != want) & ~(got.isna() & want.isna())
        return f"{int(neq.any(axis=1).sum())}/{len(got)} rows differ"
    return None


def read_output(path, fmt):
    """A Spark output directory as a pandas frame."""
    if fmt == "json":
        parts = sorted(glob.glob(os.path.join(path, "*.json")))
        frames = [pd.read_json(p, lines=True, dtype=False, precise_float=True) for p in parts if os.path.getsize(p)]
        return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
    return duckdb.sql(f"SELECT * FROM '{path}/*.parquet'").df()


def _connect(inputs):
    con = duckdb.connect()
    data = inputs.get("data_dir")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet") if data else ""
        if p and os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    flows = inputs.get("flow_dir")
    if flows:
        con.execute(f"CREATE VIEW li AS SELECT * FROM read_csv('{flows}/lineitem.csv', "
                    "header = true, all_varchar = true)")
        con.execute(f"CREATE VIEW ev AS SELECT * FROM read_json('{flows}/events.json', "
                    "format = 'newline_delimited')")
    return con


def check_flow(con, work, name, which):
    """Problems of a flow's outputs from the `which` ("warm" or "last") pass
    against its oracles, or None."""
    import workloads
    f = workloads.FLOWS[name]
    problems = []
    for terminal, sql in f["oracle"].items():
        try:
            got = canon(read_output(os.path.join(work, "flows", which, name, terminal),
                                    f["sinks"][terminal]))
            p = compare(got, canon(con.sql(sql).df()))
        except Exception as e:  # unreadable output or failing oracle query
            p = f"check error: {str(e).splitlines()[0][:200]}"
        if p:
            problems.append(f"{terminal}: {p}")
    return "; ".join(problems) or None


def check(work, plan, inputs):
    """Checks every task's warm-up output, and the flows' last-pass outputs.
    Returns {check: problem-or-None}."""
    with open(os.path.join(work, "warm.json")) as f:
        warm = json.load(f)
    with open(os.path.join(work, "oracle.json")) as f:
        oracles = json.load(f)
    con = _connect(inputs)
    out = {}
    for t in plan["tasks"]:
        name = t["name"]
        s = warm.get(name)
        if s is None or not s["ok"]:
            out[name] = "failed: " + (s["error"] if s else "not run")
        elif t["kind"] == "flow":
            out[name] = check_flow(con, work, name, "warm")
        else:
            try:
                got = canon(read_output(os.path.join(work, "warm", name), "parquet"))
                out[name] = compare(got, canon(con.sql(oracles[name]).df()))
            except Exception as e:  # unreadable output or failing oracle query
                out[name] = f"check error: {str(e).splitlines()[0][:200]}"
        if t["kind"] == "flow":
            out[name + "@last"] = check_flow(con, work, name, "last")
    return out
