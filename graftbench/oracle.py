"""Output check: each gate's dumped result against its DuckDB oracle.

The comparison rule is tools/selfcheck.py's: columns sorted by name, rows
sorted, float columns compared exactly (NaN equals NaN), everything else
compared as strings; a float column on one side only, or a decimal
column in the result, is a failure. A gate without oracle SQL is checked
rows-only: it must return at least one row.
"""
import glob

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected(con, sql_by_gate, gates):
    """Run each gate's oracle SQL once; returns {gate: the pandas frame
    DuckDB returns, or an error string}. Gates without SQL are left out."""
    out = {}
    for g in gates:
        if g in sql_by_gate:
            try:
                out[g] = con.execute(sql_by_gate[g]).df()
            except Exception as e:  # noqa: BLE001 - reported as the gate's failure
                out[g] = f"oracle SQL error: {e}"
    return out


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def rows(result_dir):
    """Row count of a dumped result, from the parquet footers."""
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(f"{result_dir}/*.parquet"))


def check(result_dir, oracle):
    """None when the dumped result in result_dir matches, else a reason.
    oracle is the expected frame, an error string, or None for rows-only."""
    files = glob.glob(f"{result_dir}/*.parquet")
    if not files:
        return "no result dumped"
    got = pd.concat([pd.read_parquet(f) for f in files])
    dec = [f.name for f in pq.read_schema(files[0]) if "decimal" in str(f.type)]
    if dec:
        return f"published decimal columns {dec}"
    if oracle is None:
        return None if len(got) > 0 else "rows-only gate returned no rows"
    if isinstance(oracle, str):
        return oracle
    g, e = _canon(got.copy()), _canon(oracle.copy())
    if list(g.columns) != list(e.columns):
        return f"columns differ: engine={list(g.columns)} oracle={list(e.columns)}"
    if len(g) != len(e):
        return f"row count differs: engine={len(g)} oracle={len(e)}"
    for c in g.columns:
        g_float = np.issubdtype(g[c].dtype, np.floating)
        e_float = np.issubdtype(e[c].dtype, np.floating)
        if g_float != e_float:
            return f"col {c}: dtype split engine={g[c].dtype} oracle={e[c].dtype}"
        if g_float:
            gv, ev = g[c].values.astype(float), e[c].values.astype(float)
            bad = ~((gv == ev) | (np.isnan(gv) & np.isnan(ev)))
            if bad.any():
                return f"col {c}: {int(bad.sum())} float mismatches, max abs diff {np.nanmax(np.abs(gv - ev)[bad]):.3e}"
        else:
            gs, es = pd.Series(g[c].values).astype(str), pd.Series(e[c].values).astype(str)
            neq = (gs != es).values
            if neq.any():
                i = int(np.argmax(neq))
                return f"col {c}: {int(neq.sum())} mismatches, first engine={gs[i]!r} oracle={es[i]!r}"
    return None
