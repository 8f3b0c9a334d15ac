"""DuckDB oracle compare for the batch_mix workload.

For each key in `<out>/oracle_sql.json`, run its SQL in DuckDB over views
named after the fixture tables, load the Spark result written under
`<out>/<key>/`, sort both frames' columns by name, and require the same
columns, row count, values in row order, and dtypes. This is the rule of
the repository's oracle compare script.
"""
import json
import math

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _strip_tz(df):
    for c in df.columns:
        if getattr(df[c].dtype, "tz", None) is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def _same(x, y):
    if x == y or (x is None and y is None):
        return True
    if isinstance(x, float) and isinstance(y, float):
        if math.isnan(x) and math.isnan(y):
            return True
        # DuckDB's integer AVG is not always correctly rounded: it can sit
        # one ulp from the exact quotient that Spark returns
        if abs(x - y) <= 2 * math.ulp(max(abs(x), abs(y))):
            return True
    try:
        return bool(pd.isna(x) and pd.isna(y))
    except (TypeError, ValueError):
        return False


def compare(sdf, ddf):
    """List of mismatch descriptions; empty when the frames agree."""
    sdf = _strip_tz(sdf[sorted(sdf.columns)])
    ddf = _strip_tz(ddf[sorted(ddf.columns)])
    if list(sdf.columns) != list(ddf.columns):
        return [f"columns spark={list(sdf.columns)} duck={list(ddf.columns)}"]
    if len(sdf) != len(ddf):
        return [f"rows spark={len(sdf)} duck={len(ddf)}"]
    errs = []
    for c in sdf.columns:
        for i, (x, y) in enumerate(zip(sdf[c].tolist(), ddf[c].tolist())):
            if not _same(x, y):
                errs.append(f"col {c} row {i}: spark={x!r} duck={y!r}")
                break
        if str(sdf[c].dtype) != str(ddf[c].dtype):
            errs.append(f"dtype col {c}: spark={sdf[c].dtype} duck={ddf[c].dtype}")
    return errs


def check(fixtures, out):
    """Compare every key with its oracle, and every timed pass's row count
    (`row_counts.json`) with the checked result. Returns one entry per
    check: {name: [mismatches]}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures}/{t}.parquet')")
    with open(f"{out}/oracle_sql.json") as f:
        oracle = json.load(f)
    with open(f"{out}/row_counts.json") as f:
        row_counts = json.load(f)
    result = {}
    for key, sql in sorted(oracle.items()):
        spark_out = f"read_parquet('{out}/{key}/*.parquet')"
        try:
            dec = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {spark_out}").fetchall()
                   if "DECIMAL" in str(r[1]).upper()]
            sdf = con.execute(f"SELECT * FROM {spark_out}").fetchdf()
            ddf = con.execute(sql).fetchdf()
            result[key] = compare(sdf, ddf) + [f"DECIMAL column {c}" for c in dec]
        except Exception as e:  # a key that cannot be compared has failed
            result[key] = [f"error: {e}"]
            sdf = None
        for i, n in enumerate(row_counts.get(key, [])):
            ok = sdf is not None and n == len(sdf)
            result[f"{key}#pass{i + 1}"] = [] if ok else [f"row count {n}"]
    con.close()
    return result
