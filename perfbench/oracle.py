"""Output check of batch_mix rows against their DuckDB mirrors.

Each row's set-up output (parquet under the run directory) is compared with
the row's SparkEntry.oracleSql mirror run in DuckDB over the same tables,
normalized as tools/selfcheck.py does: columns sorted by name, rows sorted,
floats compared exactly with NaN == NaN, everything else as strings. Rows
without a mirror must be non-empty.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _compare(spark_df, duck_df):
    """None when equal, else the first difference found."""
    s, k = _norm(spark_df), _norm(duck_df)
    if list(s.columns) != list(k.columns):
        return f"columns {list(s.columns)} vs {list(k.columns)}"
    if len(s) != len(k):
        return f"rows {len(s)} vs {len(k)}"
    for c in s.columns:
        a, b = s[c].values, k[c].values
        if np.issubdtype(s[c].dtype, np.floating) or np.issubdtype(k[c].dtype, np.floating):
            eq = (pd.isna(a) & pd.isna(b)) | (a == b)
        else:
            eq = (pd.Series(a).astype(str) == pd.Series(b).astype(str)).values
        if not eq.all():
            i = int(np.argmin(eq))
            return f"col {c} row {i}: spark={a[i]!r} duck={b[i]!r}"
    return None


def check_batch(data_dir, work_dir, rows_written):
    """Check every written row output; returns the summary, the failures
    and each row's output row count."""
    with open(os.path.join(work_dir, "oracle_sql.json")) as f:
        mirrors = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    failed, rows_out, mirrored = [], {}, 0
    for name in sorted(n for n, ok in rows_written.items() if ok):
        files = sorted(glob.glob(os.path.join(work_dir, "out", name, "*.parquet")))
        rows_out[name] = sum(pq.read_metadata(f).num_rows for f in files)
        if name not in mirrors:
            if rows_out[name] == 0:
                failed.append(f"{name}: empty output and no mirror")
            continue
        mirrored += 1
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            diff = _compare(spark_df, con.execute(mirrors[name]).df())
        except Exception as e:  # a broken mirror or output is a failed op
            diff = f"{type(e).__name__}: {e}"
        if diff:
            failed.append(f"{name}: {diff}"[:300])
    con.close()
    return {"summary": {"mirrored": mirrored,
                        "unmirrored_nonempty": len(rows_out) - mirrored,
                        "mismatched": len(failed)},
            "failed": failed, "rows_out": rows_out}
