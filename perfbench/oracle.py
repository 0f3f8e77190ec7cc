"""DuckDB oracle check for the query_mix workload: each sampled query's
Spark output must equal its registered `oracleSql` replayed in DuckDB over
the same generated tables (column names, row count, and every value after
sorting), the comparison `scripts/check.py` makes. It is repeated here so
the benchmark depends on nothing outside its directory but the engine."""
import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _norm(df):
    import numpy as np
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, np.ndarray))).any():
            df[c] = df[c].map(lambda v: tuple(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _equal(a, b):
    import numpy as np
    import pandas as pd
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, (list, tuple, np.ndarray)) or isinstance(b, (list, tuple, np.ndarray)):
        if a is None or b is None or len(a) != len(b):
            return False
        return all(_equal(x, y) for x, y in zip(a, b))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def compare(spark_df, duck_df):
    """The first difference between two result frames, or None."""
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"columns {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"rows {len(spark_df)} vs {len(duck_df)}"
    s, d = _norm(spark_df), _norm(duck_df)
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c].tolist(), d[c].tolist())):
            if not _equal(x, y):
                return f"column {c} row {i}: {x!r} vs {y!r}"
    return None


def perturb(df):
    """A copy with one value changed (or, for an empty result, one row
    added), which a working comparison must reject."""
    p = df.copy()
    if len(p) == 0:
        return p.reindex(range(1))
    col = p.columns[0]
    v = p.at[0, col]
    p.at[0, col] = (v + 1) if isinstance(v, (int, float)) and not isinstance(v, bool) else None
    return p


def check(tables_dir, results_dir, oracle_sql):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    checks = []
    for name, sql in sorted(oracle_sql.items()):
        spark_df = pd.read_parquet(os.path.join(results_dir, name))
        if not sql:
            checks.append({"name": f"query_mix.{name}", "ok": False,
                           "detail": "no oracle SQL registered", "self_test_fails": None})
            continue
        duck_df = con.execute(sql).df()
        diff = compare(spark_df, duck_df)
        checks.append({"name": f"query_mix.{name}", "ok": diff is None,
                       "detail": diff or f"{len(spark_df)} rows match",
                       "self_test_fails": compare(perturb(spark_df), duck_df) is not None})
    con.close()
    return checks
