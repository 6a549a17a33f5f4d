"""DuckDB oracle compare for `batch_ops` outputs.

Same rule as the project's oracle check: each query's parquet dump is
compared with its `SparkEntry.oracleSql` statement run by DuckDB over the
same tables — sorted column names, row count, then rows sorted and
stringified, compared exactly.
"""
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def compare(data_dir, dump_dir, corrupt=()):
    """Yields (query, ok, detail). `corrupt` names queries (or "*") whose
    expected rows lose one row, to show the compare catches a wrong result."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    for name, sql in sorted(oracle.items()):
        dump = os.path.join(dump_dir, name)
        if not os.path.isdir(dump):
            yield name, False, "no dump"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{dump}/*.parquet'").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # a failing statement is a failed check
            yield name, False, str(e)[:300]
            continue
        if name in corrupt or "*" in corrupt:
            exp = exp.iloc[1:]
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        if gcols != ecols:
            yield name, False, f"columns {gcols} vs {ecols}"
            continue
        grows = sorted(got[gcols].astype(str).itertuples(index=False, name=None))
        erows = sorted(exp[ecols].astype(str).itertuples(index=False, name=None))
        if len(grows) != len(erows):
            yield name, False, f"rows {len(grows)} vs {len(erows)}"
        elif grows != erows:
            bad = sum(1 for a, b in zip(grows, erows) if a != b)
            yield name, False, f"{bad}/{len(grows)} rows differ"
        else:
            yield name, True, ""
