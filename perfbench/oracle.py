"""The curation workload's result check: each key's saved Spark result is
compared with the DuckDB oracle (`SparkEntry.oracleSql`) over the same
parquet files, as a multiset of rows with columns matched by name. Keys
whose output depends on ties or sampling are compared by row count only.
"""
import glob
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# keys whose exact rows are not determined by the data alone
ROW_COUNT_ONLY = set()


def compare(con, got_sql, want_sql, rows_only=False):
    """None when the two queries return the same rows, else the reason."""
    got = con.execute(got_sql)
    gcols = [d[0] for d in got.description]
    want = con.execute(want_sql)
    wcols = [d[0] for d in want.description]
    if sorted(gcols) != sorted(wcols):
        return f"columns {sorted(gcols)} != {sorted(wcols)}"
    ng = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    nw = con.execute(f"SELECT count(*) FROM ({want_sql})").fetchone()[0]
    if ng != nw:
        return f"{ng} rows, expected {nw}"
    if rows_only:
        return None
    cols = ", ".join(f'"{c}"' for c in sorted(gcols))
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM ({got_sql}) "
                        f"EXCEPT ALL SELECT {cols} FROM ({want_sql}))").fetchone()[0]
    return f"{extra} rows differ from the oracle" if extra else None


def check(res, work, data):
    """Mark every op of a key whose result disagrees with the oracle as
    failed (in place); a key without oracle SQL or saved result fails."""
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    verdict = {}
    for key in sorted({o["kind"] for o in res["ops"]}):
        files = glob.glob(os.path.join(work, "results", key, "*.parquet"))
        if key not in oracle:
            verdict[key] = "no oracle SQL"
        elif not files:
            verdict[key] = "no saved result"
        else:
            try:
                verdict[key] = compare(
                    con, f"SELECT * FROM read_parquet('{work}/results/{key}/*.parquet')",
                    oracle[key], rows_only=key in ROW_COUNT_ONLY)
            except duckdb.Error as e:
                verdict[key] = f"oracle error: {e}"
    con.close()
    for o in res["ops"]:
        why = verdict.get(o["kind"])
        if why and o["ok"]:
            o["ok"] = False
            o["error"] = f"oracle: {why}"
