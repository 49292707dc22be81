"""Output checks made apart from the engine, with DuckDB.

* oracle: a query's cold-pass output against DuckDB running the query's
  SparkEntry.oracleSql over the same input files, compared as
  tools/check_oracle.py compares them (column names sorted, rows sorted
  by every column, values equal under its `norm`). A check may cover a
  subset of one table's rows, for a query whose output rows each come
  from rows of that subset only; the output is then restricted alike.
* sessions: the sessions the streaming pipeline published against the
  batch gaps-and-islands sessions of the same events (q_event_sessions'
  oracle SQL). A session may be missing only if it is its user's last
  one, i.e. still open at the final watermark.

Each check returns None when it passes, else a one-line reason.
"""
import os
import sys

import duckdb
import pandas as pd

sys.dont_write_bytecode = True  # nothing written into tools/
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import norm  # noqa: E402


def _connect(tables, subset=None):
    con = duckdb.connect()
    con.execute("SET threads=4")
    for name, path in tables.items():
        if not os.path.exists(path):
            continue
        p = f"{path}/*.parquet" if os.path.isdir(path) else path
        if p.endswith(".csv"):
            p = f"read_csv('{p}', header=true)"
        else:
            p = f"'{p}'"
        rel = con.sql(f"SELECT * FROM {p} LIMIT 0")
        cols, names = rel.types, rel.columns
        ts_long = dict(zip(names, map(str, cols))).get("ts") == "BIGINT"
        if subset and subset["table"] == name:
            vals = ", ".join(str(int(v)) for v in subset["values"])
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM {p} "
                    f"WHERE {subset['column']} IN ({vals})")
        elif ts_long:  # epoch-nanos, as Tables.events reads it
            con.sql(f"CREATE VIEW {name} AS SELECT * REPLACE "
                    f"(make_timestamp(ts // 1000) AS ts) FROM {p}")
        else:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM {p}")
    return con


def oracle(check):
    subset = check.get("subset")
    con = _connect(check["tables"], subset)
    got = pd.read_parquet(check["output"], engine="pyarrow")
    if subset:
        got = got[got[subset["column"]].isin(subset["values"])]
        if got.empty:
            return f"no output rows with {subset['column']} in the subset"
    want = con.sql(check["sql"]).fetchdf()
    got, want = got[sorted(got.columns)], want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = list(got.columns)
    got = got.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        for i, (a, b) in enumerate(zip(got[c], want[c])):
            if norm(a) != norm(b):
                return f"row {i} col {c}: spark={norm(a)} duckdb={norm(b)}"
    return None


def sessions(check):
    con = _connect({"events": check["events"]})
    batch = con.sql(check["sql"]).fetchall()
    got = pd.read_parquet(check["sessions"], engine="pyarrow")
    cols = ["user_id", "session_seq", "n_events", "duration_sec", "is_bounce"]
    published = set(map(tuple, got[cols].itertuples(index=False)))
    published = {(int(u), int(s), int(n), int(d), bool(b))
                 for u, s, n, d, b in published}
    expected = {(int(u), int(s), int(n), int(d), bool(b))
                for u, s, n, d, b in batch}
    last = {}
    for u, s, *_ in expected:
        last[u] = max(last.get(u, 0), s)
    extra = published - expected
    open_ = expected - published
    not_last = [x for x in open_ if x[1] != last[x[0]]]
    if extra or not_last or not published:
        return (f"published={len(published)} batch={len(expected)} "
                f"not_in_batch={len(extra)} missing_not_last={len(not_last)}")
    return None


def run(check):
    try:
        return {"oracle": oracle, "sessions": sessions}[check["kind"]](check)
    except Exception as e:  # a crashed check is a failed operation
        return f"{type(e).__name__}: {e}"
