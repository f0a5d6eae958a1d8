#!/usr/bin/env python3
"""Regenerate oracle/digests_<fixture>.json: the DuckDB oracle's result
digest for every entry of the query_mix workload, for each committed
fixture (sf0.01 is the benchmark's, sf0.001 the smoke tests').

    python3 perfbench/oracle/make_digests.py

Builds the benchmark (as run.py does), asks the JVM for each entry's
`SparkEntry.oracleSql`, runs it in DuckDB over the committed fixture and
renders the result exactly as `perfbench.Digest` renders Spark's. Run it
once when the entry list or an oracle changes, and commit the output.
"""
import datetime
import decimal
import hashlib
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import run  # noqa: E402

FIXTURES = os.path.join(BENCH, "fixtures")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def render(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return plain(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return plain(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    return str(v)


def plain(d):
    if d == 0:
        return "0"
    return format(d.normalize(), "f")


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(render(r[i]) for i in order).encode() for r in rows)
    h = hashlib.sha256("\x01".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line)
    return len(rows), h.hexdigest()


def connect(fixture):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    decimal.getcontext().prec = 200
    for t in TABLES:
        src = os.path.join(fixture, f"{t}.parquet")
        cols = "*"
        if t == "events":
            (ts_type,) = [r[1] for r in con.sql(f"DESCRIBE SELECT ts FROM '{src}'").fetchall()]
            if ts_type == "BIGINT":
                cols = "event_id, make_timestamp(ts // 1000) AS ts, user_id, event_type, value, props"
            elif ts_type == "TIMESTAMP_NS":
                cols = "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props"
        con.sql(f"CREATE VIEW {t} AS SELECT {cols} FROM '{src}'")
    return con


def main():
    run.build()
    with open(run.CLASSPATH) as f:
        cp = f.read().strip()
    sql = json.loads(subprocess.run(["java", "-cp", cp, "perfbench.OracleSql"], check=True,
                                    stdout=subprocess.PIPE, text=True).stdout)
    for sf in sorted(os.listdir(FIXTURES)):
        con = connect(os.path.join(FIXTURES, sf))
        out = {}
        for name, q in sql.items():
            rel = con.sql(q)
            n, h = digest(list(rel.columns), rel.fetchall())
            out[name] = {"rows": n, "sha256": h}
            print(f"{sf} {name}: {n} rows {h[:16]}")
        with open(os.path.join(HERE, f"digests_{sf}.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
