"""Roster-slice correctness: Spark outputs against the DuckDB oracle.

A query's result is reduced to a fingerprint: the sorted column names and
the sorted multiset of rows, each value in a canonical text form (doubles
exact). Checking compares the fingerprint of Spark's parquet output with the
oracle's. Oracle queries that take DuckDB minutes (the recursive ones) are
answered from `oracle_pins.json`, fingerprints pinned from a DuckDB run on
the same fixture tables; a pin is used only while its SQL text is unchanged.

Re-pin after changing the slice or an oracle query:

    python3 perfbench/oracle.py <results dir with oracle_sql.json> <fixture dir> [query ...]
"""
import hashlib
import json
import math
import os
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_pins.json")


def canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def fingerprint(cursor):
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in cursor.fetchall())
    h = hashlib.sha256("\x1e".join(sorted(cols)).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return {"columns": sorted(cols), "rows": len(rows), "sha256": h.hexdigest()}


def sql_sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check(sf_dir, results):
    """Failures (one line each) of the Spark outputs under `results`."""
    con = connect(sf_dir)
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as f:
            pins = json.load(f)
    fails = []
    for name, sql in sorted(oracle.items()):
        try:
            got = fingerprint(con.execute(f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')"))
            pin = pins.get(name)
            want = pin["fingerprint"] if pin and pin["sql_sha256"] == sql_sha(sql) \
                else fingerprint(con.execute(sql))
        except Exception as e:  # noqa: BLE001 - any failure is a wrong output
            fails.append(f"{name}: {str(e)[:160]}")
            continue
        if got != want:
            fails.append(f"{name}: {got['rows']} rows {got['sha256'][:12]} != oracle "
                         f"{want['rows']} rows {want['sha256'][:12]}")
    return fails


def pin(results, sf_dir, names):
    """Pin the oracle fingerprints of `names` (all queries when empty),
    keeping the other pins."""
    con = connect(sf_dir)
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as f:
            pins = json.load(f)
    for name, sql in sorted(oracle.items()):
        if names and name not in names:
            continue
        t0 = time.time()
        pins[name] = {"sql_sha256": sql_sha(sql), "fingerprint": fingerprint(con.execute(sql))}
        print(f"{name}: {time.time() - t0:.1f}s", file=sys.stderr)
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    pin(sys.argv[1], sys.argv[2], set(sys.argv[3:]))
