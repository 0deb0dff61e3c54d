"""DuckDB oracle digests for olap_mix.

Runs each query's oracle SQL (``SparkEntry.oracleSql``) in DuckDB over
views of the generated tables and reduces the answer to the canonical
digest the harness computes for the Spark answer (``Json.digest``): the
normalisation of ``scripts/crosscheck.py`` -- columns sorted by name, rows
in result order, integers kept apart from floating point, DECIMAL compared
as a double, timestamps as UTC microseconds -- with floating point compared
on its exact bits.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def _num(x):
    if math.isnan(x):
        return "NaN"
    if x == 0.0:
        x = 0.0
    return "f" + format(struct.unpack(">Q", struct.pack(">d", x))[0], "x")


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return _num(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return f"t{(d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "o" + str(v)


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    h = hashlib.sha256("\x1f".join(names[i] for i in order).encode())
    for r in rows:
        h.update(b"\n")
        h.update("\x1f".join(canon(r[i]) for i in order).encode())
    return h.hexdigest()


def compute(queries, per_module, sf_dir, out_path):
    """Write {name: digest} for the first ``per_module`` queries of each
    module whose oracle SQL runs (the harness's panel takes the same ones);
    returns the names whose oracle failed."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.dirname(out_path)}/duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out, failed, taken = {}, [], {}
    for q in queries:
        if taken.get(q["module"], 0) >= per_module:
            continue
        try:
            res = con.execute(q["sql"])
            names = [d[0] for d in res.description]
            out[q["name"]] = digest(names, res.fetchall())
            taken[q["module"]] = taken.get(q["module"], 0) + 1
        except Exception:  # noqa: BLE001 - an oracle that cannot run is reported
            failed.append(q["name"])
    con.close()
    with open(out_path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(out_path + ".tmp", out_path)
    return failed
