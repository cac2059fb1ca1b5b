"""DuckDB side of the output checks.

Expected results are computed by DuckDB over the same generated parquet
files the engine reads, fetched the way the engine's oracle compare
(dev/verify_local.py) fetches them -- ``con.execute(sql).df()`` -- and
reduced to the order-independent digest that ``perfbench.Digest`` computes
over the engine's collected rows. Both sides write a cell the same way:

* null and NaN           -> ``N``
* booleans               -> ``b1`` / ``b0``
* integers of any width and integral doubles below 2^53 -> ``i<decimal>``
* other doubles          -> ``f<16 hex digits of the IEEE bits>``
* timestamps and dates   -> ``t<epoch microseconds>`` (a date is its midnight)
* strings                -> ``s<text>``
* anything else (decimal objects, arrays) gets a prefix the other side never
  writes, so such a column never matches -- the compare's rule too.
"""
import datetime
import hashlib
import json
import math
import os
import struct
from decimal import Decimal

import numpy as np
import pandas as pd

from gen import TABLES

EPOCH = datetime.datetime(1970, 1, 1)
TWO_TO_53 = 2.0 ** 53


def micros(v):
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime(warn=False)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
    else:
        d = datetime.datetime(v.year, v.month, v.day) - EPOCH
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def real(x):
    if math.isnan(x):
        return "N"
    if not math.isinf(x) and x == math.floor(x) and abs(x) < TWO_TO_53:
        return "i%d" % int(x)
    return "f" + struct.pack(">d", x).hex()


def cell(v):
    if v is None or v is pd.NaT or v is pd.NA:
        return "N"
    if isinstance(v, (bool, np.bool_)):
        return "b1" if v else "b0"
    if isinstance(v, (int, np.integer)):
        return "i%d" % int(v)
    if isinstance(v, (float, np.floating)):
        return real(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (datetime.date, np.datetime64)):
        return "t%d" % micros(pd.Timestamp(v) if isinstance(v, np.datetime64) else v)
    if isinstance(v, Decimal):
        return "d" + format(v, "f")
    return "L" + repr(v)


def digest(columns, rows):
    """``rows`` are sequences in ``columns`` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "\x1f".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")
        n += 1
    return "%d:%016x:%s" % (n, total % (1 << 64), ",".join(sorted(columns)))


def frame_digest(df):
    return digest(list(df.columns), df.to_numpy(dtype=object))


def connect(inputs, tmp):
    """DuckDB with one view per table: ``inputs`` is a directory of
    ``<table>.parquet`` files, or a list of files that together form
    ``events``."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET threads = 4")
    if isinstance(inputs, list):
        files = ", ".join(f"'{f}'" for f in inputs)
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
    else:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    return con


def expected(inputs, queries, cache_dir):
    """Digest per oracle query, cached per input set and SQL text."""
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    con = None
    for name, sql in sorted(queries.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                out[name] = json.load(fh)
            continue
        con = con or connect(inputs, os.path.join(cache_dir, "tmp"))
        try:
            res = {"digest": frame_digest(con.execute(sql).df())}
        except Exception as e:  # the oracle itself failing is reported per query
            res = {"error": f"{type(e).__name__}: {e}"}
        with open(path, "w") as fh:
            json.dump(res, fh)
        out[name] = res
    return out


SERVED_SQL = """
SELECT event_id, ts, user_id, event_type, value, props FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
  FROM events) WHERE rn = 1"""

HOURLY_SQL = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, event_type,
       count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS cents
FROM events GROUP BY ALL"""


def expected_speed(files, cache_dir):
    """Digests of the per-user latest event (the served table's batch truth)
    and of the hourly counts per event type, over the event ``files``."""
    return expected(files, {"served": SERVED_SQL, "hourly": HOURLY_SQL}, cache_dir)
