"""Expected query results from the DuckDB oracle.

For each requested query this replays its oracle SQL in DuckDB over the
generated corpus (one view per table, as ``tools/check.py`` sets them
up) and writes the result in the canonical form the harness's
``Check.scala`` compares against: sorted column names, and rows of
values with every number a JSON number, timestamps ``ts:<UTC epoch
microseconds>``, dates ``d:<epoch days>``, binary ``b:<hex>`` and lists
for arrays and structs. Queries without an exact oracle (approximate
sketches) get a row count only.
"""
import datetime as dt
import decimal
import json
import math
import uuid
from pathlib import Path

import duckdb

import gen

# approximate queries: no exact SQL twin, each returns one summary row
ROW_COUNT_ONLY = {"q30_approx_distinct": 1, "q33_approx_quantile": 1}

_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_TZ = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        if math.isinf(v):
            return "f:inf" if v > 0 else "f:-inf"
        return v
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            d = v - _EPOCH
        else:
            d = v - _EPOCH_TZ
        return f"ts:{(d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}"
    if isinstance(v, dt.date):
        return f"d:{(v - _EPOCH.date()).days}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b:" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, uuid.UUID):
        return str(v)
    return str(v)


def expected(data_dir: Path, names, oracles: dict) -> dict:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / (t + '.parquet')}')")
    out = {}
    for name in names:
        if name in ROW_COUNT_ONLY:
            out[name] = {"cols": None, "rows": None, "n_rows": ROW_COUNT_ONLY[name]}
            continue
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out[name] = {
            "cols": [cols[i] for i in order],
            "rows": [[canon(r[i]) for i in order] for r in rows],
            "n_rows": len(rows),
        }
    con.close()
    return out


def write(data_dir: Path, names, oracles: dict, path: Path) -> None:
    path.write_text(json.dumps(expected(data_dir, names, oracles)))
