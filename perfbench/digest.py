"""Order-insensitive digest of a query result: row count plus the sum
(mod 2^64) of a hash of each row's canonical text. Columns are taken in
name order and rows in any order, as tools/selfcheck.py compares them, so
a Spark result and a DuckDB result of the same rows get the same digest.
"""
import datetime
import decimal
import hashlib
import math

import pyarrow.parquet as pq


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize()) if v == v else "nan"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def of_table(table) -> dict:
    """Digest of a pyarrow table."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    total = 0
    for row in zip(*data):
        text = "\x1f".join(canon(v) for v in row)
        total += int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")
    return {"rows": table.num_rows, "hash": f"{total % (1 << 64):016x}"}


def of_parquet_dir(path) -> dict:
    return of_table(pq.read_table(str(path)))
