"""Result digests and the DuckDB oracle they are checked against.

A digest is order-insensitive and engine-neutral: columns sorted by
name, every value rendered the same way whichever engine produced it
(floats to 6 decimal places, timestamps as naive UTC, structs as
name=value maps), rows sorted, then hashed. A counted query's digest is
its row count alone.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

# every table the registered oracles reference
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings")


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        s = f"{f:.6f}"
        return "0.000000" if s == "-0.000000" else s
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "asDict"):  # pyspark Row (struct); DuckDB gives a dict
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_canon(v[k])}"
                              for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def rows_digest(columns: list[str], rows) -> str:
    """Digest of a collected result: ``rows`` are tuples (or pyspark
    Rows) in ``columns`` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def count_digest(n: int) -> str:
    return f"count:{n}"


class Oracle:
    """DuckDB views over the benchmark tables and the registered
    oracle SQL, evaluated once per query and digested like a result."""

    def __init__(self, sf_dir: str, sql: dict[str, str], threads: int):
        import duckdb
        self._sql = sql
        self._con = duckdb.connect(config={"threads": threads})
        for t in ORACLE_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[tuple[str, bool], str] = {}

    def __contains__(self, name: str) -> bool:
        return name in self._sql

    def digest(self, name: str, counted: bool) -> str:
        key = (name, counted)
        if key not in self._cache:
            sql = self._sql[name].strip().rstrip(";")
            if counted:
                n = self._con.execute(
                    f"SELECT count(*) FROM ({sql})").fetchone()[0]
                self._cache[key] = count_digest(n)
            else:
                cur = self._con.execute(sql)
                cols = [d[0] for d in cur.description]
                self._cache[key] = rows_digest(cols, cur.fetchall())
        return self._cache[key]

    def close(self) -> None:
        self._con.close()
