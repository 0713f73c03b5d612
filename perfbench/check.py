"""Output checks: an order-insensitive fingerprint of a result table, and the
DuckDB oracle fingerprints it is compared with.

A fingerprint is the row count plus the sum, modulo 2**128, of a hash of each
row's canonical form. Addition commutes, so row order does not matter, and a
duplicated or missing row changes the sum. Columns are taken in name order,
as the registry's oracles name their columns like the Spark queries do.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

_MOD = 1 << 128


def _canon(v):
    """Canonical, engine-independent form of one cell.

    Floats keep 9 significant digits, as the engines sum in different
    orders; an integral float equals the integer, as one engine may widen a
    nullable integer column to float.
    """
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        v = float(f"{v:.9g}")
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return "t:" + ts.isoformat()
    if isinstance(v, dt.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items())}
    return "s:" + str(v)


def fingerprint(pdf: pd.DataFrame) -> dict:
    """Row count and order-insensitive hash of a pandas frame."""
    cols = sorted(pdf.columns)
    total = 0
    for row in pdf[cols].itertuples(index=False, name=None):
        blob = json.dumps([_canon(v) for v in row], separators=(",", ":"))
        total += int.from_bytes(hashlib.sha256(blob.encode()).digest()[:16], "big")
    return {"rows": len(pdf), "columns": cols, "hash": f"{total % _MOD:032x}"}


def spark_fingerprint(df) -> dict:
    """Row count and order-insensitive hash of a Spark DataFrame, computed
    in Spark: the sum of each row's ``xxhash64``. Only comparable with
    another frame of the same schema."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    rows, total = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)), F.sum("h"))
        .first()
    )
    return {"rows": rows, "columns": cols, "hash": f"{int(total or 0) % _MOD:032x}"}


def data_stamp(sf_dir: str, tables) -> str:
    """Identity of the input tables: name, size and modification time."""
    parts = []
    for t in tables:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def oracle_fingerprint(sql: str, sf_dir: str, tables) -> dict:
    """Run an oracle query in DuckDB over the parquet tables and fingerprint
    its result."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return fingerprint(con.execute(sql).fetchdf())
    finally:
        con.close()


class ReferenceStore:
    """Expected fingerprints, kept in one JSON file per checkout.

    Each entry is keyed by the data stamp and the oracle text, so an edited
    oracle or changed input is computed again instead of read stale.
    """

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as fh:
                self._entries = json.load(fh)
        except FileNotFoundError:
            self._entries = {}

    @staticmethod
    def key(stamp: str, text: str) -> str:
        return hashlib.sha256(f"{stamp}\n{text}".encode()).hexdigest()[:24]

    def get(self, name: str, key: str):
        entry = self._entries.get(name)
        return entry["fingerprint"] if entry and entry["key"] == key else None

    def put(self, name: str, key: str, fp: dict) -> None:
        self._entries[name] = {"key": key, "fingerprint": fp}

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = f"{self.path}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(self._entries, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


def mismatch(got: dict, want: dict) -> str | None:
    """Why two fingerprints differ, or None when they agree."""
    for field in ("rows", "columns", "hash"):
        if got[field] != want[field]:
            return f"{field}: got {got[field]} want {want[field]}"
    return None
