"""Output checks against the DuckDB oracles, run outside the timed window.

Both sides are reduced to one 64-bit hash per row after putting every
column in a canonical form, and the sorted hash arrays must be equal: an
order-insensitive exact match of the row multisets. Floats are rounded
to 9 significant digits first, because the two engines sum in different
orders.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NULL_FLOAT = np.finfo(np.float64).min
_NULL_INT = np.iinfo(np.int64).min


def _round_significant(x: np.ndarray, digits: int = 9) -> np.ndarray:
    out = x.astype(np.float64, copy=True)
    finite = np.isfinite(out) & (out != 0.0)
    exp = np.floor(np.log10(np.abs(out[finite])))
    scale = 10.0 ** (digits - 1 - exp)
    out[finite] = np.round(out[finite] * scale) / scale
    out[np.isnan(out)] = _NULL_FLOAT
    return out + 0.0  # -0.0 -> 0.0


def _canonical_column(s: pd.Series) -> pd.Series:
    kind = s.dtype.kind
    if kind == "f":
        return pd.Series(_round_significant(s.to_numpy()))
    if kind in "iub":
        return pd.Series(s.to_numpy().astype(np.int64))
    if kind == "M":
        ns = s.astype("datetime64[ns]")
        return pd.Series(ns.to_numpy().view(np.int64)).where(ns.notna().to_numpy(), _NULL_INT)

    def text(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "\x00null"
        return str(v)

    return pd.Series([text(v) for v in s.to_numpy()], dtype=object)


def row_hashes(df: pd.DataFrame) -> np.ndarray:
    canon = pd.DataFrame(
        {c: _canonical_column(df[c].reset_index(drop=True)) for c in sorted(df.columns)}
    )
    return np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """``None`` when the frames hold the same rows, else the reason."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"{len(actual)} rows != {len(expected)} expected"
    diff = int(np.count_nonzero(row_hashes(actual) != row_hashes(expected)))
    return f"{diff} of {len(actual)} row hashes differ" if diff else None


class Oracles:
    """DuckDB over the same parquet tables; each oracle runs once per
    process and is kept for the later checks."""

    def __init__(self, sf_dir: str, sql_by_name: dict[str, str]):
        self._sql = sql_by_name
        self._cache: dict[str, pd.DataFrame] = {}
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def expected(self, name: str) -> pd.DataFrame:
        if name not in self._cache:
            self._cache[name] = self._con.execute(self._sql[name]).fetchdf()
        return self._cache[name]

    def sql(self, query: str) -> pd.DataFrame:
        return self._con.execute(query).fetchdf()

    def close(self) -> None:
        self._con.close()
