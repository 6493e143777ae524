"""Order-insensitive result fingerprints shared by the benchmark and
its expected-output generator.

A result is reduced to ``(rows, hash)``. Columns are sorted by name and
each is put in one canonical form: integers as int64, floats as float64
with a single NaN (so equal iff their ``repr`` is equal, the rule of the
repository's oracle harness ``tests/_harness.py``), text as ``str``,
timestamps as integer microseconds in UTC, and anything else (decimals,
lists, dates, bytes, nulls in object columns) as the harness's text
form. Each row is hashed and the row hashes are summed modulo 2**64, so
row order does not matter but multiplicity does. Columns are converted
whole where the dtype allows it: a 600k-row result takes about 0.6 s.
"""

from __future__ import annotations

import datetime
import decimal
import math

import numpy as np
import pandas as pd

_MASK = (1 << 64) - 1


def _cell(v) -> str:
    if v is None or v is pd.NA or v is pd.NaT:
        return "<NULL>"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return _cell(float(v))
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return str(v.value // 1000)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str(pd.Timestamp(v).value // 1000)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _column(s: pd.Series) -> pd.Series:
    """One column in canonical form: integers as int64, floats as float64
    with one NaN, text as str, anything else through :func:`_cell`."""
    if pd.api.types.is_bool_dtype(s) and not s.hasnans:
        return s.map({True: "True", False: "False"}).astype(object)
    if pd.api.types.is_integer_dtype(s) and not s.hasnans:
        return pd.Series(s.to_numpy(dtype=np.int64))
    if pd.api.types.is_float_dtype(s):
        vals = s.to_numpy(dtype=np.float64).copy()
        vals[np.isnan(vals)] = np.nan
        return pd.Series(vals)
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    if pd.api.types.is_datetime64_dtype(s):
        us = s.to_numpy(dtype="datetime64[us]").astype(np.int64).astype(str)
        return pd.Series(us, dtype=object).where(s.notna().to_numpy(), "<NULL>")
    if pd.api.types.infer_dtype(s, skipna=True) == "string":
        return s.astype(object).where(s.notna(), "<NULL>")
    return pd.Series([_cell(v) for v in s.tolist()], dtype=object)


def fingerprint(df: pd.DataFrame) -> tuple[int, str]:
    """``(row count, 16-hex-digit order-insensitive hash)`` of ``df``."""
    cols = sorted(df.columns)
    canon = pd.DataFrame(
        {str(i): _column(df[c].reset_index(drop=True)) for i, c in enumerate(cols)}
    )
    total = len(cols)
    if len(canon):
        rows = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
        total = (total + int(rows.sum(dtype=np.uint64))) & _MASK
    header = pd.util.hash_pandas_object(pd.Series(["\x1f".join(cols)]), index=False)
    total = (total ^ int(header.iloc[0])) & _MASK
    return len(df), f"{total:016x}"
