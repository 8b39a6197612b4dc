"""Order-insensitive result digests, with tools/t2.py's normalisation:
columns sorted by name, floats rounded to 6 dp, rows sorted."""
import decimal
import glob
import hashlib

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def canon_val(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_val(x) for x in v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return round(v, 6) + 0.0
    if isinstance(v, dict):
        return tuple(sorted((k, canon_val(x)) for k, x in v.items()))
    return v


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            s = s.round(6) + 0.0
        elif s.dtype.kind == "M":
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]")
        elif s.dtype == object:
            s = s.map(canon_val)
        out[c] = s
    df = pd.DataFrame(out, columns=list(df.columns))
    key = df.astype(str)
    order = key.sort_values(by=list(df.columns)).index
    return key.loc[order].reset_index(drop=True)


def of_df(df):
    """sha256 over the column names and the canonical rows."""
    key = canon(df)
    h = hashlib.sha256("\x1f".join(key.columns).encode())
    for row in key.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return f"{len(key)}:{h.hexdigest()[:32]}"


def of_dir(path):
    """Digest of a Spark parquet output directory; None when absent."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return None
    return of_df(pq.read_table(files).to_pandas())
