"""Order-insensitive result hashes, in the DuckDB-oracle checker's
canonical form (tools/check.py): columns sorted by name, rows sorted by
every column, cells compared as strings. Shared by run.py (engine
results) and gen_expected.py (DuckDB results and goldens)."""
import glob
import hashlib
import json

import pandas as pd


def canonical(df):
    cols = sorted(df.columns)
    df = df[cols]
    try:
        df = df.sort_values(by=cols, kind="mergesort")
    except TypeError:
        # array or struct cells cannot be ordered; order by their text
        df = df.astype(str).sort_values(by=cols, kind="mergesort")
    return df.reset_index(drop=True).astype(str)


def frame_hash(df):
    """(sha256 of the canonical frame, row count)."""
    df = canonical(df)
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for row in df.itertuples(index=False, name=None):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest(), len(df)


def dump_hash(path):
    """Hash of a Spark result written as parquet under `path`."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return frame_hash(pd.concat([pd.read_parquet(f) for f in files],
                                ignore_index=True))
