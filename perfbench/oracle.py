"""Result digests and the DuckDB oracle they are checked against.

A digest follows ``tools/check_oracle.py``'s comparison rules:
- type-sensitive: each column's ``dtype_tag`` (taken before any
  coercion) is part of the digest;
- order-insensitive: column names are sorted and rows are combined
  as a multiset (sums of per-row hashes, modulo 2^64);
- values normalised as ``check_oracle.normalize`` does: datetimes to
  naive microseconds, decimals to floats, arrays to tuples, and
  ``-0.0`` to ``0.0`` (equal under its ``==`` comparison).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved  # the tool prepends its own checkout's path
    return mod


_CHECK = _load_check_oracle()
dtype_tag = _CHECK.dtype_tag


def _norm_column(s: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert(None)
        return s.astype("datetime64[us]").astype("int64")
    if pd.api.types.is_bool_dtype(s):
        return s.astype("bool")
    if pd.api.types.is_float_dtype(s):
        return s.astype("float64") + 0.0
    if pd.api.types.is_integer_dtype(s):
        return s.astype("int64")
    return s.map(lambda v: repr(_CHECK._norm_obj(v)))


def digest(df: pd.DataFrame) -> str:
    """Type-sensitive, row-order-insensitive digest of a result frame."""
    cols = sorted(df.columns)
    tags = [dtype_tag(df[c]) for c in cols]
    norm = pd.DataFrame({c: _norm_column(df[c]) for c in cols})
    if len(norm):
        h = pd.util.hash_pandas_object(norm, index=False).to_numpy(dtype=np.uint64)
        moments = [int(h.sum(dtype=np.uint64)), int((h * h).sum(dtype=np.uint64))]
    else:
        moments = [0, 0]
    blob = json.dumps([cols, tags, len(df), moments])
    return hashlib.sha256(blob.encode()).hexdigest()[:32]


def arrow_digest(table) -> str:
    return digest(table.to_pandas())


def duck_connect(corpus_dir: str, tables: tuple[str, ...]):
    """DuckDB connection with one view per corpus table (file or directory)."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        p = os.path.join(corpus_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def oracle_id(sql: str) -> str:
    """What an oracle digest depends on besides the corpus: the oracle
    SQL and the DuckDB version that runs it."""
    import duckdb

    return hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode()).hexdigest()[:16]


def oracle_digests(cache_path: str, corpus_dir: str, specs: dict, keys: tuple[str, ...], tables) -> dict[str, str]:
    """Digest of each key's DuckDB oracle over ``corpus_dir``, cached in
    ``cache_path`` next to the ``oracle_id`` it was computed with; an
    entry whose oracle SQL or DuckDB version has changed is recomputed.
    Seeds only permute rows, so one cache serves every seed of a
    generator version."""
    cached: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    ids = {k: oracle_id(specs[k].oracle) for k in keys}
    stale = [k for k in keys if not isinstance(cached.get(k), dict) or cached[k].get("oracle_id") != ids[k]]
    if stale:
        con = duck_connect(corpus_dir, tables)
        try:
            for k in stale:
                cached[k] = {"oracle_id": ids[k], "digest": digest(con.execute(specs[k].oracle).df())}
        finally:
            con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return {k: cached[k]["digest"] for k in keys}


def closed_windows_digest(stream_dir: str, oracle_sql: str, watermark_us: int) -> str:
    """Digest of ``b_stream_tumbling``'s oracle over the stream files,
    restricted to the hourly windows the final watermark closed (the
    rows an append-mode sink has emitted)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{stream_dir}/*.parquet')")
        df = con.execute(
            f"SELECT * FROM ({oracle_sql}) WHERE epoch_us(window_start) + 3600000000 <= {watermark_us}"
        ).df()
    finally:
        con.close()
    return digest(df)
