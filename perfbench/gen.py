"""Seeded input generator for the end-to-end benchmark.

The corpus has the schemas, row counts and value ranges of the engine's
sf0.1 test corpus (the ten tables in ``stellarsql_spark.catalog.TABLES``)
and is synthesised by DuckDB from hash-derived pseudo-random values, so
the benchmark needs no input outside its own checkout.

Content is fixed by ``GEN_VERSION`` alone; ``--seed`` only permutes
row order (every table, and the rows inside each stream file).  So every
seed has the same oracle digests and does the same work, while the
physical row order the engine scans differs from seed to seed.

Layouts:
- ``base``: one parquet file per table with a single row group, like the
  sf0.1 corpus the engine's bench reads.
- ``x10``: ten replicas of ``base`` with disjoint key spaces (each
  replica's keys shifted by ``r * STRIDE``) and document text tagged
  per replica, so the exact-duplicate share stays that of ``base``.
  Each replicated table is a directory of one single-row-group file per
  replica; rows are permuted inside each file.
- ``stream``: the ``base`` events sorted by ``(ts, event_id)`` and cut
  into ``STREAM_COLD_FILES + STREAM_STEADY_FILES`` equal files, one
  micro-batch each: the first ones in ``cold/``, the rest in ``steady/``.

Outputs are cached under ``<root>/<GEN_VERSION>/`` keyed by
seed; a completed corpus carries a ``_DONE`` marker with its
generation time and table sizes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

GEN_VERSION = "g8"
STRIDE = 10_000_000  # replica key shift; > any base key, x10 keys < 2^34
FACTOR = 10
STREAM_COLD_FILES = 2  # drained once, on a fresh JVM
STREAM_STEADY_FILES = 3  # drained repeatedly, one fresh query each time

# Size thresholds the engine's choosers key on; the x10 corpus must stay
# below all three so its plans match the base corpus's.
THRESHOLDS = {
    "q3_preagg_lineitem_bytes": ("lineitem", 128 << 20),
    "topk_customer_bytes": ("customer", 10 << 20),
    "tune_tier_corpus_bytes": (None, 256 << 20),
}

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# id columns shifted per replica (region and nation are fixed dimensions)
SHIFT_COLS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

N = {
    "supplier": 1_000, "customer": 15_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}

VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()

# u(k): uniform [0, 1) from the hash of row index i and a per-column salt k
_U = "((hash(i * 1009 + {k}) % 1000000007) / 1000000007.0)"


def _u(k: int) -> str:
    return _U.format(k=k)


def _pick(values: list[str], k: int) -> str:
    lit = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{lit}[1 + floor({_u(k)} * {len(values)})::INT]"


def _base_sql() -> dict[str, str]:
    days_o = 2404  # 1995-01-01 .. 2001-08-01
    days_l = 2498  # 1995-01-02 .. 2001-11-04
    span_us = 30 * 86_400 * 1_000_000
    words = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    return {
        "region": "SELECT i::INT AS r_regionkey, "
        "['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name FROM range(5) t(i)",
        "nation": "SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INT AS n_regionkey "
        "FROM range(25) t(i)",
        "supplier": f"SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
        f"floor({_u(1)} * 25)::INT AS s_nationkey, "
        f"round(-999.99 + floor({_u(2)} * 1099000) / 100.0, 2)::DOUBLE AS s_acctbal "
        f"FROM range({N['supplier']}) t(i)",
        "customer": f"SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
        f"floor({_u(1)} * 25)::INT AS c_nationkey, "
        f"round(-999.99 + floor({_u(2)} * 1099000) / 100.0, 2)::DOUBLE AS c_acctbal, "
        f"{_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 3)} AS c_mktsegment "
        f"FROM range({N['customer']}) t(i)",
        "part": f"SELECT i::BIGINT AS p_partkey, "
        f"{_pick(['blue', 'red', 'small', 'large', 'hot', 'cold', 'green', 'steel'], 1)} || ' ' || "
        f"{_pick(['anvil', 'ring', 'bolt', 'widget', 'gear', 'spring', 'valve', 'nut'], 2)} AS p_name, "
        f"'Brand#' || (1 + floor({_u(3)} * 25)::INT) AS p_brand, "
        f"{_pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], 4)} AS p_type, "
        f"(1 + floor({_u(5)} * 50))::INT AS p_size, "
        f"round(900 + (i % 1000) / 10.0, 1)::DOUBLE AS p_retailprice "
        f"FROM range({N['part']}) t(i)",
        "orders": f"SELECT i::BIGINT AS o_orderkey, floor({_u(1)} * {N['customer']})::BIGINT AS o_custkey, "
        f"{_pick(['F', 'O', 'P'], 2)} AS o_orderstatus, "
        f"round(1000 + floor({_u(3)} * 49900000) / 100.0, 2)::DOUBLE AS o_totalprice, "
        f"TIMESTAMP '1995-01-01' + to_days(floor({_u(4)} * {days_o + 1})::INT) AS o_orderdate, "
        f"{_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 5)} AS o_orderpriority "
        f"FROM range({N['orders']}) t(i)",
        "lineitem": f"SELECT floor({_u(1)} * {N['orders']})::BIGINT AS l_orderkey, "
        f"floor({_u(2)} * {N['part']})::BIGINT AS l_partkey, "
        f"floor({_u(3)} * {N['supplier']})::BIGINT AS l_suppkey, "
        f"(1 + floor({_u(4)} * 7))::INT AS l_linenumber, "
        f"(1 + floor({_u(5)} * 50))::DOUBLE AS l_quantity, "
        f"round(900 + floor({_u(6)} * 10410000) / 100.0, 2)::DOUBLE AS l_extendedprice, "
        f"(floor({_u(7)} * 11) / 100.0)::DOUBLE AS l_discount, "
        f"(floor({_u(8)} * 9) / 100.0)::DOUBLE AS l_tax, "
        f"{_pick(['A', 'N', 'R'], 9)} AS l_returnflag, {_pick(['F', 'O'], 10)} AS l_linestatus, "
        f"TIMESTAMP '1995-01-02' + to_days(floor({_u(11)} * {days_l + 1})::INT) AS l_shipdate "
        f"FROM range({N['lineitem']}) t(i)",
        # ts rises with event_id: row i falls in slot i of the 30-day span
        "events": f"SELECT i::BIGINT AS event_id, "
        f"make_timestamp(1704067200000000 + floor((i + {_u(1)}) * {span_us // N['events']})::BIGINT) AS ts, "
        f"floor({_u(2)} * 1500)::BIGINT AS user_id, "
        f"{_pick(['click', 'error', 'purchase', 'signup', 'view'], 3)} AS event_type, "
        f"round(-ln(1 - {_u(4)}) * 50, 2)::DOUBLE AS value, "
        f"'{{\"k\": ' || floor({_u(5)} * 100)::INT || '}}' AS props "
        f"FROM range({N['events']}) t(i)",
        # ~5% near-duplicates: another document's text plus a 'dup' token
        "documents": f"WITH n AS (SELECT i, 10 + floor({_u(1)} * 91)::INT AS nw, {_u(2)} < 0.05 AS is_dup, "
        f"floor({_u(3)} * {N['documents']})::BIGINT AS src FROM range({N['documents']}) t(i)), "
        f"b AS (SELECT n.i, any_value(n.is_dup) AS is_dup, any_value(n.src) AS src, "
        f"string_agg({words}[1 + (hash(n.i * 7919 + j * 31 + 17) % {len(VOCAB)})::INT], ' ' ORDER BY j) AS t0 "
        f"FROM n, range(100) w(j) WHERE j < n.nw GROUP BY n.i), "
        f"d AS (SELECT b.i, CASE WHEN b.is_dup THEN s.t0 || ' dup' ELSE b.t0 END AS text "
        f"FROM b JOIN b s ON s.i = b.src) "
        f"SELECT i::BIGINT AS doc_id, text, "
        f"CASE WHEN {_u(4)} < 0.41 THEN 'en' ELSE {_pick(['de', 'es', 'fr', 'zh'], 5)} END AS lang, "
        f"'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars FROM d",
        # unit-norm 64-d vectors from Box-Muller normals
        "embeddings": f"WITH g AS (SELECT i, list_transform(range(64), j -> "
        f"sqrt(-2 * ln(1 - ((hash(i * 4099 + j * 2 + 1) % 1000000007) / 1000000007.0))) * "
        f"cos(2 * pi() * ((hash(i * 4099 + j * 2 + 2) % 1000000007) / 1000000007.0))) AS v "
        f"FROM range({N['embeddings']}) t(i)) "
        f"SELECT i::BIGINT AS vec_id, "
        f"list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding, "
        f"floor({_u(1)} * 10)::INT AS label FROM g",
    }


def _shuffled(con, sql: str, seed: int):
    """Arrow table of ``sql`` in a seed-determined row order (a hash of
    each whole row and the seed, so the order never depends on threads)."""
    return con.execute(
        f"SELECT * EXCLUDE (_k) FROM (SELECT *, hash(q, {seed}) AS _k FROM ({sql}) q) ORDER BY _k"
    ).arrow()


def _permuted(table, seed: int, part: int):
    """``table`` in a row order drawn from ``(seed, part)``."""
    import numpy as np

    rng = np.random.default_rng([seed, part])
    return table.take(rng.permutation(table.num_rows))


def replica(table, name: str, r: int):
    """Replica ``r`` of one base table: id columns shifted by ``r * STRIDE``
    and, for documents, a per-replica token that keeps exact duplicates
    inside their own replica."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if r == 0:
        return table
    cols = {c: table[c] for c in table.column_names}
    for c in SHIFT_COLS.get(name, ()):
        cols[c] = pc.add(table[c], pa.scalar(r * STRIDE, table[c].type))
    if name == "documents":
        tag = f" rep{r}"
        cols["text"] = pc.binary_join_element_wise(table["text"], pa.scalar(tag), "")
        cols["n_chars"] = pc.add(table["n_chars"], pa.scalar(len(tag), pa.int64()))
    return pa.table(cols, schema=table.schema)


def _write(table, path: str) -> None:
    import pyarrow.parquet as pq

    # one row group per file, like the sf0.1 corpus files
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def _dir_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return os.path.getsize(path)


def _generate_base(out: str, seed: int) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        sql = _base_sql()
        for t in TABLES:
            _write(_shuffled(con, sql[t], seed), os.path.join(out, f"{t}.parquet"))
    finally:
        con.close()


def _generate_x10(out: str, base: str, seed: int) -> None:
    import pyarrow.parquet as pq

    for t in TABLES:
        src = pq.read_table(os.path.join(base, f"{t}.parquet"))
        if t not in SHIFT_COLS:
            _write(src, os.path.join(out, f"{t}.parquet"))
            continue
        d = os.path.join(out, f"{t}.parquet")
        os.makedirs(d)
        for r in range(FACTOR):
            _write(_permuted(replica(src, t, r), seed, r), os.path.join(d, f"part-{r:05d}.parquet"))


def _generate_stream(out: str, base: str, seed: int) -> None:
    """Time order across files (the watermark needs it), seeded order
    inside each file."""
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(base, "events.parquet"))
    ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n_files = STREAM_COLD_FILES + STREAM_STEADY_FILES
    step = math.ceil(ev.num_rows / n_files)
    for f in range(n_files):
        d = os.path.join(out, "cold" if f < STREAM_COLD_FILES else "steady")
        os.makedirs(d, exist_ok=True)
        _write(_permuted(ev.slice(f * step, step), seed, f), os.path.join(d, f"part-{f:05d}.parquet"))


def build(root: str, layout: str, seed: int) -> str:
    """Build (or reuse) one corpus; returns its directory.

    ``layout`` is ``base``, ``x10`` or ``stream`` (the ``base`` events as
    time-ordered micro-batch files)."""
    out = os.path.join(root, GEN_VERSION, f"{layout}_s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    if layout not in ("base", "x10", "stream"):
        raise ValueError(f"unknown layout {layout!r}")
    base = None if layout == "base" else build(root, "base", seed)
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    if layout == "base":
        _generate_base(tmp, seed)
    elif layout == "x10":
        _generate_x10(tmp, base, seed)
    else:
        _generate_stream(tmp, base, seed)
    meta = {"gen_s": time.perf_counter() - t0, "bytes": {}}
    if layout != "stream":
        meta["bytes"] = {t: _dir_bytes(os.path.join(tmp, f"{t}.parquet")) for t in TABLES}
        meta["thresholds"] = check_thresholds(meta["bytes"])
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, out)
    return out


def check_thresholds(sizes: dict[str, int]) -> dict[str, dict]:
    """Each chooser threshold next to the size it is compared with."""
    out = {}
    for name, (table, limit) in THRESHOLDS.items():
        size = sizes[table] if table else sum(sizes.values())
        out[name] = {"bytes": size, "limit": limit, "below": size < limit}
    return out


def info(corpus_dir: str) -> dict:
    with open(os.path.join(corpus_dir, "_DONE")) as f:
        return json.load(f)


def prune(root: str, keep_seed: int) -> None:
    """Drop cached corpora of other seeds and generator versions, so the
    cache holds one seed's inputs at a time."""
    if not os.path.isdir(root):
        return
    for ver in os.listdir(root):
        vdir = os.path.join(root, ver)
        if not os.path.isdir(vdir):
            continue
        if ver != GEN_VERSION:
            shutil.rmtree(vdir, ignore_errors=True)
            continue
        for d in os.listdir(vdir):
            if "_s" in d and not d.endswith(f"_s{keep_seed}") and not d.startswith("oracle"):
                shutil.rmtree(os.path.join(vdir, d), ignore_errors=True)
