"""Round-13 one-off depth probes (r12 VERDICT #1/#4/#6).

Measures, with the standard per-query engine-paired protocol
(bench._interleaved_times' discipline: warm both engines, alternate
spark/duck back-to-back, min-of-N, pre/post plan floors as the
contention witness):

  --tier ann300    b_llm_ivfpq_served (min-of-7) and the plain
                   b_llm_ivfpq graduated to min-of-5 (its r12 row was
                   min-of-2, below the repo's own discipline), on the
                   300x embeddings replica; the one-off index build
                   cost is reported separately (it is the at-rest
                   build any deployment amortizes).
  --tier ann1000   b_llm_ivfpq_served at the 1000x tier (2M vectors),
                   min-of-5.
  --tier dedup1000 b_llm_dedup_incremental + b_llm_dedup_bloom at the
                   1000x documents tier (5M docs), min-of-5 — the
                   tier where the family's data term dominates
                   (b_llm_dedup_exact reads 0.64-0.94x there) — plus
                   the standing-corpus fold build (ensure_dedup_hashset,
                   3 batch folds) timed one-off and its fold == full
                   recompute row-count identity re-asserted at depth.

One tier per process (memory note: one query family per process at
depth; probe JVMs <= 56g on this 125 GB box).  Emits one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")


def best_of_paired(spark_fn, duck_fn, runs: int) -> tuple[float, float, float]:
    """(spark_min, duck_min, spark_spread) under engine-paired trials."""
    spark_fn()  # warm: plan + codegen + page cache + one-off ensures
    if duck_fn is not None:
        duck_fn()
    s_best, s_worst, d_best = float("inf"), 0.0, float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        spark_fn()
        dt = time.perf_counter() - t0
        s_best, s_worst = min(s_best, dt), max(s_worst, dt)
        if duck_fn is not None:
            t0 = time.perf_counter()
            duck_fn()
            d_best = min(d_best, time.perf_counter() - t0)
    return s_best, d_best, s_worst - s_best


def plan_floors(spark) -> dict:
    from pyspark.sql import functions as F

    def best(fn, runs=3):
        fn()
        b = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            b = min(b, time.perf_counter() - t0)
        return b

    noop = best(lambda: spark.range(1000).count())
    shuffle = best(
        lambda: spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count().count()
    )
    return {"noop": round(noop, 4), "shuffle": round(shuffle, 4)}


def duck_con(sf_dir: str):
    import duckdb

    from stellarsql_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    # Cap DuckDB and give it a spill dir: its default budget is a
    # fraction of TOTAL RAM and ignores the co-resident Spark JVM —
    # the annr300 probe's first attempt OOM-killed the process when
    # the residual-chain recompute stacked on a 48g heap.  With a
    # limit + temp_directory DuckDB spills instead of dying (same
    # class of fix as the 56g-heap rule in the memory notes).
    con.execute(f"SET memory_limit='{os.environ.get('DUCK_MEM', '48GB')}'")
    con.execute("SET temp_directory='/tmp/duckspill'")
    for t in TABLES:
        p = table_path(sf_dir, t)
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tier", required=True,
                    choices=("ann300", "ann1000", "annr300", "annr1000",
                             "dedup1000"))
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from stellarsql_spark.catalog import load_table
    from stellarsql_spark.registry import all_specs
    from stellarsql_spark.scale import ensure_scaled_corpus
    from stellarsql_spark.session import get_spark, tune_for_data_size

    spark = get_spark(f"depth_r13_{args.tier}", cpus=32)
    specs = all_specs()
    out: dict = {"tier": args.tier}

    if args.tier == "ann300":
        d = ensure_scaled_corpus(spark, args.sf, 300)
        keys_runs = [("b_llm_ivfpq_served", 7), ("b_llm_ivfpq", 5)]
        warm_tables = ("embeddings",)
    elif args.tier == "ann1000":
        d = ensure_scaled_corpus(
            spark, args.sf, 1000,
            tables=("lineitem", "orders", "customer", "events",
                    "embeddings", "documents"),
        )
        keys_runs = [("b_llm_ivfpq_served", 5)]
        warm_tables = ("embeddings",)
    elif args.tier == "annr300":
        d = ensure_scaled_corpus(spark, args.sf, 300)
        # min-of-5 (not 7): the duck-side recompute is ~240 s/trial at
        # this depth — the same trade the bench makes at 1000×
        keys_runs = [("b_llm_ivfpq_residual_served", 5)]
        warm_tables = ("embeddings",)
    elif args.tier == "annr1000":
        d = ensure_scaled_corpus(
            spark, args.sf, 1000,
            tables=("lineitem", "orders", "customer", "events",
                    "embeddings", "documents"),
        )
        keys_runs = [("b_llm_ivfpq_residual_served", 5)]
        warm_tables = ("embeddings",)
    else:
        d = ensure_scaled_corpus(
            spark, args.sf, 1000,
            tables=("lineitem", "orders", "customer", "events",
                    "embeddings", "documents"),
        )
        keys_runs = [("b_llm_dedup_incremental", 5), ("b_llm_dedup_bloom", 5)]
        warm_tables = ("documents",)

    tune_for_data_size(spark, d, cpus=32)
    for t in warm_tables:
        out[f"{t}_rows"] = load_table(spark, d, t).count()
    out["floors_pre"] = plan_floors(spark)
    con = duck_con(d)

    if args.tier in ("ann300", "ann1000"):
        # One-off index build, timed separately from the query path —
        # delete any current artifacts first so the number is the real
        # at-rest build, not a fingerprinted no-op.
        import shutil
        from urllib.parse import urlparse

        from stellarsql_spark.pipeline.vectors import ensure_ivfpq_index

        tag = "".join(ch if ch.isalnum() else "_" for ch in d.rstrip("/")).strip("_")
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for prefix in ("pq_", "ivfpq_"):
            shutil.rmtree(os.path.join(warehouse, f"{prefix}{tag}"),
                          ignore_errors=True)
        t0 = time.perf_counter()
        ensure_ivfpq_index(spark, d)
        out["index_build_sec"] = round(time.perf_counter() - t0, 1)

    if args.tier in ("annr300", "annr1000"):
        # time only the RESIDUAL half of the build (codebook training +
        # residual encode + cell-partitioned write) — the shared coarse
        # quantizer artifact is already at rest from the ann tiers,
        # which is exactly how a deployment re-encodes under a new
        # codebook without retraining the quantizer.
        import shutil
        from urllib.parse import urlparse

        from stellarsql_spark.pipeline.vectors import (
            ensure_ivfpq_residual_index,
        )

        tag = "".join(ch if ch.isalnum() else "_" for ch in d.rstrip("/")).strip("_")
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for prefix in ("ivfpqr_",):
            shutil.rmtree(os.path.join(warehouse, f"{prefix}{tag}"),
                          ignore_errors=True)
        t0 = time.perf_counter()
        ensure_ivfpq_residual_index(spark, d)
        out["residual_index_build_sec"] = round(time.perf_counter() - t0, 1)

    if args.tier == "dedup1000":
        import shutil
        from urllib.parse import urlparse

        from stellarsql_spark.pipeline.dedup import ensure_dedup_hashset

        tag = "".join(ch if ch.isalnum() else "_" for ch in d.rstrip("/")).strip("_")
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(warehouse, f"dedup_fold_{tag}"),
                      ignore_errors=True)
        t0 = time.perf_counter()
        root = ensure_dedup_hashset(spark, d)
        out["fold_build_sec"] = round(time.perf_counter() - t0, 1)
        # fold == full recompute at depth: the final standing hash set
        # must equal the corpus's distinct hash set (count identity;
        # the per-row hash identity is the sf0.01 driver gate)
        from pyspark.sql import functions as F

        folded = spark.read.parquet(os.path.join(root, "hashset_b2")).count()
        full = (
            load_table(spark, d, "documents")
            .select(F.md5(F.lower(F.trim(F.col("text")))).alias("h"))
            .distinct()
            .count()
        )
        out["fold_hashes"] = folded
        out["full_hashes"] = full
        out["fold_equals_full"] = folded == full

    results = {}
    for key, runs in keys_runs:
        spec = specs[key]
        df_holder = {}

        def spark_fn(spec=spec, df_holder=df_holder):
            # fresh .count() per call re-executes the full plan (AQE
            # result-stage reuse only affects repeated .collect());
            # the builder is re-invoked once to build the plan, then
            # count() is the timed action — same unit as bench.prepare
            if "df" not in df_holder:
                df_holder["df"] = spec.builder(spark, d)
            return df_holder["df"].count()

        dsql = spec.oracle
        if args.tier.startswith("annr"):
            # Timing-only rewrite (the _COUNT_WRAPPED precedent): pin
            # DuckDB's CTE chain to AS MATERIALIZED.  Without it the
            # planner re-expands the residual chain's shared CTEs into
            # a bushy tree of concurrent 100M-row-estimate windows and
            # spilled past 52 GB of disk at 600k vectors; materialized,
            # the same query runs in ~240 s.  Same rows, same hash —
            # the registered oracle stays byte-stable.
            for cte in ("q AS (", "af AS (", "probe AS (", "rv AS (",
                        "sub AS (", "code_book AS (", "assign AS (",
                        "lut AS ("):
                dsql = dsql.replace(cte, cte.replace("AS (", "AS MATERIALIZED ("))

        def duck_fn(dsql=dsql):
            return con.execute(dsql).fetchall()

        s, dk, spread = best_of_paired(spark_fn, duck_fn, runs)
        results[key] = {
            "spark_sec": round(s, 3),
            "duck_sec": round(dk, 3),
            "ratio": round(s / dk, 2) if dk > 0 else None,
            "spread": round(spread, 3),
            "runs": runs,
        }
        print(f"## {key}: {results[key]}", flush=True)

    out["queries"] = results
    out["floors_post"] = plan_floors(spark)
    out["load_1min"] = round(os.getloadavg()[0], 1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
