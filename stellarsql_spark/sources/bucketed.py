"""Bucketed tables: the shuffle-free fact-fact join (SCALE.md §Joins).

`bucketBy(n, key)` at write time co-locates rows by hash(key) so a
later join on that key needs NO exchange on either side — at 100 TB
this deletes the single most expensive stage of orders⋈lineitem.
Bucketed tables require the session catalog (`saveAsTable`), which
lands in the Spark warehouse directory (pointed at the repo scratch
area).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellarsql_spark.artifacts import artifact_name, materialize
from stellarsql_spark.catalog import load_table
from stellarsql_spark.functions.exact import cents, sql_csum, sql_dsum
from stellarsql_spark.registry import register

N_BUCKETS = 8

# Same result set as b_join_inner (operators/joins.py) — the twin
# measures the layout, not a different query.
_INNER_BUCKETED_ORACLE = f"""
SELECT r_name, n_name, COUNT(*) AS n_orders, {sql_csum("o_totalprice")} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderstatus = 'F'
GROUP BY r_name, n_name
"""

_BUCKETED_ORACLE = f"""
SELECT o_orderstatus, COUNT(*) AS n_items, {sql_dsum("l_extendedprice")} AS gross
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


def write_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Persist orders+lineitem bucketed (and sorted) by order key;
    returns their catalog names."""
    names: dict[str, str] = {}
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        names[t] = _ensure_bucketed_table(
            spark, sf_dir, f"{t}_b", (t,), lambda t=t: load_table(spark, sf_dir, t),
            key, N_BUCKETS, sorted_by=key,
        )
    return names["orders"], names["lineitem"]


def _ensure_bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    inputs: tuple[str, ...],
    source,
    key: str,
    n_buckets: int,
    sorted_by: str | None = None,
) -> str:
    """The one bucketed-table builder: materialize ``source()``
    bucketed by ``key`` as artifact ``name`` and register it in this
    session's catalog; returns the catalog name (the root's name).

    Repartition BY THE BUCKET KEY before the bucketed write:
    DataFrame hash partitioning and bucket-id assignment use the same
    Murmur3 hash mod N, so each writer task holds exactly one bucket's
    rows and emits ONE file — without it, every input partition
    writes a sliver of every bucket (measured at 1000×: 1024 files
    averaging 1.8 MiB for orders, 32 tiny files per bucket task to
    open), and one file per bucket is the only layout where Spark
    trusts the per-bucket sortBy order at read time.

    ``bucketBy`` needs ``saveAsTable``, so the build registers an
    EXTERNAL table over the build directory and drops it again (the
    files stay); the published root is then registered metadata-only
    by ``_recreate_over_location`` — in a fresh session too, where the
    in-memory catalog has forgotten the table but the files persist."""
    table = artifact_name(name, sf_dir)

    def _build(out: str) -> None:
        # a stale entry from an older build of this artifact
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        w = source().repartition(n_buckets, F.col(key)).write.bucketBy(n_buckets, key)
        if sorted_by:
            w = w.sortBy(sorted_by)
        w.mode("overwrite").option("path", out).saveAsTable(table)
        spark.sql(f"DROP TABLE {table}")

    root = materialize(spark, name, sf_dir, inputs, _build)
    if not spark.catalog.tableExists(table):
        _recreate_over_location(spark, table, key, n_buckets, root, sorted_by)
    return table


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    to, tl = write_bucketed(spark, sf_dir)
    # hint("merge"): pin the bucket-aligned SortMergeJoin (no Exchange on
    # either side). On toy data the optimizer would rather broadcast;
    # at scale the shuffle-free SMJ is exactly the plan bucketing buys.
    o, li = spark.table(to).hint("merge"), spark.table(tl)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("gross"),
        )
    )


@register("b_join_bucketed", oracle=_BUCKETED_ORACLE, tags=("join", "bucketed"))
def b_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈lineitem on pre-bucketed tables: SortMergeJoin with no
    Exchange on either side (asserted in tests/test_plans.py)."""
    return bucketed_join(spark, sf_dir)


# --- custkey-bucketed twin of the b_join_inner headline --------------

# 32 buckets = one bucket per local core; at a 1000-executor cluster
# this knob would be sized to total cores (thousands), the same way
# shuffle width is.
N_CK_BUCKETS = 32


def _recreate_over_location(spark: SparkSession, name: str, key: str,
                            n_buckets: int, location: str,
                            sorted_by: str | None = None) -> None:
    """Register a published bucketed directory as a catalog table
    WITHOUT rewriting the data: re-declaring the same CLUSTERED BY
    (and SORTED BY, when the writer sortBy'd) spec over the same files
    restores the bucket metadata — at a GiB-scale corpus this turns a
    per-session multi-GiB rewrite into a metadata-only CREATE.  The
    column list is read from the files' own footer."""
    schema = spark.read.parquet(location).schema
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    sort_clause = f"SORTED BY ({sorted_by}) " if sorted_by else ""
    spark.sql(
        f"CREATE TABLE {name} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({key}) {sort_clause}INTO {n_buckets} BUCKETS "
        f"LOCATION '{location}'"
    )


def ensure_custkey_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """orders bucketed by o_custkey + customer bucketed by c_custkey
    (same bucket count → co-partitioned at rest); returns their
    catalog names.  One file per bucket (see _ensure_bucketed_table):
    the r11 A/B on the same corpus (engine-interleaved min-of-7) cut
    the headline bucketed join from 2.17× to 1.82× DuckDB with it.
    At warehouse scale this is also the small-files rule every lake
    enforces at ingest."""
    names: dict[str, str] = {}
    for t, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        names[t] = _ensure_bucketed_table(
            spark, sf_dir, f"{t}_ck", (t,), lambda t=t: load_table(spark, sf_dir, t),
            key, N_CK_BUCKETS,
        )
    return names["orders"], names["customer"]


@register("b_join_inner_bucketed", oracle=_INNER_BUCKETED_ORACLE,
          tags=("join", "bucketed"))
def b_join_inner_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The b_join_inner headline on the bucketed-at-rest layout: same
    result set, ZERO fact-side exchanges.

    b_join_inner's plan is already exchange-minimal, but its two
    fact-side exchanges (pre-agg repartition on o_custkey + the
    customer shuffle-hash join) are the whole remaining gap vs an
    embedded engine at the 300× tier (VERDICT r6: 3.1×). At 100 TB
    the honest answer is the LAYOUT: a warehouse keeps its fact
    tables bucketed on the dominant join key, so the exchange never
    happens at query time. With orders and customer co-bucketed on
    custkey (hash(key) mod N at rest), the orders⋈customer join is a
    co-partitioned ShuffledHashJoin with NO Exchange on either side —
    the only shuffle left in the whole plan is the 25-row final
    rollup (asserted in tests/test_round7.py). The DuckDB oracle
    reads the ordinary un-bucketed parquet: the layout IS the
    Spark-side optimization being measured.

    r10 measured change: the plain form's custkey PRE-aggregation is
    dropped here.  That rewrite exists to slim the plain form's
    EXCHANGE (fact rows → |customer| partials before the shuffle);
    on the bucketed layout there is no fact exchange to slim, so the
    |customer|-cardinality hash aggregate was pure overhead ahead of
    a join whose probe work it barely reduced — A/B at 1000×:
    pre-agg-first 2.38 s vs direct 1.84 s; at 300×: 1.62 vs 1.24 s.
    The 25-group final aggregate collapses map-side regardless.  The
    general rule (now applied in both directions): eager aggregation
    is an EXCHANGE optimization, not a join optimization — apply it
    exactly when it feeds a shuffle."""
    to, tc = ensure_custkey_bucketed(spark, sf_dir)
    o = (
        spark.table(to)
        .where(F.col("o_orderstatus") == "F")
        .select("o_custkey", cents("o_totalprice").alias("cts"))
    )
    c = spark.table(tc).select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum("cts") / 100.0).cast("double").alias("revenue"),
        )
    )


# --- served twin of the b_join_inner headline (C254) -----------------

def ensure_join_rollup(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the serving artifacts of the b_join_inner headline,
    the same lineage step that closed the tumbling family
    (events_layout.ensure_hourly_rollup):

    ``<warehouse>/join_rollup_<tag>/preagg/``  the custkey-level pre-agg
        (o_custkey, n_orders_p, rev_p) over status-'F' orders — the
        eager-aggregation intermediate b_join_inner computes per
        query, landed at rest.  This is the DELTA-MAINTAINABLE level:
        new order batches fold in with a SUM-of-partials re-aggregate
        and no dim join (b_ts_rollup_incremental's merge pattern /
        b_merge_ivm's refresh), which is why the pipeline maintains
        custkey granularity rather than only the final 25 rows.
    ``.../rollup/``  the 25-row nationkey rollup derived from it
        (preagg ⋈ slim customer map → SUM), re-derived whenever the
        pre-agg changes — dashboards read THIS.
    ``.../names/``  the 25-row conformed name dim (n_nationkey,
        n_name, r_name) = nation ⋈ region.

    All three parts live under one artifact root, so one rename
    publishes them together.  Returns (rollup_dir, names_dir)."""

    def _build(out: str) -> None:
        preagg_dir, rollup_dir, names_dir = (
            os.path.join(out, p) for p in ("preagg", "rollup", "names")
        )
        o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
        (
            o.select("o_custkey", cents("o_totalprice").alias("cts"))
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders_p"), F.sum("cts").alias("rev_p"))
            .write.mode("overwrite")
            .parquet(preagg_dir)
        )
        c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        (
            spark.read.parquet(preagg_dir)
            .join(c.hint("shuffle_hash"), F.col("o_custkey") == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(
                F.sum("n_orders_p").cast("bigint").alias("n_orders"),
                F.sum("rev_p").cast("bigint").alias("rev_cts"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(rollup_dir)
        )
        n = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
        (
            n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .select("n_nationkey", "n_name", "r_name")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(names_dir)
        )

    # the rollup depends on facts AND the dims that map/name keys
    root = materialize(
        spark, "join_rollup", sf_dir, ("orders", "customer", "nation", "region"), _build
    )
    return os.path.join(root, "rollup"), os.path.join(root, "names")


@register("b_join_inner_served", oracle=_INNER_BUCKETED_ORACLE,
          tags=("join", "served"))
def b_join_inner_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C254: the SERVED form of the join headline — read the maintained
    25-row nationkey rollup instead of re-joining facts, completing
    the plain → bucketed → served lineage exactly as the tumbling
    family did (r8 VERDICT next-round #3).  Same result contract as
    b_join_inner and its bucketed twin (one shared oracle); equality
    across all three forms is the test contract
    (tests/test_round9.py).

    At 100 TB: the custkey pre-agg is maintained incrementally from
    order deltas (SUM-of-partials, no dim join —
    b_ts_rollup_incremental's pattern), the 25-row nation rollup is
    re-derived from it, and every dashboard query costs O(nations) —
    a 25-row scan plus a 25-row broadcast name join — not O(orders).
    The DuckDB oracle still re-joins the raw parquet: the maintained
    rollup IS the Spark-side serving architecture being measured,
    same contract as the tumbling served twin.

    Scale shape: two 25-row scans, one broadcast hash join, zero
    data-sized anything at query time."""
    rollup_dir, names_dir = ensure_join_rollup(spark, sf_dir)
    s2 = spark.newSession()
    # same session shape as the tumbling served twin: every input is
    # ≤25 rows, so AQE re-planning and 32-way shuffles are pure floor
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "1")
    ru = s2.read.parquet(rollup_dir)
    nm = s2.read.parquet(names_dir)
    return (
        ru.join(F.broadcast(nm), ru.c_nationkey == nm.n_nationkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            (F.sum("rev_cts") / 100.0).cast("double").alias("revenue"),
        )
    )


def ensure_pricing_rollup(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the serving artifact of the b_agg_groupby flagship —
    the last headline shape without a served twin (r9 VERDICT
    next-round #4):

    ``<warehouse>/pricing_day_rollup_<tag>/``  the (l_shipdate,
        l_returnflag, l_linestatus)-level partial aggregate of every
        Q1 measure as exact scaled-integer BIGINT sums plus the
        per-measure counts.  ~|days|x6 rows (~15k at any SF) — the
        DELTA-MAINTAINABLE level: a new lineitem batch folds in with
        a SUM-of-partials re-aggregate keyed on its own days (C81
        b_ts_rollup_incremental's merge pattern), and keeping the day
        key means ANY shipdate cutoff filter stays answerable at
        serving time.  The rollup keys on the raw l_shipdate value
        (observed midnight-aligned; keying on the value rather than a
        truncation keeps the cutoff comparison exact by construction
        even if a corpus ever carried intraday times)."""

    def _build(out: str) -> None:
        li = load_table(spark, sf_dir, "lineitem")
        ep, dc, tx, qt = (
            cents(c)
            for c in ("l_extendedprice", "l_discount", "l_tax", "l_quantity")
        )
        (
            li.groupBy("l_shipdate", "l_returnflag", "l_linestatus")
            .agg(
                F.sum(qt).alias("qt_s"),
                F.sum(ep).alias("ep_s"),
                F.sum(ep * (100 - dc)).alias("dp_s"),
                F.sum(ep * (100 - dc) * (100 + tx)).alias("ch_s"),
                F.sum(dc).alias("dc_s"),
                F.count("l_quantity").alias("n_qt"),
                F.count("l_extendedprice").alias("n_ep"),
                F.count("l_discount").alias("n_dc"),
                F.count("*").alias("n_rows"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(out)
        )

    return materialize(spark, "pricing_day_rollup", sf_dir, ("lineitem",), _build)


from stellarsql_spark.operators.aggregates import PRICING_SUMMARY_ORACLE


@register(
    "b_agg_groupby_served",
    oracle=PRICING_SUMMARY_ORACLE,
    tags=("agg", "served", "flagship"),
)
def b_agg_groupby_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C257: the SERVED form of the groupby flagship — read the
    maintained (day, flag, status) pricing rollup and re-aggregate
    ~15k partial rows instead of re-scanning lineitem, completing the
    plain -> served lineage for the last headline shape without one
    (r9 VERDICT next-round #4).  Same result contract as
    b_agg_groupby: identical exact scaled-integer arithmetic (BIGINT
    SUM-of-partials distributes over the day partition; the final
    double conversions are the same expressions), so the shared
    PRICING_SUMMARY_ORACLE covers it and plain==served equality is a
    test contract (tests/test_round10.py).

    At 100 TB: the day-level rollup is maintained incrementally from
    lineitem deltas (SUM-of-partials keyed on the delta's days —
    b_ts_rollup_incremental's merge), and the dashboard query costs
    O(days x groups), not O(line items).  The shipdate cutoff stays a
    serving-time parameter because the rollup keeps the day key.

    Scale shape: one ~15k-row scan, one 6-row aggregate, zero
    data-sized anything at query time."""
    from stellarsql_spark.functions.exact import require_ansi

    require_ansi(spark)
    rollup_dir = ensure_pricing_rollup(spark, sf_dir)
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "1")
    s2.conf.set("spark.sql.ansi.enabled", "true")
    ru = s2.read.parquet(rollup_dir)
    return (
        ru.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum("qt_s") / 100.0).cast("double").alias("sum_qty"),
            (F.sum("ep_s") / 100.0).cast("double").alias("sum_base_price"),
            (F.sum("dp_s") / 10000.0).cast("double").alias("sum_disc_price"),
            (F.sum("ch_s") / 1000000.0).cast("double").alias("sum_charge"),
            ((F.sum("qt_s") / 100.0).cast("double") / F.sum("n_qt"))
            .cast("double")
            .alias("avg_qty"),
            ((F.sum("ep_s") / 100.0).cast("double") / F.sum("n_ep"))
            .cast("double")
            .alias("avg_price"),
            ((F.sum("dc_s") / 100.0).cast("double") / F.sum("n_dc"))
            .cast("double")
            .alias("avg_disc"),
            F.sum("n_rows").cast("bigint").alias("count_order"),
        )
    )


# --- bucketed twin of the b_topk_per_group headline (C267) ------------

from stellarsql_spark.operators.sorts import _B30_ORACLE  # noqa: E402


@register("b_topk_per_group_bucketed", oracle=_B30_ORACLE,
          tags=("sort", "topk", "bucketed"))
def b_topk_per_group_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The b_topk_per_group headline on the custkey-bucketed layout:
    same result set, ZERO exchanges anywhere in the plan.

    The plain form's one expensive stage is its shuffle: collect_list
    partials don't reduce (lists concatenate), so the exchange carries
    every fact row — the r11 depth probe measured 2.91×/2.69× DuckDB
    at 300×/1000× on exactly that exchange. On the custkey-bucketed
    orders table the groupBy(o_custkey) distribution is satisfied AT
    REST, the per-group micro-sorts run inside the scan stage, and the
    post-limit customer join is co-partitioned (same bucket spec) —
    no Exchange anywhere (asserted in tests/test_round11.py). Same
    lineage step the join family took (plain → bucketed → served);
    reuses ensure_custkey_bucketed's artifact, so the bench tier adds
    no one-off build.

    r14 optimization: shares the plain headline's PACKED-long list
    element (operators.sorts.topk3_packed — encoding + bounds in
    _PK_MASK's block comment) with repartition_key=False: the bucket
    layout satisfies the groupBy distribution at rest, so the kernel
    change keeps the zero-exchange plan and only cheapens the in-scan
    collect_list + micro-sort (primitive long compares instead of
    struct ordering; the packed-only leg of the 300× A/B measured
    −9% on exactly this kernel)."""
    from stellarsql_spark.operators.sorts import topk3_packed

    to, tc = ensure_custkey_bucketed(spark, sf_dir)
    o = spark.table(to)
    c = spark.table(tc)
    return topk3_packed(o, c, repartition_key=False)


# --- served twin of the b_topk_per_group headline (C271) ---------------

def ensure_topk_rollup(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the per-customer top-3 artifact the topk headline
    computes per query — the serving step that completes the topk
    family's plain → bucketed → served lineage.

    The artifact stores the FINAL result grain (c_custkey, o_orderkey,
    o_totalprice, rn ≤ 3): unlike the 25-row join rollup, the result
    here is customer-sized, so the serving win is not a smaller row
    count but deleting the fact-sized collect_list exchange and the
    per-group micro-sorts from every read.  It is delta-maintainable
    because bounded top-k is a MERGEABLE summary:
    top3(merge(top3(A), top3(B))) == top3(A ∪ B) — new order batches
    fold in at ≤3 rows per touched customer (certified in
    tests/test_round11.py::TestTopkServed::test_merge_property)."""
    from stellarsql_spark.operators.sorts import b_topk_per_group

    # The fingerprint covers the topk kernel's code (operators.sorts),
    # so an artifact built by an older kernel is never served.
    def _build(out: str) -> None:
        b_topk_per_group(spark, sf_dir).write.mode("overwrite").parquet(out)

    return materialize(spark, "topk3_custkey", sf_dir, ("orders", "customer"), _build)


@register("b_topk_per_group_served", oracle=_B30_ORACLE,
          tags=("sort", "topk", "served"))
def b_topk_per_group_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C271: the SERVED form of the topk headline — read the maintained
    per-customer top-3 artifact instead of re-aggregating the fact
    table. All three headline families plus topk now ship the full
    plain → bucketed/layout → served lineage.

    At 100 TB: the artifact is maintained incrementally (top-k is a
    mergeable summary — see ensure_topk_rollup), each refresh touches
    ≤3 rows per customer seen in the delta, and every read costs one
    column-pruned artifact scan — never the fact-sized collect_list
    exchange. The DuckDB oracle still windows the raw parquet: the
    maintained artifact IS the serving architecture being measured,
    the same contract as the other served twins."""
    out_dir = ensure_topk_rollup(spark, sf_dir)
    return spark.read.parquet(out_dir).select(
        "c_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rn")
    )
