"""Round-14 tests: the r13 VERDICT next-round items — the bucketed
standing-set incremental-dedup twin (C284, VERDICT #1), the
minute-graph PageRank depth twin (C285, VERDICT #2), the pinned-rate
socket-source contract (VERDICT #5), and the r13 ADVICE hardening
(the unconditional dedup-auto audit row, sustained-rate retry).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


class TestDedupIncrementalBucketed:
    def test_equals_plain_incremental(self, spark):
        """C284: the bucketed-layout twin must return exactly the plain
        anti-join's survivors (one shared oracle; the layout is the
        only thing being changed)."""
        from stellarsql_spark.pipeline.dedup import (
            b_llm_dedup_incremental,
            b_llm_dedup_incremental_bucketed,
        )

        want = {
            (r["doc_id"], r["text_hash"], r["n_in_batch"])
            for r in b_llm_dedup_incremental(spark, SF_MED).collect()
        }
        got = {
            (r["doc_id"], r["text_hash"], r["n_in_batch"])
            for r in b_llm_dedup_incremental_bucketed(spark, SF_MED).collect()
        }
        assert got == want and len(got) > 0

    def test_standing_side_has_no_exchange(self, spark):
        """The plan contract the twin exists for: a bucket-aligned
        SortMergeJoin LeftAnti whose ONLY shuffle is the batch's own
        pre-agg — the standing (corpus-sized) side is read bucketed,
        with no Exchange and no Sort above its scan (sorted at rest,
        one file per bucket)."""
        from stellarsql_spark.pipeline.dedup import (
            b_llm_dedup_incremental_bucketed,
        )

        df = b_llm_dedup_incremental_bucketed(spark, SF_MED)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        shuffles = [
            line
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line and "Broadcast" not in line
        ]
        assert len(shuffles) == 1, plan  # the batch pre-agg, nothing else
        assert "text_hash" in shuffles[0], plan
        # the bucketed scan is actually bucket-read (not a plain scan)
        assert "Bucketed: true" in plan, plan

    def test_standing_set_content(self, spark):
        """The artifact holds exactly the standing corpus's distinct
        hashes (doc_id % 3 != 0), bucketed into ≤N one-file buckets."""
        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.pipeline.dedup import (
            N_HASHSET_BUCKETS,
            ensure_standing_hashset_bucketed,
        )

        name = ensure_standing_hashset_bucketed(spark, SF_MED)
        got = {r["text_hash"] for r in spark.table(name).collect()}
        want = {
            r["text_hash"]
            for r in load_table(spark, SF_MED, "documents")
            .where(F.col("doc_id") % 3 != 0)
            .select(F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"))
            .distinct()
            .collect()
        }
        assert got == want
        from urllib.parse import urlparse

        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        files = [
            f
            for f in os.listdir(os.path.join(warehouse, name))
            if f.endswith(".parquet") or (f.startswith("part-") and not f.endswith(".crc"))
        ]
        assert 1 <= len(files) <= N_HASHSET_BUCKETS


class TestPagerankMinute:
    def test_matches_brute_force_fixed_point(self, spark):
        """C285: the minute-graph PageRank must equal a driver-side
        brute-force replay of the same integer fixed point — an
        engine-independent third check beside the DuckDB oracle."""
        from stellarsql_spark.operators.graph import (
            PR_MINUTE_ROUNDS,
            _minute_edges,
            b_graph_pagerank_minute,
        )

        edges = [
            (r["u"], r["v"]) for r in _minute_edges(spark, SF_MED).collect()
        ]
        assert edges  # sf0.01's minute graph is non-trivial
        und: dict[int, list[int]] = {}
        for u, v in edges:
            und.setdefault(u, []).append(v)
            und.setdefault(v, []).append(u)
        deg = {n: len(vs) for n, vs in und.items()}
        pr = {n: 1_000_000 for n in und}
        for _ in range(PR_MINUTE_ROUNDS):
            s: dict[int, int] = {}
            for u, vs in und.items():
                c = pr[u] // deg[u]
                for v in vs:
                    s[v] = s.get(v, 0) + c
            pr = {n: 150_000 + (85 * s.get(n, 0)) // 100 for n in und}
        want = sorted(
            ((p, n) for n, p in pr.items()), key=lambda t: (-t[0], t[1])
        )[:20]
        got = [
            (r["rank_micro"], r["user_id"], r["deg"])
            for r in b_graph_pagerank_minute(spark, SF_MED).collect()
        ]
        assert [(p, n) for p, n, _ in got] == want
        assert all(d == deg[n] for _, n, d in got)


class TestPagerankMinuteServed:
    def test_served_equals_plain(self, spark):
        """C287: the served form (fixed point over the maintained edge
        artifact) must return exactly the plain minute-PageRank top-20
        — the standard served-twin equality contract."""
        from stellarsql_spark.operators.graph import (
            b_graph_pagerank_minute,
            b_graph_pagerank_minute_served,
        )

        served = [
            (r["user_id"], r["deg"], r["rank_micro"])
            for r in b_graph_pagerank_minute_served(spark, SF_MED).collect()
        ]
        plain = [
            (r["user_id"], r["deg"], r["rank_micro"])
            for r in b_graph_pagerank_minute(spark, SF_MED).collect()
        ]
        assert served == plain and len(served) == 20


class TestEdgeFold:
    def test_fold_equals_full_and_is_idempotent(self, spark):
        """C286: the three-batch edge fold must equal the one-shot
        full recompute (the oracle pins values; here: membership
        identity + the same root on re-call)."""
        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.operators.graph import (
            _minute_edges,
            b_graph_edges_fold,
            ensure_edge_fold,
        )

        got = {(r["u"], r["v"]) for r in b_graph_edges_fold(spark, SF_MED).collect()}
        want = {(r["u"], r["v"]) for r in _minute_edges(spark, SF_MED).collect()}
        assert got == want and len(got) > 0

        root = ensure_edge_fold(spark, SF_MED)
        memb = spark.read.parquet(os.path.join(root, "memb_b2")).count()
        full_memb = (
            load_table(spark, SF_MED, "events")
            .select("user_id", "event_type", F.date_trunc("minute", "ts"))
            .distinct()
            .count()
        )
        assert memb == full_memb
        # the re-call returns the same root (that it rebuilds nothing
        # is tests/test_artifacts.py::test_second_call_is_noop)
        assert ensure_edge_fold(spark, SF_MED) == root

    def test_fold_crosses_batch_boundaries(self, spark):
        """The certificate's point: an edge whose endpoints' bucket
        memberships arrive in DIFFERENT batches must still be found —
        the fold pairs new members against the STANDING membership,
        not just within-batch.  Witness set: edges ALL of whose shared
        buckets are cross-batch (per-membership first-batch differs) —
        a within-batch-only fold would miss every one of them."""
        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.operators.graph import b_graph_edges_fold

        memb = (
            load_table(spark, SF_MED, "events")
            .groupBy(
                "user_id",
                "event_type",
                F.date_trunc("minute", "ts").alias("m"),
            )
            .agg(F.min(F.col("event_id") % 3).alias("fb"))
        )
        other = memb.select(
            F.col("user_id").alias("other_id"),
            "event_type",
            "m",
            F.col("fb").alias("fb2"),
        )
        cross_only = (
            memb.join(other, ["event_type", "m"])
            .where(F.col("user_id") < F.col("other_id"))
            .groupBy(
                F.col("user_id").alias("u"), F.col("other_id").alias("v")
            )
            .agg(F.max((F.col("fb") == F.col("fb2")).cast("int")).alias("any_same"))
            .where(F.col("any_same") == 0)
        )
        witnesses = {(r["u"], r["v"]) for r in cross_only.collect()}
        assert witnesses, "corpus has no all-cross-batch edge to witness with"
        folded = {
            (r["u"], r["v"]) for r in b_graph_edges_fold(spark, SF_MED).collect()
        }
        assert witnesses <= folded


class TestSustainedSocketRate:
    def test_lag_and_state_bounded_at_pinned_socket_rate(self, spark):
        """r13 VERDICT #5: the push path's ops contract — at a pinned
        20k rows/s (≈half the measured ~42k single-reader ceiling,
        see sustained_socket_drain's docstring for the bottleneck),
        the watermarked aggregate must keep steady-state batch
        durations under the trigger and hold state flat."""
        from stellarsql_spark.streaming.runtime import sustained_socket_drain

        def _lag_ok(rows) -> bool:
            if len(rows) < 8:
                return False
            steady = rows[2:]
            return (
                all(r["duration_ms"] < 1.5 * r["trigger_ms"] for r in steady)
                and steady[-1]["duration_ms"] < steady[-1]["trigger_ms"]
            )

        rows = sustained_socket_drain(
            spark, rows_per_second=20_000, min_batches=10, trigger_ms=1000
        )
        # one retry before failing (the r13-ADVICE load discipline):
        # wall-clock bounds on a shared host can catch a contention
        # wave unrelated to the code
        if not _lag_ok(rows):
            rows = sustained_socket_drain(
                spark, rows_per_second=20_000, min_batches=10, trigger_ms=1000
            )
        assert len(rows) >= 8, rows

        steady = rows[2:]
        # (a) bounded lag at the pinned rate
        assert all(r["duration_ms"] < 1.5 * r["trigger_ms"] for r in steady), steady
        assert steady[-1]["duration_ms"] < steady[-1]["trigger_ms"]
        # (b) the feeder really ran near the pinned rate: total rows /
        # total batches ≈ 20k per 1 s trigger (generous ±50% band —
        # the contract is "sustained", not "exact")
        total = sum(r["input_rows"] for r in steady)
        assert total >= 0.5 * 20_000 * len(steady), steady
        # (c) bounded, plateaued state: ≤ the watermark horizon
        # (~4 window-starts × 3 types + slack), and the LAST batch is
        # not a new maximum — eviction has caught up with arrival.
        # (The connection ramp means early batches can carry fewer
        # rows and advance event time slower, so the plateau lands
        # after mid-run; comparing against mid-run max flaked.)
        assert all(r["state_rows"] <= 15 for r in steady), steady
        assert rows[-1]["state_rows"] <= max(
            r["state_rows"] for r in steady[:-1]
        ), steady


class TestDedupAutoAuditRow:
    def test_audit_row_always_present(self, spark):
        """r13 ADVICE: the verdict must be certified even on a batch
        with zero survivors — one (verdict, -1, '__audit__',
        n_standing) row rides along unconditionally."""
        from stellarsql_spark.pipeline.dedup import b_llm_dedup_auto

        out = b_llm_dedup_auto(spark, SF).collect()
        audit = [r for r in out if r["text_hash"] == "__audit__"]
        assert len(audit) == 1
        assert audit[0]["doc_id"] == -1
        assert audit[0]["verdict"] in ("plain", "bloom")
        assert audit[0]["n_in_batch"] >= 0
