"""Round-13 tests: the r12 VERDICT next-round items — the served
IVF-PQ index (C281), the audit-dispatched dedup chooser (C282), the
sustained-rate streaming throughput contract (#7), and the r12 ADVICE
hardening (published-artifact validation, serialized bucketed builds).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"


class TestIvfpqServed:
    def test_served_equals_plain_minus_annotation(self, spark):
        """C281: the served form (centroids + cell-partitioned codes +
        codebook read from the at-rest index) must return exactly the
        composed IVF-PQ ranking minus the recall-annotation column."""
        from stellarsql_spark.pipeline.vectors import (
            b_llm_ivfpq,
            b_llm_ivfpq_served,
        )

        served = {
            (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rn"])
            for r in b_llm_ivfpq_served(spark, SF_MED).collect()
        }
        plain = {
            (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rn"])
            for r in b_llm_ivfpq(spark, SF_MED).collect()
        }
        assert served == plain and len(served) == 50

    def test_index_is_cell_partitioned_and_idempotent(self, spark):
        """The codes artifact must be laid out as one directory per
        IVF cell (the inverted lists — what partition pruning reads),
        and re-calling the build must return the same index."""
        from stellarsql_spark.pipeline.vectors import (
            K_COARSE,
            ensure_ivfpq_index,
        )

        cents_dir, codes_dir, _ = ensure_ivfpq_index(spark, SF_MED)
        cells = sorted(
            d for d in os.listdir(codes_dir) if d.startswith("cell=")
        )
        assert 1 <= len(cells) <= K_COARSE
        # the re-call returns the same index (that it rebuilds nothing
        # is tests/test_artifacts.py::test_second_call_is_noop)
        assert ensure_ivfpq_index(spark, SF_MED)[:2] == (cents_dir, codes_dir)

    def test_deleted_companion_triggers_rebuild(self, spark):
        """r12 ADVICE: the marker lives in the codes dir but vouches
        for the centroids too — deleting the centroid artifact alone
        must trigger a rebuild, not serve a missing directory."""
        from stellarsql_spark.pipeline.vectors import ensure_ivfpq_index

        cents_dir, codes_dir, _ = ensure_ivfpq_index(spark, SF_MED)
        shutil.rmtree(cents_dir)
        cents_dir2, _, _ = ensure_ivfpq_index(spark, SF_MED)
        assert cents_dir2 == cents_dir
        assert os.path.exists(os.path.join(cents_dir, "_SUCCESS"))

    def test_deleted_pq_codebook_triggers_rebuild(self, spark):
        """Same for C280's artifacts: ensure_pq_codes' marker is in
        codes_dir; deleting the companion codebook dir must rebuild."""
        from stellarsql_spark.pipeline.vectors import ensure_pq_codes

        _, cb_dir = ensure_pq_codes(spark, SF_MED)
        shutil.rmtree(cb_dir)
        _, cb_dir2 = ensure_pq_codes(spark, SF_MED)
        assert cb_dir2 == cb_dir
        assert os.path.exists(os.path.join(cb_dir, "_SUCCESS"))


class TestDedupAuto:
    def test_small_standing_set_dispatches_plain(self, spark):
        """C282 through the key: at sf0.01 the standing set is 333
        hashes — under the pinned broadcast crossover, so the chooser
        must pick 'plain' and return exactly C269's survivors."""
        from stellarsql_spark.pipeline.dedup import (
            b_llm_dedup_auto,
            b_llm_dedup_incremental,
        )

        out = b_llm_dedup_auto(spark, SF_MED).collect()
        assert out and all(r["verdict"] == "plain" for r in out)
        # the unconditional audit row (r13 ADVICE) pins the audited
        # standing-set count beside the verdict
        audit = [r for r in out if r["text_hash"] == "__audit__"]
        assert len(audit) == 1 and audit[0]["doc_id"] == -1
        assert audit[0]["n_in_batch"] == 333
        want = {
            (r["doc_id"], r["text_hash"], r["n_in_batch"])
            for r in b_llm_dedup_incremental(spark, SF_MED).collect()
        }
        got = {
            (r["doc_id"], r["text_hash"], r["n_in_batch"])
            for r in out
            if r["text_hash"] != "__audit__"
        }
        assert got == want

    def test_large_standing_set_dispatches_bloom(self, spark):
        """C282 through the key: at sf0.1 the standing set is 3330
        hashes — past the crossover, so the chooser must pick 'bloom'
        and the Bloom lane must still equal the plain survivors (the
        prefilter only ever short-circuits definite-new rows)."""
        from stellarsql_spark.pipeline.dedup import (
            b_llm_dedup_auto,
            b_llm_dedup_incremental,
        )

        out = b_llm_dedup_auto(spark, SF_BIG).collect()
        assert out and all(r["verdict"] == "bloom" for r in out)
        audit = [r for r in out if r["text_hash"] == "__audit__"]
        assert len(audit) == 1 and audit[0]["n_in_batch"] == 3330
        want = {
            (r["doc_id"], r["text_hash"], r["n_in_batch"])
            for r in b_llm_dedup_incremental(spark, SF_BIG).collect()
        }
        got = {
            (r["doc_id"], r["text_hash"], r["n_in_batch"])
            for r in out
            if r["text_hash"] != "__audit__"
        }
        assert got == want

    def test_decision_rule(self):
        from stellarsql_spark.pipeline.dedup import (
            DEDUP_BLOOM_CROSSOVER,
            choose_dedup_strategy,
        )

        assert choose_dedup_strategy(0) == "plain"
        assert choose_dedup_strategy(DEDUP_BLOOM_CROSSOVER) == "plain"
        assert choose_dedup_strategy(DEDUP_BLOOM_CROSSOVER + 1) == "bloom"


class TestSustainedRate:
    def test_lag_and_state_bounded_across_batches(self, spark):
        """r12 VERDICT #7: the ops contract at 100 TB is lag, not
        drain correctness — at a pinned input rate the watermarked
        aggregate must (a) keep every steady-state batch duration
        under the trigger interval (lag does not accumulate) and
        (b) hold state flat (the watermark evicts closed windows, so
        live state is bounded by the horizon, not the run length)."""
        from stellarsql_spark.streaming.runtime import sustained_rate_drain

        def _lag_ok(rows) -> bool:
            if len(rows) < 8:
                return False
            steady = rows[2:]
            return (
                all(r["duration_ms"] < 1.5 * r["trigger_ms"] for r in steady)
                and steady[-1]["duration_ms"] < steady[-1]["trigger_ms"]
            )

        rows = sustained_rate_drain(
            spark, rows_per_second=5000, min_batches=8, trigger_ms=1000
        )
        # One retry before failing (r13 ADVICE): the lag assertions are
        # wall-clock bounds on a shared host whose contention arrives
        # in multi-minute waves (SCALE.md) — a wave mid-drain is load,
        # not a code regression.  The state-flatness assertions below
        # stay strict on whichever drain is kept.
        if not _lag_ok(rows):
            rows = sustained_rate_drain(
                spark, rows_per_second=5000, min_batches=8, trigger_ms=1000
            )
        assert len(rows) >= 8

        # (a) bounded lag: after the first two (plan/codegen warmup)
        # batches, durations must sit under the trigger interval —
        # generous 1.5× headroom for host-VM contention blips, and the
        # LAST batch must also be under 1× (no terminal backlog).
        steady = rows[2:]
        assert all(r["duration_ms"] < 1.5 * r["trigger_ms"] for r in steady), steady
        assert steady[-1]["duration_ms"] < steady[-1]["trigger_ms"]

        # (b) bounded state: the horizon holds ceil(watermark/window)
        # + 1 live windows + 1 in-flight = 4 window-starts × 3 event
        # types = 12 rows; assert the bound with one extra window of
        # slack, and FLATNESS — the last batch's state must not exceed
        # the mid-run maximum (state stopped growing once the first
        # window closed).
        assert all(r["state_rows"] <= 15 for r in steady), steady
        mid_max = max(r["state_rows"] for r in rows[: len(rows) // 2])
        assert rows[-1]["state_rows"] <= mid_max


class TestBucketedSerialized:
    def test_lost_catalog_entry_reregisters_metadata_only(self, spark):
        """r12 ADVICE: the serialized bucketed build must re-register
        a marker-valid directory metadata-only when this session's
        catalog lost the entry (the cross-session reuse path)."""
        from stellarsql_spark.sources.bucketed import (
            ensure_custkey_bucketed,
            write_bucketed,
        )

        to, tc = ensure_custkey_bucketed(spark, SF)
        spark.sql(f"DROP TABLE {to}")
        # data dir + marker survive the catalog drop (DROP TABLE on a
        # re-registered external-location table leaves files) or the
        # build reruns — either way the call must restore the table.
        to2, _ = ensure_custkey_bucketed(spark, SF)
        assert to2 == to and spark.catalog.tableExists(to)
        assert spark.table(to).count() > 0
        # and the orderkey-bucketed pair still round-trips
        bo, bl = write_bucketed(spark, SF)
        assert spark.catalog.tableExists(bo) and spark.catalog.tableExists(bl)


class TestIvfpqResidualServed:
    def test_served_equals_plain_minus_annotation(self, spark):
        """C283: the served residual form must return exactly the
        plain residual IVF-PQ ranking minus the recall column."""
        from stellarsql_spark.pipeline.vectors import (
            b_llm_ivfpq_residual,
            b_llm_ivfpq_residual_served,
        )

        served = {
            (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rn"])
            for r in b_llm_ivfpq_residual_served(spark, SF_MED).collect()
        }
        plain = {
            (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rn"])
            for r in b_llm_ivfpq_residual(spark, SF_MED).collect()
        }
        assert served == plain and len(served) == 50

    def test_residual_index_layout_and_idempotence(self, spark):
        """The residual codes must land cell-partitioned (inverted
        lists) beside the trained codebook, reusing C281's coarse
        centroids; re-call must return the same index."""
        from stellarsql_spark.pipeline.vectors import (
            K_COARSE,
            ensure_ivfpq_index,
            ensure_ivfpq_residual_index,
        )

        cents_dir, rcodes_dir, rcb_dir = ensure_ivfpq_residual_index(
            spark, SF_MED
        )
        assert cents_dir == ensure_ivfpq_index(spark, SF_MED)[0]
        cells = [d for d in os.listdir(rcodes_dir) if d.startswith("cell=")]
        assert 1 <= len(cells) <= K_COARSE
        assert os.path.exists(os.path.join(rcb_dir, "_SUCCESS"))
        # the re-call returns the same index (that it rebuilds nothing
        # is tests/test_artifacts.py::test_second_call_is_noop)
        assert ensure_ivfpq_residual_index(spark, SF_MED) == (
            cents_dir, rcodes_dir, rcb_dir
        )
