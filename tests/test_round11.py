"""Round-11 tests: the r10 ADVICE hardenings (plan-audit build-fail
counting, prefix duplicate-name guard, directory-corpus fingerprints)
and this round's new surface."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


class TestRestartRecovery:
    def test_kill_after_two_batches_then_recover(self, spark):
        """C264: the offset log must show exactly 2 committed batches at
        the kill point and 4 after the restarted query drains — i.e. the
        restart resumed from the checkpoint instead of replaying — and
        the final sink must equal the batch aggregate."""
        import os

        from stellarsql_spark.streaming.parity import b_stream_restart_recovery

        seen = {}

        def probe(phase, ckpt):
            commits = [
                n
                for n in os.listdir(os.path.join(ckpt, "commits"))
                if not n.startswith(".")
            ]
            seen[phase] = sorted(commits)

        out = b_stream_restart_recovery(spark, SF, _probe=probe)
        got = sorted(tuple(r) for r in out.collect())

        assert seen[1] == ["0", "1"], seen  # killed after batch 2
        assert seen[2] == ["0", "1", "2", "3"], seen  # resumed, not replayed

        from stellarsql_spark.catalog import load_table

        ev = load_table(spark, SF, "events")
        want = sorted(
            tuple(r)
            for r in ev.groupBy(
                F.date_trunc("hour", "ts").alias("window_start"), "event_type"
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .collect()
        )
        assert got == want


class TestSkewChooser:
    """r10 VERDICT #7: the exact audit (C261) drives the documented
    join-strategy decision table."""

    def test_zipfian_hot_head_picks_bypass(self, spark, tmp_path):
        """A corpus where one key owns ~88% of the rows: the audit's
        verdict must be the broadcast hot-lane bypass."""
        import numpy as np
        import pandas as pd

        from stellarsql_spark.operators.quality import b_quality_keyskew
        from stellarsql_spark.operators.skew import choose_join_strategy

        keys = np.concatenate(
            [
                np.zeros(30_000, dtype=np.int64),
                np.repeat(np.arange(1, 200, dtype=np.int64), 20),
            ]
        )
        pd.DataFrame(
            {"l_orderkey": keys, "l_extendedprice": np.ones(len(keys))}
        ).to_parquet(os.path.join(tmp_path, "lineitem.parquet"))
        row = b_quality_keyskew(spark, str(tmp_path)).first()
        assert choose_join_strategy(row) == "bypass"

    def test_uniform_corpus_picks_plain(self, spark):
        """The driver corpus's l_orderkey is near-uniform (≤7 rows per
        key): no mitigation — plain join, per the measured negatives."""
        from stellarsql_spark.operators.quality import b_quality_keyskew
        from stellarsql_spark.operators.skew import choose_join_strategy

        row = b_quality_keyskew(spark, SF).first()
        assert choose_join_strategy(row) == "plain"

    def test_heavy_tail_picks_aqe_split(self):
        """One key at 15% (over the 4×-fair-share bar at 32 partitions)
        but top-8 under 25%: too big for plain, too diffuse to
        enumerate — AQE's runtime partition split."""
        from stellarsql_spark.operators.skew import choose_join_strategy

        row = {
            "n_rows": 100_000,
            "max_n": 15_000,
            "top8_share_m": 150_700,
        }
        assert choose_join_strategy(row) == "aqe_split"


class TestAdviceHardenings:
    def test_prefix_rejects_duplicate_requested_names(self, spark):
        """Duplicates AMONG the requested output names (sums key ==
        row_number_as, etc.) must raise, not collapse in a set and emit
        an ambiguous duplicate column (r10 ADVICE)."""
        from stellarsql_spark.functions.prefix import ordered_running

        df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
        with pytest.raises(ValueError, match="duplicate"):
            ordered_running(
                df, [F.col("id")], {"rs": F.col("v")}, row_number_as="rs"
            )
        with pytest.raises(ValueError, match="duplicate"):
            ordered_running(
                df,
                [F.col("id")],
                {"s": F.col("v")},
                row_number_as="n",
                total_count_as="n",
            )

    def test_plan_audit_counts_build_failures(self, spark, monkeypatch, capsys):
        """A registered key whose builder raises at plan-build time must
        fail the audit (exit 1), not be silently SKIPped (r10 ADVICE,
        medium)."""
        import tools.plan_audit as pa

        class _BoomSpec:
            def builder(self, spark, sf_dir):
                raise RuntimeError("synthetic build failure")

        monkeypatch.setattr(pa, "all_specs", lambda: {"zz_boom": _BoomSpec()})
        monkeypatch.setattr(
            "sys.argv", ["plan_audit.py", "--sf", SF, "zz_boom"]
        )
        assert pa.main() == 1
        out = capsys.readouterr().out
        assert "BUILD-FAIL" in out and "zz_boom" in out

    def test_content_fingerprint_file_format_is_stable(self, tmp_path):
        """For a plain file the fingerprint must keep the historical
        `path:size:mtime_ns` format — derived-layout caches key on it,
        and a format change would force full rebuilds."""
        from stellarsql_spark.artifacts import content_fingerprint

        p = tmp_path / "t.parquet"
        p.write_bytes(b"x" * 10)
        st = os.stat(p)
        assert content_fingerprint(str(p)) == f"{p}:{st.st_size}:{st.st_mtime_ns}"

    def test_prefix_reliable_checkpoint_matches_local(self, spark):
        """reliable=True (cluster-FS checkpoint, survives executor
        loss) must produce bit-identical prefixes to the local path and
        still cut the lineage (r10 VERDICT #6)."""
        from stellarsql_spark.functions.prefix import ordered_running

        df = spark.range(500).select(
            F.col("id"), ((F.col("id") * 37) % 101 - 50).alias("v")
        )
        kw = dict(
            order=[F.col("v"), F.col("id")],
            sums={"rs": F.col("v")},
            row_number_as="rn",
        )
        rel = ordered_running(df, **kw, reliable=True)
        loc = ordered_running(df, **kw)
        got = sorted(tuple(r) for r in rel.collect())
        want = sorted(tuple(r) for r in loc.collect())
        assert got == want
        plan = rel._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan
        # the checkpoint dir really is set (reliable, not local)
        assert not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty()

    def test_content_fingerprint_sees_inplace_dir_rewrite(self, tmp_path):
        """For a directory corpus, rewriting a same-named member file
        in place must change the fingerprint even when the directory
        inode's own size/mtime is restored (r10 ADVICE)."""
        from stellarsql_spark.artifacts import content_fingerprint

        d = tmp_path / "events.parquet"
        d.mkdir()
        f = d / "part-00000.parquet"
        f.write_bytes(b"a" * 100)
        os.utime(f, ns=(1_000_000_000, 1_000_000_000))
        os.utime(d, ns=(1_000_000_000, 1_000_000_000))
        fp1 = content_fingerprint(str(d))
        # in-place rewrite: same name, same size, new mtime; pin the
        # DIRECTORY times back so only the member file differs
        f.write_bytes(b"b" * 100)
        os.utime(f, ns=(2_000_000_000, 2_000_000_000))
        os.utime(d, ns=(1_000_000_000, 1_000_000_000))
        fp2 = content_fingerprint(str(d))
        assert fp1 != fp2
        # _SUCCESS / dotfiles are not data and must not perturb it
        (d / "_SUCCESS").write_bytes(b"")
        assert content_fingerprint(str(d)) == fp2


class TestLabelProp:
    # sf0.01: the minute-granular graph at sf0.001 has no edges at all
    # (no two users share a type+minute), which would make this vacuous
    SF_LPA = "/root/testdata/sf0.01"

    def test_partition_of_nodes(self, spark):
        """Every graph node lands in exactly one community, and sizes
        sum to the node count of the minute-granular edge set."""
        from stellarsql_spark.operators.graph import b_graph_label_prop

        out = b_graph_label_prop(spark, self.SF_LPA)
        rows = out.collect()
        assert rows and all(r["n_members"] >= 1 for r in rows)

        from stellarsql_spark.catalog import load_table

        ev = load_table(spark, self.SF_LPA, "events")
        b = ev.select(
            "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
        ).distinct()
        nodes = (
            b.alias("l")
            .join(b.alias("r"), ["event_type", "m"])
            .where(F.col("l.user_id") != F.col("r.user_id"))
            .select(F.col("l.user_id").alias("n"))
            .distinct()
            .count()
        )
        assert sum(r["n_members"] for r in rows) == nodes

    def test_two_cliques_bridge(self, spark):
        """Hand graph: two 3-cliques joined by one bridge edge resolve
        to two communities labeled by each clique's min member."""
        from pyspark.sql import Window

        from stellarsql_spark.operators.graph import LP_ITERS

        assert LP_ITERS == 2  # the hand-trace below is for 2 rounds
        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
            "u long, v long",
        )
        bidir = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        votes = bidir.select(F.col("u").alias("node"), F.col("v").alias("lbl"))
        w = Window.partitionBy("node").orderBy(F.col("n").desc(), F.col("lbl"))
        for it in range(2):
            mode = (
                votes.groupBy("node", "lbl")
                .agg(F.count("*").alias("n"))
                .withColumn("rn", F.row_number().over(w))
                .where("rn = 1")
                .select("node", "lbl")
            )
            if it == 1:
                break
            votes = bidir.join(
                mode.select(F.col("node").alias("v"), "lbl"), "v"
            ).select(F.col("u").alias("node"), "lbl")
        got = {r["node"]: r["lbl"] for r in mode.collect()}
        # round 1: every node adopts its min neighbor; round 2 the
        # cliques agree on 1 and (3 or 4)-side labels respectively
        assert got[1] == got[2] == got[3]
        assert got[5] == got[6]
        assert got[1] != got[5]


class TestPqAdc:
    def test_codes_compress_and_recall_positive(self, spark):
        """Each vector gets M_SUB codes in [0, K_CODE); ADC top-k is a
        permutation-free exact ranking with some overlap vs the exact
        int8 top-k (seeded codebook keeps recall imperfect but
        non-zero)."""
        from stellarsql_spark.pipeline.similarity import N_QUERIES, TOP_K
        from stellarsql_spark.pipeline.vectors import b_llm_pq_adc

        out = b_llm_pq_adc(spark, SF).collect()
        assert len(out) == N_QUERIES * TOP_K
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(r)
        for q, rows in by_q.items():
            rns = sorted(r["rn"] for r in rows)
            assert rns == list(range(1, TOP_K + 1))
            dists = [r["adc_dist"] for r in sorted(rows, key=lambda r: r["rn"])]
            assert dists == sorted(dists)
            assert all(r["neighbor_id"] != q for r in rows)
        # the approximation must be better than random: some exact
        # top-k members appear in the ADC top-k
        assert sum(1 for r in out if r["in_exact_topk"]) > 0

    def test_adc_equals_reconstructed_distance(self, spark):
        """ADC(query, x) must equal the exact L2² between the query's
        int8 subvectors and x's RECONSTRUCTED (codebook) subvectors —
        i.e. the LUT-sum really is distance-to-reconstruction, computed
        here for one (query, neighbor) pair via numpy."""
        import numpy as np

        from stellarsql_spark.pipeline.vectors import (
            K_CODE,
            M_SUB,
            SUBDIM,
            b_llm_pq_adc,
            _int8_grid,
        )
        from stellarsql_spark.catalog import load_table

        out = b_llm_pq_adc(spark, SF)
        row = out.where("query_id = 0").orderBy("rn").first()
        q = {
            r["vec_id"]: np.array(r["qv"], dtype=np.int64)
            for r in _int8_grid(load_table(spark, SF, "embeddings")).collect()
        }
        qv, xv = q[0], q[row["neighbor_id"]]
        # reconstruct xv subspace-by-subspace from the seeded codebook
        dist = 0
        for j in range(M_SUB):
            xs = xv[j * SUBDIM : (j + 1) * SUBDIM]
            best = min(
                range(K_CODE),
                key=lambda c: (
                    int(((xs - q[c][j * SUBDIM : (j + 1) * SUBDIM]) ** 2).sum()),
                    c,
                ),
            )
            rec = q[best][j * SUBDIM : (j + 1) * SUBDIM]
            dist += int(((qv[j * SUBDIM : (j + 1) * SUBDIM] - rec) ** 2).sum())
        assert dist == row["adc_dist"]


class TestTopkBucketed:
    def test_same_result_and_no_shuffle_exchange(self, spark):
        """C267: bucketed twin == plain headline result, with no
        shuffle Exchange in the executed plan (broadcast exchange for
        the tiny-SF customer side is fine — it is not a shuffle; at
        depth the co-partitioned bucket join replaces it)."""
        from stellarsql_spark.operators.sorts import b_topk_per_group
        from stellarsql_spark.sources.bucketed import b_topk_per_group_bucketed

        plain = sorted(tuple(r) for r in b_topk_per_group(spark, SF).collect())
        buck_df = b_topk_per_group_bucketed(spark, SF)
        buck = sorted(tuple(r) for r in buck_df.collect())
        assert buck == plain
        plan = buck_df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan


class TestHolt:
    def test_fold_matches_python_recurrence(self, spark):
        """The F.aggregate fold must equal a literal Python replay of
        the Holt recurrence over the same sorted daily series."""
        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.operators.timeseries import b_ts_holt

        out = {r["event_type"]: r for r in b_ts_holt(spark, SF).collect()}
        ev = load_table(spark, SF, "events")
        daily = (
            ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
            .agg(
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .cast("double")
                .alias("x")
            )
            .collect()
        )
        series = {}
        for r in daily:
            series.setdefault(r["event_type"], []).append((r["day"], r["x"]))
        for et, pts in series.items():
            xs = [x for _, x in sorted(pts)]
            l, b = xs[0], 0.0
            for x in xs[1:]:
                l_new = 0.5 * x + 0.5 * (l + b)
                b = 0.5 * (l_new - l) + 0.5 * b
                l = l_new
            row = out[et]
            assert row["n_days"] == len(xs)
            assert row["level_cents"] == l  # bit-exact, not approx
            assert row["trend_cents"] == b
            assert row["forecast7_cents"] == l + 7 * b

    def test_trend_sign_on_synthetic_ramp(self, spark):
        """A strictly increasing series must fold to a positive trend."""
        from pyspark.sql import Row

        import stellarsql_spark.operators.timeseries as ts

        df = spark.createDataFrame(
            [Row(event_type="ramp", day=d, x=float(100 * d)) for d in range(1, 31)]
        )
        series = df.groupBy("event_type").agg(
            F.sort_array(F.collect_list(F.struct("day", "x"))).alias("s")
        )

        def step(acc, ev):
            l_new = 0.5 * ev.x + 0.5 * (acc.l + acc.b)
            return F.struct(
                l_new.alias("l"), (0.5 * (l_new - acc.l) + 0.5 * acc.b).alias("b")
            )

        hb = series.select(
            F.aggregate(
                F.slice("s", F.lit(2), F.size("s") - 1),
                F.struct(F.element_at("s", 1)["x"].alias("l"), F.lit(0.0).alias("b")),
                step,
            ).alias("hb")
        ).first()["hb"]
        assert hb["b"] > 0
        # steady +100/day ramp: trend converges toward 100
        assert 50 < hb["b"] < 150


class TestIncrementalDedup:
    def test_survivors_are_novel_and_batch_unique(self, spark):
        """Every survivor's hash must be absent from the standing
        corpus and unique within the output; survivors + cross-corpus
        drops must account for every distinct batch hash."""
        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.pipeline.dedup import b_llm_dedup_incremental

        out = b_llm_dedup_incremental(spark, SF).collect()
        d = load_table(spark, SF, "documents").withColumn(
            "h", F.md5(F.lower(F.trim(F.col("text"))))
        )
        old_hashes = {
            r["h"] for r in d.where(F.col("doc_id") % 3 != 0).select("h").collect()
        }
        batch = d.where(F.col("doc_id") % 3 == 0).select("doc_id", "h").collect()
        batch_hashes = {r["h"] for r in batch}
        got_hashes = [r["text_hash"] for r in out]
        assert len(got_hashes) == len(set(got_hashes))
        assert all(h not in old_hashes for h in got_hashes)
        assert set(got_hashes) == batch_hashes - old_hashes
        # keep-min rule within the batch
        by_hash = {}
        for r in batch:
            by_hash.setdefault(r["h"], []).append(r["doc_id"])
        for r in out:
            assert r["doc_id"] == min(by_hash[r["text_hash"]])
            assert r["n_in_batch"] == len(by_hash[r["text_hash"]])


class TestModularity:
    def test_q_matches_literal_recompute(self, spark):
        """q_num/q_den must equal a literal Python modularity over the
        same labels and edges (exact rational match), and |Q| <= 1 by
        construction — on this quasi-clique corpus Q sits at ~0
        (slightly negative), which is the honest reading the key
        certifies, not a positive-structure claim."""
        from stellarsql_spark.operators.graph import (
            _lpa_labels,
            b_graph_modularity,
        )

        sf = "/root/testdata/sf0.01"
        row = b_graph_modularity(spark, sf).first()
        edges_df, labels_df = _lpa_labels(spark, sf)
        edges = [(r["u"], r["v"]) for r in edges_df.collect()]
        lbl = {r["node"]: r["lbl"] for r in labels_df.collect()}
        m = len(edges)
        deg: dict = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        d_c: dict = {}
        for n, d in deg.items():
            d_c[lbl[n]] = d_c.get(lbl[n], 0) + d
        e_c: dict = {}
        for u, v in edges:
            if lbl[u] == lbl[v]:
                e_c[lbl[u]] = e_c.get(lbl[u], 0) + 1
        q_num = sum(4 * m * e_c.get(c, 0) - dc * dc for c, dc in d_c.items())
        assert row["m_edges"] == m
        assert row["n_communities"] == len(d_c)
        assert row["q_num"] == q_num
        assert row["q_den"] == 4 * m * m
        # |Q| <= 1 by construction; on THIS corpus the minute graph is
        # a giant quasi-clique, so 2-round LPA's partition scores
        # Q ~= 0 (slightly negative) - the metric reporting honestly,
        # which is exactly what the key certifies
        assert abs(row["q_num"]) <= row["q_den"]


class TestTopkServed:
    def test_three_forms_agree(self, spark):
        """plain == bucketed == served on the same corpus."""
        from stellarsql_spark.operators.sorts import b_topk_per_group
        from stellarsql_spark.sources.bucketed import (
            b_topk_per_group_bucketed,
            b_topk_per_group_served,
        )

        plain = sorted(tuple(r) for r in b_topk_per_group(spark, SF).collect())
        buck = sorted(
            tuple(r) for r in b_topk_per_group_bucketed(spark, SF).collect()
        )
        served = sorted(
            tuple(r) for r in b_topk_per_group_served(spark, SF).collect()
        )
        assert plain == buck == served

    def test_merge_property(self, spark):
        """Delta maintenance soundness: top3(merge(top3(A), top3(B)))
        == top3(A ∪ B) — fold a batch split of orders through the
        artifact's own top-3 rule and compare with the full recompute."""
        from stellarsql_spark.catalog import load_table

        o = load_table(spark, SF, "orders").select(
            "o_custkey", "o_orderkey", "o_totalprice"
        )
        top3 = F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("o_totalprice").alias("p"),
                        (-F.col("o_orderkey")).alias("nk"),
                    )
                ),
                asc=False,
            ),
            1,
            3,
        )

        def topk(df):
            return (
                df.groupBy("o_custkey")
                .agg(top3.alias("top"))
                .select("o_custkey", F.explode("top").alias("t"))
                .select(
                    "o_custkey",
                    (-F.col("t.nk")).alias("o_orderkey"),
                    F.col("t.p").alias("o_totalprice"),
                )
            )

        a = topk(o.where(F.col("o_orderkey") % 2 == 0))
        b = topk(o.where(F.col("o_orderkey") % 2 == 1))
        merged = sorted(tuple(r) for r in topk(a.unionAll(b)).collect())
        full = sorted(tuple(r) for r in topk(o).collect())
        assert merged == full
