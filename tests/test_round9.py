"""Round-9 component tests.

1. The served join lineage (C254): plain == bucketed == served, and
   the served plan touches only the 25-row rollup artifacts.
2. The hot-key bypass skew join (C255): on a synthetic corpus whose
   hot key is large enough for the sampled detector, the bypass plan
   broadcasts the hot build rows and still matches the plain join
   row for row.
3. Adversarial ingest gates for the two r8 surfaces the fuzz didn't
   cover (r8 VERDICT next-round #7): the schema-inferring XML reader
   (entity bombs, malformed tags, truncation → deterministic
   quarantine, no expansion) and the binaryFile source
   (empty/truncated/lying-header payloads → deterministic routing,
   filesystem-true sizes).  Same contract class as
   tests/test_round8c.py's codec fuzz.
"""

from __future__ import annotations

import os

import pytest

SF = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


class TestJoinServed:
    def test_three_forms_agree_and_query_is_tiny(self, spark):
        """plain == bucketed == served, row for row; and the served
        plan reads the maintained rollup + name dim, never the raw
        fact/dim parquet."""
        from stellarsql_spark.operators.joins import b_join_inner
        from stellarsql_spark.sources.bucketed import (
            b_join_inner_bucketed,
            b_join_inner_served,
            ensure_join_rollup,
        )

        key = lambda r: (r.r_name, r.n_name)
        as_t = lambda rows: [
            (r.r_name, r.n_name, r.n_orders, round(r.revenue, 2)) for r in rows
        ]
        plain = sorted(b_join_inner(spark, SF).collect(), key=key)
        bucketed = sorted(b_join_inner_bucketed(spark, SF).collect(), key=key)
        served = sorted(b_join_inner_served(spark, SF).collect(), key=key)
        assert as_t(plain) == as_t(bucketed) == as_t(served)
        assert len(served) == 25

        df = b_join_inner_served(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        rollup_dir, names_dir = ensure_join_rollup(spark, SF)
        assert rollup_dir in plan and names_dir in plan
        for raw in ("orders.parquet", "customer.parquet",
                    "nation.parquet", "region.parquet"):
            assert raw not in plan

    def test_rollup_artifacts_are_nation_sized(self, spark):
        """The served artifacts really are 25-row tables (the whole
        point: O(nations) at query time), and the custkey pre-agg
        exists as the delta-maintainable intermediate."""
        from stellarsql_spark.sources.bucketed import ensure_join_rollup

        rollup_dir, names_dir = ensure_join_rollup(spark, SF)
        assert spark.read.parquet(rollup_dir).count() == 25
        assert spark.read.parquet(names_dir).count() == 25
        preagg_dir = os.path.join(os.path.dirname(rollup_dir), "preagg")
        pre = spark.read.parquet(preagg_dir)
        assert set(pre.columns) == {"o_custkey", "n_orders_p", "rev_p"}
        # conservation: the pre-agg re-aggregates to the same totals
        from pyspark.sql import functions as F

        tot_pre = pre.agg(F.sum("n_orders_p"), F.sum("rev_p")).collect()[0]
        tot_roll = (
            spark.read.parquet(rollup_dir)
            .agg(F.sum("n_orders"), F.sum("rev_cts"))
            .collect()[0]
        )
        assert tuple(tot_pre) == tuple(tot_roll)


class TestSkewBypass:
    @pytest.fixture(scope="class")
    def skewed_dir(self, tmp_path_factory):
        """A mini corpus with one genuinely hot key: orderkey 0 holds
        30k of ~34k lineitem rows, so the 2% sampled count (~600) is
        far above the detector's 50-row bar."""
        import numpy as np
        import pandas as pd

        d = tmp_path_factory.mktemp("skewmini")
        n_cold_keys, cold_mult, n_hot = 199, 20, 30_000
        orders = pd.DataFrame(
            {
                "o_orderkey": np.arange(n_cold_keys + 1, dtype=np.int64),
                "o_orderstatus": [
                    ("F", "O", "P")[i % 3] for i in range(n_cold_keys + 1)
                ],
            }
        )
        keys = np.concatenate(
            [
                np.zeros(n_hot, dtype=np.int64),
                np.repeat(np.arange(1, n_cold_keys + 1, dtype=np.int64), cold_mult),
            ]
        )
        li = pd.DataFrame(
            {
                "l_orderkey": keys,
                "l_linenumber": (np.arange(len(keys)) % 7 + 1).astype(np.int32),
                "l_extendedprice": np.round(
                    (np.arange(len(keys)) % 9973) * 1.01 + 1.0, 2
                ),
            }
        )
        orders.to_parquet(os.path.join(d, "orders.parquet"))
        li.to_parquet(os.path.join(d, "lineitem.parquet"))
        return str(d)

    def test_hot_path_fires_and_matches_plain_join(self, spark, skewed_dir):
        """Detection finds the hot key, the executed plan contains the
        hot lane's BroadcastHashJoin, and the result equals the plain
        shuffle join exactly."""
        from pyspark.sql import functions as F

        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.operators.skew import b_join_skew_bypass

        df = b_join_skew_bypass(spark, skewed_dir)
        rows = sorted(df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # the hot lane really ran

        o = load_table(spark, skewed_dir, "orders")
        li = load_table(spark, skewed_dir, "lineitem")
        plain = sorted(
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_items"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("gross"),
            )
            .collect()
        )
        assert [tuple(r) for r in rows] == [tuple(r) for r in plain]
        # the hot status bucket really carries the hot key's 30k rows
        hot_status = {r.o_orderstatus: r.n_items for r in rows}
        assert hot_status["F"] >= 30_000  # orderkey 0 -> status 'F'

    def test_uniform_corpus_degenerates_to_plain_join(self, spark):
        """On the uniform tiny corpus no hot key clears the sampled
        bar, so the bypass is exactly the plain join (no broadcast
        lane, no union)."""
        from stellarsql_spark.operators.skew import b_join_skew_bypass

        df = b_join_skew_bypass(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Union" not in plan


_XML_SCHEMA = "k BIGINT, v STRING, _corrupt_record STRING"


class TestXMLAdversarial:
    """Hostile-input gates for the schema-inferring XML surface
    b_read_xml exercises (sources/io.py).  Explicit schema pins the
    quarantine column; assertions pin the behaviors probed on this
    Spark build (Woodstox with DTD processing disabled)."""

    def _read(self, spark, d):
        return (
            spark.read.format("xml")
            .schema(_XML_SCHEMA)
            .option("rowTag", "row")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .load(str(d))
        )

    def test_entity_bomb_never_expands(self, spark, tmp_path):
        """A DOCTYPE entity chain (billion-laughs head) must NOT
        expand: the parser refuses undeclared entities (DTDs are not
        processed), the hostile file quarantines deterministically,
        and a clean sibling file still parses."""
        (tmp_path / "evil.xml").write_text(
            '<?xml version="1.0"?>\n'
            "<!DOCTYPE lolz [\n"
            ' <!ENTITY lol "lol">\n'
            ' <!ENTITY lol2 "&lol;&lol;&lol;&lol;&lol;&lol;&lol;&lol;&lol;&lol;">\n'
            ' <!ENTITY lol3 "&lol2;&lol2;&lol2;&lol2;&lol2;&lol2;&lol2;&lol2;">\n'
            "]>\n"
            "<rows><row><k>1</k><v>&lol3;</v></row>"
            "<row><k>2</k><v>ok</v></row></rows>"
        )
        (tmp_path / "clean.xml").write_text(
            "<rows><row><k>10</k><v>alpha</v></row>"
            "<row><k>11</k><v>beta</v></row></rows>"
        )
        rows = self._read(spark, tmp_path).collect()
        good = {r.k: r.v for r in rows if r._corrupt_record is None}
        bad = [r for r in rows if r._corrupt_record is not None]
        # the entity-bearing row quarantines (its k parses, its v does
        # not); every other row in both files survives untouched
        assert good == {2: "ok", 10: "alpha", 11: "beta"}
        assert len(bad) == 1 and bad[0].v is None
        for r in rows:  # the expansion itself never happened anywhere
            assert r.v is None or "lollol" not in r.v
            assert r._corrupt_record is None or "lollol" not in r._corrupt_record

    def test_malformed_tail_quarantines_prefix_survives(self, spark, tmp_path):
        """Rows before a malformation parse; the malformed remainder
        of the document lands in ONE corrupt record (the pinned
        quarantine unit for a rowTag stream)."""
        (tmp_path / "bad.xml").write_text(
            "<rows><row><k>1</k><v>good</v></row>"
            "<row><k>oops<v>unclosed</row>"
            "<row><k>3</k><v>fine</v></row></rows>"
        )
        rows = self._read(spark, tmp_path).collect()
        good = {r.k: r.v for r in rows if r._corrupt_record is None}
        bad = [r for r in rows if r._corrupt_record is not None]
        assert good == {1: "good"}
        assert len(bad) == 1

    def test_truncated_file_is_one_corrupt_record(self, spark, tmp_path):
        (tmp_path / "trunc.xml").write_text("<rows><row><k>1</k><v>go")
        rows = self._read(spark, tmp_path).collect()
        assert len(rows) == 1
        assert rows[0]._corrupt_record is not None
        assert rows[0].k is None


class TestBinaryFileAdversarial:
    """Hostile-payload gates for the binaryFile lake-ingest surface
    (b_source_binaryfile): truncated magic, lying container headers,
    empty files.  The source must deliver filesystem-true lengths and
    the magic-prefix router must classify deterministically — a
    truncated container still ROUTES by its magic (the downstream
    decode gates own the quarantine, the C239/C195 layering)."""

    @pytest.fixture(scope="class")
    def hostile_dir(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("hostile_bins")
        files = {
            "empty.bin": b"",
            "one_byte.bin": b"B",
            "bmp_magic_only.bin": b"BM",
            # RIFF/WAVE header CLAIMING 2 GiB of data after 12 bytes
            "wav_lying_size.bin": b"RIFF" + (2**31 - 1).to_bytes(4, "little") + b"WAVE",
            # y4m magic truncated one byte short of the full signature
            "y4m_partial.bin": b"YUV4MPEG",
            "unknown.bin": b"\x00" * 16,
        }
        for name, blob in files.items():
            (d / name).write_bytes(blob)
        return str(d), {n: len(b) for n, b in files.items()}

    def test_routing_and_filesystem_truth(self, spark, hostile_dir):
        from pyspark.sql import functions as F

        d, sizes = hostile_dir
        src = spark.read.format("binaryFile").load(d)
        magic2 = F.hex(F.substring(F.col("content"), 1, 2))
        magic4 = F.hex(F.substring(F.col("content"), 1, 4))
        magic9 = F.hex(F.substring(F.col("content"), 1, 9))
        kind = (
            F.when(magic2 == F.lit("424D"), "bmp")
            .when(magic4 == F.lit("52494646"), "wav")
            .when(magic9 == F.lit("595556344D50454732"), "y4m")
            .otherwise("unknown")
        )
        rows = src.select(
            F.element_at(F.split("path", "/"), -1).alias("name"),
            kind.alias("kind"),
            F.col("length").alias("n_bytes"),
        ).collect()
        got = {r.name: (r.kind, r.n_bytes) for r in rows}
        # PINNED source behavior: binaryFile silently drops
        # zero-length files (a listing-level filter, found by this
        # gate) — an ingest audit must therefore count manifests
        # against the listing, not trust the source for 0-byte
        # objects. Every non-empty file arrives with its
        # filesystem-true length, never a lying header's claim.
        assert "empty.bin" not in got
        assert {n: s for n, (_, s) in got.items()} == {
            n: s for n, s in sizes.items() if s > 0
        }
        assert got["one_byte.bin"][0] == "unknown"
        assert got["bmp_magic_only.bin"][0] == "bmp"  # routes; decode gates own it
        assert got["wav_lying_size.bin"][0] == "wav"
        assert got["wav_lying_size.bin"][1] == 12  # NOT the claimed 2 GiB
        assert got["y4m_partial.bin"][0] == "unknown"  # 8 of 9 magic bytes
        assert got["unknown.bin"][0] == "unknown"

    def test_truncated_bmp_quarantines_downstream(self, spark, hostile_dir):
        """The layered contract end-to-end: a magic-routed truncated
        BMP reaching the real decoder must land a -1 quarantine row,
        never crash the task or fabricate pixels."""
        d, _ = hostile_dir
        from stellarsql_spark.pipeline.multimodal import (
            DECODE_SCHEMA,
            decode_image_batch,
        )

        src = (
            spark.read.format("binaryFile")
            .load(d)
            .selectExpr("CAST(1 AS BIGINT) AS doc_id", "content AS img")
            .where("hex(substring(img, 1, 2)) = '424D'")
        )
        out = src.mapInPandas(decode_image_batch, schema=DECODE_SCHEMA).collect()
        assert len(out) == 1
        assert (out[0].width, out[0].height) == (-1, -1)


class TestWideCarrierHeadroom:
    """Round-9 carrier-widening sweep (the C244 ADVICE class applied
    repo-wide): C182 Pareto's class predicate and C212 Bollinger's
    sum-of-squares ride DECIMAL(38,0) carriers, so both stay exact on
    synthetic corpora whose money sums overflow int64 — the regime the
    100 TB target actually lives in (Spark with ANSI off would wrap
    silently and misclassify/mis-sigma; these tests pin the wide
    carrier by driving values past 2^63 and checking exact ints)."""

    @pytest.fixture(scope="class")
    def big_orders_dir(self, spark, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("bigmoney"))
        # 10 customers x 3 orders of ~$1e14 each: total 3e17 cents, so
        # Pareto's 100*cum cross-multiply needs >2^63; daily revenue
        # ~3e14 dollars/day puts Bollinger's rev_d^2 at ~1e29 >> 2^63.
        rows = []
        for ck in range(1, 11):
            for j in range(3):
                rows.append(
                    (
                        ck * 100 + j,
                        ck,
                        "F",
                        float((ck + 1) * 10_000_000_000_000 + j * 977),
                        f"1995-01-{(j % 7) + 1:02d}",
                    )
                )
        df = spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate string",
        ).selectExpr(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "CAST(o_orderdate AS DATE) AS o_orderdate",
        )
        df.coalesce(1).write.parquet(os.path.join(d, "orders.parquet"))
        return d

    def test_pareto_classes_exact_past_int64(self, spark, big_orders_dir):
        from stellarsql_spark.operators.aggregates import b_agg_pareto

        rows = {r.abc: r for r in b_agg_pareto(spark, big_orders_dir).collect()}
        # replay exactly in unbounded Python ints
        rev = {}
        for ck in range(1, 11):
            rev[ck] = sum(
                round(100 * ((ck + 1) * 10_000_000_000_000 + j * 977))
                for j in range(3)
            )
        total = sum(rev.values())
        assert 100 * total > 2**63  # the predicate NEEDS the wide carrier
        ranked = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
        cum, want = 0, {}
        for ck, v in ranked:
            cls = (
                "A" if 100 * cum < 80 * total
                else "B" if 100 * cum < 95 * total
                else "C"
            )
            want.setdefault(cls, []).append(v)
            cum += v
        assert set(rows) == set(want)
        for cls, vs in want.items():
            assert rows[cls].n_cust == len(vs)
            assert rows[cls].class_rev_c == sum(vs)

    def test_bollinger_sigma_exact_past_int64(self, spark, big_orders_dir):
        from math import sqrt

        from stellarsql_spark.operators.timeseries import b_ts_bollinger

        out = {r.d: r for r in b_ts_bollinger(spark, big_orders_dir).collect()}
        daily = {}
        for ck in range(1, 11):
            for j in range(3):
                day = (j % 7) + 1
                daily[day] = daily.get(day, 0) + int(
                    (ck + 1) * 10_000_000_000_000 + j * 977
                )
        days = sorted(daily)
        assert max(daily.values()) ** 2 > 2**63  # sumsq NEEDS the carrier
        for i, day in enumerate(days):
            lo = max(0, i - 6)
            win = [daily[d] for d in days[lo : i + 1]]
            n, s, ss = len(win), sum(win), sum(v * v for v in win)
            want_sd = round(1000 * sqrt(float(n * ss - s * s)) / n)
            # match by unique daily revenue (d is epoch-days keyed)
            row = [r2 for r2 in out.values() if r2.rev_d == daily[day]]
            assert len(row) == 1
            assert row[0].n_win == n and row[0].sum_d == s
            assert row[0].sd_k == want_sd

    def test_rolling_corr_exact_past_int64(self, spark, tmp_path_factory):
        """C251's quadratic moments (day-cents squared) ride
        DECIMAL(38,0): on a synthetic series whose daily totals square
        past 2^63 the coefficient must equal the unbounded-int Python
        replay to the same 6-dp rounding."""
        from math import sqrt

        from stellarsql_spark.operators.timeseries import b_ts_rolling_corr

        d = str(tmp_path_factory.mktemp("bigevents"))
        rows = []
        xs, ys = {}, {}
        for day in range(20):
            x_val = float((day % 7 + 1) * 2_000_000_000_000 + day)
            y_val = float((day % 5 + 1) * 1_500_000_000_000 + 2 * day)
            rows.append((f"2024-01-{day + 1:02d} 12:00:00", "view", x_val, day))
            rows.append((f"2024-01-{day + 1:02d} 13:00:00", "purchase", y_val, day))
            xs[day] = round(x_val * 100)
            ys[day] = round(y_val * 100)
        df = spark.createDataFrame(
            rows, "ts_s string, event_type string, value double, user_id long"
        ).selectExpr(
            "CAST(ts_s AS TIMESTAMP) AS ts", "event_type", "value", "user_id"
        )
        df.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        assert max(xs.values()) ** 2 > 2**63
        out = sorted(b_ts_rolling_corr(spark, d).collect(), key=lambda r: r.d)
        assert len(out) == 20 - 13
        for i, r in enumerate(out):
            win = range(i, i + 14)
            n = 14
            sx, sy = sum(xs[k] for k in win), sum(ys[k] for k in win)
            sxx = sum(xs[k] * xs[k] for k in win)
            syy = sum(ys[k] * ys[k] for k in win)
            sxy = sum(xs[k] * ys[k] for k in win)
            want = round(
                float(n * sxy - sx * sy)
                / sqrt(
                    (n * float(sxx) - float(sx) * sx)
                    * (n * float(syy) - float(sy) * sy)
                ),
                6,
            )
            assert abs(r.rollcorr - want) < 5e-6, (i, r.rollcorr, want)


class TestScalablePrefix:
    """functions/prefix.py: the shipped two-pass global running
    sum/rank must be value-identical to the single-partition window
    for any total order — including signed values (partition totals
    are true sums, not max-of-running) and DECIMAL(38,0) carriers —
    while genuinely spreading rows over many range partitions."""

    def test_matches_naive_window_signed_values(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from stellarsql_spark.functions.prefix import ordered_running

        df = spark.range(0, 5_000).select(
            F.col("id").alias("k"),
            # signed, sign-alternating values: running sum is NOT
            # monotone, so a max-of-running-column shortcut would break
            ((F.col("id") % 97) * F.when(F.col("id") % 3 == 0, -1).otherwise(1))
            .cast("bigint")
            .alias("v"),
        )
        got = ordered_running(
            df,
            order=[F.col("v").desc(), F.col("k")],
            sums={"cum": F.col("v")},
            npart=16,
            row_number_as="rn",
        )
        w = Window.orderBy(F.col("v").desc(), "k")
        want = df.select(
            "k",
            "v",
            F.sum("v")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cum"),
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        a = sorted(got.collect(), key=lambda r: r.rn)
        b = sorted(want.collect(), key=lambda r: r.rn)
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        # the work really was spread: >1 range partition carried rows
        from pyspark.sql.functions import spark_partition_id

        nparts = (
            df.repartitionByRange(16, F.col("v").desc(), F.col("k"))
            .select(spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
        assert nparts > 1

    def test_decimal_carrier_survives(self, spark):
        from pyspark.sql import functions as F

        from stellarsql_spark.functions.prefix import ordered_running

        df = spark.range(1, 40).select(
            F.col("id").alias("k"),
            F.expr(
                "CAST(id AS DECIMAL(38,0)) * 400000000000000000"
            ).alias("v"),  # 4e17 per step: cum crosses 2^63 fast
        )
        got = sorted(
            ordered_running(
                df, order=[F.col("k")], sums={"cum": F.col("v")}, npart=8
            ).collect(),
            key=lambda r: r.k,
        )
        run = 0
        for r in got:
            run += int(r.k) * 400_000_000_000_000_000
            assert int(r.cum) == run
        assert run > 2**63  # the sum genuinely needed the wide carrier

    def test_recompute_consistency_across_actions(self, spark):
        """The b_ev_auc regression shape: `local` feeds two branches
        (rows + offset totals), and without the load-bearing persist a
        re-sampled range boundary could shift prefixes between
        recomputations.  Drive an aggregate DERIVED from the prefix
        (so any branch inconsistency changes the value) through
        repeated independent actions and demand the identical result
        every time, matching the driver-side exact replay."""
        from pyspark.sql import functions as F

        from stellarsql_spark.functions.prefix import ordered_running

        df = spark.range(0, 15_000).select(
            (F.hash(F.col("id")).cast("bigint")).alias("k"),
            (F.col("id") % 101 + 1).cast("bigint").alias("c"),
        ).groupBy("k").agg(F.sum("c").alias("c"))
        run = ordered_running(df, order=[F.col("k")], sums={"cum": F.col("c")})
        derived = run.agg(
            F.sum(F.col("cum") * F.col("c")).cast("decimal(38,0)").alias("s")
        )
        vals = {str(derived.collect()[0][0]) for _ in range(3)}
        assert len(vals) == 1
        rows = df.collect()
        rows.sort(key=lambda r: r.k)
        cum, want = 0, 0
        for r in rows:
            cum += r.c
            want += cum * r.c
        assert vals == {str(want)}

    def test_ordered_ntile_matches_builtin(self, spark):
        """ordered_ntile == NTILE(k) exactly, including the n % k != 0
        bucket-size rule and the n < k edge, on several (n, k)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from stellarsql_spark.functions.prefix import ordered_ntile

        for n, k in ((2_003, 4), (96, 10), (3, 7), (1_000, 3)):
            df = spark.range(0, n).select(
                F.col("id").alias("u"),
                (F.hash(F.col("id")) % 50).alias("s"),
            )
            got = ordered_ntile(
                df, [F.col("s").desc(), F.col("u")], k, "b", npart=8
            )
            want = df.select(
                "u",
                "s",
                F.ntile(k)
                .over(Window.orderBy(F.col("s").desc(), "u"))
                .alias("b"),
            )
            a = sorted(got.collect(), key=lambda r: r.u)
            b = sorted(want.collect(), key=lambda r: r.u)
            assert [tuple(r) for r in a] == [tuple(r) for r in b], (n, k)
