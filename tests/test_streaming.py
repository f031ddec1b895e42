"""Structured Streaming runtime tests (SURVEY.md §2 B39–B45): the
shared logical plans executed as real incremental streams via memory
sink + processAllAvailable, cross-checked against their batch form."""

from __future__ import annotations

from pyspark.sql import functions as F

from stellarsql_spark.catalog import load_table
from stellarsql_spark.streaming import runtime
from stellarsql_spark.streaming.windows import tumbling_hourly


def _as_sorted_tuples(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    """One logical plan, two engines: incremental micro-batch result
    must equal the batch result exactly."""
    stream_out = runtime.run_to_memory(
        runtime.tumbling_with_watermark(spark, sf_dir), output_mode="complete"
    )
    batch_out = tumbling_hourly(load_table(spark, sf_dir, "events"))
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _as_sorted_tuples(stream_out, cols) == _as_sorted_tuples(batch_out, cols)


def test_streaming_watermark_metadata(spark, sf_dir):
    """B42: the watermark is attached to the streaming plan (late-data
    drop policy is engine-enforced from this node)."""
    df = runtime.tumbling_with_watermark(spark, sf_dir, watermark="1 hour")
    assert df.isStreaming
    out = runtime.run_to_memory(df, output_mode="append")
    # append mode only emits windows the watermark has closed
    assert out.count() > 0


def test_streaming_stateful_dedup(spark, sf_dir):
    """B43: dropDuplicatesWithinWatermark keeps one row per key."""
    out = runtime.run_to_memory(runtime.stateful_dedup(spark, sf_dir), "append")
    dupes = out.groupBy("user_id", "event_type").count().where(F.col("count") > 1).count()
    assert dupes == 0
    assert out.count() > 0


def test_stream_static_join(spark, sf_dir):
    """B44: stream ⋈ static dimension, aggregated per segment."""
    out = runtime.run_to_memory(runtime.stream_static_join(spark, sf_dir), "complete")
    rows = {r["c_mktsegment"]: r["n_events"] for r in out.collect()}
    assert len(rows) >= 1 and all(v > 0 for v in rows.values())


def test_arbitrary_stateful_running_count(spark, sf_dir):
    """B45: applyInPandasWithState per-user counter; final counts must
    equal the batch group-by counts."""
    out = runtime.run_to_memory(runtime.stateful_running_count(spark, sf_dir), "update")
    # update mode may emit several versions per key; last one wins
    final = (
        out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    )
    batch = (
        load_table(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n_events"))
    )
    a = {r["user_id"]: r["n_events"] for r in final.collect()}
    b = {r["user_id"]: r["n_events"] for r in batch.collect()}
    assert a == b


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The stream-stream join must produce exactly the rows the same
    join yields in batch mode over the full log."""
    from stellarsql_spark.catalog import load_table
    from stellarsql_spark.streaming.runtime import run_to_memory, stream_stream_join

    got = {
        (r["c_user"], r["click_id"], r["purchase_id"])
        for r in run_to_memory(stream_stream_join(spark, sf_dir), "append").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r["c_user"], r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_checkpoint_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Restarting a checkpointed sink over an unchanged source must not
    duplicate rows — the file-commit log + source offsets make the
    drain idempotent."""
    from stellarsql_spark.streaming.runtime import checkpointed_file_sink

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    n_src = load_table(spark, sf_dir, "events").count()
    first = checkpointed_file_sink(spark, sf_dir, out, ckpt)
    second = checkpointed_file_sink(spark, sf_dir, out, ckpt)
    assert first == n_src
    assert second == n_src


def _batch_event_counts(spark, sf_dir):
    return {
        (r["event_type"], r["n"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def _read_rollup(spark, out):
    return {
        (r["event_type"], r["n_events"])
        for r in spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("n_events").alias("n_events"))
        .collect()
    }


def test_foreach_batch_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The foreachBatch rollup over one drain equals the batch-mode
    aggregate of the whole source."""
    from stellarsql_spark.streaming.runtime import foreach_batch_agg

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    foreach_batch_agg(spark, sf_dir, out, ckpt)
    assert _read_rollup(spark, out) == _batch_event_counts(spark, sf_dir)


def test_foreach_batch_rollup_is_cumulative_across_batches(spark, sf_dir, tmp_path):
    """A multi-file source split into one-file micro-batches must still
    produce the full rollup: each batch writes its own batch_id
    partition and the reader re-aggregates — the result cannot degrade
    to last-batch-only."""
    from stellarsql_spark.streaming.parity import _three_file_stream_dir
    from stellarsql_spark.streaming.runtime import EVENTS_DDL, foreach_batch_agg

    d = _three_file_stream_dir(spark, sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d + "/*.parquet")
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    foreach_batch_agg(spark, sf_dir, out, ckpt, stream=stream)
    n_batches = spark.read.parquet(out).select("batch_id").distinct().count()
    assert n_batches == 3
    assert _read_rollup(spark, out) == _batch_event_counts(spark, sf_dir)


def test_run_to_memory_restores_shuffle_partitions(spark, sf_dir):
    """Draining a stream must not leak its state-store-sized
    shuffle.partitions into later batch plans."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        runtime.run_to_memory(
            runtime.tumbling_with_watermark(spark, sf_dir), output_mode="complete"
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_state_width_is_one_partition_per_core(spark, sf_dir):
    """A watermarked tumbling drain gets one state partition per core,
    whatever width the session held before it started."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(2 * cores + 1))
        runtime.run_to_memory(
            runtime.tumbling_with_watermark(spark, sf_dir), output_mode="append"
        )
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    widths = [op["numShufflePartitions"] for p in progress for op in p["stateOperators"]]
    assert widths and set(widths) == {cores}


# Modules under stellarsql_spark/streaming/ allowed to write the width,
# by (file, enclosing function): the helper itself, and the batch-form
# session clone that sizes a plain aggregate's reducers.
_WIDTH_WRITERS = {("runtime.py", "state_width"), ("windows.py", "b_stream_tumbling")}


def _width_writes(node, fn="<module>"):
    """(innermost enclosing function, line) of every call that sets,
    unsets or configures spark.sql.shuffle.partitions under ``node``."""
    import ast

    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        fn = node.name
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset", "config")
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "spark.sql.shuffle.partitions"
    ):
        yield fn, node.lineno
    for child in ast.iter_child_nodes(node):
        yield from _width_writes(child, fn)


def test_state_width_is_set_in_one_place():
    """No code under stellarsql_spark/streaming/ writes
    spark.sql.shuffle.partitions except through runtime.state_width."""
    import ast
    import os

    pkg = os.path.dirname(runtime.__file__)
    bad = []
    for f in sorted(os.listdir(pkg)):
        if f.endswith(".py"):
            with open(os.path.join(pkg, f)) as fh:
                tree = ast.parse(fh.read())
            bad += [(f, fn, line) for fn, line in _width_writes(tree) if (f, fn) not in _WIDTH_WRITERS]
    assert bad == []


def test_transform_with_state_matches_batch(spark, sf_dir):
    """Spark 4 transformWithStateInPandas: final per-user counts after
    draining the stream must equal the batch groupBy count.

    Skipped only where no usable google.protobuf can be provisioned
    (the TWS worker protocol needs it); streaming/pbshim provisions
    one from the host google-cloud-sdk in this container, so the real
    typed-state path runs here."""
    import pytest

    from stellarsql_spark.streaming.runtime import protobuf_available

    if not protobuf_available():
        pytest.skip("google.protobuf unavailable: transformWithState worker cannot start")
    from stellarsql_spark.streaming.runtime import run_to_memory, tws_running_count

    sink = run_to_memory(tws_running_count(spark, sf_dir), "update")
    # update mode may emit one row per micro-batch per user; the final
    # (max) count per user is the converged value
    got = {
        r["user_id"]: r["mx"]
        for r in sink.groupBy("user_id").agg(F.max("n_events").alias("mx")).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
