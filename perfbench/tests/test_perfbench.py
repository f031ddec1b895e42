"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import decimal
import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

ORACLE_KEYS = ("b_agg_groupby", "b_join_asof", "b_llm_dedup_exact", "b_stream_tumbling")


def _file_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(dirpath, f), d)] = fh.read()
    return out


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    a = tmp_path_factory.mktemp("a")
    b = tmp_path_factory.mktemp("b")
    return {
        "a1": gen.build(str(a), "base", 1),
        "b1": gen.build(str(b), "base", 1),
        "a2": gen.build(str(a), "base", 2),
        "s1": gen.build(str(a), "stream", 1),
        "s1b": gen.build(str(b), "stream", 1),
        "s2": gen.build(str(a), "stream", 2),
    }


def _oracles(corpus_dir: str, cache: str) -> dict[str, str]:
    from stellarsql_spark.registry import all_specs

    return oracle.oracle_digests(cache, corpus_dir, all_specs(), ORACLE_KEYS, gen.TABLES)


def test_same_seed_identical_inputs_and_oracles(corpora, tmp_path):
    assert _file_bytes(corpora["a1"]) == _file_bytes(corpora["b1"])
    assert _file_bytes(corpora["s1"]) == _file_bytes(corpora["s1b"])
    assert _oracles(corpora["a1"], str(tmp_path / "o1.json")) == _oracles(corpora["b1"], str(tmp_path / "o2.json"))


def test_other_seed_reorders_rows_with_same_digests(corpora, tmp_path):
    for t in ("lineitem", "documents", "events"):
        t1 = pq.read_table(os.path.join(corpora["a1"], f"{t}.parquet"))
        t2 = pq.read_table(os.path.join(corpora["a2"], f"{t}.parquet"))
        assert not t1.equals(t2), t
        assert oracle.arrow_digest(t1) == oracle.arrow_digest(t2), t
    assert _oracles(corpora["a1"], str(tmp_path / "o1.json")) == _oracles(corpora["a2"], str(tmp_path / "o2.json"))


def test_stream_files_time_ordered_and_seeded_inside(corpora):
    def files(root):
        return [os.path.join(root, d, f) for d in ("cold", "steady") for f in sorted(os.listdir(os.path.join(root, d)))]

    paths = files(corpora["s1"])
    assert len(paths) == gen.STREAM_COLD_FILES + gen.STREAM_STEADY_FILES
    prev_max = None
    for p in paths:
        ts = pq.read_table(p, columns=["ts"])["ts"].to_pylist()
        assert prev_max is None or min(ts) >= prev_max
        prev_max = max(ts)
    first1 = pq.read_table(paths[0])
    first2 = pq.read_table(files(corpora["s2"])[0])
    assert not first1.equals(first2)
    assert oracle.arrow_digest(first1) == oracle.arrow_digest(first2)


def test_replica_keeps_duplicate_share():
    docs = pa.table({"doc_id": [0, 1, 2], "text": ["a b", "a b", "c"], "n_chars": [3, 3, 1]})
    reps = pa.concat_tables([gen.replica(docs, "documents", r) for r in range(gen.FACTOR)])
    texts = reps["text"].to_pylist()
    assert len(set(texts)) == 2 * gen.FACTOR  # one duplicate pair per replica, none across
    assert len(set(reps["doc_id"].to_pylist())) == 3 * gen.FACTOR
    assert reps["n_chars"].to_pylist() == [len(t) for t in texts]


def test_thresholds_reported():
    th = gen.check_thresholds({t: 1 for t in gen.TABLES} | {"lineitem": 200 << 20})
    assert th["q3_preagg_lineitem_bytes"]["below"] is False
    assert th["topk_customer_bytes"]["below"] is True


def test_digest_order_insensitive():
    df = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, -0.0, 2.0], "s": ["c", "a", "b"]})
    shuffled = df.iloc[[2, 0, 1]][["s", "v", "k"]]
    flipped = df.assign(v=[0.5, 0.0, 2.0])  # -0.0 == 0.0 under check_oracle's compare
    assert oracle.digest(df) == oracle.digest(shuffled) == oracle.digest(flipped)


def test_digest_type_sensitive():
    ints = pd.DataFrame({"x": [1, 2]})
    floats = pd.DataFrame({"x": [1.0, 2.0]})
    decimals = pd.DataFrame({"x": [decimal.Decimal("1"), decimal.Decimal("2")]})
    assert len({oracle.digest(ints), oracle.digest(floats), oracle.digest(decimals)}) == 3
    assert oracle.digest(ints) != oracle.digest(pd.DataFrame({"y": [1, 2]}))


def test_digest_timestamps_tz_and_naive_agree():
    naive = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 01:00"]).astype("datetime64[us]")})
    aware = pd.DataFrame({"t": naive["t"].dt.tz_localize("UTC")})
    assert oracle.digest(naive) == oracle.digest(aware)


def test_corrupted_result_counts_as_failed():
    good = pa.table({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5]})
    bad = pa.table({"k": [1, 2, 3], "v": [1.5, 2.5, 3.25]})
    want = {"q": oracle.arrow_digest(good)}
    results = [
        {"key": "q", "ok": True, "digest": oracle.arrow_digest(good)},
        {"key": "q", "ok": True, "digest": oracle.arrow_digest(bad)},
        {"key": "q", "ok": False},
    ]
    assert run.count_failed(results, want) == 2


def test_percentile_rule():
    xs = list(range(1, 101))
    assert tracing.percentile(xs, 90) == 90
    assert tracing.percentile(xs, 50) == 50
    assert tracing.percentile([4, 1, 3, 2], 50) == 2  # lower middle, a real sample
    assert tracing.percentile([7], 90) == 7
    with pytest.raises(ValueError):
        tracing.percentile([], 50)
    assert tracing.gmean([1.0, 4.0, 16.0]) == pytest.approx(4.0)


def test_span_self_time():
    S = tracing.Span
    spans = [
        S(0, "pass", 0.0, 10.0),
        S(1, "a", 1.0, 4.0, parent=0),
        S(2, "b", 3.0, 6.0, parent=0),  # overlaps a: covered 1..6 once
        S(3, "c", 8.0, 12.0, parent=0),  # runs past its parent: 8..10 counted
        S(4, "a.inner", 1.5, 2.0, parent=1),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_and_disabled_keeps_nothing():
    tr = tracing.Tracer()
    with tr.span("outer", exec_id="e1"):
        with tr.span("inner") as inner:
            pass
    assert [s.name for s in tr.spans] == ["inner", "outer"]
    assert inner.parent == tr.spans[1].sid and inner.exec_id == "e1"
    off = tracing.Tracer(enabled=False)
    with off.span("x") as x:
        pass
    assert off.spans == [] and x.end >= x.start


def test_listener_parsing():
    progress = {
        "id": "q", "runId": "r-1", "batchId": 7, "numInputRows": 10000,
        "durationMs": {"addBatch": 180, "queryPlanning": 12, "walCommit": 9, "commitOffsets": 7,
                       "triggerExecution": 230, "latestOffset": 3},
        "eventTime": {"watermark": "2024-01-02T03:00:00.000Z", "max": "2024-01-02T05:00:00.000Z"},
        "stateOperators": [{"numRowsTotal": 60, "commitTimeMs": 21}, {"numRowsTotal": 5, "commitTimeMs": 4}],
        "sink": {"description": "MemorySink", "numOutputRows": 15},
    }
    rec = tracing.parse_progress(json.dumps(progress))
    assert rec["batch_id"] == 7 and rec["run_id"] == "r-1" and rec["input_rows"] == 10000
    assert rec["trigger_ms"] == 230 and rec["add_batch_ms"] == 180 and rec["query_planning_ms"] == 12
    assert rec["wal_commit_ms"] == 9 and rec["commit_offsets_ms"] == 7
    assert rec["state_commit_ms"] == 25 and rec["state_rows"] == 65 and rec["sink_rows"] == 15
    assert rec["watermark_us"] == 1704164400 * 1_000_000
    bare = tracing.parse_progress(json.dumps({"runId": "r", "batchId": 0, "eventTime": {}}))
    assert bare["watermark_us"] is None and bare["state_commit_ms"] == 0


def test_plan_fingerprint_strips_ids_and_locations():
    a = "HashAggregate(keys=[k#12L]) +- FileScan parquet [k#12L] Location: InMemoryFileIndex(1 paths)[file:/x/base_s1/t.parquet]"
    b = "HashAggregate(keys=[k#98L]) +- FileScan parquet [k#98L] Location: InMemoryFileIndex(1 paths)[file:/y/x10_s2/t.parquet]"
    c = "SortAggregate(keys=[k#12L]) +- FileScan parquet [k#12L] Location: InMemoryFileIndex(1 paths)[file:/x/t.parquet]"
    assert tracing.plan_fingerprint(a) == tracing.plan_fingerprint(b) != tracing.plan_fingerprint(c)


def test_launched_tasks_skip_skipped_stages():
    from pyspark.status import SparkStageInfo

    ran = SparkStageInfo(1, 0, "map", numTasks=4, numActiveTasks=0, numCompletedTasks=4, numFailedTasks=1)
    skipped = SparkStageInfo(2, 0, "map", numTasks=4, numActiveTasks=0, numCompletedTasks=0, numFailedTasks=0)
    assert tracing.launched_tasks(ran) == 5
    assert tracing.launched_tasks(skipped) == 0
    assert tracing.launched_tasks(None) == 0


def test_oracle_cache_recomputed_when_oracle_sql_changes(corpora, tmp_path):
    from types import SimpleNamespace

    cache = str(tmp_path / "o.json")
    specs = {"q": SimpleNamespace(oracle="SELECT count(*) AS n FROM region")}
    first = oracle.oracle_digests(cache, corpora["a1"], specs, ("q",), gen.TABLES)
    assert oracle.oracle_digests(cache, corpora["a1"], specs, ("q",), gen.TABLES) == first
    specs["q"] = SimpleNamespace(oracle="SELECT count(*) AS n FROM nation")
    assert oracle.oracle_digests(cache, corpora["a1"], specs, ("q",), gen.TABLES) != first
    with open(cache) as f:
        assert json.load(f)["q"]["oracle_id"] == oracle.oracle_id(specs["q"].oracle)


def test_plan_fingerprint_same_for_every_micro_batch():
    def batch(epoch, ver, run_id, wm):
        return (
            f"WriteToDataSourceV2 MicroBatchWrite[epoch: {epoch}, writer: x.MemoryStreamingWrite@6f9d53{epoch}]\n"
            f"+- StateStoreSave [w#31-T7200000ms], state info [ checkpoint = file:/t/temporary-{run_id}/state, "
            f"runId = {run_id}, opId = 0, ver = {ver}, numPartitions = 32] stateStoreCkptIds = None, Append, {wm}, "
            f"{wm + 500}, 2\n   +- EventTimeWatermark {run_id}, ts#19: timestamp, 2 hours"
        )

    a = batch(2, 2, "b1b46ed8-fe29-47ad-9e3a-6ec2da5e4b18", 1704578390858)
    b = batch(3, 3, "14e00a72-bfc4-4cb7-8af5-2aeb162e8313", 1706133580245)
    assert tracing.plan_fingerprint(a) == tracing.plan_fingerprint(b)
    assert tracing.plan_fingerprint(a) != tracing.plan_fingerprint(a.replace("numPartitions = 32", "numPartitions = 4"))
