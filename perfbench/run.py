"""End-to-end benchmark of the stellarsql_spark engine on one host.

    python3 perfbench/run.py --workload adhoc_sf0.1 --seed 1 --seconds 12 --trace 0

Each run is one process on ``local[nproc]``.  It generates its inputs
from ``--seed`` (``perfbench/gen.py``), sets the engine up through its
public entry points (``session.get_spark``, ``tune_for_data_size``,
``registry.all_specs``, ``catalog.load_table``), runs the workload, checks
every result against a DuckDB oracle, and prints one JSON object as
its last line of standard output.

Workloads (closed loop, one client):
- ``adhoc_sf0.1``: the ten headline keys over the base corpus, one cold
  pass, then at least ``MIN_PASSES`` steady passes until ``--seconds``
  have gone; the seed permutes the key order of every pass.  Every
  execution pays what a caller pays: ``spec.builder(spark, dir)`` ->
  ``executedPlan()`` -> ``toArrow()``, with no cache and no prepared plan.
- ``stream_events``: the base corpus's events through
  ``streaming.windows.tumbling_hourly`` with a 2 h watermark in append
  mode, drained by ``streaming.runtime.run_to_memory`` one file per
  micro-batch: one cold drain, then fresh queries over the same steady
  files, at least ``MIN_DRAINS`` of them, until ``--seconds`` have gone.
- ``batch_x10`` (the headline keys over the 10x corpus) and
  ``curate_docs`` (six LLM-curation keys over the base corpus) run the
  same query loop; they are not in ``BENCHMARK.json``.

End-to-end metrics (``--trace 0``), the same names on every workload:
- ``setup_s``: median of ``RESTARTS`` session set-ups (get_spark, tune,
  all_specs, first touch of the inputs) in the running JVM.  They follow
  the cold pass, each after ``spark.stop()`` and a full GC, and after
  ``WARM_RESTARTS`` untimed ones that warm the set-up path's JIT.  The
  cold set-up at process start (imports, JVM launch, first class
  loading) is the per-layer ``setup.cold_s``.
- ``first_pass_s``: the cold work on a fresh JVM: the first pass over
  the keys, or the cold drain's micro-batches.
- ``pass_s``: one steady pass at its best: the sum over keys of each
  key's fastest steady latency (build through Arrow collect), or over
  batch positions of the fastest steady ``triggerExecution`` time.
  Contention from other guests on a shared host only adds time, so the
  best repeat is the figure that moves least between runs.
- ``latency_gmean_s``: the geometric mean of the same per-key (or
  per-batch) best times.
- ``retained_mb``: JVM heap live after a full GC at the end of the run
  plus this process's RSS after its allocators have returned their free
  memory to the system.
Failures are the ``failed``/``attempted`` counts of the result line.

``--trace 1`` makes the same calls in the same order, records spans and
counters, prints the per-layer metrics (the cold set-up, the median
restart's set-up steps, and per steady pass: build, plan and execution
seconds, tasks launched, scanned rows, shuffle bytes, JVM<->Python bytes
and result rows), and writes the trace
(spans with self time, per-key counters, plan fingerprints, streaming
per-batch detail and the tracing overhead against the last untraced run
of the workload) to ``perfbench/.cache/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
INPUTS = os.path.join(CACHE, "inputs")  # generated corpora and oracle digests

# bench.py's ten headline keys, pinned here so the workload cannot move
# with the program it measures
HEADLINE10 = (
    "b_agg_groupby", "b_join_inner", "b_topk_per_group", "b_stream_tumbling", "b_llm_cosine_topk",
    "b_llm_dedup_exact", "b_win_running_sum", "b_join_asof", "b_tpch_q3", "b_ev_funnel",
)
CURATE6 = (
    "b_llm_scrub", "b_llm_quality", "b_llm_simhash", "b_llm_tfidf", "b_llm_bpe_tokens", "b_llm_embed_gemm",
)

WORKLOADS = {
    "adhoc_sf0.1": {"layout": "base", "keys": HEADLINE10},
    "batch_x10": {"layout": "x10", "keys": HEADLINE10},
    "curate_docs": {"layout": "base", "keys": CURATE6},
    "stream_events": {"layout": "stream", "keys": ()},
}

WARM_RESTARTS = 1  # untimed set-ups that warm the set-up path before setup_s is measured
RESTARTS = 3  # setup_s is the median of this many in-JVM set-ups per run
MIN_PASSES = 3  # steady passes per query run, however short --seconds is
MIN_DRAINS = 3  # steady drains per stream run, however short --seconds is; its metrics take the best
STREAM_WATERMARK = "2 hours"

END_TO_END_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "latency_gmean_s": "s", "retained_mb": "MiB",
}
SETUP_STEPS = ("session.get_spark", "session.tune", "registry.all_specs", "catalog.first_touch")
PER_LAYER_UNITS = {
    "setup.cold_s": "s", "session.get_spark_s": "s", "session.tune_s": "s", "registry.all_specs_s": "s",
    "catalog.first_touch_s": "s", "build_s": "s", "plan_s": "s", "exec_s": "s", "tasks": "count",
    "scan_rows": "count", "shuffle_bytes": "bytes", "python_bytes": "bytes", "result_rows": "count",
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _isolate_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and let Python workers import the engine."""
    tmp = os.path.join(CACHE, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.chdir(ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM Spark starts (its launcher too): temp files in the
    # checkout, and no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def _vm_status_kib(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


class Engine:
    """One benchmark process's view of the engine: session set-up,
    restarts and the final JVM shutdown."""

    def __init__(self, corpus: str, layout: str, cpus: int, tracer):
        self.corpus, self.layout, self.cpus, self.tracer = corpus, layout, cpus, tracer
        self.spark = None
        self.specs = None
        self.listener = None
        self.stream_queries: list = []  # filled by the traced stream run

    def setup(self) -> dict[str, float]:
        """Set the engine up; returns the wall time of the whole set-up
        (``setup``) and of each of its ``SETUP_STEPS``."""
        tr = self.tracer
        with tr.span("setup") as whole:
            from stellarsql_spark import catalog, registry, session

            with tr.span("session.get_spark") as get_spark:
                self.spark = session.get_spark("perfbench", cpus=self.cpus)
            with tr.span("session.tune") as tune:
                session.tune_for_data_size(self.spark, self.corpus, cpus=self.cpus)
            with tr.span("registry.all_specs") as specs:
                self.specs = registry.all_specs()
            with tr.span("catalog.first_touch") as touch:
                if self.layout == "stream":
                    self.spark.read.parquet(os.path.join(self.corpus, "steady")).schema  # the source's footer
                else:
                    for t in catalog.TABLES:
                        catalog.load_table(self.spark, self.corpus, t)
            if self.listener is not None:
                self.spark.streams.addListener(self.listener)
        return {s.name: s.end - s.start for s in (whole, get_spark, tune, specs, touch)}

    def restart(self) -> dict[str, float]:
        """Stop the session and set it up again in the same JVM, after a
        full GC, so every restart starts from the same heap state."""
        from pyspark import SparkContext

        self.spark.stop()
        SparkContext._jvm.java.lang.System.gc()
        return self.setup()

    def restarts(self) -> list[dict[str, float]]:
        """The timed restarts, after the untimed warm-up ones."""
        return [self.restart() for _ in range(WARM_RESTARTS + RESTARTS)][WARM_RESTARTS:]

    def noop_floor(self, reps: int = 5) -> float:
        """Median wall time of a fixed one-stage no-op job (host witness)."""
        from tracing import median

        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            self.spark.range(0, self.cpus, 1, self.cpus).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return median(times)

    def peak_rss_mib(self) -> float:
        from pyspark import SparkContext

        return (_vm_status_kib(SparkContext._gateway.proc.pid, "VmHWM") + _vm_status_kib("self", "VmHWM")) / 1024.0

    def retained_mib(self) -> dict[str, float]:
        """JVM heap still live after a full GC, and this process's RSS
        once pyarrow's pool and malloc have released their free pages:
        the memory the run leaves held (caches included).  Peak RSS
        follows the JVM's lazy heap growth and varies run to run by a
        third, so it is recorded but not the metric; RSS before the
        release keeps whatever the allocators happened to cache."""
        import ctypes

        import pyarrow as pa

        jvm = self.spark.sparkContext._jvm
        for _ in range(2):
            jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        rss_held = _vm_status_kib("self", "VmRSS") / 1024.0
        pa.default_memory_pool().release_unused()
        ctypes.CDLL("libc.so.6").malloc_trim(0)
        return {"jvm_heap_mb": heap / 1048576.0, "python_rss_mb": _vm_status_kib("self", "VmRSS") / 1024.0,
                "python_rss_held_mb": rss_held}

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- query workloads ---------------------------------------------------------


def run_pass(eng: Engine, keys, rng: random.Random, trace: bool, pass_no: int) -> list[dict]:
    """One pass over ``keys`` in seeded order; returns a record per execution."""
    from oracle import arrow_digest
    from tracing import group_counts, plan_counters, plan_fingerprint

    order = list(keys)
    rng.shuffle(order)
    sc = eng.spark.sparkContext
    tr = eng.tracer
    records = []
    with tr.span(f"pass.{pass_no}"):
        for key in order:
            eid = f"p{pass_no}.{key}"
            sc.setJobGroup(eid, key)
            rec = {"key": key, "pass": pass_no, "ok": False}
            try:
                with tr.span(f"query.{key}", exec_id=eid) as q:
                    with tr.span(f"build.{key}") as b:
                        df = eng.specs[key].builder(eng.spark, eng.corpus)
                    with tr.span(f"plan.{key}") as p:
                        jplan = df._jdf.queryExecution().executedPlan()
                    with tr.span(f"exec.{key}") as e:
                        table = df.toArrow()
                # every timer has stopped: check and count
                rec.update(latency_s=q.end - q.start, build_s=b.end - b.start,
                           plan_s=p.end - p.start, exec_s=e.end - e.start)
                rec["digest"] = arrow_digest(table)
                rec["ok"] = True
                if trace:
                    rec.update(plan_counters(jplan))
                    rec["tasks"] = group_counts(sc, eid)["tasks"]
                    rec["result_rows"] = table.num_rows
                    rec["fingerprint"] = plan_fingerprint(jplan.toString())
            except Exception:  # noqa: BLE001 - a failed execution is counted, not fatal
                _log(f"execution {eid} raised:\n{traceback.format_exc()}")
            records.append(rec)
    return records


def run_queries(eng: Engine, keys, seed: int, seconds: float, trace: bool) -> dict:
    rng = random.Random(seed)
    first = run_pass(eng, keys, rng, trace, 0)
    restarts = eng.restarts()
    passes, t0 = [], time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        passes.append(run_pass(eng, keys, rng, trace, len(passes) + 1))
    results = first + [r for p in passes for r in p]
    return {"first": first, "passes": passes, "restarts": restarts, "results": results}


def query_metrics(run: dict, trace: bool) -> tuple[dict, dict]:
    from tracing import gmean, median

    def total(recs, field):
        return sum(r.get(field, 0.0) for r in recs)

    # best of the steady passes, key by key: contention from other guests
    # on a shared host only ever adds time, and the best repeat moved least
    # between runs; a geometric mean across keys, not a median, because the
    # keys' latencies form clusters and a median jumps between two of them
    by_key: dict[str, list[float]] = {}
    for p in run["passes"]:
        for r in p:
            if "latency_s" in r:
                by_key.setdefault(r["key"], []).append(r["latency_s"])
    best = [min(v) for v in by_key.values()]
    e2e = {
        "first_pass_s": total(run["first"], "latency_s"),
        "pass_s": sum(best),
        "latency_gmean_s": gmean(best),
    }
    layer = {}
    if trace:
        for f in ("build_s", "plan_s", "exec_s", "tasks", "scan_rows", "shuffle_bytes", "python_bytes",
                  "result_rows"):
            layer[f] = median([total(p, f) for p in run["passes"]])
    return e2e, layer


def per_key(results: list[dict]) -> dict:
    from tracing import median

    out: dict[str, dict] = {}
    for r in results:
        if r["pass"] == 0 or "latency_s" not in r:
            continue
        out.setdefault(r["key"], []).append(r)
    summary = {}
    for key, recs in sorted(out.items()):
        s = {f: median([r[f] for r in recs]) for f in ("latency_s", "build_s", "plan_s", "exec_s")}
        for f in ("tasks", "scan_rows", "shuffle_bytes", "python_bytes", "result_rows", "fingerprint"):
            if f in recs[0]:
                s[f] = recs[-1][f]
        s["n"] = len(recs)
        summary[key] = s
    return summary


def count_failed(results: list[dict], want: dict[str, str]) -> int:
    """Executions that raised or whose digest differs from the oracle's."""
    return sum(1 for r in results if not r["ok"] or r["digest"] != want[r["key"]])


# --- stream workload ---------------------------------------------------------


def drain(eng: Engine, source: str, progress: list[str], trace: bool) -> dict:
    """One fresh streaming query over ``source``, drained by run_to_memory;
    returns its micro-batches (from the listener) and its sink's digest."""
    from stellarsql_spark.streaming.runtime import events_stream_from_dir, run_to_memory
    from stellarsql_spark.streaming.windows import tumbling_hourly

    from oracle import arrow_digest
    from tracing import group_counts, parse_progress, plan_counters, plan_fingerprint, stream_last_plan

    spark = eng.spark
    tr = eng.tracer
    seen = len(progress)
    with tr.span("stream.drain", exec_id=source):
        with tr.span("build.stream") as b:
            events = events_stream_from_dir(spark, source, max_files_per_trigger=1)
            df = tumbling_hourly(events.withWatermark("ts", STREAM_WATERMARK))
        with tr.span("exec.stream"):
            sink = run_to_memory(df, output_mode="append")
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    batches = sorted((parse_progress(p) for p in progress[seen:]), key=lambda r: r["batch_id"])
    table = sink.toArrow()
    out = {"source": source, "batches": batches, "build_s": b.end - b.start,
           "digest": arrow_digest(table), "sink_rows": table.num_rows,
           "watermark_us": max((r["watermark_us"] or 0 for r in batches), default=0)}
    if trace and batches:
        # a streaming query runs its batches' jobs in a job group named by its runId
        out.update(group_counts(spark.sparkContext, batches[0]["run_id"]))
        jplan = stream_last_plan(eng.stream_queries[-1])
        out["python_bytes"] = plan_counters(jplan)["python_bytes"]
        out["fingerprint"] = plan_fingerprint(jplan.toString())
    return out


def run_stream(eng: Engine, progress: list[str], seconds: float, trace: bool) -> dict:
    """A cold drain on the fresh JVM, the set-up restarts, then at least
    MIN_DRAINS drains of the same steady files, until ``seconds`` have gone."""
    cold = drain(eng, os.path.join(eng.corpus, "cold"), progress, trace)
    restarts = eng.restarts()
    steady, t0 = [], time.perf_counter()
    while len(steady) < MIN_DRAINS or time.perf_counter() - t0 < seconds:
        steady.append(drain(eng, os.path.join(eng.corpus, "steady"), progress, trace))
    return {"cold": cold, "steady": steady, "restarts": restarts}


def _trigger_s(d: dict) -> list[float]:
    return [b["trigger_ms"] / 1000.0 for b in d["batches"]]


def stream_metrics(run: dict, trace: bool) -> tuple[dict, dict]:
    from tracing import gmean

    # best of the steady drains, batch by batch (each drain repeats the
    # same files, so position i is the same work every time)
    best = [min(ts) for ts in zip(*(_trigger_s(d) for d in run["steady"]))]
    e2e = {
        "first_pass_s": sum(_trigger_s(run["cold"])),
        "pass_s": sum(best),
        "latency_gmean_s": gmean(best),
    }
    layer = {}
    if trace:
        last = run["steady"][-1]
        bs = last["batches"]
        layer = {
            "build_s": last["build_s"],
            "plan_s": sum(b["query_planning_ms"] for b in bs) / 1000.0,
            "exec_s": sum(b["add_batch_ms"] for b in bs) / 1000.0,
            "tasks": last["tasks"],
            "scan_rows": sum(b["input_rows"] for b in bs),
            "shuffle_bytes": last["shuffle_bytes"],
            "python_bytes": last["python_bytes"],
            "result_rows": last["sink_rows"],
        }
    return e2e, layer


def stream_detail(run: dict) -> dict:
    from tracing import median

    drains = [run["cold"]] + run["steady"]
    out = {"drains": [{"source": os.path.basename(d["source"]), "trigger_s": _trigger_s(d),
                       "input_rows": sum(b["input_rows"] for b in d["batches"]), "sink_rows": d["sink_rows"],
                       "fingerprint": d.get("fingerprint")}
                      for d in drains]}
    steady = [b for d in run["steady"] for b in d["batches"]]
    out["steady_rows_per_s"] = (sum(b["input_rows"] for b in steady)
                                / max(1e-9, sum(b["trigger_ms"] for b in steady) / 1000.0))
    for f in ("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms",
              "state_commit_ms", "state_rows"):
        out[f"stream.{f}"] = median([b[f] for b in steady])
    return out


# --- main --------------------------------------------------------------------


def _write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
    os.replace(tmp, path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    wl = WORKLOADS[args.workload]

    _isolate_env()
    import gen
    from tracing import Tracer

    # inputs: generated (or reused) before anything is timed
    gen.prune(INPUTS, args.seed)
    corpus = gen.build(INPUTS, wl["layout"], args.seed)
    gen_info = gen.info(corpus)
    cpus = os.cpu_count() or 1
    witness = {"nproc": cpus, "cpus_usable": len(os.sched_getaffinity(0)), "cpus_used": cpus,
               "loadavg_start": os.getloadavg()}
    ticks0 = _cpu_ticks()

    tracer = Tracer(enabled=trace)
    eng = Engine(corpus, wl["layout"], cpus, tracer)
    progress: list[str] = []
    try:
        if wl["layout"] == "stream":
            from tracing import capture_stream_queries, progress_listener

            eng.listener = progress_listener(progress)
            if trace:
                capture_stream_queries(eng.stream_queries)
        cold_setup = eng.setup()
        witness["noop_floor_start_s"] = eng.noop_floor()
        if wl["layout"] == "stream":
            run = run_stream(eng, progress, args.seconds, trace)
            e2e, layer = stream_metrics(run, trace)
        else:
            run = run_queries(eng, wl["keys"], args.seed, args.seconds, trace)
            e2e, layer = query_metrics(run, trace)
        witness["noop_floor_end_s"] = eng.noop_floor()
        witness["peak_rss_mb"] = eng.peak_rss_mib()
        retained = eng.retained_mib()
    finally:
        eng.shutdown()
    witness["loadavg_end"] = os.getloadavg()
    ticks1 = _cpu_ticks()
    # CPU time the hypervisor gave to other guests while this run measured
    witness["cpu_steal_frac"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])

    # correctness: every digest against the DuckDB oracle (computed once
    # per key per corpus and cached with the inputs)
    import oracle
    from tracing import median

    if wl["layout"] == "stream":
        from stellarsql_spark.registry import get_spec

        sql = get_spec("b_stream_tumbling").oracle
        drains = [run["cold"]] + run["steady"]
        attempted = len(drains)
        failed = sum(d["digest"] != oracle.closed_windows_digest(d["source"], sql, d["watermark_us"]) for d in drains)
    else:
        from stellarsql_spark.registry import all_specs

        want = oracle.oracle_digests(
            os.path.join(INPUTS, gen.GEN_VERSION, f"oracle_{wl['layout']}.json"), corpus, all_specs(),
            wl["keys"], gen.TABLES,
        )
        attempted, failed = len(run["results"]), count_failed(run["results"], want)

    restarts = run["restarts"]
    e2e["setup_s"] = median([r["setup"] for r in restarts])
    e2e["retained_mb"] = retained["jvm_heap_mb"] + retained["python_rss_mb"]
    if trace:
        layer["setup.cold_s"] = cold_setup["setup"]
        for name in SETUP_STEPS:
            layer[f"{name}_s"] = median([r[name] for r in restarts])
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": trace,
              "gen": gen_info, "witness": witness, "cold_setup": cold_setup, "restarts": restarts,
              "retained": retained, "end_to_end": e2e, "attempted": attempted, "failed": failed}
    if wl["layout"] == "stream":
        record["stream"] = stream_detail(run)
    else:
        record["per_key"] = per_key(run["results"])
    last_untraced = os.path.join(CACHE, "runs", f"{args.workload}-e2e.json")
    if trace:
        record["per_layer"] = layer
        record["spans"] = tracer.dump()
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)
            record["tracing_overhead"] = {
                k: {"untraced": base[k], "traced": v, "ratio": v / base[k]} for k, v in e2e.items() if base.get(k)
            }
    else:
        _write_json(last_untraced, e2e)
    _write_json(os.path.join(CACHE, "runs", f"{args.workload}-s{args.seed}-t{int(trace)}.json"), record)
    _log(json.dumps({"witness": witness, "gen_s": gen_info["gen_s"], "cold_setup_s": cold_setup["setup"],
                     "restarts_s": [r["setup"] for r in restarts], "retained": retained,
                     "tracing_overhead": record.get("tracing_overhead")}))

    units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
    values = layer if trace else e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
