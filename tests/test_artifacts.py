"""The artifact-materialization primitive (stellarsql_spark/artifacts.py).

Every derived artifact — served rollups, bucketed tables, the hour
layout, vector indexes, fold artifacts, stream splits and the scaled
corpora — is built through ``artifacts.materialize``.  These tests pin
its contract once for all of them: a second call is a no-op, the
fingerprint follows the code a build runs (and only that code), a
failed build serves nothing, concurrent callers build once, and a
deleted part forces a rebuild.  The structural test keeps the protocol
in that one module.
"""

from __future__ import annotations

import ast
import inspect
import json
import os
import re
import subprocess
import sys
import textwrap
import types
from urllib.parse import urlparse

import pytest
from conftest import SF_MEDIUM, SF_SMALL

from stellarsql_spark import artifacts, scale
from stellarsql_spark.artifacts import MARKER, materialize
from stellarsql_spark.operators import graph, sorts
from stellarsql_spark.pipeline import dedup, vectors
from stellarsql_spark.sources import bucketed, events_layout
from stellarsql_spark.streaming import parity

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "stellarsql_spark")
SF, SF_MED = SF_SMALL, SF_MEDIUM


# --- the 18 builders: a second call is a no-op ----------------------------------


# builder -> call(spark, tmp_dir); the corpus each uses is the one its
# other tests already build, so the warehouse artifacts are shared
BUILDERS = {
    "ensure_scaled_corpus": lambda s, tmp: scale.ensure_scaled_corpus(s, SF, 2, out_root=tmp),
    "ensure_skewed_corpus": lambda s, tmp: scale.ensure_skewed_corpus(s, SF, 2, out_root=tmp),
    "ensure_graph_corpus": lambda s, tmp: scale.ensure_graph_corpus(s, SF, 2, out_root=tmp),
    # write_bucketed: the orderkey-bucketed pair, straight through it
    "_ensure_bucketed_table": lambda s, tmp: bucketed.write_bucketed(s, SF),
    "ensure_custkey_bucketed": lambda s, tmp: bucketed.ensure_custkey_bucketed(s, SF_MED),
    "ensure_join_rollup": lambda s, tmp: bucketed.ensure_join_rollup(s, SF),
    "ensure_pricing_rollup": lambda s, tmp: bucketed.ensure_pricing_rollup(s, SF),
    "ensure_topk_rollup": lambda s, tmp: bucketed.ensure_topk_rollup(s, SF),
    "ensure_hour_layout": lambda s, tmp: events_layout.ensure_hour_layout(s, SF_MED),
    "ensure_hourly_rollup": lambda s, tmp: events_layout.ensure_hourly_rollup(s, SF_MED),
    "ensure_dedup_hashset": lambda s, tmp: dedup.ensure_dedup_hashset(s, SF_MED),
    "ensure_standing_hashset_bucketed":
        lambda s, tmp: dedup.ensure_standing_hashset_bucketed(s, SF_MED),
    "ensure_pq_codes": lambda s, tmp: vectors.ensure_pq_codes(s, SF_MED),
    "ensure_ivfpq_index": lambda s, tmp: vectors.ensure_ivfpq_index(s, SF_MED),
    "ensure_ivfpq_residual_index":
        lambda s, tmp: vectors.ensure_ivfpq_residual_index(s, SF_MED),
    "ensure_edge_fold": lambda s, tmp: graph.ensure_edge_fold(s, SF_MED),
    "_three_file_stream_dir": lambda s, tmp: parity._three_file_stream_dir(s, SF),
    "_multibatch_dir": lambda s, tmp: parity._multibatch_dir(s, SF),
}


def _roots(spark, result) -> set[str]:
    """The artifact roots behind a builder's return value: paths (a
    root or a part inside one) or bucketed-table catalog names."""
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    out = set()
    for r in result if isinstance(result, tuple) else (result,):
        p = r if os.path.isabs(r) else os.path.join(warehouse, r)
        while not os.path.exists(os.path.join(p, MARKER)):
            assert p != os.path.dirname(p), f"no artifact root above {r}"
            p = os.path.dirname(p)
        out.add(p)
    return out


def _state(root: str) -> tuple[int, int]:
    return os.stat(root).st_ino, os.stat(os.path.join(root, MARKER)).st_mtime_ns


@pytest.mark.parametrize("builder", sorted(BUILDERS))
def test_second_call_is_noop(spark, tmp_path, builder):
    """Re-calling a builder with unchanged inputs and code returns the
    same result and leaves every root it vouches for untouched: same
    directory (a rebuild renames a fresh one into place), same marker.
    Bucketed tables additionally stay registered (a catalog no-op)."""
    run = BUILDERS[builder]
    first = run(spark, str(tmp_path))
    roots = _roots(spark, first)
    before = {r: _state(r) for r in roots}
    assert run(spark, str(tmp_path)) == first
    assert {r: _state(r) for r in roots} == before
    for name in first if isinstance(first, tuple) else (first,):
        if not os.path.isabs(name):
            assert spark.catalog.tableExists(name)


# --- fingerprint: follows the code the build runs ---------------------------------


def _edited(mod: types.ModuleType, name: str, old: str, new: str) -> types.FunctionType:
    """``mod.name`` as if ``old`` had been edited to ``new`` in its
    source file: the whole module is recompiled (so the bytecode is
    what a re-import would give) and only that function is taken."""
    with open(mod.__file__) as fh:
        src = fh.read()
    f = getattr(mod, name)
    seg = inspect.getsource(f)
    assert old in seg and src.count(seg) == 1
    code = compile(src.replace(seg, seg.replace(old, new, 1)), mod.__file__, "exec")
    fcode = next(c for c in code.co_consts if isinstance(c, types.CodeType) and c.co_name == name)
    g = types.FunctionType(fcode, f.__globals__, name, f.__defaults__, f.__closure__)
    g.__kwdefaults__ = f.__kwdefaults__
    assert artifacts.code_digest(g) != artifacts.code_digest(f)
    return g


def _toy_build(body: str):
    """A build function compiled from ``body`` (its whole text)."""
    ns: dict = {"os": os}
    exec(compile(textwrap.dedent(body), "<build>", "exec"), ns)
    return ns["build"]


_BUILD_A = """
def build(out):
    os.makedirs(out)
    with open(os.path.join(out, "data"), "w") as f:
        f.write("A")
"""


def test_editing_build_fn_body_rebuilds(tmp_path):
    a = _toy_build(_BUILD_A)
    b = _toy_build(_BUILD_A.replace('"A"', '"B"'))
    root = materialize(None, "toy", SF, ("orders",), a, under=str(tmp_path))
    assert materialize(None, "toy", SF, ("orders",), a, under=str(tmp_path)) == root
    state = _state(root)
    materialize(None, "toy", SF, ("orders",), b, under=str(tmp_path))
    assert _state(root) != state
    with open(os.path.join(root, "data")) as f:
        assert f.read() == "B"


def test_editing_reached_kernel_rebuilds(spark, monkeypatch):
    """The topk rollup's build reaches operators.sorts.topk3_packed
    through b_topk_per_group; editing the kernel (here a no-op
    rewrite of the rank expression) rebuilds the served artifact —
    the case the old hand-bumped builder token existed for."""
    root = bucketed.ensure_topk_rollup(spark, SF)
    state = _state(root)
    edited = _edited(
        sorts, "topk3_packed", '(F.col("pos") + 1).alias("rn"),', '(1 + F.col("pos")).alias("rn"),'
    )
    monkeypatch.setattr(sorts, "topk3_packed", edited)
    assert bucketed.ensure_topk_rollup(spark, SF) == root
    assert _state(root) != state
    assert spark.read.parquet(root).count() > 0


def test_editing_unrelated_module_does_not_rebuild(spark, monkeypatch):
    root = bucketed.ensure_topk_rollup(spark, SF)
    state = _state(root)
    monkeypatch.setattr(
        graph, "_lpa_argmax", _edited(graph, "_lpa_argmax", '.alias("n")', '.alias("cnt")')
    )
    bucketed.ensure_topk_rollup(spark, SF)
    assert _state(root) == state


def test_rebound_globals_are_not_code():
    """A module global some function rebinds at runtime (a load flag)
    is state: flipping it must not change a digest."""
    from stellarsql_spark import registry

    def build(out):
        registry.all_specs()

    d = artifacts.code_digest(build)
    before = registry._LOADED
    try:
        registry._LOADED = not before
        assert artifacts.code_digest(build) == d
    finally:
        registry._LOADED = before


# --- publish: all or nothing -------------------------------------------------------


def test_failed_build_serves_nothing_and_next_call_rebuilds(tmp_path):
    calls = []

    def broken(out):
        calls.append("broken")
        os.makedirs(os.path.join(out, "part"))
        with open(os.path.join(out, "part", "half"), "w") as f:
            f.write("x")
        raise RuntimeError("boom")

    def good(out):
        calls.append("good")
        os.makedirs(os.path.join(out, "part"))

    with pytest.raises(RuntimeError, match="boom"):
        materialize(None, "toy", SF, ("orders",), broken, under=str(tmp_path))
    root = os.path.join(str(tmp_path), artifacts.artifact_name("toy", SF))
    assert not os.path.exists(root)
    assert sorted(os.listdir(tmp_path)) == [os.path.basename(root) + ".lock"]
    assert materialize(None, "toy", SF, ("orders",), good, under=str(tmp_path)) == root
    assert calls == ["broken", "good"]
    assert os.listdir(os.path.join(root, "part")) == []


_RACER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from stellarsql_spark.artifacts import materialize

def build(out):
    with open({log!r}, "a") as f:
        f.write("built\\n")
    time.sleep(1.0)
    os.makedirs(out)

print(materialize(None, "toy", {sf!r}, ("orders",), build, under={under!r}))
"""


def test_concurrent_callers_build_once(tmp_path):
    """Three processes race for the same artifact: the flock plus the
    re-check under it make exactly one of them run the build, and all
    three return the published root."""
    log = str(tmp_path / "builds.log")
    src = _RACER.format(repo=REPO, log=log, sf=SF, under=str(tmp_path / "base"))
    procs = [
        subprocess.Popen([sys.executable, "-c", src], stdout=subprocess.PIPE, text=True)
        for _ in range(3)
    ]
    outs = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert all(p.returncode == 0 for p in procs)
    assert len(set(outs)) == 1 and os.path.isdir(outs[0])
    with open(log) as f:
        assert f.read() == "built\n"


def test_deleting_one_part_rebuilds(tmp_path):
    calls = []

    def build(out):
        calls.append(1)
        for part in ("codes", "codebook"):
            os.makedirs(os.path.join(out, part))
            open(os.path.join(out, part, "_SUCCESS"), "w").close()

    root = materialize(None, "toy", SF, ("orders",), build, under=str(tmp_path))
    with open(os.path.join(root, MARKER)) as f:
        assert json.load(f)["parts"] == ["codebook", "codes"]
    materialize(None, "toy", SF, ("orders",), build, under=str(tmp_path))
    assert len(calls) == 1
    os.remove(os.path.join(root, "codebook", "_SUCCESS"))
    os.rmdir(os.path.join(root, "codebook"))
    materialize(None, "toy", SF, ("orders",), build, under=str(tmp_path))
    assert len(calls) == 2
    assert os.path.exists(os.path.join(root, "codebook", "_SUCCESS"))


def test_input_change_rebuilds(tmp_path):
    """Regenerating an input table (new mtime) rebuilds the artifact."""
    src = tmp_path / "in.parquet"
    src.write_bytes(b"x")
    calls = []

    def build(out):
        calls.append(1)
        os.makedirs(out)

    materialize(None, "toy", SF, (str(src),), build, under=str(tmp_path))
    os.utime(src, ns=(1_000_000_000, 1_000_000_000))
    materialize(None, "toy", SF, (str(src),), build, under=str(tmp_path))
    assert len(calls) == 2


# --- structure: the protocol lives in one module -------------------------------------

# The one module-level exception: b_stream_state_reader's checkpoint
# marker.  Its fingerprint carries the Spark application id, so the
# checkpoint is session-scoped, never reused across sessions — not a
# reusable artifact, so it does not go through artifacts.materialize.
_ALLOWED_MARKERS = {("streaming/parity.py", "_DONE")}
# private protocol helpers, e.g. the old _marker_ok / _published_ok /
# _build_serialized / _bucket_fingerprint (b_llm_fingerprint, a query key, is public)
_HELPER = re.compile(r"^_(\w+_)?(marker|lock|fingerprint|published|serialized)(_\w+)?$")


def _modules():
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(dirpath, f)
            if f.endswith(".py") and path != os.path.join(PKG, "artifacts.py"):
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read())


def test_protocol_lives_in_one_module():
    """No module under stellarsql_spark/ other than artifacts.py may
    import fcntl, take a flock, compose input fingerprints, define a
    marker/lock/fingerprint helper, or name a done-marker file."""
    bad = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import) and any(a.name == "fcntl" for a in node.names):
                bad.append((rel, "import fcntl"))
            if isinstance(node, ast.ImportFrom) and node.module == "fcntl":
                bad.append((rel, "from fcntl import"))
            if isinstance(node, (ast.Name, ast.Attribute)):
                ident = node.id if isinstance(node, ast.Name) else node.attr
                if ident in ("flock", "content_fingerprint"):
                    bad.append((rel, ident))
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and _HELPER.search(
                node.name
            ):
                bad.append((rel, f"def {node.name}"))
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith("_")
                and node.value.endswith("DONE")
                and (rel, node.value) not in _ALLOWED_MARKERS
            ):
                bad.append((rel, f"marker {node.value!r}"))
    assert bad == []


def test_every_builder_calls_materialize():
    """All 18 builders go through the primitive — directly, or (the
    bucketed ones) through _ensure_bucketed_table, which does."""
    calls: dict[str, set[str]] = {}
    for _, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name in BUILDERS:
                calls[node.name] = {
                    n.func.id
                    for n in ast.walk(node)
                    if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
                }
    assert set(calls) == set(BUILDERS)
    via = {"materialize", "_ensure_bucketed_table"}
    assert {k for k, v in calls.items() if not v & via} == set()
    assert "materialize" in calls["_ensure_bucketed_table"]
