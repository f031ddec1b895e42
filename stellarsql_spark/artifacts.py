"""Derived artifacts on disk: one rule for building and reusing them.

Served rollups, bucketed tables, the hour layout, vector indexes,
stream splits and the scaled ``.scale`` corpora are all derived from
corpus tables and kept on disk across sessions.  ``materialize`` is
the only way they are made, and it owns the whole protocol:

- **path**: ``<base>/<name>_<tag>``.  ``base`` is the session's
  warehouse directory unless the caller names another (the scaled
  corpora live under ``.scale/``); ``tag`` is the corpus path with
  every non-alphanumeric character replaced by ``_``.  Multi-part
  artifacts are ONE root directory with the parts inside it.
- **fingerprint**: the inputs' ``content_fingerprint`` (corpus tables
  or upstream artifact roots) plus a digest of the code the build
  runs — ``build_fn``'s bytecode, the simple values it closes over
  (the call's parameters), and every ``stellarsql_spark`` function
  and immutable module constant it reaches by name, transitively.
  Editing a kernel a build reaches therefore rebuilds the artifact;
  editing an unrelated module does not.  It is computed on every
  call, never at import, so there is no version token to bump.
- **lock**: one ``flock`` on ``<root>.lock``; the fingerprint is
  checked again under it, so concurrent callers build once.
- **publish**: the build writes into the sibling ``<root>.tmp``; the
  marker (fingerprint + the root's part list) is written inside it
  and the directory is ``os.rename``d into place.  A reader sees the
  old root or the new one, never a half-written one, and a build
  that raises leaves nothing at the root that passes the check.

An artifact is served only if its marker matches the current
fingerprint and every part it lists still exists, so deleting an
artifact's root (or any one part) forces a rebuild on the next call.
"""

from __future__ import annotations

import dis
import fcntl
import functools
import hashlib
import importlib
import json
import os
import shutil
import sys
import types
from typing import Callable, Iterable

from pyspark.sql import SparkSession

MARKER = "_ARTIFACT"
_PACKAGE = __name__.split(".")[0]


def content_fingerprint(path: str) -> str:
    """Change-detection fingerprint of one input path.

    For a plain file: size + mtime_ns.  For a DIRECTORY (a multi-file
    parquet table, or an upstream artifact root), the directory
    inode's own size/mtime misses in-place rewrites of same-named
    member files, so the fingerprint is the sorted (name, size,
    mtime_ns) listing of the contained entries instead."""
    if os.path.isdir(path):
        entries = []
        for n in sorted(os.listdir(path)):
            if n.startswith((".", "_")):  # _SUCCESS, markers, .crc — not data
                continue
            st = os.stat(os.path.join(path, n))
            entries.append(f"{n}:{st.st_size}:{st.st_mtime_ns}")
        return f"{path}|{'|'.join(entries)}"
    st = os.stat(path)
    return f"{path}:{st.st_size}:{st.st_mtime_ns}"


def artifact_name(name: str, sf_dir: str) -> str:
    """``<name>_<tag>``: the root's directory name, which is also the
    catalog name of a bucketed table."""
    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir.rstrip("/")).strip("_")
    return f"{name}_{tag}"


def materialize(
    spark: SparkSession | None,
    name: str,
    sf_dir: str,
    inputs: Iterable[str],
    build_fn: Callable[[str], None],
    *,
    under: str | None = None,
) -> str:
    """Return the root of artifact ``name`` for corpus ``sf_dir``,
    building it with ``build_fn(out_dir)`` unless a root with the
    current fingerprint is already published.

    ``inputs`` are table names under ``sf_dir`` or absolute paths
    (an upstream artifact's root).  ``build_fn`` writes every part
    under the directory it is given; it must not touch the root.
    ``under`` overrides the base directory (default: the session's
    warehouse)."""
    if under is None:
        from urllib.parse import urlparse

        under = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    root = os.path.join(under, artifact_name(name, sf_dir))
    fp = _fingerprint(sf_dir, inputs, build_fn)
    if _published(root, fp):
        return root
    os.makedirs(under, exist_ok=True)
    tmp, old = root + ".tmp", root + ".old"
    with open(root + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if _published(root, fp):  # another caller built it meanwhile
            return root
        try:
            for d in (tmp, old):  # leftovers of a crashed build
                shutil.rmtree(d, ignore_errors=True)
            build_fn(tmp)
            os.makedirs(tmp, exist_ok=True)
            parts = sorted(os.listdir(tmp))
            with open(os.path.join(tmp, MARKER), "w") as f:
                json.dump({"fingerprint": fp, "parts": parts}, f)
            if os.path.lexists(root):
                os.rename(root, old)
            os.rename(tmp, root)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
    return root


def _fingerprint(sf_dir: str, inputs: Iterable[str], build_fn: Callable) -> str:
    """The digest ``materialize`` publishes an artifact under."""
    from stellarsql_spark.catalog import table_path

    h = hashlib.sha256()
    for x in inputs:
        h.update(content_fingerprint(x if os.path.isabs(x) else table_path(sf_dir, x)).encode())
        h.update(b"\0")
    h.update(code_digest(build_fn).encode())
    return h.hexdigest()


def _published(root: str, fp: str) -> bool:
    try:
        with open(os.path.join(root, MARKER)) as f:
            marker = json.load(f)
    except (OSError, ValueError):
        return False
    return marker.get("fingerprint") == fp and all(
        os.path.lexists(os.path.join(root, p)) for p in marker.get("parts", ())
    )


# --- code digest ----------------------------------------------------------


def code_digest(fn: Callable) -> str:
    """Digest of the code ``fn`` runs: its bytecode and constants, the
    simple values in its closure and defaults, and — transitively —
    every ``stellarsql_spark`` function and immutable module constant
    its code reaches by name (globals, ``module.attr`` and
    function-local ``from stellarsql_spark... import`` alike).
    Bytecode, not source, so comments and line numbers do not count;
    globals some function rebinds at runtime (flags, counters) are
    state, not code, and are skipped."""
    h = hashlib.sha256()
    seen: set[int] = set()

    def value(label: str, v: object) -> None:
        if isinstance(v, types.FunctionType):
            if _is_own(v.__module__ or ""):
                func(v)
            return
        r = _const_repr(v)
        if r is not None:
            h.update(f"{label}={r}".encode())

    def func(f: types.FunctionType) -> None:
        if id(f) in seen:
            return
        seen.add(id(f))
        h.update(f.__qualname__.encode())
        code(f.__code__, f.__globals__)
        for i, d in enumerate(f.__defaults__ or ()):
            value(f"default{i}", d)
        for k, d in sorted((f.__kwdefaults__ or {}).items()):
            value(k, d)
        for n, cell in zip(f.__code__.co_freevars, f.__closure__ or ()):
            try:
                v = cell.cell_contents
            except ValueError:  # not yet bound
                continue
            value(n, v)

    def code(c: types.CodeType, glb: dict) -> None:
        h.update(c.co_code)
        for k in c.co_consts:
            if isinstance(k, types.CodeType):
                code(k, glb)
            else:
                h.update((_const_repr(k) or "?").encode())
        # function-local imports name their module in co_names
        own = [importlib.import_module(n) for n in c.co_names if _is_own(n)]
        skip = _rebound(glb.get("__name__", ""))
        for n in c.co_names:
            v = glb.get(n)
            if isinstance(v, types.ModuleType):
                if _is_own(v.__name__):
                    own.append(v)
            elif n in glb and n not in skip:
                value(n, v)
        for m in own:  # grows when an attribute is itself an own module
            skip = _rebound(m.__name__)
            for n in c.co_names:
                v = getattr(m, n, None)
                if isinstance(v, types.ModuleType):
                    if _is_own(v.__name__) and v not in own:
                        own.append(v)
                elif v is not None and n not in skip:
                    value(f"{m.__name__}.{n}", v)

    func(fn)
    return h.hexdigest()


def _is_own(module_name: str) -> bool:
    return module_name.split(".")[0] == _PACKAGE


def _const_repr(v: object) -> str | None:
    """Stable text of an immutable constant (set order and hash seeds
    do not leak into it); None for anything else."""
    if v is None or isinstance(v, (bool, int, float, complex, str, bytes)):
        return repr(v)
    if type(v) in (tuple, frozenset):  # not os.stat_result & co.
        items = [_const_repr(x) for x in v]
        if None in items:
            return None
        if type(v) is frozenset:
            items.sort()
        return f"{type(v).__name__}({','.join(items)})"
    if isinstance(v, types.MappingProxyType):
        items = [(_const_repr(k), _const_repr(x)) for k, x in v.items()]
        if any(None in kv for kv in items):
            return None
        return "mapping(" + ",".join(sorted(f"{k}:{x}" for k, x in items)) + ")"
    return None


@functools.lru_cache(maxsize=None)
def _rebound(module_name: str) -> frozenset[str]:
    """Globals some function of the module assigns (``global x``)."""
    names: set[str] = set()

    def scan(c: types.CodeType) -> None:
        for ins in dis.get_instructions(c):
            if ins.opname in ("STORE_GLOBAL", "DELETE_GLOBAL"):
                names.add(ins.argval)
        for k in c.co_consts:
            if isinstance(k, types.CodeType):
                scan(k)

    mod = sys.modules.get(module_name)
    for v in vars(mod).values() if mod else ():
        if isinstance(v, types.FunctionType) and v.__module__ == module_name:
            scan(v.__code__)
    return frozenset(names)
