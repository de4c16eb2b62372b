"""Shared one-time artifacts: the ``@artifact`` registry and its
cross-session content-addressed cache (VERDICT r10 #3).

Every shared artifact (the TSDB model, the shingle/signature/pair
tables, the media fixtures, the persisted stores ...) is a deterministic
function of (sf_dir, its parameters, its own code). It is declared once::

    @artifact("shingles", doc_shingle_hashes, params=SHINGLE_PARAMS)
    def _sh(spark, sf_dir, n):
        return doc_shingle_hashes(_docs(spark, sf_dir), n=n)

and the decorator supplies everything else: a per-session memo keyed by
(applicationId, sf_dir, params), ``tune(spark)`` on a miss, the code
version ``source_version(builder, *deps)``, the cross-session build
(``cached_frame`` → persist → count for a frame, ``cached_dir`` for a
directory, nothing for a session-only value) and registration in
``ARTIFACTS`` — the registry ``queries_ext.one_time_builders()`` views
for the bench's one-time tier, so the two cannot drift.

On disk each build has a stable home keyed by a content hash of (name,
sf_dir, params, code-version), with a ``.complete`` marker for commit —
so a second session reuses the artifact, and ANY change to the builder's
source (the version is an ``inspect.getsource`` hash of the builder and
its declared dependencies) moves the key and forces a clean rebuild.
Stale artifacts are never read; they are simply orphaned under the old
key.

Layout: ``<repo>/.tmp/onetime/<name>-<md5(key)[:16]>/`` (``.tmp/`` is
gitignored). Opt out with ``TAGTREE_ONETIME_CACHE=0`` (every build then
lands in a fresh tempdir, the pre-r11 behavior).

Concurrency: builds land in a pid-suffixed staging dir and commit via a
single ``os.rename`` — two racing sessions both build, one rename wins,
the loser reuses the winner's artifact. Readers only ever see fully
committed directories.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import os
import shutil
import tempfile

from tagtree_spark.session import tune

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cache_root() -> str | None:
    """The cache directory, or None when disabled via env."""
    env = os.environ.get("TAGTREE_ONETIME_CACHE", "")
    if env == "0":
        return None
    if env:
        return env
    return os.path.join(_REPO_ROOT, ".tmp", "onetime")


def _is_repo_function(v) -> bool:
    import types

    if not isinstance(v, types.FunctionType):
        return False
    try:
        f = inspect.getsourcefile(v)
    except TypeError:
        return False
    return bool(f) and os.path.abspath(f).startswith(_REPO_ROOT + os.sep)


def _is_repo_module(v) -> bool:
    import types

    if not isinstance(v, types.ModuleType):
        return False
    f = getattr(v, "__file__", None)
    return bool(f) and os.path.abspath(f).startswith(_REPO_ROOT + os.sep)


def _callees(fn) -> dict:
    """Repo-local functions referenced ONE level down from ``fn``'s code
    (resolved via its module globals), recursing into nested code objects
    (lambdas, comprehensions) but not into the callees' own callees.

    Module-attribute references (``pf.choose_page_type`` style — ADVICE
    r12 #3) are covered by over-approximation: ``co_names`` holds both
    global names and attribute names, so for every repo-local MODULE the
    code references, every other co_name that resolves to a function on
    that module is included. This can only over-include (a key moves when
    an unrelated same-named helper changes) — safe for a cache key, where
    over-invalidation costs a rebuild and under-invalidation serves stale
    data."""
    import types

    out: dict = {}
    code = getattr(fn, "__code__", None)
    g = getattr(fn, "__globals__", None)
    if code is None or g is None:
        return out
    names: set = set()
    stack = [code]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        for const in c.co_consts:
            if isinstance(const, types.CodeType):
                stack.append(const)
    mods = []
    for n in sorted(names):
        v = g.get(n)
        if _is_repo_function(v):
            out[f"{v.__module__}.{v.__qualname__}"] = v
        elif _is_repo_module(v):
            mods.append(v)
    for m in mods:
        for n in sorted(names):
            v = getattr(m, n, None)
            if _is_repo_function(v):
                out.setdefault(f"{v.__module__}.{v.__qualname__}", v)
    return out


def source_version(*objs) -> str:
    """Code-version hash: md5 over the SOURCE of the builder, its declared
    dependencies, AND every repo-local function any of them references one
    level down (``co_names`` resolved in each object's module globals, so
    an UNDECLARED direct helper also moves the key — VERDICT r11 #4; the
    declared-deps list still carries deeper transitive intent). Editing
    any of them moves the cache key and forces a clean rebuild. An
    ``@artifact`` accessor stands for its builder."""
    seen: dict = {}
    for o in map(inspect.unwrap, objs):
        key = f"{getattr(o, '__module__', '')}.{getattr(o, '__qualname__', repr(o))}"
        seen[key] = o
        for k, v in _callees(o).items():
            seen.setdefault(k, v)
    src = "".join(inspect.getsource(seen[k]) for k in sorted(seen))
    return hashlib.md5(src.encode()).hexdigest()[:12]


#: Staging dirs older than this are assumed orphaned (a crashed/killed
#: FOREIGN session's build — the in-process cleanup only covers this
#: pid's own failures). Far above any real build time (the slowest
#: one-time build is ~4 min cold), so a live build is never swept.
_ORPHAN_MAX_AGE_SEC = 6 * 3600

_swept_roots: set = set()


def _sweep_orphans(root: str) -> None:
    """Age-based orphan sweep at cache-root init (VERDICT r12 #8): remove
    ``*.build<pid>`` staging dirs older than ``_ORPHAN_MAX_AGE_SEC`` —
    failed builds from OTHER sessions' pids accumulate forever otherwise
    (the in-``cached_dir`` cleanup removes only the current process's
    staging). Runs once per (process, root); errors are non-fatal (a
    racing sweep may have removed the entry first)."""
    if root in _swept_roots:
        return
    _swept_roots.add(root)
    import time

    now = time.time()
    try:
        entries = os.listdir(root)
    except OSError:
        return
    for e in entries:
        if ".build" not in e:
            continue
        p = os.path.join(root, e)
        try:
            if os.path.isdir(p) and now - os.path.getmtime(p) > _ORPHAN_MAX_AGE_SEC:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def _slot(name: str, sf_dir: str, version: str, params: str) -> str:
    root = cache_root()
    assert root is not None
    h = hashlib.md5(f"{name}|{sf_dir}|{version}|{params}".encode()).hexdigest()[:16]
    return os.path.join(root, f"{name}-{h}")


def cached_dir(name, sf_dir, version, build, params: str = ""):
    """Return a directory built by ``build(path)`` exactly once per
    (name, sf_dir, version, params) ACROSS sessions. ``build`` writes
    into the fresh path it is given; the rename + ``_COMPLETE`` marker
    commit it. With the cache disabled, builds into a tempdir every
    call (the ``@artifact`` memo still dedupes within a session)."""
    if cache_root() is None:
        d = tempfile.mkdtemp(prefix=f"tagtree-{name}-")
        build(d)
        return d
    root = cache_root()
    if root is not None and os.path.isdir(root):
        _sweep_orphans(root)
    final = _slot(name, sf_dir, version, params)
    # the marker is a SIBLING file, never inside the artifact — byte-level
    # readers (WAL segment scan, series-file glob) list the store dir and
    # must see exactly the files the builder wrote
    marker = final + ".complete"
    if os.path.exists(marker) and os.path.isdir(final):
        return final
    staging = f"{final}.build{os.getpid()}"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    os.makedirs(staging)
    try:
        build(staging)
    except BaseException:
        # never strand a pid-suffixed orphan under .tmp/onetime — other
        # sessions' pids would not match and could not clean it up
        shutil.rmtree(staging, ignore_errors=True)
        raise
    try:
        os.rename(staging, final)
    except OSError:
        # a racing session committed first; use its artifact
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    with open(marker, "w") as f:
        f.write(f"{name}|{sf_dir}|{version}|{params}\n")
    return final


def cached_frame(spark, name, sf_dir, version, build_df, params: str = ""):
    """Parquet-backed DataFrame cache: on miss, run ``build_df()`` and
    write the result; ALWAYS return a scan of the committed parquet, so
    first and later sessions hand consumers the identical plan shape.
    Caller persists/tracks as it sees fit (``@artifact`` persists). Falls back to the computed
    frame directly when the cache is disabled."""
    if cache_root() is None:
        return build_df()

    def _build(path: str) -> None:
        build_df().write.parquet(os.path.join(path, "data"))

    d = cached_dir(name, sf_dir, version, _build, params)
    return spark.read.parquet(os.path.join(d, "data"))


#: Every declared artifact's accessor, by name, in registration order —
#: a dependency object must exist before the decorator that names it, so
#: each artifact comes after its declared deps.
ARTIFACTS: dict = {}

#: The per-session memo of every accessor: (name, applicationId, sf_dir,
#: params) → what the accessor returns. applicationId, not id(spark): a
#: recreated session could reuse a GC'd id and be handed frames bound to
#: a stopped context.
_MEMO: dict = {}


def _params_key(params: dict) -> str:
    return ",".join(f"{k}={params[k]}" for k in sorted(params))


def artifact(name, *deps, params=None, kind="frame", load=None, one_time=True):
    """Declare ``fn`` as the builder of the shared artifact ``name``.

    ``kind``:
      * ``"frame"`` — ``fn(spark, sf_dir, **params)`` returns a DataFrame;
        it is written once through ``cached_frame`` and the accessor
        returns the persisted, materialized scan.
      * ``"dir"`` — ``fn(spark, sf_dir, path, **params)`` writes into
        ``path`` once through ``cached_dir``; the accessor returns the
        committed directory, or ``load(spark, dir)``.
      * ``"value"`` — session-only: ``fn(spark, sf_dir, **params)`` is
        memoized as is (stores queries mutate, bucketed ``saveAsTable``
        tables, session persists — never cross-session cached).

    ``params`` are the build parameters: passed to ``fn``, part of the
    memo key and the cache slot, and the values consuming operators check
    a precomputed frame against. A value may be a callable ``(spark,
    sf_dir)`` resolved per call (a corpus-derived parameter). Callers may
    override them by keyword — a distinct artifact under the same name.
    ``deps`` are versioned with ``fn`` (``source_version``) and, when
    they are artifacts themselves, registered before it.
    ``one_time=False`` keeps an artifact out of the bench's one-time tier
    (it is built inside another artifact's pass or by its only consumer).
    """
    if kind not in ("frame", "dir", "value"):
        raise ValueError(f"artifact {name!r}: unknown kind {kind!r}")
    declared = dict(params or {})

    def deco(fn):
        @functools.wraps(fn)
        def get(spark, sf_dir, **overrides):
            p = {
                k: v(spark, sf_dir) if callable(v) else v
                for k, v in {**declared, **overrides}.items()
            }
            pkey = _params_key(p)
            key = (name, spark.sparkContext.applicationId, sf_dir, pkey)
            if key in _MEMO:
                return _MEMO[key]
            tune(spark)
            if kind == "value":
                got = fn(spark, sf_dir, **p)
            elif kind == "frame":
                got = cached_frame(
                    spark, name, sf_dir, source_version(fn, *deps),
                    lambda: fn(spark, sf_dir, **p), pkey,
                ).persist()
                got.count()  # materialize before tracked upstream persists are released
            else:
                d = cached_dir(
                    name, sf_dir, source_version(fn, *deps),
                    lambda path: fn(spark, sf_dir, path, **p), pkey,
                )
                got = d if load is None else load(spark, d)
            _MEMO[key] = got
            return got

        get.artifact = name
        get.deps = deps
        get.one_time = one_time
        ARTIFACTS[name] = get
        return get

    return deco
