"""Cross-session one-time build cache (VERDICT r10 #3): hit/miss
behavior, stale-key invalidation, marker placement, and the parquet
frame round-trip."""

from __future__ import annotations

import os

import pytest

from tagtree_spark import onetime_cache as oc


@pytest.fixture()
def cache_env(tmp_path, monkeypatch):
    monkeypatch.setenv("TAGTREE_ONETIME_CACHE", str(tmp_path / "cache"))
    return tmp_path


def test_cached_dir_builds_once_per_key(cache_env):
    calls = []

    def build(d):
        calls.append(d)
        with open(os.path.join(d, "artifact.txt"), "w") as f:
            f.write("payload")

    d1 = oc.cached_dir("x", "/sf", "v1", build)
    d2 = oc.cached_dir("x", "/sf", "v1", build)
    assert d1 == d2
    assert len(calls) == 1  # second call was a hit
    with open(os.path.join(d1, "artifact.txt")) as f:
        assert f.read() == "payload"


def test_cached_dir_stale_key_invalidation(cache_env):
    calls = []

    def build(d):
        calls.append(d)
        open(os.path.join(d, "a"), "w").close()

    d1 = oc.cached_dir("x", "/sf", "v1", build)
    d2 = oc.cached_dir("x", "/sf", "v2", build)  # version moved → rebuild
    d3 = oc.cached_dir("x", "/sf", "v1", build, params="p=2")  # params moved
    assert len({d1, d2, d3}) == 3
    assert len(calls) == 3
    # the old artifact is orphaned, never deleted under a reader's feet
    assert os.path.exists(os.path.join(d1, "a"))


def test_marker_is_a_sibling_not_inside_the_artifact(cache_env):
    """Byte-level readers glob the store dir — the commit marker must
    not appear among the builder's files."""

    def build(d):
        open(os.path.join(d, "segment-0"), "w").close()

    d = oc.cached_dir("wal", "/sf", "v1", build)
    assert os.listdir(d) == ["segment-0"]
    assert os.path.exists(d + ".complete")


def test_incomplete_build_is_not_committed(cache_env):
    def bad(d):
        open(os.path.join(d, "partial"), "w").close()
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        oc.cached_dir("x", "/sf", "v1", bad)

    built = []

    def good(d):
        built.append(d)
        open(os.path.join(d, "full"), "w").close()

    d = oc.cached_dir("x", "/sf", "v1", good)
    assert built and os.path.exists(os.path.join(d, "full"))
    assert not os.path.exists(os.path.join(d, "partial"))


def test_disabled_cache_builds_every_call(monkeypatch):
    monkeypatch.setenv("TAGTREE_ONETIME_CACHE", "0")
    calls = []

    def build(d):
        calls.append(d)

    d1 = oc.cached_dir("x", "/sf", "v1", build)
    d2 = oc.cached_dir("x", "/sf", "v1", build)
    assert d1 != d2 and len(calls) == 2


def test_source_version_tracks_code_changes():
    def f1():
        return 1

    def f2():
        return 2

    assert oc.source_version(f1) != oc.source_version(f2)
    assert oc.source_version(f1) == oc.source_version(f1)


def _load_repo_module(path, name):
    import importlib.util

    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_MOD_TEMPLATE = """\
def _helper():
    return {ret}


def builder():
    return _helper() + 1
"""


def test_source_version_tracks_undeclared_helper(tmp_path):
    """Editing an UNDECLARED direct helper the builder calls must move
    the cache key (VERDICT r11 #4) — the builder's own source is
    byte-identical in both modules; only the helper body differs."""
    repo_tmp = os.path.join(oc._REPO_ROOT, ".tmp", "verstest")
    os.makedirs(repo_tmp, exist_ok=True)
    try:
        p1 = os.path.join(repo_tmp, "vmod1.py")
        p2 = os.path.join(repo_tmp, "vmod2.py")
        with open(p1, "w") as f:
            f.write(_MOD_TEMPLATE.format(ret=1))
        with open(p2, "w") as f:
            f.write(_MOD_TEMPLATE.format(ret=2))
        m1 = _load_repo_module(p1, "tagtree_verstest_m1")
        m2 = _load_repo_module(p2, "tagtree_verstest_m2")
        import inspect

        assert inspect.getsource(m1.builder) == inspect.getsource(m2.builder)
        assert oc.source_version(m1.builder) != oc.source_version(m2.builder)
    finally:
        import shutil

        shutil.rmtree(repo_tmp, ignore_errors=True)


def test_failed_build_leaves_no_staging_orphan(cache_env):
    """ADVICE r11: a raising build must not strand its pid-suffixed
    staging dir under the cache root."""

    def bad(d):
        open(os.path.join(d, "partial"), "w").close()
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        oc.cached_dir("orph", "/sf", "v1", bad)
    root = oc.cache_root()
    leftovers = [e for e in os.listdir(root) if e.startswith("orph")] if os.path.isdir(root) else []
    assert leftovers == []


def test_cached_frame_roundtrip_and_hit(cache_env, spark):
    builds = []

    def build_df():
        builds.append(1)
        return spark.range(5).selectExpr(
            "id", "CAST(id AS DOUBLE) / 3.0 AS x", "array(id, id * 2) AS arr"
        )

    a = oc.cached_frame(spark, "fr", "/sf", "v1", build_df).toPandas()
    b = oc.cached_frame(spark, "fr", "/sf", "v1", build_df).toPandas()
    assert len(builds) == 1
    # doubles and arrays round-trip bit-exactly through parquet
    assert [repr(v) for v in a["x"]] == [repr(v) for v in b["x"]]
    assert a["arr"].map(list).tolist() == b["arr"].map(list).tolist()


_CALLER_TEMPLATE = """\
def builder():
    return hm.helper() + 1
"""

_HELPER_TEMPLATE = """\
def helper():
    return {ret}
"""


def test_source_version_tracks_module_attr_helper(tmp_path):
    """Editing a helper the builder calls THROUGH A MODULE ATTRIBUTE
    (``hm.helper()`` — the pf.choose_page_type style, ADVICE r12 #3)
    must move the cache key: co_names holds both the module name and the
    attribute name, and _callees resolves the pair."""
    repo_tmp = os.path.join(oc._REPO_ROOT, ".tmp", "verstest_attr")
    os.makedirs(repo_tmp, exist_ok=True)
    try:
        paths = {}
        for tag, ret in (("h1", 1), ("h2", 2)):
            p = os.path.join(repo_tmp, f"{tag}.py")
            with open(p, "w") as f:
                f.write(_HELPER_TEMPLATE.format(ret=ret))
            paths[tag] = p
        c1 = os.path.join(repo_tmp, "c1.py")
        c2 = os.path.join(repo_tmp, "c2.py")
        for p in (c1, c2):
            with open(p, "w") as f:
                f.write(_CALLER_TEMPLATE)
        h1 = _load_repo_module(paths["h1"], "tagtree_verstest_h1")
        h2 = _load_repo_module(paths["h2"], "tagtree_verstest_h2")
        m1 = _load_repo_module(c1, "tagtree_verstest_c1")
        m2 = _load_repo_module(c2, "tagtree_verstest_c2")
        m1.hm = h1
        m2.hm = h2
        import inspect

        assert inspect.getsource(m1.builder) == inspect.getsource(m2.builder)
        assert oc.source_version(m1.builder) != oc.source_version(m2.builder)
    finally:
        import shutil

        shutil.rmtree(repo_tmp, ignore_errors=True)


def test_orphan_sweep_removes_stale_foreign_staging(cache_env):
    """VERDICT r12 #8: a stale staging dir from ANOTHER session's pid is
    removed at cache-root init; a fresh one (possibly a live build) and
    committed artifacts are left alone."""
    import time

    def build(d):
        open(os.path.join(d, "a"), "w").close()

    committed = oc.cached_dir("x", "/sf", "v1", build)
    root = oc.cache_root()
    stale = os.path.join(root, "y-deadbeef.build99999")
    fresh = os.path.join(root, "z-deadbeef.build99998")
    os.makedirs(stale)
    os.makedirs(fresh)
    old = time.time() - oc._ORPHAN_MAX_AGE_SEC - 60
    os.utime(stale, (old, old))
    oc._swept_roots.discard(root)  # re-arm the once-per-process latch
    oc.cached_dir("x", "/sf", "v1", build)  # any cache touch sweeps
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)
    assert os.path.exists(os.path.join(committed, "a"))


# -- the @artifact registry ---------------------------------------------------

ONE_TIME_KEYS = {
    "tsdb_model", "shingles", "shingle_pairs", "simhash_fp", "mh_pairs",
    "cc_clusters", "hyperplane_buckets", "pq_codes", "bpe_train", "knn3",
    "semantic_labels", "store_model", "ivf_store", "ivfpq_store",
    "postings_store", "stream_postings_store", "stream_clusters_store",
    "stream_cep_store", "shingle_store", "wal_store", "wal_tail_log",
    "compacted_store", "dup_windows", "png_media", "jpeg_media",
    "jpeg_color_media", "wal_live_tail_log", "stream_drift_store",
    "ckpt_compacted_store", "pca_base", "stream_pack_store",
    "stream_rollup_store", "posting_pages", "wb_store",
}


def test_one_time_builders_is_the_registry_in_dep_order():
    """The bench's one-time tier is generated from the registry: the same
    34 keys as the hand-kept map it replaced, each after its declared
    deps (so a key's time is its own build, not its inputs')."""
    from tagtree_spark.queries_ext import one_time_builders

    keys = list(one_time_builders())
    assert set(keys) == ONE_TIME_KEYS and len(keys) == 34
    order = list(oc.ARTIFACTS)
    for name, get in oc.ARTIFACTS.items():
        for dep in get.deps:
            if hasattr(dep, "artifact"):
                assert order.index(dep.artifact) < order.index(name), (name, dep.artifact)


@pytest.fixture()
def registry(cache_env, monkeypatch):
    """An empty registry and memo, and a count of every cached_dir call
    the decorator makes through the module global."""
    monkeypatch.setattr(oc, "ARTIFACTS", {})
    monkeypatch.setattr(oc, "_MEMO", {})
    calls = []
    real = oc.cached_dir

    def counting(*a, **kw):
        calls.append(a[0])
        return real(*a, **kw)

    monkeypatch.setattr(oc, "cached_dir", counting)
    return calls


def test_artifact_second_call_is_a_memo_hit(registry, spark):
    builds = []

    @oc.artifact("t_frame", params={"k": 3})
    def t_frame(spark, sf_dir, k):
        builds.append(k)
        return spark.range(k)

    a = t_frame(spark, "/sf")
    b = t_frame(spark, "/sf")
    assert a is b
    assert builds == [3] and registry == ["t_frame"]  # no build, no cache touch
    assert a.count() == 3 and oc.ARTIFACTS == {"t_frame": t_frame}


def test_artifact_params_key_memo_and_slot(registry, spark):
    """The same name with other params is a distinct artifact: its own
    memo entry and its own on-disk slot, built with those params."""
    built = []

    @oc.artifact("t_dir", kind="dir", params={"k": 1})
    def t_dir(spark, sf_dir, d, k):
        built.append(k)
        with open(os.path.join(d, "k"), "w") as f:
            f.write(str(k))

    d1 = t_dir(spark, "/sf")
    d2 = t_dir(spark, "/sf", k=2)
    assert d1 != d2 and t_dir(spark, "/sf", k=2) == d2
    assert built == [1, 2]
    for d, k in ((d1, "1"), (d2, "2")):
        with open(os.path.join(d, "k")) as f:
            assert f.read() == k
    slots = [e for e in os.listdir(oc.cache_root()) if e.startswith("t_dir-")]
    assert len([e for e in slots if not e.endswith(".complete")]) == 2
