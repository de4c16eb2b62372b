"""The ``query_suite`` workload: a fixed slice of the registered analytics
queries over the fixed seed-42 sf0.001 tables in ``data/sf0.001`` (the
repository's testdata, see TESTDATA.md, copied so the benchmark reads only
its own files). The seed does not change this workload.

Set-up starts from an empty one-time cache and runs the slice once, in
registration order, collecting each result; that first pass builds every
shared artifact the slice consumes. The timed window then runs the slice
again, in whole passes, through the noop sink. After the window each
first-pass result is hashed against the query's registered DuckDB oracle
with ``tools/parity.normalize``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict

from run import ROOT, percentile, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")

#: The slice, by role; it runs in registration order. Each query is kept
#: for the layer it stresses (README.md has the rule and what was left out).
SLICE = {
    # driver-paced builders: eager jobs inside the builder
    "q216_kcore": "driver-paced",
    "q232_mincost_supplier": "driver-paced",
    "q267_bfs_layers": "driver-paced",
    # TSDB / PromQL over the derived model
    "q01_eql": "tsdb",
    "q12_select_samples": "tsdb",
    "q372_expr_label_join": "tsdb",
    # consumers of shared one-time artifacts
    "q25_minhash_neardup": "shared-artifact",
    "q28_simhash_neardup": "shared-artifact",
    "q189_simhash_calibration": "shared-artifact",
    # Python/Arrow workers
    "q307_bmp_decode": "python-workers",
    # shuffle- and window-heavy
    "q135_sampled_quantiles": "shuffle-window",
}


def _normalize():
    """tools/parity.normalize, imported without letting that script's own
    sys.path edit outlive the import."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from parity import normalize
    finally:
        sys.path[:] = saved
    return normalize


def _digest(rows) -> str:
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


def _oracle_digests(names: list[str], oracle: dict, normalize) -> dict:
    """{name: digest of the normalized oracle result, or an error string}.
    Oracle results depend only on the SQL and the fixed tables, so they are
    kept across runs in the checkout's build dir, keyed by both."""
    import duckdb

    from tagtree_spark.io import TABLES

    data = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(DATA, f"{t}.parquet"), "rb") as fh:
            data.update(fh.read())
    cache = os.path.join(ROOT, ".bench_build", "perfbench", "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for n in names:
        if n not in oracle:
            out[n] = "error: no registered oracle"
            continue
        key = hashlib.sha256((oracle[n] + data.hexdigest()).encode()).hexdigest()
        path = os.path.join(cache, key)
        if os.path.exists(path):
            with open(path) as fh:
                out[n] = fh.read()
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET threads = 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
        try:
            out[n] = _digest(normalize(con.execute(oracle[n]).fetchdf()))
        except Exception as exc:  # a broken oracle is a visible failure
            out[n] = f"error: {type(exc).__name__}: {str(exc)[:200]}"
            continue
        with open(path + ".tmp", "w") as fh:
            fh.write(out[n])
        os.replace(path + ".tmp", path)
    return out


def query_suite(run, seed: int, seconds: float) -> dict:
    from tagtree_spark import queries as _q
    from tagtree_spark import queries_ext  # noqa: F401  (registers q24+)
    from tagtree_spark.session import release_tracked

    normalize = _normalize()
    names = [n for n in _q.QUERIES if n in SLICE]
    errors = [f"{n}: not registered" for n in SLICE if n not in _q.QUERIES]

    # set-up: first pass from an empty one-time cache, results kept
    got: dict[str, str] = {}
    first_pass_s: dict[str, float] = {}
    attempted = 0
    for n in names:
        attempted += 1
        release_tracked()
        t = time.perf_counter()
        try:
            got[n] = _digest(normalize(_q.QUERIES[n](run.spark, DATA).toPandas()))
        except Exception as exc:
            errors.append(f"{n} (first pass): {type(exc).__name__}: {str(exc)[:200]}")
        first_pass_s[n] = time.perf_counter() - t
    setup_s = time.perf_counter() - run.t_start
    phases = {"session_s": run.t_session - run.t_start, "first_pass_s": run.t_start + setup_s - run.t_session}

    recs: list[dict] = []
    op_id = 0
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    while True:
        for n in names:
            attempted += 1
            op_id += 1
            release_tracked()
            run.group(op_id, "build", f"queries.{n}")
            t1 = time.perf_counter()
            try:
                df = _q.QUERIES[n](run.spark, DATA)
                t2 = time.perf_counter()
                run.group(op_id, "action", f"queries.{n}")
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            except Exception as exc:
                errors.append(f"{n}: {type(exc).__name__}: {str(exc)[:200]}")
                run.group(None, "")
                continue
            run.group(None, "")
            run.add_catalyst(df, force_plan=True)
            recs.append({"id": op_id, "name": n, "build_s": t2 - t1, "action_s": t3 - t2})
        if time.perf_counter() - t0 >= seconds or not recs:
            break
    window_s = time.perf_counter() - t0
    window_cpu_s = tree_cpu_s() - cpu0

    # correctness, outside the timed window
    want = _oracle_digests(names, _q.ORACLE, normalize)
    mismatched = sorted(n for n in got if got[n] != want.get(n))
    per_query = defaultdict(list)
    for r in recs:
        per_query[r["name"]].append(r["build_s"] + r["action_s"])
    medians = {n: statistics.median(v) for n, v in per_query.items()}
    med = list(medians.values())

    detail = {}
    if run.tracer is not None:
        from spans import job_groups

        groups = job_groups(run.spark)
        q = defaultdict(lambda: defaultdict(list))
        for r in recs:
            q[r["name"]]["build_s"].append(r["build_s"])
            q[r["name"]]["action_s"].append(r["action_s"])
            q[r["name"]]["build_jobs"].append(len(groups.get(f"pb:{r['id']}:build", [])))
        queries = {
            n: {k: statistics.median(v) for k, v in m.items()} for n, m in sorted(q.items())
        }
        detail = {
            "queries": queries,
            "top10_build_s": sorted(queries, key=lambda n: -queries[n]["build_s"])[:10],
            "top10_build_jobs": sorted(queries, key=lambda n: -queries[n]["build_jobs"])[:10],
        }

    return {
        "setup_s": setup_s,
        "window_s": window_s,
        "window_cpu_s": window_cpu_s,
        "lat_ms": [x * 1e3 for x in med],
        "build_ms": [r["build_s"] * 1e3 for r in recs],
        "action_ms": [r["action_s"] * 1e3 for r in recs],
        "timed_ops": [r["id"] for r in recs],
        "attempted": attempted,
        "failed": len(errors) + len(mismatched),
        "setup_phases": phases,
        "params": {"sf_dir": "data/sf0.001", "queries": names, "roles": SLICE, "passes": len(recs) // max(len(names), 1)},
        "metrics": {
            "suite_s": (sum(med), "s"),
            "query_p50_s": (percentile(med, 50), "s"),
            "query_p90_s": (percentile(med, 90), "s"),
        },
        "checks": {
            "results_match_oracle": {"ok": not mismatched, "checked": len(got), "mismatched": mismatched},
            "queries_without_error": {"ok": not errors, "errors": errors},
        },
        "layer_detail": detail,
        "ops": {"first_pass_s": first_pass_s, "timed_s": [(r["name"], r["build_s"], r["action_s"]) for r in recs]},
    }
