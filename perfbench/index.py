"""The index workloads: ``index_read`` and ``index_ingest``.

Both drive the public ``TagTreeEngine`` API over a store that
``tsdb.store.materialize_model`` builds from seeded events (gen.py), as a
closed loop from one client: each op is sent after the previous one
returned and its small result was collected.

Correctness: after the timed window every collected result is compared
with DuckDB run over the same generated events, through the repository's
own ``queries.TSDB_CTE`` derivation of series, postings and samples.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from run import percentile, tree_cpu_s

#: DuckDB spelling of each matcher op's positive predicate on a postings row.
_REGEX = ("=~", "!~")
_NEGATIVE = ("!=", "!~")


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _row_pred(op: str, name: str, value: str) -> str:
    vp = f"regexp_full_match(value, {_q(value)})" if op in _REGEX else f"value = {_q(value)}"
    return f"(name = {_q(name)} AND {vp})"


class Oracle:
    """DuckDB over the generated events: o_series, o_postings, o_samples
    derived by ``queries.TSDB_CTE`` (lexicographic TSIDs, as the store's)."""

    def __init__(self, parquet_paths: list[str]):
        import duckdb

        from tagtree_spark.queries import TSDB_CTE

        self.cte = TSDB_CTE
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        parts = [
            f"SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, event_type, value, props, "
            f"{i} AS batch FROM read_parquet({_q(p)})"
            for i, p in enumerate(parquet_paths)
        ]
        self.con.execute("CREATE TABLE all_events AS " + " UNION ALL ".join(parts))
        self.state = None

    def at(self, batch: int) -> None:
        """Derive the model from the events of batches 0..batch."""
        if self.state == batch:
            return
        self.con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM all_events WHERE batch <= {batch}")
        for t in ("series", "postings", "samples"):
            self.con.execute(f"CREATE OR REPLACE TABLE o_{t} AS {self.cte} SELECT * FROM {t}")
        self.state = batch

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def resolve_sql(self, matchers, start=None, end=None) -> str:
        where = []
        if start is not None:
            where.append(f"last_seen >= TIMESTAMP {_q(start)}")
        if end is not None:
            where.append(f"first_seen < TIMESTAMP {_q(end)}")
        p = "SELECT * FROM o_postings" + (" WHERE " + " AND ".join(where) if where else "")
        pos = [m for m in matchers if m[0] not in _NEGATIVE]
        neg = [m for m in matchers if m[0] in _NEGATIVE]
        if pos:
            body = " INTERSECT ".join(f"SELECT tsid FROM p WHERE {_row_pred(*m)}" for m in pos)
        else:
            names = ", ".join(_q(m[1]) for m in neg)
            body = f"SELECT tsid FROM p WHERE name IN ({names})"
        if neg:
            excl = " OR ".join(_row_pred(*m) for m in neg)
            body = f"SELECT tsid FROM ({body}) b EXCEPT SELECT tsid FROM p WHERE {excl}"
        return f"WITH p AS ({p}) SELECT DISTINCT tsid FROM ({body}) r"

    def expected(self, kind: str, a: dict) -> list[tuple]:
        if kind.startswith("resolve"):
            return self.rows(self.resolve_sql(a["matchers"], a.get("start"), a.get("end")))
        if kind == "select_agg":
            r = self.resolve_sql(a["matchers"], a["start"], a["end"])
            return self.rows(
                f"WITH r AS ({r}) SELECT s.tsid, count(*), min(s.value), max(s.value) "
                f"FROM o_samples s JOIN r USING (tsid) WHERE s.ts >= TIMESTAMP {_q(a['start'])} "
                f"AND s.ts < TIMESTAMP {_q(a['end'])} GROUP BY s.tsid"
            )
        if kind == "label_values":
            return self.rows(f"SELECT DISTINCT value FROM o_postings WHERE name = {_q(a['name'])}")
        if kind == "get_labels":
            ids = ", ".join(str(t) for t in a["tsids"])
            return self.rows(f"SELECT tsid, event_type, user_bucket, k_bucket FROM o_series WHERE tsid IN ({ids})")
        if kind == "exists":
            vals = ", ".join(f"({_q(e)}, {_q(u)}, {_q(k)})" for e, u, k in a["probe"])
            return self.rows(
                "SELECT s.tsid, s.event_type, s.user_bucket, s.k_bucket FROM o_series s JOIN "
                f"(SELECT DISTINCT * FROM (VALUES {vals}) v(event_type, user_bucket, k_bucket)) p "
                "USING (event_type, user_bucket, k_bucket)"
            )
        if kind == "query":
            return self.rows(
                "SELECT se.event_type, epoch_us(sa.ts) // 86400000000, CAST(count(*) AS DOUBLE) "
                f"FROM o_samples sa JOIN o_series se USING (tsid) WHERE se.event_type = {_q(a['event_type'])} "
                "GROUP BY 1, 2"
            )
        raise ValueError(kind)

    def labels_of(self) -> dict[int, tuple]:
        return {r[0]: tuple(r[1:]) for r in self.rows("SELECT tsid, event_type, user_bucket, k_bucket FROM o_series")}


# -- running an op -----------------------------------------------------------


def _matcher_arg(a: dict):
    from tagtree_spark.tsdb.matchers import LabelMatcher, MatchOp

    if a.get("selector"):
        return gen.selector(a["matchers"])
    return [LabelMatcher(MatchOp(op), n, v) for op, n, v in a["matchers"]]


def prepare(spark, kind: str, a: dict):
    """Client-side input an op needs before it is sent (not timed)."""
    if kind == "exists":
        return spark.createDataFrame(a["probe"], "event_type string, user_bucket string, k_bucket string")
    return None


def build(engine, kind: str, a: dict, probe):
    """The entry-point call: returns the (lazy) DataFrame of the op."""
    from pyspark.sql import functions as F

    if kind.startswith("resolve"):
        return engine.resolve(_matcher_arg(a), a.get("start"), a.get("end"))
    if kind == "select_agg":
        return (
            engine.select(_matcher_arg(a), a["start"], a["end"])
            .groupBy("tsid")
            .agg(F.count(F.lit(1)), F.min("value"), F.max("value"))
        )
    if kind == "label_values":
        return engine.label_values(a["name"])
    if kind == "get_labels":
        return engine.get_labels(a["tsids"])
    if kind == "exists":
        return engine.exists(probe)
    if kind == "query":
        return engine.query(a["expr"])
    raise ValueError(kind)


def shape(kind: str, rows) -> list[tuple]:
    """Collected rows as plain tuples, in the oracle's column order."""
    if kind == "get_labels":
        return [(r["tsid"], r["labels"]["event_type"], r["labels"]["user_bucket"], r["labels"]["k_bucket"]) for r in rows]
    return [tuple(r) for r in rows]


def _same(got: list[tuple], want: list[tuple]) -> bool:
    return sorted(got) == sorted(tuple(x) for x in want)


class OpLoop:
    """Runs ops and records, per op: kind, latency, build and action time."""

    def __init__(self, run, engine):
        self.run = run
        self.engine = engine
        self.next_id = 1
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.calls = 0

    def op(self, kind: str, a: dict, timed: bool = True) -> dict:
        run = self.run
        self.calls += 1
        probe = prepare(run.spark, kind, a)
        op_id = self.next_id if timed else None
        self.next_id += 1
        rec = {"id": op_id, "kind": kind, "args": a, "rows": None}
        run.group(op_id, "build", f"client.{kind}")
        t0 = time.perf_counter()
        try:
            df = build(self.engine, kind, a, probe)
            t1 = time.perf_counter()
            run.group(op_id, "action", f"client.{kind}")
            rows = df.collect()
            t2 = time.perf_counter()
        except Exception as exc:  # a failed op counts against error_rate
            self.errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:200]}")
            run.group(None, "")
            return rec
        run.group(None, "")
        if timed:
            run.add_catalyst(df)
        rec.update(rows=shape(kind, rows), lat_ms=(t2 - t0) * 1e3, build_ms=(t1 - t0) * 1e3, action_ms=(t2 - t1) * 1e3)
        if timed:
            self.records.append(rec)
        return rec


def _per_kind(records: list[dict]) -> dict:
    """engine.<kind>.{build_ms,action_ms}: mean per op kind."""
    out: dict = {}
    kinds = sorted({r["kind"] for r in records})
    for k in kinds:
        rs = [r for r in records if r["kind"] == k]
        out[f"engine.{k}.build_ms"] = statistics.fmean(r["build_ms"] for r in rs)
        out[f"engine.{k}.action_ms"] = statistics.fmean(r["action_ms"] for r in rs)
    return out


def _make_store(run, seed: int) -> tuple:
    """Generate the seeded events and materialize the store from them."""
    from tagtree_spark.tsdb.store import materialize_model

    events = gen.base_events(seed)
    path = os.path.join(run.work, "events-0.parquet")
    pq.write_table(events, path)
    store = os.path.join(run.work, "store")
    shutil.rmtree(store, ignore_errors=True)
    materialize_model(run.spark, run.spark.read.parquet(path), store)
    cols = (events.column(c).to_pylist() for c in ("event_type", "user_id", "props"))
    # props is '{"k": <k>}'
    n_series = len({(t, u % 10, int(p[6:-1]) % 5) for t, u, p in zip(*cols)})
    return events, path, store, n_series


#: Untimed read-mix cycles before the window. A fresh JVM compiles the
#: read path's hot code over the first cycles: on a 4-core host, cycle time
#: falls from ~1.8x to ~1.15x of its steady value over the first five.
#: Four keep the run inside the benchmark's time budget.
WARM_CYCLES = 4


#: Timed cycles at least, however fast they run. The engine stalls for
#: 1.5-3.5 s on its 65th, 129th, ... entry-point call, where it harvests
#: its 64 pending Observations. Three cycles after the warm-up (calls
#: 41-70) always hold exactly one stall, so fast and slow runs measure
#: the same ops.
MIN_CYCLES = 3


def _warm_up(loop: "OpLoop", seed: int, n_series: int) -> None:
    warm = np.random.default_rng([seed, 1])
    for _ in range(WARM_CYCLES):
        for kind in gen.CYCLE:
            loop.op(kind, gen.read_op(warm, kind, n_series), timed=False)


def index_read(run, seed: int, seconds: float) -> dict:
    """Read mix over a freshly built store; see README.md."""
    from tagtree_spark.engine import TagTreeEngine

    _, path, store, n_series = _make_store(run, seed)
    t_store = time.perf_counter()
    engine = TagTreeEngine(run.spark, store_dir=store, auto_compact_series=None)
    loop = OpLoop(run, engine)
    _warm_up(loop, seed, n_series)
    setup_s = time.perf_counter() - run.t_start
    phases = {
        "session_s": run.t_session - run.t_start,
        "store_s": t_store - run.t_session,
        "warm_up_s": run.t_start + setup_s - t_store,
    }

    rng = np.random.default_rng([seed, 2])
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    cycles = 0
    while cycles < MIN_CYCLES or time.perf_counter() - t0 < seconds:
        for kind in gen.CYCLE:
            loop.op(kind, gen.read_op(rng, kind, n_series))
        cycles += 1
    window_s = time.perf_counter() - t0
    window_cpu_s = tree_cpu_s() - cpu0

    recs = loop.records
    oracle = Oracle([path])
    oracle.at(0)
    mismatches = [r["kind"] for r in recs if not _same(r["rows"], oracle.expected(r["kind"], r["args"]))]
    lat = [r["lat_ms"] for r in recs]
    attempted = loop.calls
    failed = len(loop.errors) + len(mismatches)
    return {
        "setup_s": setup_s,
        "window_s": window_s,
        "window_cpu_s": window_cpu_s,
        "lat_ms": lat,
        "build_ms": [r["build_ms"] for r in recs],
        "action_ms": [r["action_ms"] for r in recs],
        "timed_ops": [r["id"] for r in recs],
        "attempted": attempted,
        "failed": failed,
        "setup_phases": phases,
        "params": {
            "events": gen.N_EVENTS, "series": n_series, "vocab": gen.VOCAB, "zipf_s": gen.ZIPF_S,
            "days": gen.DAYS, "cycle": list(gen.CYCLE),
        },
        "metrics": {
            "read_p50_ms": (percentile(lat, 50), "ms"),
            "read_p95_ms": (percentile(lat, 95), "ms"),
            "read_ops_per_s": (len(lat) / window_s, "1/s"),
        },
        "checks": {
            "read_results_match_duckdb": {"ok": not mismatches, "checked": len(recs), "mismatched": mismatches},
            "ops_without_error": {"ok": not loop.errors, "errors": loop.errors},
        },
        "layer_detail": {"engine": _per_kind(recs)},
        "ops": [(r["kind"], round(r["lat_ms"], 3)) for r in recs],
    }


def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


def index_ingest(run, seed: int, seconds: float) -> dict:
    """Seeded batches through ingest_batch with reads beside; README.md."""
    from tagtree_spark.engine import TagTreeEngine

    events, path, store, n_series = _make_store(run, seed)
    engine = TagTreeEngine(run.spark, store_dir=store, auto_compact_series=gen.AUTO_COMPACT_SERIES)
    loop = OpLoop(run, engine)
    _warm_up(loop, seed, n_series)
    setup_s = time.perf_counter() - run.t_start

    rng = np.random.default_rng([seed, 2])
    paths = [path]
    ingest: list[dict] = []
    ryw: list[tuple] = []  # (batch, read record, new type)
    mix: list[tuple] = []  # (batch, read record)
    types_seen = [gen.type_name(i) for i in range(gen.VOCAB)]
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    b = 0
    while time.perf_counter() - t0 < seconds:
        b += 1
        batch = gen.ingest_batch(seed, b, events)
        bpath = os.path.join(run.work, f"events-{b}.parquet")
        pq.write_table(batch, bpath)
        paths.append(bpath)
        df = run.spark.read.parquet(bpath)
        op_id = loop.next_id
        loop.next_id += 1
        run.group(op_id, "build", "client.ingest_batch")
        t1 = time.perf_counter()
        try:
            engine.ingest_batch(df)
        except Exception as exc:
            loop.errors.append(f"ingest_batch {b}: {type(exc).__name__}: {str(exc)[:200]}")
            run.group(None, "")
            break
        ms = (time.perf_counter() - t1) * 1e3
        run.group(None, "")
        ingest.append({"id": op_id, "batch": b, "lat_ms": ms, "build_ms": ms, "action_ms": 0.0})
        fresh = sorted({t for t in batch.column("event_type").to_pylist() if t.startswith("nw")})
        types_seen += fresh
        r = loop.op("resolve_eq", {"matchers": [("=", "event_type", fresh[0])]})
        ryw.append((b, r, fresh[0]))
        kind = gen.CYCLE[(b - 1) % len(gen.CYCLE)]
        r = loop.op(kind, gen.read_op(rng, kind, n_series, types=types_seen))
        mix.append((b, r))
    window_s = time.perf_counter() - t0
    window_cpu_s = tree_cpu_s() - cpu0

    # -- checks (outside the timed window) ---------------------------------
    engine.compact()
    store_bytes, store_files = _dir_bytes(store)
    acked = len(ingest)
    oracle = Oracle(paths[: acked + 1])
    oracle.at(acked)
    fresh_engine = TagTreeEngine(run.spark, store_dir=store, auto_compact_series=None)
    from pyspark.sql import functions as F

    got_series = {
        r["tsid"]: (r["event_type"], r["user_bucket"], r["k_bucket"])
        for r in fresh_engine.series.select("tsid", "event_type", "user_bucket", "k_bucket").collect()
    }
    got_counts = {
        got_series.get(r["tsid"]): r["n"]
        for r in fresh_engine.samples.groupBy("tsid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want_counts = {
        tuple(r[:3]): r[3]
        for r in oracle.rows("SELECT event_type, user_bucket, k_bucket, count(*) FROM o_samples s JOIN o_series USING (tsid) GROUP BY 1, 2, 3")
    }
    durable_ok = (
        len(got_series) == len(set(got_series.values())) == len(want_counts) and got_counts == want_counts
    )

    def labelled(recs_rows, kind, labels):
        """Map TSIDs to label tuples: ingest assigns new TSIDs in arrival
        order, DuckDB lexicographically, so compare label sets."""
        out = []
        for row in recs_rows:
            if kind.startswith("resolve"):
                out.append(labels.get(row[0]))
            elif kind in ("select_agg",):
                out.append((labels.get(row[0]),) + tuple(row[1:]))
            elif kind in ("exists", "get_labels"):
                out.append(tuple(row[1:]))
            else:
                out.append(tuple(row))
        return sorted(out, key=repr)

    ryw_bad, mix_bad = [], []
    for bb, r, t in ryw:
        if r["rows"] is None:
            continue
        oracle.at(bb)
        want = {tuple(x) for x in oracle.rows(f"SELECT event_type, user_bucket, k_bucket FROM o_series WHERE event_type = {_q(t)}")}
        if {got_series.get(x[0]) for x in r["rows"]} != want:
            ryw_bad.append(bb)
    for bb, r in mix:
        if r["rows"] is None:
            continue
        oracle.at(bb)
        kind, a = r["kind"], r["args"]
        want_rows = oracle.expected(kind, a)
        if kind == "get_labels":
            # TSIDs differ by assignment order; check labels per returned id
            ok = all(got_series.get(x[0]) == tuple(x[1:]) for x in r["rows"])
            ok = ok and len(r["rows"]) == len(want_rows)
        else:
            ol = oracle.labels_of()
            ok = labelled(r["rows"], kind, got_series) == labelled(want_rows, kind, ol)
        if not ok:
            mix_bad.append(f"{bb}:{kind}")

    reads = loop.records
    read_lat = [r["lat_ms"] for r in reads]
    lat = [x["lat_ms"] for x in ingest]
    n_events = gen.N_EVENTS + len(ingest) * gen.BATCH_EVENTS
    failed = len(loop.errors) + len(ryw_bad) + len(mix_bad) + (0 if durable_ok else 1)
    all_ops = ingest + reads
    return {
        "setup_s": setup_s,
        "window_s": window_s,
        "window_cpu_s": window_cpu_s,
        "lat_ms": lat,
        "build_ms": [x["build_ms"] for x in all_ops],
        "action_ms": [x["action_ms"] for x in all_ops],
        "timed_ops": [x["id"] for x in all_ops],
        # every read and batch sent, plus the reopened-store check
        "attempted": loop.calls + b + 1,
        "failed": failed,
        "params": {
            "base_events": gen.N_EVENTS, "batch_events": gen.BATCH_EVENTS, "new_series_share": gen.NEW_SERIES_SHARE,
            "auto_compact_series": gen.AUTO_COMPACT_SERIES, "compact_every_batches": gen.COMPACT_EVERY,
            "batches": len(ingest), "base_series": n_series,
        },
        "metrics": {
            "ingest_p50_ms": (percentile(lat, 50), "ms") if lat else (0.0, "ms"),
            "ingest_events_per_s": (len(ingest) * gen.BATCH_EVENTS / (sum(lat) / 1e3), "events/s") if lat else (0.0, "events/s"),
            "store_bytes_per_event": (store_bytes / n_events, "B/event"),
            "read_p50_ms": (percentile(read_lat, 50), "ms") if read_lat else (0.0, "ms"),
        },
        "checks": {
            "reopened_store_has_every_acked_series_and_sample": {"ok": durable_ok, "series": len(got_series), "expected": len(want_counts)},
            "read_your_write": {"ok": not ryw_bad, "checked": len(ryw), "failed_batches": ryw_bad},
            "reads_beside_writes_match_duckdb": {"ok": not mix_bad, "checked": len(mix), "mismatched": mix_bad},
            "ops_without_error": {"ok": not loop.errors, "errors": loop.errors},
        },
        "layer_detail": {
            "engine": _per_kind(reads),
            "tsdb.store.files": store_files,
            # auto-compactions inside the window (the manual one after it
            # runs outside any op)
            "tsdb.store.compactions": sum(
                1
                for sp in (run.tracer.spans if run.tracer else ())
                if sp[3] == "tsdb.storage.compact" and sp[2] is not None
            ),
        },
    }
