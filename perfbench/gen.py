"""Seeded input generator for the index workloads.

Everything the engine sees in ``index_read`` and ``index_ingest`` comes from
here, as a pure function of the workload seed: the events file the store is
materialized from, the ingest batches, and the read-op mix. The same seed
always yields the same inputs.

Events follow the repository's ``events`` schema (event_id, ts, user_id,
event_type, value, props) so the engine derives its three labels from them
exactly as it does for the repository's testdata tables:

* ``event_type``: a vocabulary of ``VOCAB`` names drawn Zipf-skewed
  (rank probability ~ 1/rank^ZIPF_S), so a few types own most events and
  the tail is long;
* ``user_bucket``: ``user_id % 10``, uniform;
* ``k_bucket``: ``props.k % 5``, uniform.

Series = distinct (event_type, user_bucket, k_bucket) tuples.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa

#: Events in the base store. The engine's per-op cost at this size is the
#: same floor it pays at 1M events (plan construction, Catalyst, job
#: scheduling); the size is kept where a fresh store builds in a few seconds
#: so each run fits the benchmark's time budget.
N_EVENTS = 60_000
#: event_type vocabulary size and Zipf exponent.
VOCAB = 400
ZIPF_S = 1.1
#: Time span of the events.
DAYS = 30
EPOCH = _dt.datetime(2024, 1, 1)

#: index_ingest: events per batch and the share of them that carry a label
#: set the store has never seen (a fresh event_type per batch).
BATCH_EVENTS = 20_000
NEW_SERIES_SHARE = 0.05
#: index_ingest: auto-compaction trigger, in new series. Each batch adds
#: about NEW_TYPES_PER_BATCH * 50 new series, so compaction fires on every
#: COMPACT_EVERY-th batch.
NEW_TYPES_PER_BATCH = 4
COMPACT_EVERY = 4
AUTO_COMPACT_SERIES = NEW_TYPES_PER_BATCH * 50 * COMPACT_EVERY - 100


def type_name(i: int) -> str:
    return f"et{i:03d}"


def _zipf_types(rng: np.random.Generator, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return rng.choice(VOCAB, size=n, p=w / w.sum())


def _table(rng, event_ids, types: np.ndarray) -> pa.Table:
    n = len(event_ids)
    base_us = int(EPOCH.replace(tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000
    ts = base_us + rng.integers(0, DAYS * 86_400, n) * 1_000_000
    k = rng.integers(0, 1000, n)
    return pa.table(
        {
            "event_id": pa.array(event_ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, 100_000, n), pa.int64()),
            "event_type": pa.array(types),
            # two decimals: min/max compare exactly across engines
            "value": pa.array(rng.integers(0, 10_000, n) / 100.0, pa.float64()),
            "props": pa.array([f'{{"k": {x}}}' for x in k.tolist()]),
        }
    )


def base_events(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 0])
    types = np.array([type_name(i) for i in range(VOCAB)], dtype=object)
    return _table(rng, np.arange(N_EVENTS), types[_zipf_types(rng, N_EVENTS)])


def new_type(batch: int, j: int) -> str:
    return f"nw{batch:03d}_{j}"


def ingest_batch(seed: int, batch: int, base: pa.Table) -> pa.Table:
    """Batch ``batch`` (1-based). Events copy the label-bearing fields
    (event_type, user_id, props) of random ``base`` events, so they land
    on existing series; a NEW_SERIES_SHARE of them instead take one of
    NEW_TYPES_PER_BATCH event types no earlier batch used, so they create
    new series."""
    rng = np.random.default_rng([seed, batch])
    pick = rng.integers(0, base.num_rows, BATCH_EVENTS)
    t = np.array(base.column("event_type").to_pylist(), dtype=object)[pick]
    fresh = rng.random(BATCH_EVENTS) < NEW_SERIES_SHARE
    t[fresh] = [new_type(batch, int(j)) for j in rng.integers(0, NEW_TYPES_PER_BATCH, fresh.sum())]
    first = N_EVENTS + (batch - 1) * BATCH_EVENTS
    out = _table(rng, np.arange(first, first + BATCH_EVENTS), t)
    out = out.set_column(2, "user_id", base.column("user_id").take(pick))
    return out.set_column(5, "props", base.column("props").take(pick))


# -- the read-op mix --------------------------------------------------------

#: One cycle of the read mix, in order. Every cycle runs each kind once, so
#: the op-kind proportions, and with them the latency distribution, do not
#: depend on the seed; the seed picks each op's arguments.
CYCLE = (
    "resolve_eq",
    "resolve_selector",
    "resolve_range",
    "resolve_neg",
    "select_agg",
    "label_values",
    "get_labels",
    "exists",
    "query",
    "resolve_buckets",
)


def _day(d: int) -> str:
    return (EPOCH + _dt.timedelta(days=d)).strftime("%Y-%m-%d %H:%M:%S")


def read_op(rng: np.random.Generator, kind: str, n_series: int, types=None) -> dict:
    """Arguments of one read op of ``kind``. Matchers are (op, name, value)
    triples; ``selector`` says whether the engine gets them as a selector
    string instead of a matcher list. ``types`` is the event_type pool to
    draw from (default: the base vocabulary, Zipf-weighted)."""
    if types is None:
        et = type_name(int(_zipf_types(rng, 1)[0]))
    else:
        et = types[int(rng.integers(0, len(types)))]
    u = f"u{int(rng.integers(0, 10))}"
    k = f"k{int(rng.integers(0, 5))}"
    digit = int(rng.integers(0, 4))
    d0 = int(rng.integers(0, DAYS - 7))
    d1 = d0 + int(rng.integers(1, 8))
    rng_ = {"start": _day(d0), "end": _day(d1)}
    if kind == "resolve_eq":
        return {"matchers": [("=", "event_type", et)]}
    if kind == "resolve_selector":
        # broad: a regex over a tenth of the vocabulary minus one bucket
        return {"matchers": [("=~", "event_type", f"et{digit}[0-9]."), ("!=", "user_bucket", u)], "selector": True}
    if kind == "resolve_range":
        return {"matchers": [("=", "event_type", et), ("=", "k_bucket", k)], **rng_}
    if kind == "resolve_neg":
        return {"matchers": [("=", "k_bucket", k), ("!~", "event_type", f"et{digit}.*")]}
    if kind == "select_agg":
        return {"matchers": [("=", "event_type", et), ("=", "user_bucket", u)], "selector": True, **rng_}
    if kind == "label_values":
        return {"name": ("event_type", "user_bucket", "k_bucket")[int(rng.integers(0, 3))]}
    if kind == "get_labels":
        return {"tsids": sorted({int(x) for x in rng.integers(1, n_series + 1, 20)})}
    if kind == "exists":
        probe = [(et, f"u{int(rng.integers(0, 10))}", f"k{int(rng.integers(0, 5))}") for _ in range(8)]
        probe.append((f"zz{int(rng.integers(0, 1000))}", u, k))  # never present
        return {"probe": probe}
    if kind == "query":
        return {"expr": f'sum by (event_type) (count_over_time(events_total{{event_type="{et}"}}[1d]))', "event_type": et}
    if kind == "resolve_buckets":
        return {"matchers": [("=", "user_bucket", u), ("=", "k_bucket", k)]}
    raise ValueError(kind)


def selector(matchers) -> str:
    return "{" + ", ".join(f'{n}{op}"{v}"' for op, n, v in matchers) + "}"
