"""Seeded input generator: a customer dimension and an engagement event
stream written as transactional-outbox JSONL files.

Everything is a pure function of the seed and the requested sizes, so the
same arguments give byte-identical files. The stream carries the input
properties the engine's behaviour depends on, and :class:`StreamSpec`
records them next to the files:

* ``user_id`` is Zipf-skewed over the customer keys, and a share of events
  carry a key with no customer row (the enrichment join's NULL path);
* a share of outbox rows are re-deliveries of an earlier event (same
  payload, new outbox id: at-least-once delivery);
* a share of events carry an out-of-order ``ts`` (up to two hours early);
* ``pause`` and ``click`` events carry a NULL ``value`` at a given share.
"""

from __future__ import annotations

import bisect
import collections
import datetime as dt
import itertools
import json
import math
import os
import random
from dataclasses import asdict, dataclass

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("view", "click", "pause", "purchase", "signup", "error")
EVENT_WEIGHTS = (40, 25, 15, 10, 5, 5)
NULLABLE_TYPES = ("pause", "click")
TOPIC = "engagement_events"
ROWS_PER_TRIGGER = 10_000  # read_kafka_stream's maxOffsetsPerTrigger default
EPOCH = dt.datetime(2024, 1, 1)


@dataclass(frozen=True)
class StreamSpec:
    """Properties of one generated stream (recorded with the files)."""

    seed: int
    customers: int = 2000
    zipf_s: float = 1.1
    miss_rate: float = 0.07
    dup_rate: float = 0.01
    out_of_order: float = 0.02
    null_value_share: float = 0.5  # of pause and click events
    mean_gap_ms: int = 250  # event-time spacing
    rows_per_file: int = ROWS_PER_TRIGGER  # one outbox file per micro-batch


@dataclass(frozen=True)
class Event:
    event_id: int
    ts: dt.datetime
    user_id: int
    event_type: str
    value: float | None
    props: str


def key_ranks(spec: StreamSpec) -> list[int]:
    """Customer keys in Zipf rank order: element r is the r-th hottest."""
    keys = list(range(spec.customers))
    random.Random(f"{spec.seed}/keys").shuffle(keys)
    return keys


def customers(spec: StreamSpec) -> dict[str, list]:
    """Customer dimension columns (the engine's enrichment table).

    A key's segment is drawn by its Zipf rank from one fixed sequence, so
    every seed splits the events across segments (the history sink's
    partitioning key) in the same skewed proportions; which keys are hot
    still varies with the seed."""
    rng = random.Random(f"{spec.seed}/customers")
    n = spec.customers
    by_rank = random.Random("segments")
    segment = {k: by_rank.choice(SEGMENTS) for k in key_ranks(spec)}
    return {
        "c_custkey": list(range(n)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": [rng.randrange(25) for _ in range(n)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n)],
        "c_mktsegment": [segment[k] for k in range(n)],
    }


def write_customers(spec: StreamSpec, dim_dir: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = customers(spec)
    table = pa.table(
        {
            "c_custkey": pa.array(cols["c_custkey"], pa.int64()),
            "c_name": pa.array(cols["c_name"], pa.string()),
            "c_nationkey": pa.array(cols["c_nationkey"], pa.int32()),
            "c_acctbal": pa.array(cols["c_acctbal"], pa.float64()),
            "c_mktsegment": pa.array(cols["c_mktsegment"], pa.string()),
        }
    )
    os.makedirs(dim_dir, exist_ok=True)
    path = os.path.join(dim_dir, "customer.parquet")
    pq.write_table(table, path)
    return path


class _Zipf:
    """Inverse-CDF Zipf sampler over ranks 0..n-1."""

    def __init__(self, n: int, s: float) -> None:
        acc = 0.0
        self.cdf = []
        for r in range(1, n + 1):
            acc += 1.0 / r**s
            self.cdf.append(acc)
        self.total = acc

    def rank(self, u: float) -> int:
        return min(bisect.bisect_left(self.cdf, u * self.total), len(self.cdf) - 1)


def _events_of_file(spec: StreamSpec, k: int) -> list[Event]:
    """Events first delivered by outbox file ``k`` (ids k*rows ... ),
    independent of every other file so any file can be built alone."""
    rng = random.Random(f"{spec.seed}/events/{k}")
    u = rng.random
    keys = key_ranks(spec)
    zipf = _Zipf(spec.customers, spec.zipf_s)
    type_cdf = list(itertools.accumulate(EVENT_WEIGHTS))
    gap, n_first = spec.mean_gap_ms, spec.rows_per_file
    base = k * n_first  # re-deliveries push some into the next file
    out = []
    for i in range(n_first):
        eid = base + i
        t_us = (eid * gap + int(u() * gap)) * 1000 + int(u() * 1000)
        if u() < spec.out_of_order:
            t_us -= int(60e6 + u() * 7140e6)
        if u() < spec.miss_rate:
            user = spec.customers + int(u() * spec.customers)
        else:
            user = keys[zipf.rank(u())]
        etype = EVENT_TYPES[bisect.bisect(type_cdf, u() * type_cdf[-1])]
        value = round(u() * 600.0, 2)
        if etype in NULLABLE_TYPES and u() < spec.null_value_share:
            value = None
        ts = EPOCH + dt.timedelta(microseconds=t_us)
        out.append(Event(eid, ts, user, etype, value, f'{{"k": {int(u() * 100)}}}'))
    return out


def payload(e: Event) -> str:
    v = "null" if e.value is None else repr(e.value)
    return (
        f'{{"event_id": {e.event_id}, "ts": "{e.ts.isoformat(timespec="microseconds")}", '
        f'"user_id": {e.user_id}, "event_type": "{e.event_type}", "value": {v}, '
        f'"props": {json.dumps(e.props)}}}'
    )


def outbox_file(spec: StreamSpec, k: int) -> tuple[bytes, list[Event]]:
    """Bytes of outbox file ``k`` and the events it delivers, in delivery
    order (re-deliveries included). Exactly ``rows_per_file`` lines: the
    first-delivery tail displaced by re-deliveries is dropped, so event ids
    are unique per file but not contiguous."""
    rng = random.Random(f"{spec.seed}/dups/{k}")
    events = _events_of_file(spec, k)
    delivered: list[Event] = []
    src = iter(events)
    while len(delivered) < spec.rows_per_file:
        if delivered and rng.random() < spec.dup_rate:
            delivered.append(delivered[-1 - rng.randrange(min(len(delivered), 500))])
        else:
            delivered.append(next(src))
    lines = []
    for j, e in enumerate(delivered):
        oid = k * spec.rows_per_file + j
        body = payload(e).replace("\\", "\\\\").replace('"', '\\"')
        lines.append(
            f'{{"id": {oid}, "topic": "{TOPIC}", "key": "{e.user_id}", '
            f'"payload": "{body}"}}\n'
        )
    return "".join(lines).encode(), delivered


def write_outbox_file(spec: StreamSpec, k: int, out_dir: str) -> tuple[str, list[Event]]:
    data, delivered = outbox_file(spec, k)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, file_name(k))
    with open(path, "wb") as fh:
        fh.write(data)
    return path, delivered


def file_name(k: int) -> str:
    return f"outbox-{k:05d}.jsonl"


@dataclass
class Summary:
    """What one outbox file realised, small enough to keep for every file
    of a run instead of its events (see :func:`summarise`)."""

    rows: int
    distinct: int
    missed: int
    late: int  # ts below the previous event id's ts, within the file
    nullable: int
    nulls: int
    first_ts: dt.datetime | None  # ts of the lowest and highest event id
    last_ts: dt.datetime | None
    per_key: collections.Counter


def summarise(spec: StreamSpec, delivered: list[Event]) -> Summary:
    by_id = sorted({e.event_id: e for e in delivered}.values(), key=lambda e: e.event_id)
    nullable = [e for e in delivered if e.event_type in NULLABLE_TYPES]
    return Summary(
        rows=len(delivered),
        distinct=len(by_id),
        missed=sum(e.user_id >= spec.customers for e in delivered),
        late=sum(1 for a, b in zip(by_id, by_id[1:]) if b.ts < a.ts),
        nullable=len(nullable),
        nulls=sum(e.value is None for e in nullable),
        first_ts=by_id[0].ts if by_id else None,
        last_ts=by_id[-1].ts if by_id else None,
        per_key=collections.Counter(e.user_id for e in delivered),
    )


def observed(spec: StreamSpec, files: list[Summary]) -> dict:
    """The properties realised by the delivered files, in file order, next
    to the ones requested, for the run record. Event ids grow from file to
    file and re-deliveries stay within their file, so the per-file counts
    add up; only the out-of-order count also compares adjacent files."""
    n = sum(f.rows for f in files)
    distinct = sum(f.distinct for f in files)
    late = sum(f.late for f in files) + sum(
        1 for a, b in zip(files, files[1:]) if a.last_ts and b.first_ts and b.first_ts < a.last_ts
    )
    per_key = sum((f.per_key for f in files), collections.Counter())
    segment = dict(zip(*(lambda c: (c["c_custkey"], c["c_mktsegment"]))(customers(spec))))
    per_segment = collections.Counter()
    for k, c in per_key.items():
        per_segment[segment.get(k, "none")] += c
    return {
        "requested": asdict(spec),
        "rows": n,
        "distinct_events": distinct,
        "dup_rate": round(1 - distinct / n, 4) if n else 0.0,
        "miss_rate": round(sum(f.missed for f in files) / max(n, 1), 4),
        "out_of_order": round(late / max(distinct - 1, 1), 4),
        "null_value_share": round(
            sum(f.nulls for f in files) / max(sum(f.nullable for f in files), 1), 4
        ),
        "top_key_share": round(max(per_key.values(), default=0) / max(n, 1), 4),
        "key_entropy_bits": round(
            -sum(c / n * math.log2(c / n) for c in per_key.values()) if n else 0.0, 3
        ),
        "segment_shares": {s: round(c / n, 3) for s, c in sorted(per_segment.items())},
    }
