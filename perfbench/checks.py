"""Correctness checks, run after the timed part of a workload. Each
returns a list of problems (empty = correct) and never trusts the engine:
ingest is compared with a DuckDB computation over the generated outbox,
serving reads with the generator's own events."""

from __future__ import annotations

import datetime as dt
import math

from . import gen


def naive_utc(table):
    """The Arrow table with tz-aware timestamps made naive UTC, as
    DuckDB's TIMESTAMP and the generator's datetimes are."""
    import pyarrow as pa

    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            table = table.set_column(i, f.name, table.column(i).cast(pa.timestamp(f.type.unit)))
    return table


def multiset_diff(con, got: str, want: str) -> list[str]:
    """Compare two relations of ``con`` as multisets: column names, row
    counts and every value. Doubles compare by their shortest round-trip
    text, so -0.0 differs from 0.0 and any last-bit difference shows (the
    bit-exact bar of tests/oracle_harness.py, evaluated inside DuckDB)."""
    gcols = con.execute(f"SELECT * FROM ({got}) LIMIT 0").description
    wcols = con.execute(f"SELECT * FROM ({want}) LIMIT 0").description
    names = sorted(c[0] for c in gcols)
    if names != sorted(c[0] for c in wcols):
        return [f"columns differ: got {names}, want {sorted(c[0] for c in wcols)}"]
    proj = ", ".join(f'CAST("{n}" AS VARCHAR) AS "{n}"' for n in names)
    g, w = f"SELECT {proj} FROM ({got})", f"SELECT {proj} FROM ({want})"

    def count(sql: str) -> int:
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]

    ng, nw = count(g), count(w)
    extra, missing = count(f"{g} EXCEPT ALL {w}"), count(f"{w} EXCEPT ALL {g}")
    problems = []
    if ng != nw:
        problems.append(f"row count: got {ng}, want {nw}")
    if extra or missing:
        sample = con.execute(f"{g} EXCEPT ALL {w} LIMIT 2").fetchall()
        problems.append(f"{extra} unexpected and {missing} missing rows, e.g. {sample}")
    return problems


def outbox_events_sql(files: list[str]) -> str:
    """DuckDB view of the events the outbox files deliver, decoded from
    the payload like the engine's ``decode_events`` (one row per
    delivery, re-deliveries included)."""
    listed = ", ".join(f"'{f}'" for f in files)
    return f"""
        SELECT CAST(p->>'event_id' AS BIGINT) AS event_id,
               CAST(p->>'ts' AS TIMESTAMP) AS ts,
               CAST(p->>'user_id' AS BIGINT) AS user_id,
               p->>'event_type' AS event_type,
               CAST(p->>'value' AS DOUBLE) AS value,
               p->>'props' AS props
        FROM (SELECT CAST(payload AS JSON) AS p
              FROM read_json([{listed}], format='newline_delimited',
                   columns={{'id': 'BIGINT', 'topic': 'VARCHAR',
                             'key': 'VARCHAR', 'payload': 'VARCHAR'}}))"""


def check_history(history, outbox_files: list[str], customer_parquet: str) -> list[str]:
    """The history table (Arrow, without ``batch_id``) must equal the
    engine's enrichment semantics (the registry's DuckDB oracle for the
    flagship query) evaluated over the drained outbox."""
    import duckdb

    from realtimedatapipeline_8_project_spark.operators.enrich import ORACLE_ENRICH

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS {outbox_events_sql(outbox_files)}")
        con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{customer_parquet}')")
        con.register("history", naive_utc(history))
        return multiset_diff(
            con, "SELECT * FROM history", f"SELECT * EXCLUDE (acctbal) FROM ({ORACLE_ENRICH})"
        )
    finally:
        con.close()


# --- serving truth from the generator ---------------------------------------


def fround6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


class Truth:
    """Expected serving answers over a list of delivered events."""

    def __init__(self, spec: gen.StreamSpec, delivered: list[gen.Event]) -> None:
        cols = gen.customers(spec)
        self.dim = {
            k: (seg, bal)
            for k, seg, bal in zip(cols["c_custkey"], cols["c_mktsegment"], cols["c_acctbal"])
        }
        self.delivered = delivered
        self.latest: dict[int, tuple] = {}
        self.by_user: dict[int, list[tuple]] = {}
        self.rollup: dict[tuple, list] = {}
        for e in delivered:
            row = self.row(e)
            cur = self.latest.get(e.event_id)
            # latest-wins on (event_time, duration) like the sink's view
            if cur is None or (row[1], _nz(row[4])) > (cur[1], _nz(cur[4])):
                self.latest[e.event_id] = row
            self.by_user.setdefault(e.user_id, []).append(row)
            hour = e.ts.replace(minute=0, second=0, microsecond=0)
            acc = self.rollup.setdefault((hour, e.event_type), [0, None, None])
            acc[0] += 1
            if e.value is not None:
                acc[1] = (acc[1] or 0.0) + e.value
                acc[2] = (acc[2] or 0.0) + e.value / 1000.0
        for rows in self.by_user.values():
            rows.sort(key=lambda r: (r[1], r[0]), reverse=True)

    def row(self, e: gen.Event) -> tuple:
        """(event_id, event_time, user_id, event_type, duration, segment,
        engagement_seconds, engagement_pct) as the history sink stores it."""
        seg, bal = self.dim.get(e.user_id, (None, None))
        secs = None if e.value is None else e.value / 1000.0
        pct = None
        if bal is not None and e.value is not None and bal != 0:
            pct = fround6(secs / bal)
        return (e.event_id, e.ts, e.user_id, e.event_type, e.value, seg, secs, pct)

    def point(self, event_id: int) -> list[tuple]:
        r = self.latest.get(event_id)
        return [r] if r else []

    def scan(self, user: int, lo: dt.datetime, hi: dt.datetime, limit: int) -> list[tuple]:
        rows = [r for r in self.by_user.get(user, ()) if lo <= r[1] < hi]
        return rows[:limit]

    def rollup_range(self, etype: str, lo: dt.datetime, hi: dt.datetime) -> list[tuple]:
        return sorted(
            (h, t, v[0], v[1], v[2])
            for (h, t), v in self.rollup.items()
            if t == etype and lo <= h < hi
        )


def _nz(v):
    return -math.inf if v is None else v


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Exact on every field; floats in aggregates are summed in an
    engine-chosen order, so they compare to 1e-9 relative."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if not _close(a, b):
                    return False
            elif a != b:
                return False
    return True
