"""Seeded CDC traffic for the merge benchmark.

Everything the engine sees is made here, from one ``numpy`` generator
seeded on the command line, and written with pyarrow/DuckDB (never
Spark, so Spark's job counters see only the engine's work).

Two wire shapes, matching the engine's two front doors:

- the flat bronze envelope of ``sources.cdc`` — parquet rows
  ``(data, load_ts, publish_time, message_id, source_db_table,
  subscription_name)`` whose ``data`` JSON inlines ``__op``, ``__ts_ns``
  and ``__source_pos``;
- Debezium wire text, one envelope per line, as ``sources.debezium``
  unwraps it (``before``/``after`` images, ``op``, ``ts_ms``,
  ``source.pos``).

Each landed file is one arrival window. The typed events behind every
file are kept as an Arrow table (``Feed.events``) so the oracle can
recompute the expected target relationally.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2026-01-01T00:00:00Z in epoch micros — the feed's time origin.
T0_US = int(datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
#: Arrival-window length: window ``w`` lands load_ts in (T0 + w·W, T0 + (w+1)·W].
WINDOW_US = 60 * 1_000_000
STATUSES = np.array(["new", "paid", "shipped", "returned", "closed"])


@dataclass(frozen=True)
class Traffic:
    """Properties of one workload's change feed."""

    keys: int  # primary-key space
    delete_share: float  # share of events that are deletes
    late_share: float = 0.0  # share whose event time precedes earlier windows
    zipf: float = 0.0  # key-skew exponent; 0 = uniform keys


class Feed:
    """Seeded event source: ``window(n)`` draws the next arrival window.

    Source positions grow in arrival order across windows; event times
    trail arrival by up to 5 s, or by one to five windows for late events.
    ``ms_ts`` truncates event times to milliseconds, as Debezium's
    ``ts_ms`` does.
    """

    def __init__(self, seed: int, traffic: Traffic, ms_ts: bool = False):
        self.rng = np.random.default_rng(seed)
        self.traffic = traffic
        self.ms_ts = ms_ts
        self.next_window = 0
        self.next_pos = 1
        self.batches: list[pa.Table] = []
        if traffic.zipf > 0:
            ranks = np.arange(1, traffic.keys + 1, dtype=np.float64)
            p = ranks ** -traffic.zipf
            self._key_p = p / p.sum()
            # hot ranks land on scattered ids, not on 0..k
            self._key_perm = self.rng.permutation(traffic.keys)
        self.hot_keys = self._hot_keys()

    def _hot_keys(self, n: int = 32) -> list[int]:
        if self.traffic.zipf > 0:
            return sorted(int(k) for k in self._key_perm[:n])
        return sorted(int(k) for k in self.rng.choice(self.traffic.keys, n, replace=False))

    def _draw_keys(self, n: int) -> np.ndarray:
        if self.traffic.zipf > 0:
            return self._key_perm[self.rng.choice(self.traffic.keys, n, p=self._key_p)]
        return self.rng.integers(0, self.traffic.keys, n)

    def window(self, n: int | None = None, snapshot: bool = False) -> pa.Table:
        """Typed events of the next arrival window, also recorded for the
        oracle under this window's batch id. ``snapshot`` emits one insert
        per key in key order (an initial load), ignoring ``n``."""
        t, rng = self.traffic, self.rng
        w = self.next_window
        if snapshot:
            keys = np.arange(t.keys, dtype=np.int64)
            n = t.keys
            ops = np.full(n, "c")
            late = np.zeros(n, dtype=bool)
        else:
            keys = self._draw_keys(n).astype(np.int64)
            u = rng.random(n)
            ops = np.where(u < t.delete_share, "d", np.where(rng.random(n) < 0.5, "c", "u"))
            late = rng.random(n) < t.late_share
        load_us = T0_US + w * WINDOW_US + np.sort(rng.integers(1, WINDOW_US, n))
        lag = np.where(
            late,
            rng.integers(WINDOW_US, 5 * WINDOW_US, n),
            rng.integers(0, 5_000_000, n),
        )
        ts_us = load_us - lag
        if self.ms_ts:
            ts_us = ts_us // 1000 * 1000
        pos = np.arange(self.next_pos, self.next_pos + n, dtype=np.int64)
        self.next_pos += n
        self.next_window += 1
        table = pa.table(
            {
                "id": keys,
                "op": ops,
                "ts_us": ts_us,
                "load_us": load_us,
                "pos": pos,
                "batch": np.full(n, w, dtype=np.int64),
                "status": STATUSES[rng.integers(0, len(STATUSES), n)],
                "amount_cents": rng.integers(0, 1_000_000, n),
                "qty": rng.integers(0, 1000, n).astype(np.int32),
                "active": rng.random(n) < 0.7,
                "updated_ms": ts_us // 1000 - rng.integers(0, 86_400_000, n),
            }
        )
        self.batches.append(table)
        return table

    @property
    def events(self) -> pa.Table:
        return pa.concat_tables(self.batches)


# One DuckDB pass renders the JSON text; numbers are formatted exactly
# (amount as 2-decimal text parses to the same double as cents / 100.0).
_IMAGE = (
    "'\"id\":' || id || ',\"status\":\"' || status || '\",\"amount\":' "
    "|| printf('%.2f', amount_cents / 100.0) || ',\"qty\":' || qty "
    "|| ',\"active\":\"' || CASE WHEN active THEN 'true' ELSE 'false' END "
    "|| '\",\"updated_at\":\"' || updated_ms || '\"'"
)
_FLAT_SQL = (
    "SELECT '{\"__op\":\"' || op || '\",\"__ts_ns\":\"' || (ts_us * 1000) "
    "|| '\",\"__source_pos\":\"' || pos || '\",' || " + _IMAGE + " || '}' AS data "
    "FROM t ORDER BY pos"
)
_DBZ_SQL = (
    "SELECT '{\"before\":' || CASE WHEN op = 'd' THEN '{' || " + _IMAGE + " || '}' ELSE 'null' END "
    "|| ',\"after\":' || CASE WHEN op = 'd' THEN 'null' ELSE '{' || " + _IMAGE + " || '}' END "
    "|| ',\"op\":\"' || op || '\",\"ts_ms\":' || (ts_us // 1000) "
    "|| ',\"source\":{\"db\":\"bench\",\"table\":\"orders\",\"pos\":\"' || pos || '\"}}' AS line "
    "FROM t ORDER BY pos"
)


def _render(table: pa.Table, sql: str) -> pa.Array:
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("t", table)
        return con.execute(sql).arrow().column(0).combine_chunks()
    finally:
        con.close()


def _publish(tmp: str, path: str) -> str:
    """Rename a finished hidden file into place, as an ingestion process
    lands it, so no reader sees a partial file."""
    os.replace(tmp, path)
    return path


def land_bronze(table: pa.Table, directory: str) -> str:
    """Write one window as a flat-envelope bronze parquet file."""
    os.makedirs(directory, exist_ok=True)
    load_ts = pa.array(table.column("load_us").to_numpy(), pa.timestamp("us", tz="UTC"))
    pos = table.column("pos").to_numpy()
    bronze = pa.table(
        {
            "data": _render(table, _FLAT_SQL),
            "load_ts": load_ts,
            "publish_time": load_ts,
            "message_id": pa.array([f"m-{p}" for p in pos]),
            "source_db_table": pa.array(["bench.orders"] * len(pos)),
            "subscription_name": pa.array(["sub-orders"] * len(pos)),
        }
    )
    name = f"part-{int(table.column('batch')[0].as_py()):06d}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(bronze, tmp, compression="snappy")
    return _publish(tmp, os.path.join(directory, name))


def land_debezium(table: pa.Table, directory: str) -> str:
    """Write one window as Debezium wire text, one envelope per line."""
    os.makedirs(directory, exist_ok=True)
    lines = _render(table, _DBZ_SQL).to_pylist()
    name = f"dbz-{int(table.column('batch')[0].as_py()):06d}.json"
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return _publish(tmp, os.path.join(directory, name))
