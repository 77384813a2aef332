"""DuckDB oracle: the expected target, recomputed from the generated
events alone, and its comparison with what the engine wrote and read.

Semantics (the reference's, which the engine mirrors):

- a batch sees the events it scans: with a watermark, every landed event
  whose ``load_ts`` is newer than the watermark; without one, exactly the
  window the batch drained;
- per key, the batch keeps the latest event by (event ts, source pos);
- the watermark then advances to the newest ``load_ts`` among those
  kept events (the change set), so an event that lost to a newer one
  and arrived after every kept event is scanned again by the next batch;
- a key's row is its kept event from the last batch that saw the key,
  absent if that event is a delete.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_ROW = (
    "id, status, amount_cents / 100.0 AS amount, qty, "
    "CASE WHEN active THEN 1 ELSE 0 END AS active, "
    "updated_ms * 1000 AS updated_at, ts_us AS source_ts_ns_order, pos"
)
_ACTUAL = (
    "id, status, amount, qty, active, epoch_us(updated_at) AS updated_at, "
    "epoch_us(source_ts_ns_order) AS source_ts_ns_order, pos"
)


class Oracle:
    """Replays a run's batches over the generated events.

    ``landed[b]`` is the highest window id landed before batch ``b`` ran;
    ``watermark`` selects the scan rule above.
    """

    def __init__(self, events: pa.Table, landed: list[int], watermark: bool):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.register("ev", events)
        self.con.execute("CREATE TABLE seen (pos BIGINT, b INTEGER)")
        #: per batch, the watermark the batch advanced to (epoch µs), or None
        self.watermarks: list[int | None] = []
        #: per batch, events the batch scanned and the landed files they came from
        self.window_rows: list[int] = []
        self.window_files: list[int] = []
        wm = None
        for b, upto in enumerate(landed):
            if watermark:
                cond = f"batch <= {upto}" + ("" if wm is None else f" AND load_us > {wm}")
            else:
                cond = f"batch = {upto}"
            self.con.execute(f"INSERT INTO seen SELECT pos, {b} FROM ev WHERE {cond}")
            kept_max = self.con.execute(
                "SELECT max(load_us) FROM (SELECT load_us, row_number() OVER "
                "(PARTITION BY id ORDER BY ts_us DESC, pos DESC) AS rn "
                f"FROM ev JOIN seen USING (pos) WHERE seen.b = {b}) WHERE rn = 1"
            ).fetchone()[0]
            rows, files = self.con.execute(
                f"SELECT count(*), count(DISTINCT batch) FROM ev JOIN seen USING (pos) WHERE seen.b = {b}"
            ).fetchone()
            self.window_rows.append(rows)
            self.window_files.append(files)
            if kept_max is not None:
                wm = kept_max if wm is None else max(wm, kept_max)
            self.watermarks.append(kept_max)
        # the event each batch kept per key
        self.con.execute(
            "CREATE TABLE kept AS SELECT * FROM (SELECT ev.*, seen.b AS mb, row_number() OVER "
            "(PARTITION BY seen.b, ev.id ORDER BY ts_us DESC, pos DESC) AS rn "
            "FROM ev JOIN seen USING (pos)) WHERE rn = 1"
        )

    def _state_after(self, b: int) -> str:
        return (
            f"SELECT {_ROW} FROM kept WHERE mb <= {b} "
            "QUALIFY row_number() OVER (PARTITION BY id ORDER BY mb DESC) = 1 AND op <> 'd'"
        )

    def _diff(self, expected_sql: str, actual: pa.Table, actual_cols: str) -> int:
        """Rows in one side and not the other (multiset difference)."""
        self.con.register("act", actual)
        return self.con.execute(
            f"WITH e AS ({expected_sql}), a AS (SELECT {actual_cols} FROM act) "
            "SELECT (SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM a)) "
            "+ (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM e))"
        ).fetchone()[0]

    def table_mismatches(self, actual: pa.Table) -> int:
        """Rows of the final target that differ from the expected table."""
        return self._diff(self._state_after(len(self.watermarks) - 1), actual, _ACTUAL)

    def read_mismatches(self, reads: list[tuple[int, list[int], pa.Table]]) -> int:
        """Point lookups ``(after batch, keys, rows)`` that differ from the
        expected rows of those keys at that batch."""
        bad = 0
        for b, keys, rows in reads:
            keyset = ",".join(str(k) for k in keys)
            expected = f"SELECT * FROM ({self._state_after(b)}) WHERE id IN ({keyset})"
            bad += self._diff(expected, rows, _ACTUAL) > 0
        return bad

    def close(self) -> None:
        self.con.close()
