"""Output checks, run after the timed region.

Query keys are compared once per run against their declared DuckDB oracle
with the test suite's comparer (``tests/harness.compare``); keys without an
oracle must return rows. Daily ETL loads are checked against an independent
DuckDB recomputation of what each day should push to the REST sink and of
the snapshot it should commit.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb


class _Collected:
    """The slice of the DataFrame API ``harness.compare`` reads, over rows
    collected once, so the check also yields the result's row count."""

    def __init__(self, df):
        self.columns = df.columns
        self.dtypes = df.dtypes
        self.rows = df.collect()

    def collect(self):
        return self.rows


def check_query(df, oracle: str | None, con) -> tuple[int, list[str]]:
    """Return (result rows, problems) for one query's DataFrame."""
    from harness import compare

    result = _Collected(df)
    if oracle is None:
        return len(result.rows), [] if result.rows else ["rows-only key returned no rows"]
    return len(result.rows), compare(result, con, oracle)


_LATEST = """
SELECT event_id, ts, user_id, upper(event_type) AS event_type,
       round(value, 2) AS value
FROM (SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM read_parquet('{path}'))
WHERE rn = 1
"""


class EtlOracle:
    """DuckDB's view of the daily loads: per day, the latest record per user
    (the snapshot to commit) and the rows whose latest record changed since
    the previous day (the rows to push)."""

    def __init__(self, day_dirs: list[str]):
        self.con = duckdb.connect()
        self.snapshots: list[Counter] = []
        self.pushes: list[Counter] = []
        prev = None
        for d, day_dir in enumerate(day_dirs):
            path = os.path.join(day_dir, "events.parquet")
            self.con.execute(f"CREATE TABLE latest_{d} AS {_LATEST.format(path=path)}")
            self.snapshots.append(
                Counter(self.con.execute(f"SELECT * FROM latest_{d}").fetchall())
            )
            push_sql = f"SELECT c.event_id, c.user_id, c.event_type, c.value FROM latest_{d} c"
            if prev is not None:
                push_sql += (
                    f" LEFT JOIN latest_{prev} p USING (user_id)"
                    " WHERE p.event_id IS NULL OR p.event_id <> c.event_id"
                )
            self.pushes.append(Counter(self.con.execute(push_sql).fetchall()))
            prev = d

    def check_day(self, day: int, batches: list[dict], out_dir: str, run_id: str) -> list[str]:
        """Problems of one finished daily load, given the batches
        ``read_idempotent_output`` returns for it."""
        landed = Counter(
            (r["event_id"], r["user_id"], r["event_type"], r["value"])
            for batch in batches
            for r in batch["records"]
        )
        problems = []
        want = self.pushes[day]
        if landed != want:
            problems.append(
                f"pushed rows differ: {sum((landed - want).values())} unexpected, "
                f"{sum((want - landed).values())} missing"
            )
        snap_dir = os.path.join(out_dir, "staging", f"v_{run_id}")
        snapshot = Counter(
            self.con.execute(
                "SELECT event_id, CAST(ts AS TIMESTAMP), user_id, event_type, value "
                f"FROM read_parquet('{snap_dir}/*.parquet')"
            ).fetchall()
        )
        if snapshot != self.snapshots[day]:
            problems.append(
                f"snapshot differs: {sum((snapshot - self.snapshots[day]).values())} "
                f"unexpected, {sum((self.snapshots[day] - snapshot).values())} missing"
            )
        return problems
