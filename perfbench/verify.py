"""Output checks against DuckDB, run after every pass outside the timed
region, in a child process of the benchmark (so the engine process's memory
holds only the program's own work):

    python3 perfbench/verify.py <workload> <root> <out dir> <lakes json>

prints ``ready`` once the expected outputs are computed (every run, from
this checkout's oracle SQL and job windows), then answers each
operation name read from stdin with one JSON line ``{"error": ...}``; any
error or exception counts as a failed operation.

- staging: row counts per ``(event_type, date)`` against the raw lake;
- datamarts: the written parquet against the registry's oracle SQL for the
  same datamart (``q17`` / ``q18`` / ``q16``) over an ``events`` view cut to
  the job's date window;
- registry queries: the collected frame against the query's oracle SQL.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import sys
from decimal import Decimal

import duckdb
import pandas as pd

import workloads as wl
from spark_hadoop_automation_in_cloud_spark import queries


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, Decimal):
        return round(float(v), 9)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "tolist") and getattr(v, "ndim", 0) > 0:
        return tuple(_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "item"):
        return _cell(v.item())
    return v


def normalize(df: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple]]:
    """Order-insensitive form: columns by name, rows sorted, doubles to 9dp."""
    cols = tuple(sorted(df.columns))
    rows = [tuple(_cell(v) for v in r) for r in df[list(cols)].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, rows


def diff(actual: pd.DataFrame, expected: tuple) -> str | None:
    cols, rows = normalize(actual)
    if cols != expected[0]:
        return f"columns {cols} != {expected[0]}"
    if len(rows) != len(expected[1]):
        return f"{len(rows)} rows != {len(expected[1])}"
    for a, b in zip(rows, expected[1]):
        if a != b:
            return f"row {a} != {b}"
    return None


class Oracle:
    """Expected outputs for one workload's inputs, computed from the
    checkout's oracle SQL and job windows."""

    def __init__(self, workload: str, root: str, out_dir: str, lakes: dict[str, str]):
        self.root, self.out_dir, self.lakes = root, out_dir, lakes
        self.expected: dict[str, tuple] = {}
        os.makedirs(out_dir, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{out_dir}/duckdb.tmp'")
        if workload == "daily_pipeline":
            self._daily()
        else:
            self._registry()

    def close(self) -> None:
        self.con.close()

    def _daily(self) -> None:
        con = self.con
        raw = self.lakes["raw"] + "/raw/*.parquet"
        self.expected["sources.mover"] = normalize(
            con.execute(
                "SELECT event_type, substr(event.datetime, 1, 10) AS date, "
                f"COUNT(*) AS n FROM read_parquet('{raw}') GROUP BY ALL"
            ).fetchdf()
        )
        lake = self.lakes["event"]
        con.execute(f"CREATE VIEW nation AS SELECT * FROM '{lake}/nation.parquet'")
        by_name = {s.name: s for s in queries.specs()}
        for job, _, oracle in wl.DATAMARTS:
            date, depth = wl.job_window(self.root, job)
            end = dt.date.fromisoformat(date)
            start = end - dt.timedelta(days=depth - 1)
            con.execute(
                "CREATE OR REPLACE VIEW events AS SELECT * FROM "
                f"read_parquet('{lake}/events.parquet/*.parquet') "
                f"WHERE CAST(ts AS DATE) BETWEEN DATE '{start}' AND DATE '{end}'"
            )
            self.expected[wl.JOB_LAYER[job][0]] = normalize(
                con.execute(by_name[oracle].sql).fetchdf()
            )

    def _registry(self) -> None:
        lake = self.lakes["registry"]
        for t in ("events", "embeddings"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
        by_name = {s.name: s for s in queries.specs()}
        for name in wl.GRAPH_QUERIES + wl.SEARCH_QUERIES:
            self.expected[wl.query_layer(name)] = normalize(
                self.con.execute(by_name[name].sql).fetchdf()
            )

    def actual(self, op: str) -> pd.DataFrame:
        con = self.con
        if op == "sources.mover":
            return con.execute(
                "SELECT CAST(event_type AS VARCHAR) AS event_type, "
                "CAST(date AS VARCHAR) AS date, COUNT(*) AS n FROM read_parquet("
                f"'{wl.staging_dir(self.out_dir)}/*/*/*.parquet', hive_partitioning=true) "
                "GROUP BY ALL"
            ).fetchdf()
        for job, dm_name, _ in wl.DATAMARTS:
            if op == wl.JOB_LAYER[job][0]:
                date, _ = wl.job_window(self.root, job)
                path = os.path.join(wl.datamart_root(self.out_dir), dm_name, f"date={date}")
                return con.execute(
                    f"SELECT * FROM read_parquet('{path}/*.parquet', hive_partitioning=false)"
                ).fetchdf()
        return pd.read_pickle(wl.captured_path(self.out_dir, op))

    def check(self, op: str) -> str | None:
        try:
            return diff(self.actual(op), self.expected[op])
        except Exception as exc:  # noqa: BLE001 — any failure is a failed operation
            return f"{type(exc).__name__}: {exc}"


def serve(argv: list[str]) -> None:
    workload, root, out_dir, lakes = argv
    oracle = Oracle(workload, root, out_dir, json.loads(lakes))
    print("ready", flush=True)
    for line in sys.stdin:
        print(json.dumps({"error": oracle.check(line.strip())}), flush=True)
    oracle.close()


if __name__ == "__main__":
    serve(sys.argv[1:])
