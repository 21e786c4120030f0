"""Untimed checks of every measured result.

SQL requests are re-run in DuckDB on the same parquet files and compared by
row count, column kinds and order-insensitive value hash, the comparison
``tools/selfcheck.py`` makes for operators. Operators are compared with
their registered DuckDB oracle; an operator without one must give the same
digest on every call.
"""

from __future__ import annotations

import csv
import io

import duckdb
import pandas as pd

from desdb_spark.session import TABLES
from tools.selfcheck import canonicalize


def _rows_frame(columns: list[str], rows: list) -> pd.DataFrame:
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


def _csv_lines(text: str) -> tuple[str, list[str]]:
    header, *body = text.splitlines()
    return header, sorted(body)


class Checker:
    def __init__(self, data_dir: str, ops: dict) -> None:
        self.ops = ops
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self.digests: dict[str, tuple] = {}

    def expected_sql(self, method: str, sql: str):
        cur = self.con.execute(sql)
        if method == "quick_numpy":
            return canonicalize(cur.df())
        columns = [d[0] for d in cur.description]
        rows = cur.fetchall()
        if method == "quick":
            return canonicalize(_rows_frame(columns, rows))
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(columns)
        w.writerows(rows)
        return len(rows), _csv_lines(buf.getvalue())

    @staticmethod
    def actual_sql(method: str, result) -> tuple[tuple, int, int]:
        """Digest of what a ``Connection`` call returned, its rows and bytes."""
        if method == "quickWrite":
            n, text = result
            return (n, _csv_lines(text)), n, len(text.encode())
        if method == "quick_numpy":
            frame, size = pd.DataFrame.from_records(result), result.nbytes
        else:
            columns = list(result[0]) if result else []
            frame = _rows_frame(columns, [d.values() for d in result])
            size = frame.memory_usage(deep=True).sum()
        return canonicalize(frame), len(frame), int(size)

    def expected_op(self, name: str, frame: pd.DataFrame):
        if name not in self.digests:
            oracle = self.ops[name].oracle
            src = frame if oracle is None else self.con.execute(oracle).df()
            self.digests[name] = canonicalize(src)
        return self.digests[name]

    def check(self, workload: str, call: dict) -> None:
        """Set ``call["ok"]``, plus the size of what the caller received."""
        if "error" in call:
            call["ok"] = False
            return
        result = call["result"]
        try:
            if workload == "sql_requests":
                req = call["request"]
                got, call["rows"], call["bytes"] = self.actual_sql(req["method"], result)
                want = self.expected_sql(req["method"], req["sql"])
            else:
                got = canonicalize(result)
                want = self.expected_op(call["key"], result)
                call["rows"] = len(result)
                call["bytes"] = int(result.memory_usage(deep=True).sum())
        except Exception as e:  # noqa: BLE001 - a result that cannot be checked is wrong
            call["ok"], call["error"] = False, f"check: {type(e).__name__}: {e}"
            return
        call["ok"] = got == want
        if not call["ok"]:
            call["error"] = f"result differs from the reference: got {str(got)[:200]} want {str(want)[:200]}"

