"""Order-insensitive comparison of query results with the catalog's
DuckDB oracles, canonicalised as testing/oracle.compare_query does it,
but on rows already collected, so a check never re-runs a timed query."""

from __future__ import annotations

import hashlib
import sys

from metrics_service_spark.testing.oracle import _canon_rows, run_oracle


def canonical(cols: list[str], rows: list[tuple]) -> list:
    return [sorted(cols), _canon_rows(cols, rows)]


def digest(cols: list[str], rows: list[tuple]) -> str:
    return hashlib.sha256(repr(canonical(cols, rows)).encode()).hexdigest()[:24]


def matches_oracle(cols: list[str], rows: list[tuple], oracle_sql: str, data: str, name: str) -> bool:
    """True when `rows` equal the oracle's result over the tables in
    `data`, as multisets of canonical rows."""
    o_cols, o_rows = run_oracle(oracle_sql, data)
    if canonical(cols, rows) == canonical(o_cols, o_rows):
        return True
    print(f"{name}: {len(rows)} rows differ from the oracle's {len(o_rows)}", file=sys.stderr)
    return False
