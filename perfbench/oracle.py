"""Expected results from the DuckDB oracle, and the value hash both
sides are compared by.

A result is compared by its sorted column names, its row count and an
order-insensitive hash of its canonical rows: columns sorted by name,
each cell stringified (floats rounded to 9 digits, NULL and NaN as one
marker), rows sorted. This is the canonical form the repository's
oracle-parity tests compare.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from dataclasses import dataclass

import duckdb


@dataclass(frozen=True)
class Expected:
    columns: tuple[str, ...]
    rows: int
    digest: str


def _cell(v) -> str:
    if v is None or v != v:
        return "<null>"
    if isinstance(v, float):
        return repr(round(v, 9) + 0.0)
    return str(v)


def canonical_rows(pdf) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    cols = sorted(pdf.columns)
    frame = pdf.reindex(cols, axis=1)
    rows = sorted(tuple(_cell(v) for v in row) for row in frame.itertuples(index=False))
    return tuple(cols), rows


def digest_rows(rows: list[tuple[str, ...]]) -> str:
    h = hashlib.sha256()
    for row in rows:
        h.update(json.dumps(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def summarize(pdf) -> Expected:
    """The comparable summary of a pandas result frame."""
    cols, rows = canonical_rows(pdf)
    return Expected(cols, len(rows), digest_rows(rows))


def mismatch(got: Expected, want: Expected) -> str | None:
    """None when ``got`` equals ``want``, else what differs."""
    if got.columns != want.columns:
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.rows != want.rows:
        return f"rows {got.rows} != {want.rows}"
    if got.digest != want.digest:
        return "value hash differs"
    return None


class Oracle:
    """DuckDB over the generated tables, one view per parquet file."""

    def __init__(self, data_dir: str) -> None:
        self._con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            self._con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    def frame(self, sql: str):
        return self._con.sql(sql).df()

    def close(self) -> None:
        self._con.close()
