"""Independent result oracle: DuckDB over the same parquet files.

Every timed result is compared with DuckDB's answer by row count and an
order-independent checksum, outside the timed region. The checksum has
two parts so that floating-point noise (summation order differs between
engines) cannot cause false mismatches while wrong rows still do:

* exact columns (integers, strings, dates, booleans) are hashed per row
  and the row hashes summed modulo 2**64 — any missing, extra or altered
  row changes it;
* floating-point columns are summed, together with their absolute values,
  and compared with a relative tolerance.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

FLOAT_RTOL = 1e-6


@dataclass(frozen=True)
class Checksum:
    rows: int
    exact: int
    floats: tuple[tuple[float, float], ...]

    def matches(self, other: "Checksum") -> bool:
        if (self.rows, self.exact, len(self.floats)) != (
            other.rows, other.exact, len(other.floats)
        ):
            return False
        for (s1, a1), (s2, a2) in zip(self.floats, other.floats):
            scale = max(a1, a2, 1.0)
            if abs(s1 - s2) > FLOAT_RTOL * scale or abs(a1 - a2) > FLOAT_RTOL * scale:
                return False
        return True


def _is_float(t: pa.DataType) -> bool:
    return pa.types.is_floating(t) or pa.types.is_decimal(t)


def _exact_column(col: pa.ChunkedArray) -> pd.Series:
    """Canonical, engine-independent form of a non-float column."""
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        s = col.to_pandas().astype("Int64")
        return s.astype("string").fillna("<null>")
    if pa.types.is_dictionary(t):
        col = col.cast(t.value_type)
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        col = col.cast(pa.timestamp("us")).cast(pa.string())
    return col.to_pandas().astype("string").fillna("<null>")


def checksum(table: pa.Table) -> Checksum:
    exact_cols = {}
    floats = []
    for i, col in enumerate(table.columns):
        if _is_float(col.type):
            v = col.cast(pa.float64()).to_numpy(zero_copy_only=False)
            v = np.nan_to_num(v.astype(np.float64), nan=0.0)
            floats.append((float(v.sum()), float(np.abs(v).sum())))
        else:
            exact_cols[f"c{i}"] = _exact_column(col)
    if exact_cols and table.num_rows:
        h = pd.util.hash_pandas_object(pd.DataFrame(exact_cols), index=False)
        exact = int(h.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
    else:
        exact = 0
    return Checksum(table.num_rows, exact, tuple(floats))


class DuckOracle:
    """DuckDB over the benchmark's tables, one view per table.

    Answers are kept as checksums in a JSON file inside the data directory,
    keyed by a hash of the prelude and the query text. A data directory's
    tables never change, so DuckDB answers each distinct question once per
    checkout; the connection is opened only when an answer is missing."""

    def __init__(self, data_dir: str, tables: list[str], threads: int, temp_dir: str):
        self.data_dir = data_dir
        self.tables = tables
        self.config = {"threads": max(1, threads), "temp_directory": temp_dir}
        self.cache_path = os.path.join(data_dir, "oracle-answers.json")
        self._answers: dict[str, Checksum] = {}
        if os.path.exists(self.cache_path):
            with open(self.cache_path) as f:
                for key, (rows, exact, floats) in json.load(f).items():
                    self._answers[key] = Checksum(rows, exact, tuple(map(tuple, floats)))
        self._new = False
        self._con = None
        self._prepared: set[str] = set()

    def _connect(self):
        if self._con is None:
            self._con = duckdb.connect(config=self.config)
            for name in self.tables:
                path = os.path.join(self.data_dir, f"{name}.parquet")
                self._con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
        return self._con

    def expected(self, sql: str, prelude: list[str] = ()) -> Checksum:
        """DuckDB's answer to ``sql``. ``prelude`` statements (temp tables
        shared by several queries) run first, each once per connection."""
        key = hashlib.sha256("\n".join([*prelude, sql]).encode()).hexdigest()
        if key not in self._answers:
            con = self._connect()
            for stmt in prelude:
                if stmt not in self._prepared:
                    con.execute(stmt)
                    self._prepared.add(stmt)
            self._answers[key] = checksum(con.execute(sql).fetch_arrow_table())
            self._new = True
        return self._answers[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
        if self._new:
            tmp = f"{self.cache_path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump({k: [c.rows, c.exact, c.floats] for k, c in self._answers.items()}, f)
            os.replace(tmp, self.cache_path)
