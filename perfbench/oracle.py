"""Independent correctness oracle: DuckDB over the generated parquet.

The engine's answers are checked against row counts and revenue
(``sum(l_extendedprice * (1 - l_discount))``) computed here from the
same generated files, without Spark or the table log.
"""

from __future__ import annotations

import math
from datetime import date
from typing import Optional

import duckdb

from .gen import KEY

REL_TOL = 1e-9  # revenue is a double sum; Spark and DuckDB add in different orders


class Oracle:
    def __init__(self, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")

    def close(self) -> None:
        self.con.close()

    def slice(self, relation: str, start: Optional[date] = None,
              end: Optional[date] = None,
              bumps: Optional[dict[date, float]] = None) -> tuple[int, float]:
        """(rows, revenue) of ``relation`` (a table name or
        :func:`parquet`) with ``ship_date`` in ``[start, end)``.
        ``bumps`` adds a per-day amount to ``l_extendedprice``."""
        price = "l_extendedprice"
        if bumps:
            cases = " ".join(f"WHEN DATE '{d}' THEN {v!r}"
                             for d, v in sorted(bumps.items()))
            price = f"(l_extendedprice + CASE ship_date {cases} ELSE 0 END)"
        where = []
        if start is not None:
            where.append(f"ship_date >= DATE '{start}'")
        if end is not None:
            where.append(f"ship_date < DATE '{end}'")
        sql = (f"SELECT count(*), coalesce(sum({price} * (1 - l_discount)), 0)"
               f" FROM {relation}" + (f" WHERE {' AND '.join(where)}" if where else ""))
        n, rev = self.con.execute(sql).fetchone()
        return int(n), float(rev)

    # -- upsert model ---------------------------------------------------------

    def create_state(self, name: str, relation: str) -> None:
        self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM {relation}")

    def upsert(self, name: str, batch_parquet: str) -> None:
        """Apply an upsert batch to table ``name``: rows whose key is in
        the batch are replaced, the rest of the batch is inserted."""
        on = " AND ".join(f"{name}.{k} = b.{k}" for k in KEY)
        self.con.execute(
            f"DELETE FROM {name} USING read_parquet('{batch_parquet}') b WHERE {on}")
        self.con.execute(
            f"INSERT INTO {name} SELECT * FROM read_parquet('{batch_parquet}')")


def parquet(paths: list[str]) -> str:
    return f"read_parquet({list(paths)!r})"


def matches(got: tuple[int, float], want: tuple[int, float]) -> bool:
    return got[0] == want[0] and math.isclose(
        got[1], want[1], rel_tol=REL_TOL, abs_tol=1e-6)
