"""Output checks, computed outside the timed region.

- ``SearchOracle``: numpy brute force over the generated fixture rows
  (lower-cased type filter, point strictly inside the rectangle, cosine
  distance as the same sequential double fold the engine uses, ``id``
  tie-break, then skip and limit).
- ``DuckOracle``: a batch query's collected rows against its DuckDB
  oracle from the catalog's ``ORACLES``, compared as order-insensitive
  multisets of values rounded to 10 significant digits.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np

from .datagen import TABLES


class SearchOracle:
    def __init__(self, rows: list[tuple]):
        unique = {r[0]: r for r in rows}  # duplicated (id, metadata_text) rows are identical
        ordered = sorted(unique.values(), key=lambda r: r[0])
        self.ids = np.array([r[0] for r in ordered], dtype=object)
        self.types = np.array([(r[2] or "").lower() for r in ordered], dtype=object)
        self.emb = np.array([r[6] for r in ordered], dtype=np.float32).astype(np.float64)
        nan4 = (math.nan,) * 4
        self.bbox = np.array([r[8] if r[8] is not None else nan4 for r in ordered])

    def expected_ids(self, qvec, type_filter, point, skip: int, limit: int) -> list[str]:
        keep = np.ones(len(self.ids), dtype=bool)
        if type_filter:
            keep &= np.isin(self.types, [t.lower() for t in type_filter])
        if point is not None:
            lon, lat = point
            b = self.bbox
            keep &= (b[:, 0] < lon) & (lon < b[:, 2]) & (b[:, 1] < lat) & (lat < b[:, 3])
        idx = np.flatnonzero(keep)
        # cumsum folds left to right, exactly like the engine's aggregate()
        dist = 1.0 - np.cumsum(self.emb[idx] * np.asarray(qvec), axis=1)[:, -1]
        order = sorted(range(len(idx)), key=lambda i: (dist[i], self.ids[idx[i]]))
        return [self.ids[idx[i]] for i in order[skip: skip + limit]]


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def _multiset(cols: list[str], rows) -> list[tuple]:
    by_name = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in by_name) for r in rows)


class DuckOracle:
    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def mismatch(self, sql: str, cols: list[str], rows) -> str | None:
        """None when the rows equal the oracle's, else a one-line reason."""
        res = self.con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        if _multiset(cols, rows) != _multiset(ocols, orows):
            return "values differ from oracle"
        return None

    def close(self) -> None:
        self.con.close()
