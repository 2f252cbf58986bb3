"""Output check: a query's result against its DuckDB oracle.

Canonicalization is the ``__spark_entry__`` contract's: equal row counts, equal
(case-insensitive) column names, and an order-insensitive md5 over the
rows, with floats printed as integers when integral and to 9
significant digits otherwise. A query without an oracle gets a
row-count-only check (at least one row). The canonicalization is a copy
of ``tools/drive_driver_contract.py``'s, kept inside the benchmark so that
a change to the repository's tools cannot change what the benchmark
accepts.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from bigdata_deepfakeanalysis_spark.catalog import TABLES


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        cells = []
        for v in row:
            if isinstance(v, (list, tuple, dict, set)) or (
                v.__class__.__name__ == "ndarray"
            ):
                raise TypeError(f"complex result cell {type(v).__name__}")
            if v is None or (isinstance(v, float) and pd.isna(v)):
                cells.append("NULL")
            elif isinstance(v, float):
                cells.append(str(int(v)) if v == int(v) else f"{v:.9g}")
            else:
                cells.append(str(v))
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


class Oracle:
    """DuckDB connection with the ten tables of one SF dir as views."""

    def __init__(self, sf_dir: str, oracles: dict[str, str]):
        import duckdb

        self.oracles = oracles
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def mismatch(self, name: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` matches the oracle, else the reason."""
        sql = self.oracles.get(name)
        if sql is None:
            return None if len(got) > 0 else "no rows (rows-only check)"
        want = self.con.execute(sql).fetch_df()
        got = got.rename(columns=str.lower)
        want = want.rename(columns=str.lower)
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        if canon(got) != canon(want):
            return "value hash differs"
        return None

    def close(self) -> None:
        self.con.close()
