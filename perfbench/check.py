"""Output checks: a query's result against its ``registry.ORACLES`` SQL
run on DuckDB over the same parquet files.

Rows are compared as multisets inside DuckDB (``EXCEPT ALL`` both
ways). When that finds a difference, a slower pandas comparison that
allows a relative 1e-9 on float columns decides, so last-digit float
formatting between the engines is not reported as a wrong answer."""

from __future__ import annotations

import datetime

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


class Oracle:
    """One DuckDB connection with a view per input table."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def mismatch(self, got: pa.Table, sql: str) -> str | None:
        """None when ``got`` equals the oracle's result, else a reason."""
        want = self.con.execute(sql).arrow()
        cols = sorted(got.column_names)
        if cols != sorted(want.column_names):
            return f"columns {cols} != {sorted(want.column_names)}"
        if got.num_rows != want.num_rows:
            return f"rows {got.num_rows} != {want.num_rows}"
        self.con.register("got_rows", got)
        self.con.register("want_rows", want)
        try:
            sel = ", ".join(f'"{c}"' for c in cols)
            diff = self.con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM got_rows EXCEPT ALL "
                f"SELECT {sel} FROM want_rows)) + (SELECT count(*) FROM (SELECT {sel} "
                f"FROM want_rows EXCEPT ALL SELECT {sel} FROM got_rows))"
            ).fetchone()[0]
        finally:
            self.con.unregister("got_rows")
            self.con.unregister("want_rows")
        if diff == 0:
            return None
        return _tolerant_mismatch(got.to_pandas(), want.to_pandas())


def _tolerant_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    got, want = _normalize(got), _normalize(want)
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ga, wa = g.astype(float).to_numpy(), w.astype(float).to_numpy()
            ok = np.isclose(ga, wa, rtol=1e-9, atol=0.0) | (np.isnan(ga) & np.isnan(wa))
        else:
            ok = g.fillna("\x00").to_numpy() == w.fillna("\x00").to_numpy()
        if not ok.all():
            return f"column {c} differs in {int((~ok).sum())} rows"
    return None


def _cell(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(v, (list, tuple, np.ndarray)):
        return str([_cell(x) for x in v])
    return str(v)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif not pd.api.types.is_float_dtype(s):
            df[c] = s.astype(object).map(_cell)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
