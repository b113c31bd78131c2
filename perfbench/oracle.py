"""Output check: each query's Spark result against its DuckDB oracle
over the same parquet files, with the strict rule of the catalog's
oracle gate (columns sorted, floats rounded to 6 decimals and then
compared for exact equality, rows sorted).

Tables may be single files (``name.parquet``) or directories of part
files (``name.parquet/part-*.parquet``, the derived sf1 layout).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def canon(pdf: pd.DataFrame, ndigits: int = 6) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64").round(ndigits)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want``, else the first difference."""
    if len(got) != len(want):
        return f"rowcount spark={len(got)} duckdb={len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns spark={sorted(got.columns)} duckdb={sorted(want.columns)}"
    g, w = canon(got), canon(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(w[c]):
            gv = g[c].to_numpy(dtype=float)
            wv = w[c].to_numpy(dtype=float)
            same = (gv == wv) | (np.isnan(gv) & np.isnan(wv))
            if not bool(np.all(same)):
                return f"column {c}: max abs diff {np.nanmax(np.abs(gv - wv))}"
        else:
            bad = int((g[c].astype(str).to_numpy() != w[c].astype(str).to_numpy()).sum())
            if bad:
                return f"column {c}: {bad} values differ"
    return None


def table_path(sf_dir: str, table: str) -> str:
    path = os.path.join(sf_dir, f"{table}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def _oracle_frames(sf_dir: str, tmp_dir: str, sqls: dict[str, str]) -> dict:
    """name -> DuckDB result frame, or the exception it raised."""
    import duckdb

    out: dict = {}
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        for name, sql in sqls.items():
            try:
                out[name] = con.sql(sql).df()
            except duckdb.Error as ex:
                out[name] = ex
    finally:
        con.close()
    return out


def first_line(ex: BaseException) -> str:
    return f"{type(ex).__name__}: {(str(ex).strip().splitlines() or [''])[0][:300]}"


def check(spark, queries: dict, oracles: dict, names, sf_dir: str,
          tmp_dir: str) -> dict[str, str]:
    """Run each named query once and check it; name -> "ok" or the failure.

    The DuckDB side runs in a second thread while Spark collects, since
    neither is timed. Queries without an oracle are rows-only: they pass
    when Spark counts at least one row (counted on the executors, not
    collected to the driver).
    """
    sqls = {n: oracles[n] for n in names if n in oracles}
    results: dict[str, str] = {}
    with ThreadPoolExecutor(max_workers=1) as pool:
        frames = pool.submit(_oracle_frames, sf_dir, tmp_dir, sqls)
        got: dict = {}
        for name in names:
            try:
                df = queries[name](spark, sf_dir)
                if name in sqls:
                    got[name] = df.toPandas()
                else:
                    n = df.count()
                    results[name] = "ok" if n > 0 else "rows-only query returned 0 rows"
            except Exception as ex:  # a failing query is reported, never dropped
                results[name] = f"error: {first_line(ex)}"
            finally:
                spark.catalog.clearCache()
        wants = frames.result()
    for name, frame in got.items():
        want = wants[name]
        if isinstance(want, BaseException):
            results[name] = f"oracle error: {first_line(want)}"
            continue
        try:
            diff = compare(frame, want)
        except (TypeError, ValueError) as ex:
            diff = f"cannot compare: {first_line(ex)}"
        results[name] = "ok" if diff is None else f"mismatch: {diff}"
    return {n: results[n] for n in names}
