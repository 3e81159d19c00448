"""Output checks, run after the timed region.

Catalog queries: the result of the last timed execution is fingerprinted
with tools/oracle_check.py's `frame_fingerprint` (columns sorted by name,
rows sorted by value, floats rounded to 9 significant digits) and compared
with DuckDB's result for the query's `SparkEntry.oracleSql` over the same
generated tables. Written files (the file pipeline's steps and catalog_mix's
filter of lineitem): each output's row count and schema are compared with
values DuckDB derives from the input; file_pipeline's read-back aggregate is
compared with DuckDB's over the same file.
"""
import os
import re
import sys

import duckdb
import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_check import TABLES, frame_fingerprint  # noqa: E402

BM_COLS = ["x", "y", "z", "c_order_xyz", "f_order_zyx", "depth"]
# a quoted path to one catalog table's file, as some oracles read file footers
TABLE_FILE = re.compile(r"'[^']*/(\w+\.parquet)'")


def catalog(data_dir, results_dir, checks):
    """{query: reason} for every query whose output does not match."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for c in checks:
        name = c["query"]
        if len(c["row_counts"]) != 1:
            bad[name] = f"row count changed between passes: {c['row_counts']}"
            continue
        if c["oracle_sql"] is None:
            bad[name] = "no oracle SQL"
            continue
        sql = TABLE_FILE.sub(lambda m: f"'{data_dir}/{m.group(1)}'", c["oracle_sql"])
        try:
            sc, sr = frame_fingerprint(pads.dataset(os.path.join(results_dir, name)).to_table())
            dc, dr = frame_fingerprint(con.execute(sql).arrow())
        except Exception as e:  # an unreadable result or a failing oracle fails the query
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        if sc != dc:
            bad[name] = f"columns {sc} vs oracle {dc}"
        elif len(sr) != len(dr):
            bad[name] = f"{len(sr)} rows vs oracle {len(dr)}"
        elif sr != dr:
            i = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            bad[name] = f"row {i}: {sr[i]} vs oracle {dr[i]}"
    return bad


def dir_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _glob(path):
    return path if os.path.isfile(path) else os.path.join(path, "*.parquet")


def _rows_cols(con, path):
    p = _glob(path)
    rows = con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{p}')").fetchall()]
    return rows, cols


def _filtered_rows(con, src, expr):
    # the filter expression's grammar is a subset of SQL's for and/or/compare
    return con.execute(f"SELECT count(*) FROM read_parquet('{_glob(src)}') "
                       f"WHERE {expr}").fetchone()[0]


def catalog_write(data_dir, out_dir, write):
    """{op: reason} if catalog_mix's ParqTools filter of lineitem is wrong."""
    con = duckdb.connect()
    try:
        want = (_filtered_rows(con, os.path.join(data_dir, "lineitem.parquet"), write["filter"]),
                write["columns"])
        got = _rows_cols(con, os.path.join(out_dir, "filter_lineitem.parquet"))
    except Exception as e:  # a missing or unreadable output fails the operation
        return {"filter_lineitem": f"{type(e).__name__}: {e}"}
    if got != want:
        return {"filter_lineitem": f"(rows, columns) {got} vs expected {want}"}
    return {}


def pipeline(in_dir, out_dir, results_dir, bm):
    """{step: reason} for every file-pipeline step whose output is wrong."""
    con = duckdb.connect()
    nx, ny, nz = bm["shape"]
    n = nx * ny * nz
    n_filter = _filtered_rows(con, os.path.join(in_dir, "bm.parquet"), bm["filter"])

    expect = {
        "filter": (n_filter, ["x", "y", "z", "depth"]),
        "concat_tall": (n, BM_COLS),
        "sort": (n, BM_COLS),
        "dedup": (nx * ny, BM_COLS),
        "rename": (nx * ny, ["easting", "northing", "rl"] + BM_COLS[3:]),
    }
    bad = {}
    for step, (rows, cols) in expect.items():
        try:
            got = _rows_cols(con, os.path.join(out_dir, f"{step}.parquet"))
        except Exception as e:  # a missing or unreadable output fails the step
            bad[step] = f"{type(e).__name__}: {e}"
            continue
        if got != (rows, cols):
            bad[step] = f"(rows, columns) {got} vs expected {(rows, cols)}"
    if "sort" not in bad:
        sort_dir = os.path.join(out_dir, "sort.parquet")
        order = np.concatenate([
            pq.read_table(os.path.join(sort_dir, f), columns=["f_order_zyx"]).column(0).to_numpy()
            for f in sorted(os.listdir(sort_dir)) if f.endswith(".parquet")])
        if (np.diff(order) < 0).any():
            bad["sort"] = "rows out of (z, y, x) order"
    if "rename" not in bad:
        meta = pq.ParquetFile(os.path.join(out_dir, "rename.parquet")).schema_arrow.metadata or {}
        if meta.get(b"source") != b"perfbench":
            bad["rename"] = f"table metadata {meta.get(b'source')!r} vs b'perfbench'"
    try:
        got = pads.dataset(os.path.join(results_dir, "readback")).to_table().to_pylist()
        n_rb, depth_sum = con.execute(
            "SELECT count(*), sum(depth) FROM read_parquet("
            f"'{_glob(os.path.join(out_dir, 'rename.parquet'))}')").fetchone()
        if len(got) != 1 or got[0]["n"] != n_rb or n_rb != nx * ny or not np.isclose(
                got[0]["depth_sum"], depth_sum, rtol=1e-9, atol=0.0):
            bad["readback"] = f"{got} vs expected n={n_rb}, depth_sum={depth_sum}"
    except Exception as e:  # a missing or unreadable result fails the step
        bad["readback"] = f"{type(e).__name__}: {e}"
    return bad
