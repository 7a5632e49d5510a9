"""Expected values from DuckDB, computed from the generated parquet during
set-up, outside the timed region."""

from __future__ import annotations

from typing import Dict, List, Sequence

import duckdb


def _src(paths: Sequence[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{p}'" for p in paths) + "])"


def lineitem_metrics(con: duckdb.DuckDBPyConnection,
                     paths: Sequence[str]) -> Dict[str, float]:
    """Exact values of every metric the incremental check computes, over
    the union of ``paths``."""
    src = _src(paths)
    row = con.execute(f"""
        SELECT count(*), count(l_orderkey), count(l_suppkey),
               count(l_linenumber),
               min(l_quantity), max(l_quantity), avg(l_extendedprice),
               stddev_pop(l_extendedprice),
               count(*) FILTER (WHERE l_discount BETWEEN 0.0 AND 0.1),
               min(l_discount), max(l_tax),
               count(*) FILTER (WHERE l_tax >= 0),
               count(*) FILTER (WHERE l_linestatus IN ('O', 'F')),
               count(DISTINCT l_orderkey),
               quantile_disc(l_quantity, 0.47), quantile_disc(l_quantity, 0.53)
        FROM {src}""").fetchone()
    n = row[0]
    out = {
        "n": n, "nn_orderkey": row[1], "nn_suppkey": row[2],
        "nn_linenumber": row[3], "min_qty": row[4], "max_qty": row[5],
        "mean_price": row[6], "std_price": row[7], "disc_ok": row[8],
        "min_disc": row[9], "max_tax": row[10], "tax_ok": row[11],
        "status_ok": row[12], "distinct_orderkey": row[13],
        "q50_lo": row[14], "q50_hi": row[15],
    }
    out["unique_keys"] = con.execute(f"""
        SELECT count(*) FROM (SELECT 1 FROM {src}
        WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        GROUP BY l_orderkey, l_linenumber HAVING count(*) = 1)""").fetchone()[0]
    out["distinct_partkey"] = con.execute(
        f"SELECT count(DISTINCT l_partkey) FROM {src}").fetchone()[0]
    flags = con.execute(f"""
        SELECT l_returnflag, count(*) FROM {src}
        GROUP BY l_returnflag ORDER BY 1""").fetchall()
    out["returnflag_counts"] = {k: c for k, c in flags}
    out["entropy_flag"] = con.execute(f"""
        SELECT -sum(c / t * ln(c / t)) FROM (
            SELECT count(*) AS c, sum(count(*)) OVER () AS t
            FROM {src} GROUP BY l_returnflag)""").fetchone()[0]
    return out


def profile_metrics(con: duckdb.DuckDBPyConnection, path: str,
                    train_keys: str, columns: List[str],
                    numeric: List[str]) -> Dict[str, Dict[str, float]]:
    """Completeness of every column and min, max and mean of the numeric
    ones (string columns holding numbers cast to DOUBLE), over the rows
    whose ``o_orderkey`` is in ``train_keys``."""
    src = (f"(SELECT t.* FROM read_parquet('{path}') t "
           f"SEMI JOIN read_parquet('{train_keys}') k USING (o_orderkey))")
    out: Dict[str, Dict[str, float]] = {}
    n = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
    out["*"] = {"n": n}
    for c in columns:
        sel = [f"count({c})"]
        if c in numeric:
            sel += [f"min(CAST({c} AS DOUBLE))", f"max(CAST({c} AS DOUBLE))",
                    f"avg(CAST({c} AS DOUBLE))"]
        row = con.execute(f"SELECT {', '.join(sel)} FROM {src}").fetchone()
        out[c] = {"completeness": row[0] / n}
        if c in numeric:
            out[c].update(minimum=row[1], maximum=row[2], mean=row[3])
    return out
