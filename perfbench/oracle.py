"""Output checks against DuckDB, run after the timed region.

Query rows: the row's oracle SQL runs over DuckDB views of the workload's
own input tables and must equal the op's output under the rules of
scripts/check.py: columns sorted by name, rows sorted by every column,
values compared exactly.

Replay batches: per-stratum row counts must be equal, and per-stratum sums
equal up to summation order (relative 1e-9), against SQL that learns the
same statistics from the fit table and applies them to the batch.
"""
import glob
import os

import duckdb
import pandas as pd


def _connect(data_dir, threads):
    con = duckdb.connect()
    con.sql(f"SET threads = {threads}")
    for f in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    return con


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _diff(spark_df, oracle_df):
    """None when equal, else a short reason."""
    s, o = _canon(spark_df), _canon(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} != {len(o)}"
    for c in s.columns:
        a, b = s[c], o[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = (a.astype(float).fillna(-9e99) - b.astype(float).fillna(-9e99)).abs() <= 0
        else:
            eq = a.astype(str).fillna("") == b.astype(str).fillna("")
        if not eq.all():
            i = eq.idxmin()
            return f"column {c}: {a[i]!r} != {b[i]!r}"
    return None


def check_queries(data_dir, check_dir, oracles, threads):
    """{op name: None | failure reason} for every op that has oracle SQL."""
    con = _connect(data_dir, threads)
    out = {}
    for name, sql in sorted(oracles.items()):
        try:
            out[name] = _diff(pd.read_parquet(f"{check_dir}/{name}"),
                              con.sql(sql).df())
        except Exception as e:  # a missing output or a failing oracle
            out[name] = f"{type(e).__name__}: {e}"
    return out


REPLAY_EXPECTED = """
WITH fit AS (
  SELECT l_returnflag, avg(l_quantity) AS mq,
    quantile_cont(l_extendedprice, 0.25) AS q1,
    quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem GROUP BY 1),
b AS (SELECT *, l_returnflag || '-' || l_linestatus || '-' || l_linenumber
        AS k FROM '{batch}')
SELECT b.l_returnflag, count(*) AS n,
  sum(coalesce(l_quantity, mq)) AS qty,
  sum(CASE WHEN l_extendedprice IS NOT NULL THEN least(greatest(
    l_extendedprice, q1 - 1.5 * (q3 - q1)), q3 + 1.5 * (q3 - q1)) END)
    AS price,
  count(l_extendedprice) AS n_price,
  sum((b.l_returnflag = 'A')::INT) AS flag_a,
  sum((b.l_returnflag = 'N')::INT) AS flag_n,
  sum((b.l_returnflag = 'R')::INT) AS flag_r,
  sum(length(upper(k))) AS key_len,
  sum(length(replace(k, '-', ''))) AS key_flat_len,
  count(DISTINCT substr(k, 1, 3)) AS key_heads,
  sum(year(l_shipdate)) AS ship_year,
  sum(month(l_shipdate)) AS ship_month,
  sum(quarter(l_shipdate)) AS ship_qtr,
  sum(isodow(l_shipdate) - 1) AS ship_dow,
  count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS ship_yms
FROM b JOIN fit USING (l_returnflag) GROUP BY 1 ORDER BY 1"""

REPLAY_ACTUAL = """
SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty,
  sum(l_extendedprice) AS price, count(l_extendedprice) AS n_price,
  sum(flag_A) AS flag_a, sum(flag_N) AS flag_n, sum(flag_R) AS flag_r,
  sum(length(key_up)) AS key_len, sum(length(key_flat)) AS key_flat_len,
  count(DISTINCT key_head) AS key_heads,
  sum(ship_year) AS ship_year, sum(ship_month) AS ship_month,
  sum(ship_qtr) AS ship_qtr, sum(ship_dow) AS ship_dow,
  count(DISTINCT ship_ym) AS ship_yms
FROM '{out}/*.parquet' GROUP BY 1 ORDER BY 1"""


def check_replay(data_dir, batches, out_dirs, threads):
    """{batch output: None | failure reason}."""
    con = _connect(data_dir, threads)
    res = {}
    for batch, out in zip(batches, out_dirs):
        try:
            e = con.sql(REPLAY_EXPECTED.format(batch=batch)).df()
            a = con.sql(REPLAY_ACTUAL.format(out=out)).df()
            res[out] = None
            if list(e.columns) != list(a.columns) or len(e) != len(a):
                res[out] = f"shape {a.shape} != {e.shape}"
                continue
            for c in e.columns:
                x, y = a[c], e[c]
                if x.dtype.kind == "f" or y.dtype.kind == "f":
                    ok = ((x.astype(float) - y.astype(float)).abs()
                          <= 1e-9 * y.astype(float).abs().clip(lower=1)).all()
                else:
                    ok = (x.astype(str) == y.astype(str)).all()
                if not ok:
                    res[out] = f"column {c}: {list(x)} != {list(y)}"
                    break
        except Exception as ex:
            res[out] = f"{type(ex).__name__}: {ex}"
    return res
