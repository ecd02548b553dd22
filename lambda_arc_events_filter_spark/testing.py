"""Cross-engine comparison helpers (Spark result vs DuckDB oracle).

Mirrors the driver's correctness gate: row count + sorted column names +
order-insensitive multiset of canonicalized row values.  The strict path
(`check_query`, used by tools/check.py and the parity tests) compares the
PANDAS frames both engines hand the driver — dtype kinds and exact value
reprs — because the driver hashes pandas values, where type drift that is
invisible to Python `==` (DuckDB HUGEINT→float64 vs Spark BIGINT→int64,
ceil()→DOUBLE vs →BIGINT, -0.0 vs 0.0) changes the hash.  Round-1
lesson: three driver-red queries were all this class of drift.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import numpy as np
import pandas as pd

from lambda_arc_events_filter_spark.catalog import TABLES, table_path


def canon(v):
    """Canonicalize a value for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def rowset(cols: list[str], rows: list[tuple]) -> dict[tuple, int]:
    """Multiset of rows with columns re-ordered by sorted column name."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out: dict[tuple, int] = {}
    for r in rows:
        key = tuple(canon(r[i]) for i in idx)
        out[key] = out.get(key, 0) + 1
    return out


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the ten fixture views registered, as the
    driver registers them."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _column_kind(col: pd.Series) -> str:
    """Comparison kind for a column: numpy dtype kind with unsigned folded
    into signed int, and object columns holding date/datetime values folded
    into 'M' (Spark DATE → object-of-date vs DuckDB DATE → datetime64 is
    benign drift — the driver's gate passes date queries)."""
    k = col.dtype.kind
    if k == "u":
        return "i"
    if k == "O":
        nn = col.dropna()
        if len(nn) and isinstance(nn.iloc[0], (dt.date, dt.datetime, pd.Timestamp)):
            return "M"
    return k


def strict_cell(v) -> str:
    """Canonicalize a pandas cell to a typed string.

    Two cells are driver-hash-equal only if these strings are equal: ints
    and floats get distinct prefixes (int64 6 != float64 6.0), floats use
    full repr (so -0.0 != 0.0 and any ulp drift is visible), containers
    recurse.
    """
    if v is None:
        return "<null>"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "<null>" if math.isnan(f) else f"f:{f!r}"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return "<null>"
        return "t:" + v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, dt.datetime):
        return "t:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        # Normalize date → midnight timestamp: Spark DATE lands in pandas
        # as object-of-date while DuckDB DATE lands as datetime64; the
        # driver's r01 gate passed date queries, so this drift is benign.
        return "t:" + dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, np.ndarray):
        return "a:[" + ",".join(strict_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "a:[" + ",".join(strict_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "m:{"
            + ",".join(f"{k}={strict_cell(x)}" for k, x in sorted(v.items()))
            + "}"
        )
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass
    return f"s:{v}"


def compare_pandas_strict(spdf: pd.DataFrame, dpdf: pd.DataFrame) -> list[str]:
    """Driver-strength comparison of the two engines' pandas frames.

    Checks sorted column names, row count, per-column dtype *kind* (int vs
    float vs object vs datetime — the drift the driver's value-hash sees),
    then the order-insensitive multiset of strict_cell rows.
    """
    problems: list[str] = []
    scols, dcols = sorted(spdf.columns), sorted(dpdf.columns)
    if scols != dcols:
        return [f"cols spark={scols} duck={dcols}"]
    if len(spdf) != len(dpdf):
        problems.append(f"rowcount spark={len(spdf)} duck={len(dpdf)}")
    for c in scols:
        sk, dk = _column_kind(spdf[c]), _column_kind(dpdf[c])
        if sk != dk:
            problems.append(
                f"dtype[{c}] spark={spdf[c].dtype}({sk}) duck={dpdf[c].dtype}({dk})"
            )
        # The driver's canonicalizer sort_values-crashes on list cells
        # (r01: agg_collect_set err `unhashable type: 'list'`) — flag any
        # container-valued output column even though we could compare it.
        for df, eng in ((spdf, "spark"), (dpdf, "duck")):
            col = df[c].dropna()
            if len(col) and isinstance(
                col.iloc[0], (list, tuple, np.ndarray, dict)
            ):
                problems.append(
                    f"container[{c}] ({eng}): driver canonicalizer cannot "
                    "hash list/map cells — emit a joined string instead"
                )
    if problems:
        return problems

    def multiset(df: pd.DataFrame) -> dict[tuple, int]:
        out: dict[tuple, int] = {}
        for row in df[scols].itertuples(index=False, name=None):
            key = tuple(strict_cell(v) for v in row)
            out[key] = out.get(key, 0) + 1
        return out

    sset, dset = multiset(spdf), multiset(dpdf)
    if sset != dset:
        only_s = [k for k in sset if sset[k] != dset.get(k, 0)][:3]
        only_d = [k for k in dset if dset[k] != sset.get(k, 0)][:3]
        problems.append(f"values; spark-only={only_s} duck-only={only_d}")
    return problems


def check_query(spec, spark, con, sf_dir: str) -> list[str]:
    """Run one QuerySpec on both engines; return mismatch list (empty=pass).

    Compares via pandas frames exactly as the driver does (strict dtypes +
    value reprs).  For oracle-less specs, just runs the Spark side (errors
    propagate) and returns [].
    """
    import os

    sdf = spec.fn(spark, sf_dir)
    if os.environ.get("SPARK_GRAFT_CHECK_REUSE") == "1":
        # Exercise the registry's prepared-plan REUSE path: the first
        # call above populated the plan cache at build time; this second
        # call goes through the cached optimized plan, and it is the
        # REUSED execution whose values get oracle-checked.  A normal
        # sweep only ever proves the first (build) execution.
        sdf = spec.fn(spark, sf_dir)
    spdf = sdf.toPandas()
    if spec.oracle is None:
        return []
    dpdf = con.sql(spec.oracle).df()
    return compare_pandas_strict(spdf, dpdf)
