"""Reference check: the program's own DuckDB oracle SQL, re-pointed at the
generated files, compared row by row with a runner's result.

The registry's oracle for each streaming query reads a derived
``token_sequences`` CTE; here that CTE is replaced by a scan of the
generated parquet files with the flush sentinels excluded and
at-least-once duplicates collapsed, so the reference is the clean batch
answer the streaming run must reproduce.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from movement_spark.queries import oracle_sql
from movement_spark.sources.tokens import TOKEN_SEQ_DUCKDB_CTE
from movement_spark.streaming.pipeline import SENTINEL


def reference(query: str, files: list[str]) -> pd.DataFrame:
    """Run the registered oracle of ``query`` over ``files``."""
    sql = oracle_sql()[query]
    if TOKEN_SEQ_DUCKDB_CTE not in sql:
        raise ValueError(f"oracle of {query} does not read token_sequences")
    cte = (
        "token_sequences AS (SELECT DISTINCT doc_id, seq, tokens, n_tok, "
        f"source, ts FROM read_parquet({sorted(files)!r}) "
        f"WHERE source <> '{SENTINEL}')")
    con = duckdb.connect()
    try:
        con.execute("SET memory_limit='1GB'")
        return con.execute(sql.replace(TOKEN_SEQ_DUCKDB_CTE, cte)).df()
    finally:
        con.close()


def compare(actual: pd.DataFrame, expected: pd.DataFrame,
            keys: list[str]) -> dict:
    """Exact comparison keyed by ``keys``: rows missing from ``actual``,
    extra rows in it (unknown or repeated keys), and rows whose values
    differ. ``error_rate`` is their sum over the expected row count."""
    cols = list(expected.columns)
    missing_cols = [c for c in cols if c not in actual.columns]
    if missing_cols:
        raise ValueError(f"result lacks columns {missing_cols}")
    act = _normalise(actual[cols])
    exp = _normalise(expected[cols])
    repeated = len(act) - len(act.drop_duplicates(keys))
    act = act.drop_duplicates(keys)
    m = exp.merge(act, on=keys, how="outer", suffixes=("_e", "_a"),
                  indicator=True)
    both = m[m["_merge"] == "both"]
    vals = [c for c in cols if c not in keys]
    differing = 0
    if vals and len(both):
        diff = pd.Series(False, index=both.index)
        for c in vals:
            diff |= both[f"{c}_e"] != both[f"{c}_a"]
        differing = int(diff.sum())
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum()) + repeated
    return {
        "expected": len(exp), "missing": missing, "extra": extra,
        "differing": differing,
        "error_rate": (missing + extra + differing) / max(len(exp), 1),
    }


def _normalise(df: pd.DataFrame) -> pd.DataFrame:
    """Numeric columns as int64 (every compared column is integral; a
    NULL becomes a value no real row has) and strings as str, so the
    engines' dtype choices (int32 vs int64, nullable vs not) do not read
    as errors."""
    out = df.copy()
    for c in out.columns:
        if pd.api.types.is_numeric_dtype(out[c]):
            out[c] = out[c].astype("float64").fillna(-2.0**62) \
                .astype("int64")
        else:
            out[c] = out[c].astype(str)
    return out.reset_index(drop=True)
