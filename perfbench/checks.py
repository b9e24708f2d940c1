"""Output checks, run after the timed region.

Suite queries are compared with the registry's DuckDB oracle by the rule
of ``tests/test_oracle_parity.py``: columns sorted by name, rows sorted by
every value, integers and decimals normalised, doubles equal or within
1e-9. A query without an oracle must return at least one row.

The serving table must hold exactly one COMPLETED row per distinct
``transaction_id``, equal to a batch ``score_requests`` of the same
request files.
"""

from __future__ import annotations

import duckdb
import pandas as pd

SERVE_COLUMNS = [
    "transaction_id",
    "correlation_id",
    "f_value",
    "f_k",
    "f_hour",
    "score",
    "shap_f_value",
    "shap_f_k",
    "shap_f_hour",
    "prediction",
    "status",
]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: float(v) if hasattr(v, "as_tuple") else v)
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames agree, else the first difference found."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        same = (a[c].isna() & b[c].isna()) | (a[c] == b[c])
        if a[c].dtype == "float64" and b[c].dtype == "float64":
            same |= (a[c] - b[c]).abs().le(1e-9)
        if not same.all():
            row = int((~same).to_numpy().argmax())
            return f"column {c} row {row}: {a[c][row]!r} vs {b[c][row]!r}"
    return None


class Oracle:
    """DuckDB over the same parquet files the engine reads."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...], temp_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def check(self, query, df) -> str | None:
        """Compares the DataFrame the timed run built for ``query``."""
        if query.oracle is None:
            return None if df.count() > 0 else "no rows"
        return frames_match(df.toPandas(), self.con.execute(query.oracle).df())

    def close(self) -> None:
        self.con.close()


def serve_mismatches(results: pd.DataFrame | None, expected: pd.DataFrame) -> int:
    """Distinct transaction ids whose final row is missing, repeated, not
    COMPLETED or different from the batch scoring."""
    if results is None:
        return len(expected)
    counts = results["transaction_id"].value_counts()
    once = results[results["transaction_id"].map(counts) == 1]
    merged = expected[SERVE_COLUMNS].merge(
        once[SERVE_COLUMNS], on="transaction_id", how="left", suffixes=("", "_got")
    )
    ok = merged["status_got"].eq("COMPLETED")
    for c in SERVE_COLUMNS[1:]:
        ok &= merged[c].eq(merged[f"{c}_got"])
    return int((~ok).sum())
