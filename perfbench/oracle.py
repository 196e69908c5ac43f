"""Reference answers and output comparison.

``value_hash`` / ``normalize`` follow the rule of the repo's oracle gate
(``scripts/check_oracle.py``): lower-cased, sorted column names; each row
rendered with ``repr`` (NULL for missing); rows sorted; md5 of the lines.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd


class CheckFailed(AssertionError):
    """An operation's output disagrees with its oracle."""


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out.columns = [c.lower() for c in out.columns]
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].map(lambda v: float(v) if isinstance(v, (int, float)) else v)
    return out


def value_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = ["|".join("NULL" if pd.isna(v) else repr(v) for v in tup) for tup in df.itertuples(index=False)]
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def expect_frame(got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    """Row count, column set and order-insensitive value hash must match."""
    if len(got) != len(want):
        raise CheckFailed(f"{what}: {len(got)} rows, oracle has {len(want)}")
    g, w = normalize(got), normalize(want)
    if sorted(g.columns) != sorted(w.columns):
        raise CheckFailed(f"{what}: columns {sorted(g.columns)} vs {sorted(w.columns)}")
    if value_hash(g) != value_hash(w):
        raise CheckFailed(f"{what}: value hash differs from the oracle")


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def duck(tables_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in names:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def ols(y: np.ndarray, X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Intercept-free least squares: parameters and standard errors."""
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ beta
    dof = len(y) - X.shape[1]
    cov = (resid @ resid / dof) * np.linalg.inv(X.T @ X)
    return beta, np.sqrt(np.diag(cov))


def shingles(text: str, k: int = 3) -> set:
    w = text.split()
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def brute_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k row indices (inputs are unit-norm)."""
    sims = queries.astype(np.float64) @ corpus.astype(np.float64).T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]
