"""Local replica of the driver's correctness harness: run a Spark plan and
its DuckDB oracle on the same parquet tables, sort columns by name and rows
by value, and compare."""

from __future__ import annotations

import math
import os

import glob

import duckdb
import pandas as pd


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    """Register every parquet file under sf_dir as a view named after the
    file, then run the oracle SQL (mirrors the driver's harness)."""
    con = duckdb.connect()
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        t = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con.execute(sql).fetchdf()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def assert_matches(spark_df, oracle_sql: str, sf_dir: str, float_tol: float = 0.0):
    got = canonicalize(spark_df.toPandas())
    want = canonicalize(run_oracle(oracle_sql, sf_dir))
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            for i, (a, b) in enumerate(zip(g, w)):
                na, nb = pd.isna(a), pd.isna(b)
                assert na == nb, f"{c}[{i}]: nullity {a} vs {b}"
                if not na:
                    ok = (
                        a == b
                        if float_tol == 0.0
                        else math.isclose(a, b, rel_tol=float_tol, abs_tol=float_tol)
                    )
                    assert ok, f"{c}[{i}]: {a!r} != {b!r}"
        else:
            mismatch = (g.astype(str) != w.astype(str))
            assert not mismatch.any(), (
                f"{c}: first mismatch at {mismatch.idxmax()}: "
                f"{g[mismatch].head(3).tolist()} vs {w[mismatch].head(3).tolist()}"
            )


# (query, sf_dir, sidecar dir, bucket dir) -> None when the query matched
# its oracle, else the failure's message.
_OUTCOMES: dict[tuple, str | None] = {}


def assert_registered_matches(spark, name: str, sf_dir: str) -> None:
    """Compare registered query ``name`` with its DuckDB oracle at
    ``sf_dir``, once per test session for each sidecar and bucket
    catalog: a later call on the same query, data and catalog reports
    the first call's outcome instead of running the compare again. So
    test_relational_oracle and a family test that names the same query
    share one check."""
    from trialstreamer_spark.plans.all_queries import ORACLES, QUERIES

    key = (
        name,
        sf_dir,
        os.environ.get("SPARK_GRAFT_SIDECAR_DIR"),
        os.environ.get("SPARK_GRAFT_BUCKET_DIR"),
    )
    if key not in _OUTCOMES:
        assert name in ORACLES, f"{name} not registered with an oracle"
        try:
            assert_matches(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)
        except Exception as exc:
            _OUTCOMES[key] = f"{type(exc).__name__}: {exc}"
            raise
        _OUTCOMES[key] = None
    assert _OUTCOMES[key] is None, f"{name} differs from its oracle: {_OUTCOMES[key]}"
