"""Explicit coverage for the small operators PARITY.md otherwise marks
trivial: CSV export sink (S19), JSON key-exists predicate (F5), LIKE
filter (F10)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from trialstreamer_spark.io import export_csv, load


def test_export_csv_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "csv_out")
    df = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    export_csv(df.coalesce(1), out)
    files = glob.glob(os.path.join(out, "*.csv"))
    assert len(files) == 1
    back = spark.read.option("header", True).csv(out)
    assert back.count() == df.count()
    assert set(back.columns) == {"n_nationkey", "n_name"}


def test_mesh_key_exists_predicate(spark, fixture_dir):
    """F5: (pm_data->'mesh' ? 'Humans') → array_contains on the typed
    struct column."""
    pm = spark.read.parquet(os.path.join(fixture_dir, "pubmed.parquet"))
    withh = pm.filter(F.array_contains(F.col("pm_data.mesh"), "Humans"))
    # equivalent to an exists() scan — same rows
    alt = pm.filter(F.exists(F.col("pm_data.mesh"), lambda m: m == "Humans"))
    a = {r.pmid for r in withh.select("pmid").collect()}
    b = {r.pmid for r in alt.select("pmid").collect()}
    assert a == b and 0 < len(a) < pm.count()


def test_like_filter(spark, sf_dir):
    """F10: lower(ti) LIKE '%term%' → contains on lowered column; must
    match rlike with the literal regex-escaped."""
    d = load(spark, sf_dir, "documents")
    via_contains = d.filter(F.lower(F.col("text")).contains("the")).count()
    via_like = d.filter(F.lower(F.col("text")).like("%the%")).count()
    assert via_contains == via_like > 0
