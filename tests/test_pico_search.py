"""Per-field PICO span embedding + ANN search (ref PICO_BERT.py /
PICO_search.py parity)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from trialstreamer_spark.functions.annotate import DeterministicStubAnnotator
from trialstreamer_spark.operators import pico_search


@pytest.fixture(scope="module")
def ann(spark, fixture_dir):
    return spark.read.parquet(
        os.path.join(fixture_dir, "pubmed_annotations.parquet")
    )


def test_explode_counts_match_arrays(spark, ann):
    got = (
        pico_search.explode_pico_spans(ann)
        .groupBy("field")
        .count()
        .collect()
    )
    got = {r.field: r["count"] for r in got}
    want = ann.select(
        F.sum(F.size("population")).alias("population"),
        F.sum(F.size("interventions")).alias("interventions"),
        F.sum(F.size("outcomes")).alias("outcomes"),
    ).collect()[0]
    assert got == {f: want[f] for f in got}


def test_embed_and_self_search(spark, ann):
    vecs = pico_search.embed_pico_spans(ann.limit(40)).cache()
    row = vecs.filter(F.col("field") == "population").first()
    # querying with an existing span's own vector must return its pmid
    # at rank 1 with cosine == 1.0 (stub encoder is deterministic per
    # span text)
    out = pico_search.pico_ann_search(
        vecs, [float(x) for x in row.vector], "population", k=5
    ).collect()
    assert out[0].cosine == pytest.approx(1.0, abs=1e-6)
    top_spans = {r.span for r in out if r.cosine >= out[0].cosine - 1e-9}
    assert row.span in top_spans
    # one row per pmid (best-span dedupe)
    pmids = [r.pmid for r in out]
    assert len(pmids) == len(set(pmids)) <= 5
    vecs.unpersist()


def test_field_isolation(spark, ann):
    vecs = pico_search.embed_pico_spans(ann.limit(40))
    q = vecs.filter(F.col("field") == "outcomes").first()
    out = pico_search.pico_ann_search(
        vecs, [float(x) for x in q.vector], "interventions", k=3
    ).collect()
    # searching interventions never returns outcome-only matches at 1.0
    # unless the same span text occurs in both fields
    inter_spans = {
        r.span
        for r in vecs.filter(F.col("field") == "interventions")
        .select("span")
        .collect()
    }
    for r in out:
        assert r.span in inter_spans
