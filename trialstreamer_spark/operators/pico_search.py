"""Per-field PICO span embedding + ANN search (reference
trialstreamer/PICO_BERT.py + PICO_search.py).

The reference stores per-span 768-d SciBERT vectors in ``p_v/i_v/o_v``
float[] columns and builds one Annoy index per field, with an
``int → pmid`` sidecar because an article contributes one vector per
span (PICO_search.py:18-24). The Spark shape makes that explicit:

    span_vectors(pmid, field, span, vector)

— one row per (article, field, span), produced by exploding the span
arrays and batch-embedding through the pluggable Annotator. Search is
the similarity-operator family applied per field: exact brute-force
top-k (the rerank kernel) with best-per-article dedupe replacing the
int_to_pmid sidecar. At 100 TB, partition span_vectors by field (3
partitions prune 2/3 of the scan) and bucket by the sign-LSH key for
the candidate path (operators/similarity.sign_lsh_bucket).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trialstreamer_spark.functions.annotate import DeterministicStubAnnotator
from trialstreamer_spark.schemas import PICO_FIELDS


def explode_pico_spans(annotations: DataFrame) -> DataFrame:
    """annotations → (pmid, field, span): one row per text span in each
    of the three PICO array columns (PICO_BERT's per-span unit)."""
    legs = [
        annotations.select(
            "pmid",
            F.lit(field).alias("field"),
            F.explode(F.col(field)).alias("span"),
        )
        for field in PICO_FIELDS
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def embed_pico_spans(annotations: DataFrame, annotator=None) -> DataFrame:
    """(pmid, field, span, vector) via Arrow-batched encoding — the
    pubmed_pico p_v/i_v/o_v build (PICO_BERT.py:112-143), keyed not
    positional."""
    annotator = annotator or DeterministicStubAnnotator()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(
                    {
                        "pmid": pdf["pmid"],
                        "field": pdf["field"],
                        "span": pdf["span"],
                        "vector": annotator.embed(pdf["span"], pdf["span"]),
                    }
                )

    return explode_pico_spans(annotations).mapInPandas(
        run,
        schema="pmid string, field string, span string, vector array<float>",
    )


def pico_ann_search(
    span_vectors: DataFrame,
    query_vector: list[float],
    field: str,
    k: int = 10,
) -> DataFrame:
    """Top-k articles for a query vector in one PICO field
    (PICO_search.py:70-81 get_nns_by_vector + int_to_pmid mapping).
    Exact cosine over the field's spans; an article's score is its BEST
    span (keep-best dedupe = the sidecar collapse); deterministic
    tiebreak on pmid."""
    import numpy as np

    from trialstreamer_spark.operators.similarity import (
        fp_dot_vec,
        scores_vs_query_udf,
    )

    qv = np.asarray(query_vector, dtype=np.float64)
    qnsq = fp_dot_vec(qv, qv)
    s = scores_vs_query_udf(qv)
    scored = (
        span_vectors.filter(F.col("field") == field)
        .select("pmid", "span", s(F.col("vector")).alias("s"))
        .select(
            "pmid",
            "span",
            (
                F.col("s.dot")
                / F.sqrt(F.col("s.nsq").cast("double") * F.lit(float(qnsq)))
            ).alias("cosine"),
        )
    )
    best = Window.partitionBy("pmid").orderBy(
        F.col("cosine").desc(), F.col("span")
    )
    return (
        scored.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy(F.col("cosine").desc(), F.col("pmid"))
        .limit(k)
    )
