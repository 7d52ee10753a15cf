"""Round-8 contracts: the new integrity/statistics queries and the
prefix-filtered similarity join.

- corpus_checksum_by_source is the cross-engine migration audit: its
  value must be independent of partitioning and row order (commutative
  modular sum), and any single-row mutation must move it;
- jaccard_prefix_filter_pairs must reproduce the EXACT threshold-join
  semantics (the prefix filter is lossless for J >= t by the Bayardo/
  PPJoin prefix guarantee) — checked against the declarative oracle and
  against a brute-force pair set on a crafted corpus with a hot
  boilerplate shingle (the case where the full self-join explodes and
  prefixes must still not lose a qualifying pair);
- token_gini_by_source / daily_autocovariance are exact-integer
  emissions over the curation/census sidecars.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from tests.conftest import write_documents
from tests.oracle_util import assert_registered_matches
from trialstreamer_spark.io import load
from trialstreamer_spark.operators import quality
from trialstreamer_spark.plans.all_queries import QUERIES


@pytest.mark.parametrize(
    "name",
    [
        "corpus_checksum_by_source",
        "jaccard_prefix_filter_pairs",
        "token_gini_by_source",
        "daily_autocovariance",
        "containment_pairs_capped",
        "weekly_value_quantile_drift",
        "mips_topk",
    ],
)
def test_round8_queries_match_oracle(spark, sf_dir, name):
    assert_registered_matches(spark, name, sf_dir)


def test_checksum_is_partition_and_order_independent(spark, sf_dir):
    """The checksum must not depend on how the table is laid out —
    that's the property that makes it comparable across engines and
    cluster shapes."""
    d = load(spark, sf_dir, "documents")
    h = F.md5(F.concat_ws("\x1f", "doc_id", "lang", "text"))
    v = F.conv(F.substring(h, 1, 12), 16, 10).cast("decimal(38,0)")

    def checksum(df):
        row = (
            df.select("source", v.alias("v"))
            .groupBy("source")
            .agg(
                F.expr(
                    f"CAST(SUM(v) % {quality.CHECKSUM_MODULUS} AS BIGINT)"
                ).alias("c")
            )
            .collect()
        )
        return {r["source"]: r["c"] for r in row}

    base = checksum(d)
    assert checksum(d.repartition(7)) == base
    assert checksum(d.orderBy(F.col("text").desc())) == base
    # a single-row mutation moves the affected source's checksum
    mutated = d.withColumn(
        "text",
        F.when(F.col("doc_id") == d.select(F.min("doc_id")).collect()[0][0],
               F.concat(F.col("text"), F.lit("!"))).otherwise(F.col("text")),
    )
    changed = checksum(mutated)
    assert changed != base
    assert sum(1 for s in base if changed.get(s) != base[s]) == 1


def _brute_force_pairs(docs: dict[int, str], t_num=1, t_den=2):
    def shingles(text):
        toks = [w for w in text.split() if w]
        if len(toks) >= 3:
            return set(
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            )
        return {" ".join(toks)}

    sets = {k: shingles(v) for k, v in docs.items()}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        c = len(sets[a] & sets[b])
        if c and t_den * c >= t_num * (len(sets[a]) + len(sets[b]) - c):
            out[(a, b)] = c
    return out


def test_prefix_filter_is_lossless_with_hot_boilerplate(spark, tmp_path):
    """Craft a corpus where one boilerplate sentence is shared by EVERY
    doc (the hot-shingle case: prefix filtering must push it out of all
    prefixes and still keep every qualifying pair)."""
    boiler = "terms of use apply to this document"
    bodies = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",   # near-dup of 0
        "one two three four five six seven",
        "one two three four five six eight",    # near-dup of 2
        "unrelated words entirely different here now",
    ]
    docs = {i: f"{b} {boiler}" for i, b in enumerate(bodies)}
    sf_dir = str(tmp_path)
    write_documents(sf_dir, list(docs.items()), source="srcA")

    got = {
        (r["doc_a"], r["doc_b"]): r["n_common"]
        for r in QUERIES["jaccard_prefix_filter_pairs"](spark, sf_dir).collect()
    }
    want = _brute_force_pairs(docs)
    assert got == want
    assert want, "fixture must actually produce qualifying pairs"


def test_prefix_filter_matches_brute_force_on_random_corpora(spark, tmp_path):
    """Seeded random corpora with planted near-dups at varying overlap
    levels around the t=0.5 boundary — the count-bound must keep every
    J >= 0.5 pair and the verify must reject everything below."""
    import random

    rng = random.Random(8)
    vocab = [f"w{i}" for i in range(60)]
    docs: dict[int, str] = {}
    did = 0
    for _ in range(12):
        base = [rng.choice(vocab) for _ in range(rng.randint(3, 18))]
        docs[did] = " ".join(base)
        did += 1
        # planted variant: mutate a random fraction of tokens
        if rng.random() < 0.7:
            var = list(base)
            for _ in range(rng.randint(0, max(1, len(base) // 2))):
                var[rng.randrange(len(var))] = rng.choice(vocab)
            docs[did] = " ".join(var)
            did += 1
    sf_dir = str(tmp_path)
    write_documents(sf_dir, list(docs.items()), source="srcA")

    got = {
        (r["doc_a"], r["doc_b"]): r["n_common"]
        for r in QUERIES["jaccard_prefix_filter_pairs"](spark, sf_dir).collect()
    }
    assert got == _brute_force_pairs(docs)
