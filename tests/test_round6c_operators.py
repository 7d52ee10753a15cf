"""Round-6c contracts: the candidate-pair sidecar and the new plans.

- the MinHash candidate-pair table (stage 2.5 of the dedup pipeline) is
  a disk-backed per-corpus-version sidecar: built once, every pair
  consumer reads the persisted table with NO re-banding, and a fresh
  session answers from committed parquet with the banding path
  booby-trapped;
- ship_latency_by_nation rides the orderkey bucket layout with an
  exchange-free fact join (the test_bucketing discipline);
- split_leakage_audit never touches document text — it is an
  expression over the cc_labels sidecar alone.
"""

from __future__ import annotations

import os

import pytest

from trialstreamer_spark import sidecars
from trialstreamer_spark.plans.all_queries import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def sidecar_dir(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", str(tmp_path))
    yield str(tmp_path)


def test_pair_consumers_skip_rebanding(spark, sidecar_dir):
    """After the first pair consumer runs, the candidate-pair table is
    committed to the disk catalog and later consumers' plans read the
    persisted relation — no Generate (shingle explode) and no md5
    banding anywhere in the query-time plan."""
    QUERIES["triangle_count_dup_graph"](spark, SF).collect()
    assert os.path.exists(
        os.path.join(
            sidecars.sidecar_path(SF, "minhash_pairs_doc_id_text"),
            "_current",
        )
    )
    df = QUERIES["dup_graph_degree_histogram"](spark, SF)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    assert "Generate" not in plan, plan
    assert "md5" not in plan, plan


def test_pair_sidecar_survives_restart(spark, sidecar_dir, monkeypatch):
    """Fresh session + cold caches: the pair table answers from
    committed parquet; the banding path is booby-trapped so any
    recompute fails loudly."""
    from trialstreamer_spark import util
    from trialstreamer_spark.operators import dedup

    first = QUERIES["triangle_count_dup_graph"](spark, SF).collect()

    s2 = spark.newSession()
    util.evict_caches(SF)
    assert not [
        k for k in util._PLAN_CACHE
        if "minhash_pairs_doc_id_text" in k and SF in str(k)
    ]

    def boom(*a, **k):
        raise AssertionError("re-banding: banded_keys ran after restart")

    monkeypatch.setattr(dedup, "banded_keys", boom)
    second = QUERIES["triangle_count_dup_graph"](s2, SF).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_split_leakage_never_reads_text(spark, sidecar_dir):
    """The leakage audit is hash arithmetic over cc_labels — document
    text must not appear in any scan the query plan performs."""
    df = QUERIES["split_leakage_audit"](spark, SF)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "text:string" not in plan, plan


class TestShipLatencyLayout:
    @pytest.fixture()
    def bucketed_sf(self, spark, monkeypatch, tmp_path):
        from trialstreamer_spark import io

        monkeypatch.setenv("SPARK_GRAFT_BUCKET_DIR", str(tmp_path))
        io.prepare_buckets(spark, SF)
        yield SF
        for variant in io.BUCKET_SPECS:
            spark.sql(
                f"DROP TABLE IF EXISTS {io._bucket_table_name(SF, variant)}"
            )

    def test_ship_latency_colocated(self, spark, bucketed_sf):
        """The lineitem ⋈ orders join rides the orderkey buckets: both
        sides expose HashPartitioning(orderkey, 16) (at fixture scale
        the orders side may auto-broadcast instead, which avoids the
        shuffle just as well), so the ONLY hash exchange in the whole
        plan is the |nations| rollup."""
        df = QUERIES["ship_latency_by_nation"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_order_lines_histogram_aggregates_without_exchange(
        self, spark, bucketed_sf
    ):
        """groupBy on the bucket key: the corpus-sized per-order count
        inherits HashPartitioning(l_orderkey, 16) from the layout, so
        the only hash exchange is the ≤7-row histogram rollup."""
        df = QUERIES["order_lines_histogram"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_version_bump_evicts_bucket_and_pair_caches(spark, monkeypatch, tmp_path):
    """The two round-6c in-memory layers — the persisted bucket
    projections and the candidate-pair table — are registered with the
    cache lifecycle: a corpus version bump drops and unpersists both
    (the test_cache_lifecycle contract extended to the new caches)."""
    from trialstreamer_spark import io, util
    from trialstreamer_spark.operators import dedup

    monkeypatch.setenv("SPARK_GRAFT_BUCKET_DIR", str(tmp_path / "bkt"))
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", str(tmp_path / "sc"))
    io.prepare_buckets(spark, SF, variants=("orders_by_orderkey",))

    def entries(tag):
        return [k for k in util._PLAN_CACHE if tag in k and SF in str(k)]

    assert io.bucketed_table(spark, SF, "orders_by_orderkey") is not None
    pairs = dedup.minhash_candidates(spark, SF)
    assert entries("minhash_pairs_doc_id_text")

    util.evict_caches(SF)
    # the layout is no longer served: queries fall back to the parquet
    # scan until prepare_buckets runs again
    assert io.bucketed_table(spark, SF, "orders_by_orderkey") is None
    assert not entries("minhash_pairs_doc_id_text")
    assert not pairs.storageLevel.useMemory
    spark.sql(
        f"DROP TABLE IF EXISTS {io._bucket_table_name(SF, 'orders_by_orderkey')}"
    )
