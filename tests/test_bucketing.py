"""Bucketed-table co-located join (the SCALE.md claim that pubmed ⋈
annotations on pmid is shuffle-free when both tables are bucketed by
pmid): write both sides with bucketBy(pmid), join through the catalog,
and assert the plan has NO shuffle exchange on either join input."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture()
def bucketed_tables(spark, tmp_path):
    a = spark.range(0, 1000).select(
        F.concat(F.lit("p"), F.col("id")).alias("pmid"),
        (F.col("id") % 7).alias("x"),
    )
    b = spark.range(0, 1000, 2).select(
        F.concat(F.lit("p"), F.col("id")).alias("pmid"),
        (F.col("id") % 5).alias("y"),
    )
    names = []
    for name, df in (("bt_articles", a), ("bt_annotations", b)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, "pmid")
            .sortBy("pmid")
            .option("path", str(tmp_path / name))
            .saveAsTable(name)
        )
        names.append(name)
    yield names
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    art, ann = bucketed_tables
    # hint("merge") pins SMJ (the fixture is small enough to
    # auto-broadcast, which would trivially avoid exchanges without
    # proving co-location)
    joined = spark.table(art).join(spark.table(ann).hint("merge"), "pmid")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # co-located: a sort-merge join whose inputs read bucketed files
    # directly — no Exchange (shuffle) below the join
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    # correctness unchanged
    assert joined.count() == 500


def test_unbucketed_join_shuffles(spark, bucketed_tables):
    """Control: the same join on plain (non-bucketed) data DOES need an
    exchange, proving the bucketed plan's absence of one is the bucket
    layout's doing."""
    art, _ = bucketed_tables
    plain = spark.range(0, 1000, 2).select(
        F.concat(F.lit("p"), F.col("id")).alias("pmid"),
        (F.col("id") % 5).alias("y"),
    )
    joined = spark.table(art).join(plain.hint("merge"), "pmid")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in plan


def test_merge_upsert_bucketed_target_never_shuffles(spark, bucketed_tables):
    """The MERGE scale contract (operators/upsert.py docstring): with
    the target bucketed on the key and a daily-batch-sized update, both
    anti-joins run as broadcast joins — the corpus-sized target is never
    exchanged. A SortMergeJoin here would mean the ingest re-shuffles
    the whole table every batch."""
    from trialstreamer_spark.operators.upsert import merge_upsert

    target = spark.table("bt_articles")
    batch = spark.range(0, 20).select(
        F.concat(F.lit("p"), F.col("id")).alias("pmid"),
        (F.col("id") % 7).alias("x"),
    )
    deletes = spark.range(990, 995).select(
        F.concat(F.lit("p"), F.col("id")).alias("pmid")
    )
    out = merge_upsert(target, batch, "pmid", deletes=deletes)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in p, p
    assert p.count("BroadcastHashJoin") >= 2
    # and the semantics: deletes applied, batch upserted
    got = {r.pmid for r in out.select("pmid").collect()}
    assert "p990" not in got and "p0" in got and "p19" in got


def test_prepared_layouts_have_one_bucket_per_task_thread(
    spark, monkeypatch, tmp_path
):
    """io.prepare_buckets sizes every layout to the session: one bucket
    per task thread, each bucket exactly one file."""
    from trialstreamer_spark import io

    monkeypatch.setenv("SPARK_GRAFT_BUCKET_DIR", str(tmp_path))
    sf_dir = SF_DIR
    names = [io._bucket_table_name(sf_dir, v) for v in io.BUCKET_SPECS]

    def drop():
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    drop()
    try:
        io.prepare_buckets(spark, sf_dir)
        n = spark.sparkContext.defaultParallelism
        for name in names:
            info = {
                r.col_name: r.data_type
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            }
            assert info["Num Buckets"] == str(n), name
            files = [
                f for f in os.listdir(tmp_path / name)
                if not f.startswith(("_", "."))
            ]
            assert len(files) == n, (name, files)
    finally:
        drop()


def test_source_rewrite_rebuilds_bucket_layout(spark, monkeypatch, tmp_path):
    """A bucket layout follows its source table: after lineitem is
    rewritten (only its even-orderkey rows kept) and the corpus
    evicted, prepare_buckets rebuilds the layout, and the bucketed
    query matches the DuckDB oracle on the NEW rows."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.oracle_util import assert_matches
    from trialstreamer_spark import io, util
    from trialstreamer_spark.plans.all_queries import ORACLES, QUERIES

    monkeypatch.setenv("SPARK_GRAFT_BUCKET_DIR", str(tmp_path / "bkt"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("lineitem", "orders", "customer", "nation", "region"):
        shutil.copyfile(
            os.path.join(SF_DIR, f"{t}.parquet"), os.path.join(sf, f"{t}.parquet")
        )
    variants = ("lineitem_by_orderkey", "orders_by_orderkey")
    try:
        io.prepare_buckets(spark, sf, variants=variants)
        df = QUERIES["regional_revenue"](spark, sf)
        assert "ts_bkt_" in df._jdf.queryExecution().executedPlan().toString()
        assert_matches(df, ORACLES["regional_revenue"], sf)

        path = os.path.join(sf, "lineitem.parquet")
        li = pq.read_table(path)
        li = li.filter(pc.equal(pc.bit_wise_and(li["l_orderkey"], 1), 0))
        os.remove(path)
        pq.write_table(li, path)
        util.evict_caches(path)
        io.prepare_buckets(spark, sf, variants=variants)

        df = QUERIES["regional_revenue"](spark, sf)
        assert "ts_bkt_" in df._jdf.queryExecution().executedPlan().toString()
        assert_matches(df, ORACLES["regional_revenue"], sf)
    finally:
        util.evict_caches(sf)
        for v in variants:
            spark.sql(f"DROP TABLE IF EXISTS {io._bucket_table_name(sf, v)}")


def test_current_layouts_are_registered_not_rewritten(
    spark, monkeypatch, tmp_path
):
    """A new JVM starts with an empty session catalog while the layouts
    on disk are still current (simulated here: DROP TABLE keeps an
    external table's files, evict_caches drops the handles).
    prepare_buckets registers the existing files in place instead of
    rewriting them; the registered layouts serve the bucketed plan, join
    bucket-to-bucket, and match the oracle."""
    from tests.oracle_util import assert_matches
    from trialstreamer_spark import io, util
    from trialstreamer_spark.plans.all_queries import ORACLES, QUERIES

    monkeypatch.setenv("SPARK_GRAFT_BUCKET_DIR", str(tmp_path))
    names = [io._bucket_table_name(SF_DIR, v) for v in io.BUCKET_SPECS]

    def layout_files():
        return {
            (name, f): os.stat(tmp_path / name / f).st_mtime_ns
            for name in names
            for f in os.listdir(tmp_path / name)
        }

    def drop():
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    drop()
    try:
        io.prepare_buckets(spark, SF_DIR)
        written = layout_files()
        drop()
        util.evict_caches(SF_DIR)
        assert io.bucketed_table(spark, SF_DIR, "orders_by_orderkey") is None
        io.prepare_buckets(spark, SF_DIR)
        assert layout_files() == written
        for variant in io.BUCKET_SPECS:
            assert io.bucketed_table(spark, SF_DIR, variant) is not None
        df = QUERIES["regional_revenue"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan
        # bucket-to-bucket: the merge join's inputs are the two bucketed
        # scans, with no shuffle and no sort on the key
        assert "SortMergeJoin [l_orderkey" in plan, plan
        for key in ("l_orderkey", "o_orderkey"):
            assert f"hashpartitioning({key}" not in plan, plan
            assert f"Sort [{key}" not in plan, plan
        assert_matches(df, ORACLES["regional_revenue"], SF_DIR)
    finally:
        util.evict_caches(SF_DIR)
        drop()


class TestFactBucketLayout:
    """Round-6: the TPC-H fact-fact plans choose the prepared bucketed
    layout (io.prepare_buckets) and run their joins without any shuffle
    Exchange — the round-5 directive-#2 contract."""

    @pytest.fixture()
    def bucketed_sf(self, spark, monkeypatch, tmp_path):
        from trialstreamer_spark import io

        monkeypatch.setenv("SPARK_GRAFT_BUCKET_DIR", str(tmp_path))
        sf_dir = "/root/testdata/sf0.001"
        io.prepare_buckets(spark, sf_dir)
        yield sf_dir
        for variant in io.BUCKET_SPECS:
            spark.sql(
                f"DROP TABLE IF EXISTS {io._bucket_table_name(sf_dir, variant)}"
            )

    def _join_subtree_exchange_free(self, plan: str) -> bool:
        # every Exchange must sit ABOVE the join (the rollup/sort ones);
        # an exchange below the join would mean the bucket layout failed
        join_pos = max(
            plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin")
        )
        assert join_pos >= 0, plan
        below = plan[join_pos:]
        return "Exchange hashpartitioning" not in below

    def test_late_shipment_colocated(self, spark, bucketed_sf):
        from trialstreamer_spark.plans.all_queries import QUERIES

        df = QUERIES["late_shipment_priority"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan  # chose the bucketed tables
        assert self._join_subtree_exchange_free(plan), plan

    def test_small_qty_colocated(self, spark, bucketed_sf):
        from trialstreamer_spark.plans.all_queries import QUERIES

        df = QUERIES["small_qty_revenue"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan
        assert self._join_subtree_exchange_free(plan), plan

    def test_large_volume_orders_zero_exchanges(self, spark, bucketed_sf):
        """Q18 shape on the bucketed layout: HashPartitioning(orderkey)
        satisfies BOTH the quantity rollup's groupBy and the orders
        join, and customer broadcasts — the whole plan runs with no
        hash exchange at all."""
        from trialstreamer_spark.plans.all_queries import QUERIES

        df = QUERIES["large_volume_orders"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan
        assert plan.count("Exchange hashpartitioning") == 0, plan

    def test_sole_late_supplier_single_exchange(self, spark, bucketed_sf):
        """Q21 shape on the bucketed layout: the fact join, the
        (orderkey, suppkey) rollup, and the per-order window all ride
        the bucket partitioning; the only hash exchange left is the
        final |suppliers|-sized rollup."""
        from trialstreamer_spark.plans.all_queries import QUERIES

        df = QUERIES["sole_late_supplier"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_cross_region_volume_single_exchange(self, spark, bucketed_sf):
        """Q7 shape: fact⋈fact rides the orderkey buckets, both
        region-dimension chains broadcast — the only hash exchange is
        the ≤|2×years| rollup."""
        from trialstreamer_spark.plans.all_queries import QUERIES

        df = QUERIES["cross_region_volume"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_nation_market_share_single_exchange(self, spark, bucketed_sf):
        """Q8 shape: three broadcast dim filters + bucketed fact join;
        the conditional-share rollup owns the one exchange."""
        from trialstreamer_spark.plans.all_queries import QUERIES

        df = QUERIES["nation_market_share"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_product_profit_single_exchange(self, spark, bucketed_sf):
        """Q9 shape: name-pattern part dim + nation label broadcast;
        bucketed orderkey join; one rollup exchange."""
        from trialstreamer_spark.plans.all_queries import QUERIES

        df = QUERIES["product_profit_by_nation"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_cheapest_supplier_zero_exchanges(self, spark, bucketed_sf):
        """Q2 shape on the partkey buckets: the (partkey, suppkey)
        rollup AND the per-part window both ride
        HashPartitioning(partkey) — no hash exchange anywhere; dims
        broadcast."""
        from trialstreamer_spark.plans.all_queries import QUERIES

        df = QUERIES["cheapest_supplier_per_part"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan
        assert plan.count("Exchange hashpartitioning") == 0, plan

    def test_high_value_parts_zero_hash_exchanges(self, spark, bucketed_sf):
        """Q11 shape: the per-part value rollup rides the partkey
        buckets; the threshold is a 1-row broadcast (single-partition
        exchange only, never a hash one)."""
        from trialstreamer_spark.plans.all_queries import QUERIES

        df = QUERIES["high_value_parts"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan
        assert plan.count("Exchange hashpartitioning") == 0, plan

    def test_returned_item_topk_single_exchange(self, spark, bucketed_sf):
        """Q10 shape on the orderkey buckets: both selective filters sit
        on the bucketed scans, dims broadcast; the custkey rollup owns
        the one exchange."""
        from trialstreamer_spark.plans.all_queries import QUERIES

        df = QUERIES["returned_item_topk"](spark, bucketed_sf)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ts_bkt_" in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_bucketed_path_matches_plain(self, spark, bucketed_sf):
        """Identical rows with and without the layout (the path choice
        must never change results — same contract as postings)."""
        from trialstreamer_spark import io
        from trialstreamer_spark.plans.all_queries import QUERIES

        for name in (
            "late_shipment_priority",
            "small_qty_revenue",
            "large_volume_orders",
            "sole_late_supplier",
            "cross_region_volume",
            "nation_market_share",
            "product_profit_by_nation",
            "cheapest_supplier_per_part",
            "high_value_parts",
            "part_supplier_variety",
            "disjunctive_bracket_revenue",
            "returned_item_topk",
        ):
            with_bkt = QUERIES[name](spark, bucketed_sf).collect()
            real = io.bucketed_table
            try:
                io.bucketed_table = lambda *a, **k: None
                plain = QUERIES[name](spark, bucketed_sf).collect()
            finally:
                io.bucketed_table = real
            assert with_bkt == plain
