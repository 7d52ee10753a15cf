"""Cache lifecycle + version-machinery invariants for ParquetTable.

A long-lived engine crosses corpus versions: every per-corpus sidecar
(cached plans, shingle postings, IVF centroids, table cache) must be
invalidated — and its storage memory RELEASED — when the table it was
derived from is overwritten. These tests pin that contract, plus the
round-5 version-id hardening (monotonic ids, committed-only time travel,
boundary-safe diff fingerprints).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from trialstreamer_spark import util
from tests.conftest import SF_DIR, jobs_during
from trialstreamer_spark.operators.upsert import ParquetTable


@pytest.fixture()
def table(spark, tmp_path):
    t = ParquetTable(
        spark, os.path.join(str(tmp_path), "corpus", "tbl"), gc_min_age_s=0.0
    )
    t.overwrite(spark.range(3).select(F.col("id"), F.lit("a").alias("val")))
    return t


def test_version_bump_evicts_cached_plan_and_releases_storage(spark, table):
    corpus_dir = os.path.dirname(table.path)  # caches key by corpus dir
    df = util.cached_plan(
        spark, ("lifecycle_probe", corpus_dir), lambda: spark.range(10)
    )
    df.count()  # materialize the persisted sidecar
    assert df.storageLevel.useMemory
    key = util._plan_key(spark, ("lifecycle_probe", corpus_dir))
    assert key in util._PLAN_CACHE

    table.overwrite(spark.range(5).select(F.col("id"), F.lit("b").alias("val")))

    assert key not in util._PLAN_CACHE, "stale plan survived version bump"
    assert not df.storageLevel.useMemory, "storage memory not released"


def test_version_bump_evicts_module_caches(spark, table, monkeypatch, tmp_path):
    from trialstreamer_spark.operators import dedup

    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", str(tmp_path / "sc"))
    corpus_dir = os.path.dirname(table.path)
    docs = spark.range(4).select(
        F.col("id").alias("doc_id"), F.lit("alpha beta gamma delta").alias("text")
    )
    docs.write.parquet(os.path.join(corpus_dir, "documents.parquet"))

    post = dedup.shingle_postings(spark, corpus_dir)
    post_key = util._plan_key(spark, ("shingle_postings", corpus_dir))
    assert post_key in util._PLAN_CACHE
    # IVF centroids are util.memo entries keyed by corpus dir
    util.memo(("ivf_centroids", corpus_dir), list)
    util.memo(("ivf_centroids", "/unrelated/dir"), list)

    table.overwrite(docs)

    assert post_key not in util._PLAN_CACHE
    assert not post.storageLevel.useMemory
    assert ("ivf_centroids", corpus_dir) not in util._PLAN_CACHE
    # unrelated corpus versions are untouched
    assert ("ivf_centroids", "/unrelated/dir") in util._PLAN_CACHE
    del util._PLAN_CACHE[("ivf_centroids", "/unrelated/dir")]


def test_version_ids_are_monotonic_and_unique(spark, table):
    # Many overwrites in well under a millisecond apiece: ids must never
    # collide (wall-clock ids would) and must strictly increase.
    for i in range(4):
        table.overwrite(spark.range(i + 1).select(F.col("id"), F.lit("x").alias("val")))
    vs = table.versions()
    nums = [int(v[1:]) for v in vs]
    assert nums == sorted(set(nums)), f"non-monotonic or duplicate ids: {vs}"
    assert len(vs) == len(set(vs)) == 3  # keep=3 horizon


def test_uncommitted_residue_dir_is_not_a_version(spark, table):
    # Simulate a crashed overwrite: data dir written, pointer flip never
    # happened. It must be invisible to versions()/read_version.
    cur = table.current_version()
    residue = f"v{int(cur[1:]) + 7}"
    spark.range(1).write.parquet(os.path.join(table.path, residue))
    assert residue not in table.versions()
    with pytest.raises(ValueError):
        table.read_version(residue)
    assert table.current_version() == cur
    # read() still serves the committed snapshot
    assert table.read().count() == 3
    # and the next overwrite claims a fresh id beyond the residue (no clobber)
    table.overwrite(spark.range(2).select(F.col("id"), F.lit("y").alias("val")))
    assert int(table.current_version()[1:]) > int(residue[1:])


def test_diff_distinguishes_null_from_sentinel_strings(spark, tmp_path):
    t = ParquetTable(spark, os.path.join(str(tmp_path), "difftbl"), gc_min_age_s=0.0)
    t.overwrite(
        spark.createDataFrame([(1, None), (2, "a\x1fb")], "k int, v string")
    )
    v1 = t.current_version()
    # NULL -> "\x00" is a REAL update; separator-adjacent strings must
    # not collide across the fingerprint boundary either.
    t.overwrite(
        spark.createDataFrame([(1, "\x00"), (2, "a\x1fb")], "k int, v string")
    )
    v2 = t.current_version()
    changes = {r["k"]: r["change"] for r in t.diff(v1, v2, "k").collect()}
    assert changes == {1: "update"}


def test_diff_rejects_schema_mismatch(spark, tmp_path):
    t = ParquetTable(spark, os.path.join(str(tmp_path), "difftbl2"), gc_min_age_s=0.0)
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    v1 = t.current_version()
    t.overwrite(spark.createDataFrame([(1, "a", 2)], "k int, v string, extra int"))
    v2 = t.current_version()
    with pytest.raises(ValueError, match="column set"):
        t.diff(v1, v2, "k")


def test_warm_cache_respreads_unsplittable_row_groups(spark, monkeypatch):
    """The corpus parquet ships ~1M-row row groups, which Spark cannot
    split — without the warm-time repartition every cached table scans
    as ONE partition (measured at sf0.1: all 10 tables; at sf1 lineitem
    landed 6M rows in 6 of 28 splits). Pin the re-spread policy: tables
    above the row threshold fan out (bounded by defaultParallelism) and
    land BALANCED, dimension-sized tables stay single-partition (no
    per-stage empty-task tax)."""
    from trialstreamer_spark import io

    monkeypatch.setattr(io, "_WARM_ROWS_PER_PARTITION", 100)
    monkeypatch.setattr(io, "_WARM_ROWS_OVERRIDE", {})
    sf_dir = "/root/testdata/sf0.001"
    # warm_cache silently skips tables already cached for this
    # (session, sf_dir) — evict any entry an EARLIER test warmed, or
    # the patched threshold never applies (order-dependent failure).
    def drop_warmed():
        for name in ("orders", "region"):
            key = util._plan_key(spark, ("table", sf_dir, name))
            stale = util._PLAN_CACHE.pop(key, None)
            if stale is not None:
                stale.unpersist()

    drop_warmed()
    try:
        io.warm_cache(spark, sf_dir, ("orders", "region"))
        orders = io.load(spark, sf_dir, "orders")
        n = orders.count()
        parts = orders.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
        expect = min(spark.sparkContext.defaultParallelism, n // 100)
        assert len(parts) == expect, f"expected {expect} partitions, got {len(parts)}"
        # round-robin: no partition more than ~2x the mean (vs the raw
        # layout, where ONE partition holds everything)
        assert max(parts) <= 2 * (n // expect + 1)
        region = io.load(spark, sf_dir, "region")
        assert region.rdd.getNumPartitions() == 1, "tiny dim must not fan out"
    finally:
        drop_warmed()


def test_footer_rows_match_spark_count(spark, tmp_path):
    """warm_cache sizes its repartitions from parquet footers: for every
    corpus table (events' TIMESTAMP(NANOS) column included) and for a
    directory of part files, the footer row count is the row count a
    Spark scan gives."""
    from trialstreamer_spark import io

    # events' nanosecond timestamps are readable only as longs (io.load)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in io.TABLES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        assert io.footer_rows(path) == spark.read.parquet(path).count(), name
    parts = str(tmp_path / "parts")
    spark.range(1000).repartition(3).write.parquet(parts)
    assert any(f.startswith(("_", ".")) for f in os.listdir(parts))
    assert io.footer_rows(parts) == spark.read.parquet(parts).count() == 1000


def test_warm_cache_job_budget(spark, tmp_path):
    """Warming a whole corpus runs no count job per table: the
    repartition targets come from the parquet footers, so the jobs left
    are the eager materialization of each of the 11 cached relations
    (the ten tables and documents' metadata projection). Measured on
    sf0.001 at local[4]: 65 jobs with a count job per table, 43
    without."""
    from trialstreamer_spark import io

    corpus = _corpus_copy(str(tmp_path / "sf"), io.TABLES)
    try:
        n_jobs = jobs_during(spark, lambda: io.warm_cache(spark, corpus))
        assert len(io.TABLES) + 1 <= n_jobs <= 43, n_jobs
    finally:
        util.evict_caches(corpus)


SF = SF_DIR


def _corpus_copy(dst: str, tables: tuple[str, ...]) -> str:
    """Writable copy of some sf0.001 tables (the source files are
    read-only)."""
    import shutil

    os.makedirs(dst)
    for t in tables:
        shutil.copyfile(
            os.path.join(SF, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        )
    return dst


def test_nation_rewrite_refreshes_nation_names(spark, tmp_path):
    """Evicting a corpus's nation.parquet must drop the memoized
    nation/region rows too: a nation-chain query rerun after the rewrite
    serves the NEW nation name, never the stale one."""
    import pyarrow.parquet as pq

    from trialstreamer_spark.plans.all_queries import QUERIES

    sf = _corpus_copy(
        str(tmp_path / "sf"), ("customer", "orders", "nation", "region")
    )
    query = QUERIES["dormant_rich_customers"]
    old = query(spark, sf).collect()[0]["nation"]

    path = os.path.join(sf, "nation.parquet")
    t = pq.read_table(path)
    names = ["ATLANTIS" if n == old else n for n in t.column("n_name").to_pylist()]
    t = t.set_column(
        t.schema.get_field_index("n_name"), "n_name", [names]
    )
    os.remove(path)
    pq.write_table(t, path)
    util.evict_caches(path)

    nations = {r["nation"] for r in query(spark, sf).collect()}
    assert "ATLANTIS" in nations and old not in nations, nations


def test_corpus_without_region_labels_every_nation_null(spark, tmp_path):
    """No region.parquet: the nation lookup still serves every nation,
    each with a NULL region, and nation-keyed queries still run."""
    import pyarrow.parquet as pq

    from trialstreamer_spark.plans import relational
    from trialstreamer_spark.plans.all_queries import QUERIES

    sf = _corpus_copy(str(tmp_path / "sf"), ("customer", "orders", "nation"))
    rows = relational._nation_region_rows(spark, sf)
    nations = pq.read_table(os.path.join(sf, "nation.parquet")).to_pylist()
    assert sorted((nk, name) for nk, name, _ in rows) == sorted(
        (r["n_nationkey"], r["n_name"]) for r in nations
    )
    assert all(rname is None for _, _, rname in rows)
    got = QUERIES["dormant_rich_customers"](spark, sf).collect()
    assert got and all(r["nation"] is not None for r in got)


def test_corrupt_region_table_raises(spark, tmp_path):
    """A region.parquet that exists but is not parquet fails the
    nation lookup loudly instead of reading as a corpus without
    regions."""
    from trialstreamer_spark.plans import relational

    sf = _corpus_copy(str(tmp_path / "sf"), ("customer", "orders", "nation"))
    with open(os.path.join(sf, "region.parquet"), "wb") as fh:
        fh.write(b"not a parquet file" * 64)
    with pytest.raises(Exception, match="(?i)parquet"):
        relational._nation_region_rows(spark, sf)


def test_evict_caches_releases_every_kind_of_entry(spark, tmp_path, monkeypatch):
    """One corpus, one entry of each cached kind — a persisted plan, a
    warmed table, a disk-backed sidecar, in-process values, the bucket
    projection and a parity replay — and one eviction: nothing keyed by
    the corpus survives, persisted frames release their storage, the
    bucket layout and the replay's cached copy are no longer served,
    another corpus's entries stay, and a sidecar commit under the
    catalog root evicts nothing."""
    from trialstreamer_spark import io, sidecars
    from trialstreamer_spark.operators import dedup, similarity
    from trialstreamer_spark.plans.all_queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", str(tmp_path / "sc"))
    monkeypatch.setenv("SPARK_GRAFT_BUCKET_DIR", str(tmp_path / "bkt"))
    corpus = _corpus_copy(
        str(tmp_path / "a"), ("documents", "embeddings", "events", "orders")
    )
    other = str(tmp_path / "b")

    frames = [
        util.cached_plan(spark, ("probe", corpus), lambda: spark.range(5)),
        sidecars.disk_cached_plan(
            spark, corpus, "probe", lambda: spark.range(3).toDF("v")
        ),
    ]
    io.warm_cache(spark, corpus, ("orders",))
    frames.append(io.load(spark, corpus, "orders"))
    QUERIES["topk_stream_parity"](spark, corpus)
    frames.append(util.peek(spark, ("replay_topk", corpus)))
    for df in frames:
        df.count()
        assert df.storageLevel.useMemory
    similarity.ivf_centroids(spark, corpus)
    dedup.bloom_build(spark, corpus)
    io.prepare_buckets(spark, corpus, variants=("orders_by_orderkey",))
    assert io.bucketed_table(spark, corpus, "orders_by_orderkey") is not None
    survivor = util.cached_plan(spark, ("probe", other), lambda: spark.range(2))
    util.memo(("probe_value", other), lambda: 1)

    try:
        before = set(util._PLAN_CACHE)
        sidecars.disk_sidecar(
            spark, other, "probe_commit", lambda: spark.range(1).toDF("v")
        )
        assert set(util._PLAN_CACHE) == before

        util.evict_caches(corpus)

        assert not [
            k for k in util._PLAN_CACHE if util._key_references(k, corpus)
        ]
        for df in frames:
            assert not df.storageLevel.useMemory
        assert io.bucketed_table(spark, corpus, "orders_by_orderkey") is None
        assert util.peek(spark, ("replay_topk", corpus)) is None
        assert util._plan_key(spark, ("probe", other)) in util._PLAN_CACHE
        assert ("probe_value", other) in util._PLAN_CACHE
        assert survivor.storageLevel.useMemory
    finally:
        util.evict_caches(other)
        spark.sql(
            "DROP TABLE IF EXISTS "
            + io._bucket_table_name(corpus, "orders_by_orderkey")
        )
