"""Round-6: disk-backed sidecar catalog (trialstreamer_spark.sidecars).

The promoted featurizations — shingle postings, minhash signatures,
cc_labels, the phash band table, and (round-6b) every FINAL per-corpus
artifact (quality signals, DSIR scores, winnow pairs, tf stats, kNN
edges, assignment tables, …) — are committed ParquetTable versions
stamped with a corpus fingerprint. Contracts tested here:

- build-once: the builder runs exactly once per corpus version; repeat
  reads (same or later session) serve committed parquet;
- restart: a FRESH SparkSession with cold in-memory caches answers
  dedup_minhash_lsh from the disk catalog — no re-featurization job
  (shingle_postings patched to fail loudly), hashes unchanged;
- staleness: any corpus-table change flips the fingerprint and forces a
  rebuild (never a silently-stale read — same contract as the postings
  index stamp in api.engine.choose_search_path);
- stream replays (streaming.parity) are sidecars too: a build leaves no
  checkpoint, staged input, sink table or memory-sink view behind, and a
  restarted session serves every parity query without a stream.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trialstreamer_spark import sidecars
from trialstreamer_spark.plans.all_queries import QUERIES


def test_disk_sidecar_builds_once_and_detects_staleness(
    spark, sidecar_dir, tmp_path
):
    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF_DIR, "documents.parquet"),
        os.path.join(corpus, "documents.parquet"),
    )
    os.chmod(os.path.join(corpus, "documents.parquet"), 0o644)
    calls: list[int] = []

    def build():
        calls.append(1)
        return spark.range(5).select(F.col("id").alias("v"))

    a = sidecars.disk_sidecar(spark, corpus, "probe", build).collect()
    b = sidecars.disk_sidecar(spark, corpus, "probe", build).collect()
    assert len(calls) == 1 and sorted(a) == sorted(b)
    # corpus rewrite (mtime change) → stale stamp → rebuild
    os.utime(os.path.join(corpus, "documents.parquet"))
    sidecars.disk_sidecar(spark, corpus, "probe", build).collect()
    assert len(calls) == 2
    # …and the rebuilt copy is committed: next read is served from disk
    sidecars.disk_sidecar(spark, corpus, "probe", build).collect()
    assert len(calls) == 2


def test_restart_serves_minhash_lsh_from_disk(spark, sidecar_dir, monkeypatch):
    """The directive-#3 end-to-end check: build in one session, answer
    from committed parquet in a fresh one with every in-memory cache
    cold and the featurization path booby-trapped."""
    from trialstreamer_spark import util
    from trialstreamer_spark.operators import dedup

    first = QUERIES["dedup_minhash_lsh"](spark, SF_DIR).collect()
    sig_dir = sidecars.sidecar_path(SF_DIR, "minhash_sigs_doc_id_text")
    assert os.path.exists(os.path.join(sig_dir, "_current"))
    # "restart": fresh SparkSession + evict every in-memory sidecar the
    # first run registered (the one cache holds the dedup
    # postings/signature entries too)
    s2 = spark.newSession()
    util.evict_caches(SF_DIR)
    # only THIS corpus's entries must be gone — other corpora cached by
    # earlier tests in the session are intentionally untouched
    assert not [
        k for k in util._PLAN_CACHE
        if "minhash_sigs_doc_id_text" in k and SF_DIR in str(k)
    ]

    def boom(*a, **k):
        raise AssertionError(
            "re-featurization: shingle_postings ran after restart"
        )

    monkeypatch.setattr(dedup, "shingle_postings", boom)
    second = QUERIES["dedup_minhash_lsh"](s2, SF_DIR).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_simhash_table_is_disk_backed(spark, sidecar_dir):
    """r11: the SimHash signature table joins the minhash twin as a
    per-corpus-version sidecar — a fresh session with cold in-memory
    caches must serve dedup_simhash from the committed parquet (no
    corpus re-tokenization: the plan reads the sidecar scan, not an
    Aggregate over exploded tokens), with identical rows."""
    from trialstreamer_spark import util

    first = QUERIES["dedup_simhash"](spark, SF_DIR).collect()
    sdir = sidecars.sidecar_path(SF_DIR, "simhash_doc_id_text_16")
    assert os.path.exists(os.path.join(sdir, "_current"))
    s2 = spark.newSession()
    util.evict_caches(SF_DIR)
    assert not [
        k for k in util._PLAN_CACHE
        if "simhash_doc_id_text_16" in k and SF_DIR in str(k)
    ]
    df = QUERIES["dedup_simhash"](s2, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # served from the committed (doc_id, simhash) scan: no tokenize
    # explode (Generate) and no bit-sum Aggregate anywhere in the plan
    assert "Aggregate" not in plan
    assert "Generate" not in plan
    assert "struct<doc_id:bigint,simhash:bigint>" in plan
    second = df.collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_cc_labels_and_phash_bands_are_disk_backed(spark, sidecar_dir):
    from trialstreamer_spark.operators.dedup import cc_labels

    labels = cc_labels(spark, SF_DIR).collect()
    assert os.path.exists(
        os.path.join(sidecars.sidecar_path(SF_DIR, "cc_labels"), "_current")
    )
    QUERIES["multimodal_phash_dedup"](spark, SF_DIR).collect()
    assert os.path.exists(
        os.path.join(
            sidecars.sidecar_path(SF_DIR, "media_phash_bands"), "_current"
        )
    )
    # committed labels equal the in-session computation
    from trialstreamer_spark.operators.upsert import ParquetTable

    stored = ParquetTable(
        spark, sidecars.sidecar_path(SF_DIR, "cc_labels")
    ).read().collect()
    assert sorted(map(tuple, stored)) == sorted(map(tuple, labels))


def test_restart_serves_promoted_finals_from_disk(spark, sidecar_dir, monkeypatch):
    """Round-6 extension of directive #3: the promoted FINAL artifacts
    (quality signals / DSIR scores, kNN edges) answer from committed
    parquet after a restart with the featurization paths booby-trapped —
    a restarted engine rebuilds nothing on these query paths."""
    from trialstreamer_spark import util
    from trialstreamer_spark.operators import quality, similarity

    first_dsir = QUERIES["dsir_importance_weights"](spark, SF_DIR).collect()
    first_knn = QUERIES["knn_graph_topk"](spark, SF_DIR).collect()
    for name in ("dsir_doc_scores", "knn_edges"):
        assert os.path.exists(
            os.path.join(sidecars.sidecar_path(SF_DIR, name), "_current")
        ), name

    s2 = spark.newSession()
    util.evict_caches(SF_DIR)

    def boom(what):
        def _fail(*a, **k):
            raise AssertionError(f"re-featurization: {what} ran after restart")

        return _fail

    monkeypatch.setattr(similarity, "lsh_candidate_pairs", boom("lsh pairs"))
    monkeypatch.setattr(quality, "_gram_counts", boom("gram counts"))
    assert sorted(map(tuple, QUERIES["dsir_importance_weights"](s2, SF_DIR).collect())) \
        == sorted(map(tuple, first_dsir))
    assert sorted(map(tuple, QUERIES["knn_graph_topk"](s2, SF_DIR).collect())) \
        == sorted(map(tuple, first_knn))


def test_restart_rebuilds_nothing_current(spark, tmp_path, monkeypatch):
    """A restart whose artifacts are all current builds none of them:
    every prepare hook runs on a tmp corpus, then a fresh session with
    the in-memory store cleared and the bucket tables dropped (a new
    JVM's empty catalog) runs them again. The second run commits no
    sidecar version and rewrites no sidecar or bucket file, and no
    build-only intermediate is registered."""
    from trialstreamer_spark import io, util
    from trialstreamer_spark.io import TABLES

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    for t in TABLES:
        shutil.copyfile(
            os.path.join(SF_DIR, f"{t}.parquet"),
            os.path.join(corpus, f"{t}.parquet"),
        )
    catalog, buckets = tmp_path / "sc", tmp_path / "bkt"
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", str(catalog))
    monkeypatch.setenv("SPARK_GRAFT_BUCKET_DIR", str(buckets))

    def files(root):
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _dirs, names in os.walk(root)
            for f in names
        }

    def drop_bucket_tables():
        for v in io.BUCKET_SPECS:
            spark.sql(f"DROP TABLE IF EXISTS {io._bucket_table_name(corpus, v)}")

    try:
        for hook in sidecars.prepare_hooks():
            hook(spark, corpus)
        built = files(catalog), files(buckets)
        assert built[0] and built[1]

        util.evict_caches(corpus)
        drop_bucket_tables()
        s2 = spark.newSession()
        for hook in sidecars.prepare_hooks():
            hook(s2, corpus)

        assert files(catalog) == built[0]
        assert files(buckets) == built[1]
        intermediates = ("winnow_postings", "winnow_fp_lists", "span_source_sets")
        assert not [
            k for k in util._PLAN_CACHE
            if any(name in k for name in intermediates)
        ]
    finally:
        util.evict_caches(corpus)
        drop_bucket_tables()


PARITY = sorted(
    name for name, fn in QUERIES.items()
    if fn.__module__ == "trialstreamer_spark.streaming.parity"
)


@pytest.fixture(scope="module")
def parity_builds(spark, tmp_path_factory):
    """Every parity query's first call, each building its replay into a
    fresh catalog, with the build's scratch locations (the checkpoint
    tmpfs and the temp dir) redirected to empty dirs. Returns the
    catalog dir and, per query, the scratch entries and memory-sink
    views left after its call."""
    from trialstreamer_spark.streaming import parity

    root = tmp_path_factory.mktemp("parity")
    shm, tmp = root / "shm", root / "tmp"
    shm.mkdir()
    tmp.mkdir()
    left = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_SIDECAR_DIR", str(root / "sc"))
        mp.setattr(parity, "_TMPFS", str(shm), raising=False)
        mp.setattr(tempfile, "tempdir", str(tmp))
        for name in PARITY:
            QUERIES[name](spark, SF_DIR).collect()
            left[name] = (
                sorted(os.listdir(shm)) + sorted(os.listdir(tmp)),
                [
                    t.name for t in spark.catalog.listTables()
                    if t.isTemporary and t.name.startswith("parity_")
                ],
            )
    return str(root / "sc"), left


def test_parity_builds_leave_nothing_behind(parity_builds):
    """A replay build removes its checkpoint, staged input and sink
    table, and drops its memory-sink view, before the query returns."""
    _catalog, left = parity_builds
    assert len(left) == 13
    leaks = {
        name: (dirs, views) for name, (dirs, views) in left.items()
        if views or [
            d for d in dirs
            if d.startswith(("ckpt_", "upsert_sink_", "parity_"))
        ]
    }
    assert not leaks


def test_restart_serves_parity_replays_from_disk(
    spark, parity_builds, monkeypatch
):
    """A restarted session (fresh SparkSession, no in-memory entry for
    the corpus) serves all 13 parity queries from the committed replay
    sidecars — no streaming query starts — and each matches its DuckDB
    oracle."""
    from pyspark.sql.streaming import DataStreamWriter

    from tests.oracle_util import assert_matches
    from trialstreamer_spark import util
    from trialstreamer_spark.plans.all_queries import ORACLES

    catalog, _left = parity_builds
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", catalog)
    util.evict_caches(SF_DIR)
    assert not [k for k in util._PLAN_CACHE if util._key_references(k, SF_DIR)]

    def no_stream(*a, **k):
        raise AssertionError("a parity query started a stream after restart")

    monkeypatch.setattr(DataStreamWriter, "start", no_stream)
    s2 = spark.newSession()
    for name in PARITY:
        assert_matches(QUERIES[name](s2, SF_DIR), ORACLES[name], SF_DIR)
