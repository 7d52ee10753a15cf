"""Integration: engine queries over warehouses PRODUCED BY THE UPDATE
PATHS — the round-1 regressions where update-built tables couldn't serve
the query surface (medrxiv_covid19 schema divergence; update_log written
in a layout/column meta() couldn't read)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from trialstreamer_spark.api import engine

from tests.test_engine import FIXTURE_DIR

FEED = {
    "rels": [
        {
            "rel_title": "Trial of drug A for COVID-19",
            "rel_abs": "A randomized controlled trial of drug A.",
            "rel_date": "2020-05-04",
            "rel_doi": "10.1101/2020.01.001",
            "rel_link": "https://medrxiv.org/1",
            "rel_authors": [
                {"author_name": "Ada Lovelace", "author_inst": "X"},
                {"author_name": "Grace Hopper", "author_inst": "Y"},
            ],
            "rel_site": "medrxiv",
        },
        {
            "rel_title": "Trial of drug B",
            "rel_abs": "Another randomized trial.",
            "rel_date": "2021-01-15",
            "rel_doi": "10.1101/2021.02.002",
            "rel_link": "https://medrxiv.org/2",
            "rel_authors": [{"author_name": "Alan Turing", "author_inst": "Z"}],
            "rel_site": "biorxiv",
        },
    ]
}


@pytest.fixture()
def hybrid_warehouse(spark, tmp_path):
    """Fixture tables (symlinked) + room for update-produced tables, so
    engine queries that span both can run against one root."""
    from fixtures.generate import generate

    if not os.path.exists(os.path.join(FIXTURE_DIR, "pubmed.parquet")):
        generate(FIXTURE_DIR)
    wh = tmp_path / "wh"
    wh.mkdir()
    for fn in os.listdir(FIXTURE_DIR):
        if fn.endswith(".parquet") and not fn.startswith("medrxiv"):
            os.symlink(os.path.join(FIXTURE_DIR, fn), str(wh / fn))
    return str(wh)


def test_medrxiv_update_warehouse_serves_engine(spark, tmp_path, hybrid_warehouse):
    """A warehouse built via update --source=medrxiv must serve covid19
    and the picosearch preprint leg (full MEDRXIV_COVID19 schema:
    is_human, *_mesh, prob_low_bias, struct authors)."""
    from trialstreamer_spark.update import update_medrxiv

    feed_path = tmp_path / "collection.json"
    feed_path.write_text(json.dumps(FEED))
    update_medrxiv(spark, str(feed_path), None, hybrid_warehouse)

    tables = engine.Tables(spark, hybrid_warehouse)
    med = tables.t("medrxiv_covid19")
    # the engine-facing columns all exist with the stored shapes
    assert {"is_human", "prob_low_bias", "population_mesh", "authors"} <= set(
        med.columns
    )
    first_author = med.select(
        F.element_at("authors", 1)["author_name"].alias("a")
    ).collect()
    assert all(r.a for r in first_author)

    cov = engine.covid19(tables).collect()
    preprint_rows = [r for r in cov if r.result_set == "trialstreamer_preprint"]
    balanced = {
        r.doi for r in med.filter(F.col("is_rct_balanced")).collect()
    }
    assert {r.id for r in preprint_rows} == balanced

    pico = engine.picosearch(
        tables, [{"field": "population", "cui": engine.COVID_CUI}]
    ).collect()
    got_preprints = {
        r.pmid for r in pico if r.article_type == "preprint"
    }
    want = {
        r.doi
        for r in med.filter(
            F.col("is_rct_balanced") & F.col("is_human")
        ).collect()
    }
    assert got_preprints == want


def test_meta_reads_pipeline_warehouse(spark, tmp_path, hybrid_warehouse):
    """meta() must read the watermark from a PIPELINE-produced audit log
    (ParquetTable versioned dir, download_date column, fullcheck row)."""
    from fixtures.pubmed_xml import generate_xml_fixtures
    from trialstreamer_spark.streaming.pipeline import PubmedPipeline

    xml_dir = tmp_path / "xml"
    generate_xml_fixtures(str(xml_dir))
    pipe = PubmedPipeline(spark, hybrid_warehouse)
    pipe.run_batch(os.path.join(str(xml_dir), "*.xml.gz"))
    pipe.log_run("fullcheck")

    tables = engine.Tables(spark, hybrid_warehouse)
    log = tables.t("update_log")
    assert {"update_type", "source_filename", "source_date", "download_date",
            "update_date"} <= set(log.columns)
    row = engine.meta(tables).collect()[0]
    assert row.last_updated is not None  # the fullcheck watermark
    assert row.num_rcts is not None


def test_parquet_table_gc_respects_reader_grace(spark, tmp_path):
    """Versions younger than the grace period survive GC even beyond the
    keep horizon (a concurrent reader may still hold them open); with no
    grace they are pruned to the keep count."""
    import os as _os

    from trialstreamer_spark.operators.upsert import ParquetTable

    def versions(path):
        return sorted(
            d for d in _os.listdir(path)
            if d.startswith("v") and _os.path.isdir(_os.path.join(path, d))
        )

    graced = ParquetTable(spark, str(tmp_path / "graced"))  # default grace
    for i in range(5):
        graced.overwrite(spark.range(i + 1))
    assert len(versions(graced.path)) == 5  # all too young to delete

    eager = ParquetTable(spark, str(tmp_path / "eager"), gc_min_age_s=0.0)
    for i in range(5):
        eager.overwrite(spark.range(i + 1))
    assert len(versions(eager.path)) == 3  # keep=3, no grace
    # the current pointer always resolves to a surviving version
    assert eager.current_version() in versions(eager.path)
    assert eager.read().count() == 5


def test_parquet_table_compact_bounds_files_and_preserves_rows(spark, tmp_path):
    """compact() must rewrite the current version into the target file
    count without changing the table's contents."""
    import glob

    from trialstreamer_spark.operators.upsert import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "ct"), gc_min_age_s=0.0)
    df1 = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.merge(df1.repartition(8), key="k")
    df2 = spark.range(50, 150).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.merge(df2.repartition(8), key="k")
    before = sorted(r.k for r in t.read().collect())

    def n_files() -> int:
        v = t.current_version()
        return len(glob.glob(os.path.join(str(tmp_path / "ct"), v, "*.parquet")))

    assert n_files() > 1
    t.compact(target_files=1)
    assert n_files() == 1
    after_rows = {r.k: r.v for r in t.read().collect()}
    assert sorted(after_rows) == before
    # last-writer-wins survived the rewrite
    assert after_rows[60] == 180 and after_rows[10] == 20
    # compacting an empty table is a no-op, not an error
    empty = ParquetTable(spark, str(tmp_path / "empty"))
    empty.compact()


def test_parquet_table_time_travel_reads_immutable_snapshots(spark, tmp_path):
    from trialstreamer_spark.operators.upsert import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "tt"))
    t.merge(
        spark.range(0, 10).select(F.col("id").alias("k"), F.lit("a").alias("v")),
        key="k",
    )
    v1 = t.current_version()
    t.merge(
        spark.range(5, 15).select(F.col("id").alias("k"), F.lit("b").alias("v")),
        key="k",
    )
    v2 = t.current_version()
    assert v1 != v2 and t.versions() == [v1, v2]
    # the old snapshot is intact: 10 rows, all 'a'
    old = t.read_version(v1)
    assert old.count() == 10
    assert {r.v for r in old.collect()} == {"a"}
    # current merged view: 15 rows, keys 5..9 overwritten to 'b'
    cur = {r.k: r.v for r in t.read().collect()}
    assert len(cur) == 15 and cur[7] == "b" and cur[2] == "a"
    # unknown version -> clear error
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read_version("v0")


def test_parquet_table_diff_classifies_changes(spark, tmp_path):
    from trialstreamer_spark.operators.upsert import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "diff"))
    t.merge(
        spark.range(0, 10).select(F.col("id").alias("k"), F.lit("a").alias("v")),
        key="k",
    )
    v1 = t.current_version()
    # keys 0-4 unchanged, 5-9 updated, 10-12 inserted, then delete 0-1
    t.merge(
        spark.range(5, 13).select(F.col("id").alias("k"), F.lit("b").alias("v")),
        key="k",
        deletes=spark.range(0, 2).select(F.col("id").alias("k")),
    )
    v2 = t.current_version()
    changes = {r.k: r.change for r in t.diff(v1, v2, key="k").collect()}
    assert changes == {
        **{k: "delete" for k in (0, 1)},
        **{k: "update" for k in range(5, 10)},
        **{k: "insert" for k in range(10, 13)},
    }
    # unchanged keys 2-4 are absent from the diff
    assert not any(k in changes for k in (2, 3, 4))
    # diff is symmetric-ish: reversing swaps insert/delete
    rev = {r.k: r.change for r in t.diff(v2, v1, key="k").collect()}
    assert rev[0] == "insert" and rev[10] == "delete" and rev[7] == "update"


def test_parquet_table_survives_stale_tmp_pointer(spark, tmp_path):
    """A crash between writing _current.tmp and the atomic rename leaves
    a stray tmp file; readers and the next writer must be unaffected."""
    from trialstreamer_spark.operators.upsert import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "crashy"))
    t.merge(
        spark.range(0, 5).select(F.col("id").alias("k"), F.lit("a").alias("v")),
        key="k",
    )
    # simulate the crash residue
    with open(t._pointer + ".tmp", "w") as f:
        f.write("vGARBAGE_NEVER_COMMITTED")
    assert t.read().count() == 5  # readers resolve the COMMITTED pointer
    t.merge(
        spark.range(5, 8).select(F.col("id").alias("k"), F.lit("b").alias("v")),
        key="k",
    )
    assert t.read().count() == 8  # next writer replaces the residue
    assert t.current_version() in t.versions()


def test_overwrite_version_claim_skips_concurrent_dir(spark, tmp_path):
    """The atomic version-id claim (ADVICE r5 #3): if another writer has
    already created the next version dir, overwrite() must advance past
    it instead of writing into it — no silent lost update — and the
    committed pointer must name the dir this writer actually wrote."""
    from trialstreamer_spark.operators.upsert import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.range(3).selectExpr("id", "id * 2 AS x"))
    assert t.current_version() == "v1"

    # simulate a concurrent writer that claimed v2 but has not committed
    os.makedirs(str(tmp_path / "tbl" / "v2"))
    t.overwrite(spark.range(5).selectExpr("id", "id * 3 AS x"))
    assert t.current_version() == "v3"
    assert t.read().count() == 5
    # the foreign claim is not readable as a committed version
    assert "v2" not in t.versions()


def _kv(spark, lo: int, hi: int, v: str):
    return spark.range(lo, hi).select(F.col("id").alias("k"), F.lit(v).alias("v"))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_parquet_table_append_shares_files_across_versions(spark, tmp_path):
    """append() commits the old rows plus the new ones, leaves the
    previous version as it was, and links (not copies) its files; a
    version whose files other versions share still reads in full after
    GC removes the oldest one."""
    from trialstreamer_spark.operators.upsert import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "app"), gc_min_age_s=0.0)
    t.overwrite(_kv(spark, 0, 10, "a"))
    v1 = t.current_version()
    t.append(_kv(spark, 10, 15, "b").select("v", "k"))  # any column order
    v2 = t.current_version()
    assert _rows(t.read()) == _rows(_kv(spark, 0, 10, "a").union(_kv(spark, 10, 15, "b")))
    assert _rows(t.read_version(v1)) == _rows(_kv(spark, 0, 10, "a"))

    def inodes(v):
        d = os.path.join(t.path, v)
        return {os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d) if f.endswith(".parquet")}

    assert inodes(v1) < inodes(v2)  # v1's files are shared, not rewritten

    t.append(_kv(spark, 15, 20, "c"))
    t.append(_kv(spark, 20, 25, "d"))
    assert v1 not in t.versions()  # keep=3: the oldest version is gone
    want = _kv(spark, 0, 10, "a")
    for v, extra in zip(t.versions(), "bcd"):
        lo = {"b": 10, "c": 15, "d": 20}[extra]
        want = want.union(_kv(spark, lo, lo + 5, extra))
        assert _rows(t.read_version(v)) == _rows(want)

    with pytest.raises(ValueError):
        t.append(spark.range(3).select(F.col("id").alias("k")))


def test_parquet_table_append_crash_before_flip_replays(spark, tmp_path, monkeypatch):
    """A crash after append's data write but before the pointer flip
    leaves an uncommitted dir that versions() does not show; replaying
    the append gives the same table as a from-scratch rebuild."""
    from trialstreamer_spark.operators.upsert import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "crash"), gc_min_age_s=0.0)
    t.overwrite(_kv(spark, 0, 10, "a"))
    committed = t.versions()

    def crash(self, version):
        raise RuntimeError("crash before pointer flip")

    with monkeypatch.context() as m:
        m.setattr(ParquetTable, "_flip", crash)
        with pytest.raises(RuntimeError):
            t.append(_kv(spark, 10, 15, "b"))
    residue = [d for _, d in t._all_version_dirs() if d not in committed]
    assert residue and os.path.exists(os.path.join(t.path, residue[0], "_SUCCESS"))
    assert t.versions() == committed
    assert _rows(t.read()) == _rows(_kv(spark, 0, 10, "a"))

    t.append(_kv(spark, 10, 15, "b"))  # replay
    rebuilt = ParquetTable(spark, str(tmp_path / "rebuilt"))
    rebuilt.overwrite(_kv(spark, 0, 10, "a").union(_kv(spark, 10, 15, "b")))
    assert _rows(t.read()) == _rows(rebuilt.read())
    assert residue[0] not in t.versions()


def _assert_schema_parity(spark, t) -> None:
    """Every retained version reads, through the table and on its own,
    with the schema Spark infers from the version dir."""
    for v in t.versions():
        want = spark.read.parquet(os.path.join(t.path, v)).schema
        assert t.read_version(v).schema == want, (t.path, v)
        if v == t.current_version():
            assert t.read().schema == want, t.path


def test_parquet_table_schema_matches_inference_for_update_tables(spark, tmp_path):
    """Every table the daily update commits reads with Spark's own
    inferred schema."""
    from fixtures.pubmed_xml import generate_xml_fixtures
    from trialstreamer_spark import update
    from trialstreamer_spark.operators.upsert import ParquetTable

    landing, wh = str(tmp_path / "landing"), str(tmp_path / "wh")
    generate_xml_fixtures(landing)
    update.update_pubmed(spark, landing, wh)
    tables = ("pubmed_raw", "pubmed_annotations", "update_log", "pubmed_year_counts")
    for name in tables:
        _assert_schema_parity(spark, ParquetTable(spark, os.path.join(wh, name)))


def test_parquet_table_schema_matches_inference_across_writes(spark, tmp_path):
    """Timestamp, nested array/struct and map columns keep their types
    through an empty commit and several appends, whose files come from
    separate writes."""
    from trialstreamer_spark.operators.upsert import ParquetTable

    schema = (
        "id long, ts timestamp, "
        "authors array<struct<name:string,rank:int>>, "
        "pages struct<page_from:string,tags:array<string>>, "
        "counts map<string,int>, price decimal(10,2)"
    )
    t = ParquetTable(spark, str(tmp_path / "nested"), gc_min_age_s=0.0)
    t.overwrite(spark.createDataFrame([], schema))  # an empty commit
    _assert_schema_parity(spark, t)
    for lo in (0, 3, 7):
        t.append(
            spark.range(lo, lo + 3, numPartitions=2).selectExpr(
                "id",
                "timestamp'2021-03-04 05:06:07' + make_interval(0, 0, 0, id) AS ts",
                "array(named_struct('name', CAST(id AS string), 'rank', CAST(id AS int))) AS authors",
                "named_struct('page_from', 'p', 'tags', array('a', 'b')) AS pages",
                "map('n', CAST(id AS int)) AS counts",
                "CAST(id / 4 AS decimal(10,2)) AS price",
            )
        )
        _assert_schema_parity(spark, t)
    assert t.read().count() == 9
