"""The per-corpus artifact lifecycle: build once per source version,
stamp, find by the stamp (in a later session too), rebuild when stale.
One fingerprint (``corpus_fingerprint``) and one stamp
(``stamp_current`` / ``write_stamp``) serve every artifact with an
on-disk life: the catalog sidecars below (featurizations, stream
replays, token postings), the PICO postings index
(api.engine.prepare_postings) and the bucket layouts
(io.prepare_buckets). ``prepare_hooks`` is the one ordered list of
hooks that builds them.

A catalog sidecar is a VERSIONED PARQUET table
(operators/upsert.ParquetTable — write-new-then-swap, committed-pointer
reads) fronted by a session-persisted ``util.cached_plan`` entry
(``disk_cached_plan``):

- build path: compute once, write, stamp — the Delta/Iceberg "derived
  table" a real cluster would maintain;
- restart path: a fresh SparkSession whose stamp matches reads the
  parquet directly — NO re-featurization job touches the corpus;
- staleness: any source rewrite (ParquetTable version bump, file
  replacement) changes the fingerprint, so the stale artifact is
  rebuilt on next access instead of silently served; the version bump
  also evicts the in-memory entry (util.evict_caches).

Layout: $SPARK_GRAFT_SIDECAR_DIR (default <repo>/spark-warehouse/
sidecars)/<md5(corpus dir)[:8]>_<name>/ as a ParquetTable. Every stamp
is a ``_corpus_fp`` file inside its artifact's directory (a name
Spark's file listing skips).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

#: Stamp file name inside every stamped artifact's directory.
STAMP = "_corpus_fp"


def corpus_fingerprint(
    root: str, tables: tuple[str, ...] = ("documents",)
) -> str:
    """Catalog-level identity of the source tables' current contents,
    hashed; no data is scanned — the same statistics a lakehouse
    catalog exposes as snapshot ids. A table is a ParquetTable dir
    ``<root>/<t>/`` (its committed version id and pointer mtime) or a
    plain ``<root>/<t>.parquet`` file or dir (name, size, mtime_ns per
    data file); a missing table contributes nothing."""
    parts: list[str] = []
    for t in tables:
        pointer = os.path.join(root, t, "_current")
        try:
            with open(pointer) as f:
                version = f.read().strip()
            parts.append(f"{t}@{version}:{os.stat(pointer).st_mtime_ns}")
            continue
        except OSError:
            pass
        path = os.path.join(root, f"{t}.parquet")
        if os.path.isfile(path):
            try:
                st = os.stat(path)
                parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
            except OSError:
                pass
            continue
        for dirpath, _dirs, files in os.walk(path):
            for f in sorted(files):
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except OSError:
                    continue
                parts.append(f"{t}/{f}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def stamp_current(path: str, fp: str) -> bool:
    """True when the artifact at ``path`` carries the stamp ``fp``: it
    was built, completely, from the source state ``fp`` names. An
    unstamped artifact is stale."""
    try:
        with open(os.path.join(path, STAMP)) as f:
            return f.read().strip() == fp
    except OSError:
        return False


def write_stamp(path: str, fp: str) -> None:
    """Stamp the artifact just built at ``path`` with ``fp``
    (tmp-then-rename: a crash mid-build or mid-stamp leaves the old or
    no stamp, so the next access rebuilds)."""
    stamp = os.path.join(path, STAMP)
    with open(stamp + ".tmp", "w") as f:
        f.write(fp)
    os.replace(stamp + ".tmp", stamp)


def catalog_base() -> str:
    """Resolved sidecar catalog root. In-memory caches that front a
    disk sidecar must key on this too: pointing
    ``SPARK_GRAFT_SIDECAR_DIR`` elsewhere changes which committed
    artifact a read should serve, so a memory hit built for a
    different catalog would skip the new catalog's build entirely."""
    return os.environ.get(
        "SPARK_GRAFT_SIDECAR_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "spark-warehouse",
            "sidecars",
        ),
    )


def sidecar_path(sf_dir: str, name: str) -> str:
    h = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return os.path.join(catalog_base(), f"{h}_{name}")


def disk_cached_plan(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    builder,
    source_tables: tuple[str, ...] = ("documents",),
    post=None,
    key_extra: tuple = (),
):
    """Session-persisted view of a disk-backed sidecar: the committed
    parquet is the artifact of record (a restarted session reads it; a
    corpus version bump rebuilds it via the fingerprint stamp), while
    util.cached_plan pins the hot copy in memory for this session.

    This is the promotion path for every FINAL per-corpus featurization
    (quality signals, tf stats, kNN edges, assignment tables, …):
    intermediates stay memory-cached — once the finals are committed, a
    restart rebuilds nothing on the query path, and intermediates only
    re-run when a final is stale. ``post`` re-applies plan properties a
    parquet roundtrip cannot carry (e.g. a doc_id hash partitioning
    consumers rely on); ``key_extra`` distinguishes parameterized
    artifacts (df caps, panel sizes) in both the memory key and the
    table name."""
    from trialstreamer_spark.util import cached_plan

    disk_name = name + "".join(f"_{e}" for e in key_extra)

    def build():
        df = disk_sidecar(spark, sf_dir, disk_name, builder, source_tables)
        return post(df) if post is not None else df

    return cached_plan(spark, (name, sf_dir, *key_extra), build)


def disk_sidecar(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    builder,
    source_tables: tuple[str, ...] = ("documents",),
) -> DataFrame:
    """Return the committed on-disk copy of sidecar ``name`` for this
    corpus when its stamp is current; otherwise run ``builder()``, write
    it as the next ParquetTable version, stamp, and return the read.
    The returned DataFrame always scans parquet (callers persist it
    in-memory per session for hot paths)."""
    from trialstreamer_spark.operators.upsert import ParquetTable

    table = ParquetTable(spark, sidecar_path(sf_dir, name), gc_min_age_s=0.0)
    fp = corpus_fingerprint(sf_dir, source_tables)
    if not stamp_current(table.path, fp):
        table.overwrite(builder())
        write_stamp(table.path, fp)
    return table.read()


def prepare_hooks() -> list:
    """Every offline ``hook(spark, sf_dir)`` that builds a corpus
    version's sidecars, in run order: register+materialize the corpus
    tables and bucket layouts first, then each operator family's
    sidecars. Imported here, not at module level, because dedup imports
    this module."""
    from trialstreamer_spark.io import prepare_buckets, warm_cache
    from trialstreamer_spark.operators.clustering import prepare_pq, prepare_semdedup
    from trialstreamer_spark.operators.dedup import prepare_dedup
    from trialstreamer_spark.operators.quality import prepare_curation
    from trialstreamer_spark.operators.retrieval import prepare_stats
    from trialstreamer_spark.operators.similarity import prepare_indexes
    from trialstreamer_spark.operators.temporal import prepare_temporal
    from trialstreamer_spark.streaming.parity import prepare_parity

    return [
        warm_cache,
        prepare_buckets,
        prepare_indexes,
        prepare_dedup,
        prepare_stats,
        prepare_pq,
        prepare_semdedup,
        prepare_curation,
        prepare_temporal,
        prepare_parity,
    ]
