"""Keyed upsert/delete (MERGE) semantics on immutable columnar storage.

The reference's sinks are PostgreSQL row upserts and deletes
(`INSERT … ON CONFLICT (pmid) DO UPDATE` at reference pubmed.py:540-543,
`DELETE … WHERE pmid=…` at pubmed.py:534-538). On a lakehouse the same
contract is Delta/Iceberg `MERGE INTO`; this container has no Delta jars,
so ``merge_upsert`` implements the identical row-level semantics as a
pure DataFrame transform, and ``ParquetTable`` gives it transactional-ish
table storage (write-new-then-swap, last-committed pointer).

Semantics preserved (SURVEY §7 hard part 1):
- batch-internal dedupe is keep-LAST (reference reverses the batch and
  keeps first occurrence, pubmed.py:492-504) — the caller resolves the
  batch to one row per key first (``streaming/pipeline.latest_events``);
- deletes apply FIRST, then upserts (pubmed.py:534-543 ordering), so a
  pmid that is both deleted and re-inserted in one batch survives.

Scale: MERGE here is one left_anti (old rows whose key is replaced) +
union. Both shuffle on the key — at 100 TB target tables are bucketed by
the key so the anti-join co-locates; with Delta the same plan runs as a
file-pruned MERGE. The swap keeps history dirs for time-travel-ish
debugging and idempotent replay.

``ParquetTable.append`` is the insert-only commit (keys known to be new,
audit rows): the new version is hard links to the current version's
data files plus files holding only the new rows, so an append writes
the new rows, never re-reads or rewrites the old ones, and versions
share the untouched files. Every version is still one complete parquet
directory, readable on its own by any parquet reader; deleting an old
version only drops its links.

Reading a version starts no Spark job. A plain ``spark.read.parquet``
of a directory runs a job to read one file's footer and infer the
schema. Every data file Spark writes carries its own schema string in
its footer, under ``org.apache.spark.sql.parquet.row.metadata``, and
that string is what the inference reads. ``_read_dir`` reads it from
one data file with pyarrow on the driver and hands it to
``spark.read.schema``. All files of a version share one schema:
``overwrite`` writes them in one write, and ``append`` checks the new
rows against it. A directory with no such footer falls back to the
plain read."""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# written into a version dir once the pointer has been flipped to it
_COMMITTED = "_COMMITTED"
# the footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def merge_upsert(
    target: DataFrame,
    batch: DataFrame,
    key: str,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """MERGE: delete keys removed, matched keys updated, new keys
    inserted. ``deletes`` is a one-column (key) DataFrame. Returns the
    new table contents; caller persists (ParquetTable.overwrite or a
    real MERGE INTO on Delta)."""
    if deletes is not None:
        # deletes hit the target only; a key deleted AND re-upserted in the
        # same batch survives (deletes-first ordering, pubmed.py:534-543)
        target = target.join(F.broadcast(deletes), key, "left_anti")
    kept = target.join(batch.select(key).distinct(), key, "left_anti")
    return kept.unionByName(batch)


class ParquetTable:
    """Minimal transactional keyed table: versioned parquet dirs + a
    `_current` pointer file. Readers always see a fully-written version;
    writers (``overwrite``, ``merge``, ``append``, ``compact``) fill a
    new dir then flip the pointer (atomic rename of a tmp pointer).
    Stands in for Delta in this environment.

    ``gc_min_age_s`` is the concurrent-reader grace period: a version
    directory is only eligible for GC once it is BOTH beyond the keep
    horizon and older than the grace period, so a long-running reader
    that resolved the pointer just before a burst of writes doesn't have
    its files deleted mid-scan (Delta's deletedFileRetentionDuration
    plays the same role)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema=None,
        gc_min_age_s: float = 600.0,
    ):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.gc_min_age_s = gc_min_age_s
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_current")

    def current_version(self) -> str | None:
        try:
            with open(self._pointer) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def read(self) -> DataFrame:
        v = self.current_version()
        if v is None:
            if self.schema is None:
                raise ValueError(f"empty table {self.path} and no schema")
            return self.spark.createDataFrame([], self.schema)
        return self._read_dir(os.path.join(self.path, v))

    def _read_dir(self, d: str) -> DataFrame:
        """Read one version dir with the schema Spark wrote into a data
        file's footer, so no job infers it (see the module docstring)."""
        for name in sorted(os.listdir(d)):
            # data files only: no _SUCCESS, _COMMITTED or .crc
            if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                continue
            meta = pq.read_metadata(os.path.join(d, name)).metadata or {}
            if _SPARK_SCHEMA_KEY in meta:
                schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
                return self.spark.read.schema(schema).parquet(d)
        return self.spark.read.parquet(d)

    @staticmethod
    def _vnum(d: str) -> int | None:
        """Numeric id of a version dir name, or None for non-version dirs."""
        if not d.startswith("v"):
            return None
        try:
            return int(d[1:])
        except ValueError:
            return None

    def _all_version_dirs(self) -> list[tuple[int, str]]:
        out = []
        for d in os.listdir(self.path):
            n = self._vnum(d)
            if n is not None and os.path.isdir(os.path.join(self.path, d)):
                out.append((n, d))
        return sorted(out)

    def _commit(self, write) -> None:
        """Claim the next version dir, let ``write(dir)`` fill it, then
        flip the pointer to it. The one commit path of every writer."""
        # Version ids are a monotonic counter seeded from the existing
        # dirs (never wall-clock: two overwrites in the same millisecond
        # must not reuse an id and silently clobber a committed
        # snapshot). max()+1 also sorts after any legacy ms-style id.
        # The id is CLAIMED by mkdir(exist_ok=False) — atomic at the
        # filesystem — so two concurrent writer processes that list the
        # same dirs cannot both write into the same version and silently
        # lose one update; the loser advances to the next id. Writers
        # fill the claimed dir in append mode, so the claim is never
        # released mid-write.
        dirs = self._all_version_dirs()
        n = (dirs[-1][0] + 1) if dirs else 1
        while True:
            v = f"v{n}"
            out = os.path.join(self.path, v)
            try:
                os.mkdir(out)
                break
            except FileExistsError:
                n += 1
        write(out)
        self._flip(v)
        self._gc(keep=3)
        # Version bump = cache lifecycle boundary: unpersist/evict every
        # per-corpus sidecar (shingle postings, IVF centroids, cached
        # plans, table cache) keyed by this table's path or its corpus
        # dir, so a long-lived engine doesn't serve stale pinned plans.
        from trialstreamer_spark.util import evict_caches

        evict_caches(self.path)

    def _flip(self, version: str) -> None:
        """Point readers at ``version``, then mark it committed (the
        marker ``versions()`` keys on; a crash between the two leaves the
        version current, which counts as committed on its own)."""
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, self._pointer)
        open(os.path.join(self.path, version, _COMMITTED), "w").close()

    def overwrite(self, df: DataFrame) -> None:
        self._commit(lambda out: df.write.mode("append").parquet(out))

    def append(self, df: DataFrame) -> None:
        """Commit the current rows plus ``df``'s without rewriting the
        current rows. ``df`` must have the table's columns and types (in
        any order); the caller guarantees its keys are new, as nothing
        here dedupes. The new version hard-links the current version's
        data files (and their checksums) and writes only ``df``; the
        links and the write both finish before the pointer flips."""
        cur = self.current_version()
        if cur is None:
            self.overwrite(df)
            return
        src = os.path.join(self.path, cur)
        want = self._read_dir(src).schema

        def types(schema) -> dict:
            return {f.name: f.dataType.simpleString() for f in schema}

        if types(df.schema) != types(want):
            raise ValueError(
                f"append to {self.path}: rows {types(df.schema)} do not match "
                f"the table's {types(want)}"
            )
        df = df.select(*want.names)

        def write(out: str) -> None:
            for name in os.listdir(src):
                # data files and their .crc; no _SUCCESS, _COMMITTED
                if not name.lstrip(".").startswith("_"):
                    os.link(os.path.join(src, name), os.path.join(out, name))
            df.write.mode("append").parquet(out)

        self._commit(write)

    def merge(
        self, batch: DataFrame, key: str, deletes: DataFrame | None = None
    ) -> None:
        if self.current_version() is None:
            base = (
                self.spark.createDataFrame([], batch.schema)
                if self.schema is None
                else self.spark.createDataFrame([], self.schema)
            )
        else:
            base = self.read()
        self.overwrite(merge_upsert(base, batch, key, deletes))

    def versions(self) -> list[str]:
        """All retained COMMITTED version ids, oldest first — the
        time-travel surface. Retention = the `_gc(keep=3)` horizon plus
        the concurrent-reader grace period.

        Committed means the pointer was flipped to it: the current
        version, and every version ``_flip`` marked. A dir without the
        mark is residue from a crashed commit whose pointer flip never
        happened — or a concurrent writer's claimed, unfinished dir —
        and must not be readable via time travel nor consume a
        retention slot. That holds below the pointer too: a crashed
        commit's dir, complete but never flipped, stays uncommitted after
        a later commit claims the next id."""
        cur = self.current_version()
        if cur is None:
            return []
        cur_n = self._vnum(cur)
        if cur_n is None:
            # a pointer naming something that isn't a version dir means
            # external corruption — fail loudly, not with a TypeError
            # three frames deeper
            raise ValueError(
                f"corrupt _current pointer {cur!r} in {self.path}: "
                "not a version dir name"
            )
        return [
            d
            for n, d in self._all_version_dirs()
            if n <= cur_n
            and (d == cur or os.path.exists(os.path.join(self.path, d, _COMMITTED)))
        ]

    def read_version(self, version: str) -> DataFrame:
        """Time travel: read a specific retained version (Delta's
        `versionAsOf`). The training-data use case: a model card pins the
        corpus version it trained on; as long as the version is within
        the retention horizon the exact snapshot is reproducible —
        version dirs are immutable once the pointer moves past them."""
        if version not in self.versions():
            raise ValueError(
                f"version {version!r} not retained (have {self.versions()})"
            )
        return self._read_dir(os.path.join(self.path, version))

    def diff(self, from_version: str, to_version: str, key: str) -> DataFrame:
        """Snapshot diff between two retained versions (Delta CDF /
        `table_changes` analog): one row per key that was added, removed,
        or changed, with a `change` column in {'insert','delete','update'}.
        The audit surface for incremental corpus builds — "what did
        yesterday's merge actually do" — and the input to downstream
        incremental re-processing (re-embed only changed docs).

        Plan shape: a single full-outer join on the key plus one
        hash-compare of the non-key columns; both sides shuffle on the
        key (co-located for free when the table is bucketed by it). The
        change predicate uses md5 over all non-key columns so the diff
        needs no per-column schema knowledge."""
        old, new = self.read_version(from_version), self.read_version(to_version)
        if set(old.columns) != set(new.columns):
            raise ValueError(
                "diff requires both versions to share a column set; "
                f"old-only={sorted(set(old.columns) - set(new.columns))}, "
                f"new-only={sorted(set(new.columns) - set(old.columns))}"
            )
        cols = sorted(c for c in new.columns if c != key)

        def fp(df: DataFrame) -> Column:
            # to_json over a struct is boundary- and NULL-safe: fields are
            # delimited/quoted by the JSON encoding (no separator-shift
            # collisions) and a NULL field is omitted entirely, which no
            # in-band sentinel value can collide with.
            return F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))

        o = old.select(key, fp(old).alias("__old_fp"))
        n = new.select(key, fp(new).alias("__new_fp"))
        joined = o.join(n, key, "full_outer")
        return joined.select(
            key,
            F.when(F.col("__old_fp").isNull(), F.lit("insert"))
            .when(F.col("__new_fp").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change"),
        ).where(
            F.col("__old_fp").isNull()
            | F.col("__new_fp").isNull()
            | (F.col("__old_fp") != F.col("__new_fp"))
        )

    def compact(self, target_files: int = 1) -> None:
        """Small-file compaction (the Delta OPTIMIZE analog): rewrite the
        current version into ``target_files`` files and flip the pointer.
        Every MERGE writes one file per shuffle partition, so daily
        incremental merges accumulate small files that erode scan
        throughput at 100 TB (footer reads + task-launch overhead
        dominate); periodic compaction bounds the file count. coalesce,
        not repartition — a narrow rewrite with no shuffle. No-op on an
        empty table."""
        if self.current_version() is None:
            return
        self.overwrite(self.read().coalesce(target_files))

    def _gc(self, keep: int) -> None:
        # Eligible for removal: committed versions beyond the keep
        # horizon, plus uncommitted residue dirs (crashed commits, on
        # either side of the pointer) — residue must not consume a keep
        # slot.
        committed = self.versions()
        doomed = [d for d in committed[:-keep]] + [
            d for _, d in self._all_version_dirs() if d not in committed
        ]
        now = time.time()
        for d in doomed:
            full = os.path.join(self.path, d)
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue
            if age < self.gc_min_age_s:
                continue  # concurrent-reader grace: too young to delete
            shutil.rmtree(full, ignore_errors=True)
