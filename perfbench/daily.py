"""Workload ``daily_update``: the paper's ingest path, from landed PubMed
update files to committed, queryable tables.

Set-up (on the clock) lands a baseline of BASE_RECORDS articles in
BASE_FILES files and applies it with one ``update.update_pubmed`` call.
Each closed-loop operation is then one day: DAY_FILES files holding
about DAY_RECORDS records are moved into the landing directory by
atomic rename and applied with one ``update_pubmed`` call (stream,
MERGE, counts, audit, then incremental annotation with the stub
annotator). A day's latency runs from the first rename until the call
returns, when the tables are committed. After every day the live pmid
set, each pmid's last title and the annotated pmid set are checked
against the generator's replay model.

The traced run then also measures the query API layer, which no
benchmark workload runs on its own (see ``perfbench/pico.py``): after
the days it commits a fixture warehouse and sends one block of API
calls.
"""

from __future__ import annotations

import functools
import os
import time

import pyarrow.parquet as pq

from perfbench.common import Op, Recorder, bytes_written_since, file_sizes, tree_bytes
from perfbench.pubmed_gen import Generator, Model

BASE_RECORDS = 5_000
BASE_FILES = 4
DAY_RECORDS = 1_000
DAY_FILES = 2


def _current(table_dir: str) -> str:
    with open(os.path.join(table_dir, "_current")) as f:
        return os.path.join(table_dir, f.read().strip())


class DailyUpdate:
    name = "daily_update"
    block_seconds = 6.7  # three days, about 7 s each, at --seconds 20

    def __init__(self, dirs, seed: int, rec: Recorder, trace: bool):
        self.dirs, self.seed, self.rec, self.trace = dirs, seed, rec, trace
        self.landing = dirs.path("inputs", "landing")
        self.warehouse = dirs.path("warehouse")
        os.makedirs(self.landing)
        self.model = Model()
        self.gen = Generator(seed, dirs.path("inputs", "staging"), self.model)
        self.landed = 0
        self.written = 0
        self.day_written: list[int] = []
        self.annotated_rows = 0
        self.progress: list[dict] = []

    def input_job(self):
        return None

    def set_inputs(self, _result) -> None:
        self.baseline = self.gen.day(BASE_RECORDS, BASE_FILES, baseline=True)

    def _land(self, paths: list[str]) -> None:
        for p in paths:
            os.replace(p, os.path.join(self.landing, os.path.basename(p)))

    def _update(self) -> None:
        from trialstreamer_spark.update import update_pubmed

        update_pubmed(self.spark, self.landing, self.warehouse)

    def _check(self) -> str | None:
        raw = pq.read_table(
            _current(os.path.join(self.warehouse, "pubmed_raw")),
            columns=["pmid", "title"],
        ).to_pydict()
        got = dict(zip(raw["pmid"], raw["title"]))
        if len(got) != len(raw["pmid"]):
            return "duplicate pmids in pubmed_raw"
        if got.keys() != self.model.live.keys():
            return (f"live pmids: {len(got)} in table, "
                    f"{len(self.model.live)} in model")
        stale = sum(1 for k, t in got.items() if self.model.live[k] != t)
        if stale:
            return f"{stale} pmids carry a stale title"
        ann = pq.read_table(
            _current(os.path.join(self.warehouse, "pubmed_annotations")),
            columns=["pmid"],
        ).column("pmid").to_pylist()
        if len(ann) != len(set(ann)) or set(ann) != self.model.annotated:
            return (f"annotations: {len(ann)} rows, "
                    f"{len(self.model.annotated)} pmids in model")
        return None

    def _instrument(self, spark) -> None:
        """Traced run only: time the pipeline's steps from outside and
        listen to the stream's progress events."""
        from pyspark.sql.streaming import StreamingQueryListener

        from trialstreamer_spark.operators.upsert import ParquetTable
        from trialstreamer_spark.streaming.pipeline import PubmedPipeline

        timers = self.rec.timers

        def wrap(cls, attr, name_of):
            orig = getattr(cls, attr)

            @functools.wraps(orig)
            def timed(obj, *a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(obj, *a, **kw)
                finally:
                    timers[name_of(obj)] += time.perf_counter() - t0

            setattr(cls, attr, timed)

        wrap(PubmedPipeline, "run_stream", lambda _: "stream.run_s")
        wrap(PubmedPipeline, "_refresh_counts", lambda _: "pipeline.refresh_counts_s")
        wrap(PubmedPipeline, "_append_audit", lambda _: "pipeline.audit_s")
        wrap(PubmedPipeline, "log_run", lambda _: "pipeline.log_run_s")
        wrap(ParquetTable, "merge", lambda t: "upsert.merge_s"
             if os.path.basename(t.path) == "pubmed_raw" else "annotate.merge_s")

        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({
                    "rows": p.numInputRows,
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def setup(self, spark) -> None:
        self.spark = spark
        if self.trace:
            self._instrument(spark)
        rec = self.rec
        rec.attempted += 1
        with rec.timed("setup.work_s"):
            self._land(self.baseline)
            try:
                self._update()
            except Exception as exc:  # noqa: BLE001 - counted, not hidden
                rec.fail("baseline load", repr(exc)[:300])
                return
        self.model.end_run()
        err = self._check()
        if err:
            rec.fail("baseline load", err)
        for k in [k for k in rec.timers if not k.startswith(("setup.", "session."))]:
            del rec.timers[k]
        self.progress.clear()

    def blocks(self):
        while True:
            paths = self.gen.day(DAY_RECORDS, DAY_FILES)
            landed = sum(os.path.getsize(p) for p in paths)
            before = file_sizes(self.warehouse)

            def run(paths=paths):
                self._land(paths)
                self._update()

            def check(_out, landed=landed, before=before):
                written = bytes_written_since(before, self.warehouse)
                self.landed += landed
                self.written += written
                self.day_written.append(written)
                self.annotated_rows += self.model.end_run()
                return self._check()

            yield [Op("day", run, check, f"day{len(self.day_written)}")]

    def finish(self) -> None:
        if not self.trace:
            return
        from perfbench.pico import ApiCalls

        self.spark.streams.removeListener(self.listener)
        self.api = ApiCalls(self.dirs, self.seed)
        self.api.run(self.spark, -1000)
        self.rec.attempted += self.api.rec.attempted
        self.rec.failed += self.api.rec.failed
        self.rec.errors += self.api.rec.errors

    def written_and_input(self) -> tuple[int, int]:
        return self.written, self.landed

    def counts(self) -> dict:
        return {
            "stream.batches": len(self.progress),
            "stream.input_rows": sum(p["rows"] for p in self.progress),
            "annotate.rows": self.annotated_rows,
        }

    def report(self, per_group: dict) -> dict:
        t = self.rec.timers
        days = max(1, len(self.day_written))
        out = {k: v / days for k, v in t.items()
               if k.startswith(("stream.", "pipeline.", "upsert.", "annotate."))}
        out["stream.trigger_ms"] = sum(p["trigger_ms"] for p in self.progress) / days
        lat = sum(dt for _k, _l, dt in self.rec.latencies)
        out["annotate.s"] = (lat - t.get("stream.run_s", 0.0)
                             - t.get("pipeline.log_run_s", 0.0)) / days
        out["upsert.bytes_written"] = self.written / days
        out["upsert.table_bytes"] = tree_bytes(
            _current(os.path.join(self.warehouse, "pubmed_raw")))
        out.update(self.api.report(per_group))
        return out
