"""The query API layer (``api.engine``) over a seeded trialstreamer
warehouse, run by ``daily_update``'s traced run after its days.

Inputs: ``fixtures.generate`` tables for N_PUBMED articles. Set-up:
each table is committed as a ``ParquetTable`` version and the postings
index is built with ``engine.prepare_postings``, then one call of each
kind warms the JVM. Then one block of 20 calls, the stratified mix in a
seeded order: 60% ``picosearch`` (1-2 ontology-expanded terms, score or
year order), 20% ``autocomplete``, 10% ``get_trial``, 5% ``meta``, 5%
``covid19``. Every call is collected. A seeded half of the calls is
checked against DuckDB SQL over the same parquet files.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow.parquet as pq

from perfbench.common import Op, Recorder, run_op

N_PUBMED = 10_000
# One block is 20 calls in fixed proportions: picosearch with 1 and 2
# terms in score and year order (3 each), autocomplete with short (<3
# chars, prefix order) and long (ranked) queries, get_trial by pmid and by
# registry id or preprint doi, meta, covid19. Only the terms, prefixes and
# ids are drawn from the seed, so the mix never shifts the median.
BLOCK = (
    [("picosearch", (n, order)) for n in (1, 2) for order in ("score", "year")] * 3
    + [("autocomplete", short) for short in (True, False)] * 2
    + [("get_trial", "pmid"), ("get_trial", "other"), ("meta", None), ("covid19", None)]
)
CHECK_SHARE = 0.5
FIELDS = ("population", "interventions", "outcomes")
# the tables the five calls read; the other fixture tables are not committed
TABLES = ("pubmed", "pubmed_annotations", "ictrp", "medrxiv_covid19",
          "update_log", "cui_closure", "autocomplete_suggestions")


def make_inputs(out_dir: str, seed: int) -> None:
    from fixtures.generate import generate

    generate(out_dir, n_pubmed=N_PUBMED, seed=seed)


def _column(path: str, col: str) -> list:
    return pq.read_table(path, columns=[col]).column(col).to_pylist()


class ApiCalls:
    """One block of API calls over a fixture warehouse of its own. It
    records on a recorder of its own, so its calls never mix with the
    caller's latency samples; its failures are the caller's to count."""

    def __init__(self, dirs, seed: int):
        self.seed = seed
        self.rec = Recorder()
        self.inputs = dirs.path("inputs", "fixtures")
        self.warehouse = dirs.path("api-warehouse")
        self.sampled: list = []  # (kind, args, rows) checked after the calls
        self.paths: dict[str, int] = {"scan": 0, "postings": 0}
        self.split: dict[str, list] = {}

    def run(self, spark, seq0: int) -> None:
        """Generate, commit, index, warm, then send one block of calls."""
        make_inputs(self.inputs, self.seed)
        self._read_inputs()
        self.setup(spark)
        rng = random.Random(self.seed)
        slots = list(BLOCK)
        rng.shuffle(slots)
        self.seqs = {str(seq0 - i) for i in range(len(slots))}
        for i, (kind, slot) in enumerate(slots):
            run_op(spark, self.rec, self._op(kind, slot, rng), seq0 - i)
        self.check()

    def _read_inputs(self) -> None:
        src = lambda t: os.path.join(self.inputs, f"{t}.parquet")  # noqa: E731
        closure = pq.read_table(src("cui_closure")).to_pylist()
        self.cuis = sorted({r["ancestor_cui"] for r in closure})
        self.closure = closure
        self.prefixes = sorted({s.lower() for s in _column(src("autocomplete_suggestions"), "cui_str")})
        self.pmids = _column(src("pubmed"), "pmid")
        self.regids = _column(src("ictrp"), "regid")
        self.dois = _column(src("medrxiv_covid19"), "doi")

    # -- calls ---------------------------------------------------------------

    def _call(self, kind: str, args: dict):
        from trialstreamer_spark.api import engine

        def fn():
            t0 = time.perf_counter()
            if kind == "picosearch":
                df = engine.picosearch(self.tables, args["terms"], args["order"])
            elif kind == "autocomplete":
                df = engine.autocomplete(self.tables, args["q"])
            elif kind == "get_trial":
                df = engine.get_trial(self.tables, args["uuid"])
            else:
                df = getattr(engine, kind)(self.tables)
            t1 = time.perf_counter()
            rows = [r.asDict() for r in df.collect()]
            t2 = time.perf_counter()
            self.split.setdefault(kind, []).append((t1 - t0, t2 - t1))
            return rows

        return fn

    def _args(self, kind: str, slot, rng: random.Random) -> dict:
        if kind == "picosearch":
            n_terms, order = slot
            terms = [
                {"field": rng.choice(FIELDS), "cui": rng.choice(self.cuis)}
                for _ in range(n_terms)
            ]
            return {"terms": terms, "order": order}
        if kind == "autocomplete":
            word = rng.choice(self.prefixes)
            n = rng.randint(1, 2) if slot else rng.randint(3, max(3, min(6, len(word))))
            return {"q": word[:n]}
        if kind == "get_trial":
            if slot == "pmid":
                return {"uuid": rng.choice(self.pmids)}
            if rng.random() < 0.7:
                return {"uuid": rng.choice(self.regids)}
            return {"uuid": rng.choice(self.dois).replace("/", "-")}
        return {}

    def _op(self, kind: str, slot, rng: random.Random) -> Op:
        args = self._args(kind, slot, rng)
        if kind == "picosearch":
            self.paths[self.path] += 1
        op = Op(kind, self._call(kind, args), label=kind)
        if rng.random() < CHECK_SHARE:
            def keep(rows, kind=kind, args=args):
                self.sampled.append((kind, args, rows))
            op.check = keep
        return op

    # -- phases --------------------------------------------------------------

    def setup(self, spark) -> None:
        from trialstreamer_spark.api import engine
        from trialstreamer_spark.operators.upsert import ParquetTable

        rec = self.rec
        with rec.timed("api.commit_s"):
            for table in TABLES:
                ParquetTable(spark, os.path.join(self.warehouse, table)).overwrite(
                    spark.read.parquet(os.path.join(self.inputs, f"{table}.parquet"))
                )
        self.tables = engine.Tables(spark, self.warehouse)
        with rec.timed("api.prepare_postings_s"):
            engine.prepare_postings(self.tables)
        self.path = engine.choose_search_path(self.tables)
        warm = Recorder()
        rng = random.Random(self.seed ^ 0x5EED)
        with rec.timed("api.warm_s"):
            for i, (kind, slot) in enumerate(dict(BLOCK).items()):
                run_op(spark, warm, self._op(kind, slot, rng), -1 - i)
        rec.attempted += warm.attempted
        rec.failed += warm.failed
        rec.errors += warm.errors
        self.split.clear()
        self.paths = {"scan": 0, "postings": 0}

    def check(self) -> None:
        from perfbench.pico_oracle import Oracle

        oracle = Oracle(self.inputs, self.closure)
        try:
            for kind, args, rows in self.sampled:
                err = oracle.compare(kind, args, rows)
                if err:
                    self.rec.fail(f"{kind} {args}", err)
        finally:
            oracle.close()
        self.checked = len(self.sampled)

    def report(self, per_group: dict) -> dict:
        """Layer figures; ``per_group`` gives each call's Spark jobs."""
        import statistics

        out = dict(self.rec.timers)
        out["api.path_scan"] = self.paths["scan"]
        out["api.path_postings"] = self.paths["postings"]
        plans = [p for v in self.split.values() for p, _ in v]
        execs = [e for v in self.split.values() for _, e in v]
        if plans:
            out["api.plan_s"] = statistics.median(plans)
            out["api.execute_s"] = statistics.median(execs)
        by_kind: dict[str, list] = {}
        for kind, _label, dt in self.rec.latencies:
            by_kind.setdefault(kind, []).append(dt)
        for kind, xs in sorted(by_kind.items()):
            out[f"api.{kind}_p50_ms"] = statistics.median(xs) * 1000
        lat = [dt for _k, _l, dt in self.rec.latencies]
        out["api.call_p50_ms"] = statistics.median(lat) * 1000 if lat else 0.0
        jobs = sum(g["jobs"] for group, g in per_group.items()
                   if group.startswith("op:") and group.split(":")[-1] in self.seqs)
        out["api.jobs_per_call"] = jobs / len(lat) if lat else 0.0
        out["api.checked_calls"] = getattr(self, "checked", 0)
        return out
