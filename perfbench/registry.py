"""Workload ``registry``: the registered analytics queries on a seeded
corpus, after the prepare hooks of their modules.

The corpus is ``tools/gen_scale.py``'s generator at sf0.001 with the
run's seed. Every module that registers queries is a family; from each
family the run takes the ceil(n / SAMPLE) queries whose names hash
lowest, so membership of a query never depends on which other queries
exist. Prepare hooks (``warm_cache`` and ``prepare_*(spark, sf_dir)``)
are discovered by signature, never listed.

Untraced and traced runs share the measured part. Set-up (on the clock)
runs the hooks of ``io`` and of LOOP_FAMILIES, then WARM_PASSES warm-up
passes; the closed loop then runs whole passes over those families'
sampled queries in a seeded order. The other families are left out of the
measured part because their hooks alone take about a minute per run.

The traced run then covers every other family after the loop: it runs
each remaining hook (timed as ``prepare.<hook>_s``), then the sampled
queries of each remaining family twice, timing the second pass. So every
hook and every family is measured on every traced run.

Each query is triggered with ``.count()`` and checked against the row
count of its DuckDB oracle over the same parquet files.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import importlib
import inspect
import math
import os
import random
import statistics
import sys
from collections import defaultdict

from perfbench.common import Op, Recorder, run_op, tree_bytes

LOOP_FAMILIES = (
    "plans.relational",
    "operators.textstats",
    "operators.multimodal",
    "operators.packing",
)
SAMPLE = 12
# after one warm-up pass the next still ran about a third slower than the
# rest (JIT), and its 11 samples alone made up op_tail_ms
WARM_PASSES = 2
CORPUS_MULT = 0.01  # sf0.1's row counts x 0.01: an sf0.001-sized corpus
PKG = "trialstreamer_spark"


def sample_queries(queries: dict) -> dict[str, list[str]]:
    """family (module under the package) -> chosen query names (sorted),
    for every module that registers a query."""
    by_family: dict[str, list[str]] = defaultdict(list)
    for name, fn in queries.items():
        by_family[fn.__module__.removeprefix(PKG + ".")].append(name)
    missing = [f for f in LOOP_FAMILIES if f not in by_family]
    if missing:
        raise RuntimeError(f"registry families with no queries: {missing}")

    def h(name: str) -> str:
        return hashlib.md5(name.encode()).hexdigest()

    return {
        fam: sorted(sorted(names, key=h)[: math.ceil(len(names) / SAMPLE)])
        for fam, names in sorted(by_family.items())
    }


def discover_hooks(modules) -> list:
    """``warm_cache`` and every ``prepare_*(spark, sf_dir, ...)`` defined
    in each module, in module order then source order."""
    hooks = []
    for mod in modules:
        found = []
        for name, fn in vars(mod).items():
            if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            if name != "warm_cache" and not name.startswith("prepare_"):
                continue
            params = list(inspect.signature(fn).parameters.values())
            if [p.name for p in params[:2]] != ["spark", "sf_dir"]:
                continue
            if any(p.default is inspect.Parameter.empty for p in params[2:]):
                continue
            found.append(fn)
        hooks += sorted(found, key=lambda f: f.__code__.co_firstlineno)
    return hooks


def make_inputs(corpus_dir: str, seed: int, names: list[str]) -> dict[str, int]:
    """Write the corpus and return each query's oracle row count."""
    import duckdb

    from tools.gen_scale import generate
    from trialstreamer_spark.plans.all_queries import ORACLES

    with contextlib.redirect_stdout(sys.stderr):  # it prints row counts
        generate(corpus_dir, CORPUS_MULT, seed)
    con = duckdb.connect()
    for path in glob.glob(os.path.join(corpus_dir, "*.parquet")):
        table = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    counts = {}
    for name in names:
        sql = ORACLES[name].strip().rstrip(";")
        counts[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    con.close()
    return counts


def _module(fam: str):
    return importlib.import_module(f"{PKG}.{fam}")


class Registry:
    name = "registry"
    block_seconds = 2.5  # one pass takes 2-3 s on a 4-core box: eight at --seconds 20

    def __init__(self, dirs, seed: int, rec: Recorder, trace: bool):
        from trialstreamer_spark.plans.all_queries import ORACLES, QUERIES

        self.dirs, self.seed, self.rec, self.trace = dirs, seed, rec, trace
        self.queries = QUERIES
        self.families = sample_queries(QUERIES)
        self.names = sorted(n for f in LOOP_FAMILIES for n in self.families[f])
        self.covered = [f for f in self.families if f not in LOOP_FAMILIES]
        checked = self.names + (
            [n for f in self.covered for n in self.families[f]] if trace else []
        )
        unchecked = [n for n in checked if n not in ORACLES]
        if unchecked:
            raise RuntimeError(f"queries without an oracle: {unchecked}")
        self.checked = checked
        self.corpus_dir = dirs.path("inputs", "corpus")
        self.expected: dict[str, int] = {}
        self.cover_latency: dict[str, float] = {}

    def input_job(self):
        return make_inputs, (self.corpus_dir, self.seed, self.checked)

    def set_inputs(self, expected: dict[str, int]) -> None:
        self.expected = expected

    def _op(self, name: str, kind: str = "query") -> Op:
        fn = self.queries[name]
        want = self.expected[name]

        def check(n):
            return None if n == want else f"{n} rows, oracle {want}"

        return Op(kind, lambda: fn(self.spark, self.corpus_dir).count(), check, name)

    def _run_hooks(self, hooks) -> None:
        rec = self.rec
        for hook in hooks:
            rec.attempted += 1
            with rec.timed(f"prepare.{hook.__name__}_s"):
                try:
                    hook(self.spark, self.corpus_dir)
                except Exception as exc:  # noqa: BLE001 - counted, not hidden
                    rec.fail(f"prepare {hook.__name__}", repr(exc)[:300])

    def _pass(self, names, kind: str, seq0: int) -> Recorder:
        """One pass over ``names`` on a side recorder whose failures
        count in the run's totals and whose latencies do not."""
        side = Recorder()
        for i, name in enumerate(names):
            run_op(self.spark, side, self._op(name, kind), seq0 - i)
        self.rec.attempted += side.attempted
        self.rec.failed += side.failed
        self.rec.errors += side.errors
        return side

    def setup(self, spark) -> None:
        self.spark = spark
        modules = [_module("io")] + [_module(f) for f in LOOP_FAMILIES]
        self.hooks = discover_hooks(modules)
        with self.rec.timed("setup.work_s"):
            self._run_hooks(self.hooks)
        with self.rec.timed("setup.warm_s"):
            for i in range(WARM_PASSES):
                self._pass(self.names, "warm", -1 - 100 * i)

    def blocks(self):
        rng = random.Random(self.seed)
        while True:
            order = list(self.names)
            rng.shuffle(order)
            yield [self._op(n) for n in order]

    def finish(self) -> None:
        """Traced run only: the hooks and sampled queries of every family
        the closed loop leaves out."""
        if not self.trace:
            return
        done = set(self.hooks)
        hooks = [h for h in discover_hooks([_module(f) for f in self.covered])
                 if h not in done]
        self.hooks += hooks
        self._run_hooks(hooks)
        names = [n for f in self.covered for n in self.families[f]]
        self._pass(names, "cover_warm", -1000)
        for _kind, label, dt in self._pass(names, "cover", -2000).latencies:
            self.cover_latency[label] = dt

    def written_and_input(self) -> tuple[int, int]:
        written = sum(
            tree_bytes(self.dirs.path(d))
            for d in ("sidecars", "buckets", "sql-warehouse")
        )
        return written, tree_bytes(self.corpus_dir)

    def counts(self) -> dict:
        return {}

    def report(self, per_group: dict) -> dict:
        """Per-hook and per-family figures. A family's time sums its
        sampled queries' median latency, and its jobs their median job
        count, from the closed loop or, for covered families, from the
        timed cover pass."""
        rec = self.rec
        out = {f"prepare.{h.__name__}_s": rec.timers[f"prepare.{h.__name__}_s"]
               for h in self.hooks}
        out["sidecars.bytes"] = tree_bytes(self.dirs.path("sidecars"))
        out["buckets.bytes"] = tree_bytes(self.dirs.path("buckets"))
        latency: dict[str, list] = defaultdict(list)
        for _kind, label, dt in rec.latencies:
            latency[label].append(dt)
        for label, dt in self.cover_latency.items():
            latency[label].append(dt)
        jobs: dict[str, list] = defaultdict(list)
        for group, g in per_group.items():
            parts = group.split(":")
            if len(parts) == 4 and parts[0] == "op" and parts[1] in ("query", "cover"):
                jobs[parts[2]].append(g["jobs"])
        for fam, names in self.families.items():
            short = fam.rsplit(".", 1)[1]
            out[f"family.{short}_s"] = sum(
                statistics.median(latency[n]) for n in names if latency[n]
            )
            out[f"family.{short}_jobs"] = sum(
                statistics.median(jobs[n]) for n in names if jobs[n]
            )
        out["prepare.hooks_s"] = sum(
            v for k, v in out.items() if k.startswith("prepare."))
        out["family.queries_s"] = sum(
            v for k, v in out.items() if k.startswith("family.") and k.endswith("_s"))
        out["family.jobs"] = sum(
            v for k, v in out.items() if k.startswith("family.") and k.endswith("_jobs"))
        return out
