from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from trialstreamer_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("trialstreamer-spark-tests")
    yield spark


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_med() -> str:
    return SF_DIR_MED


@pytest.fixture(scope="session")
def sf01_pass(tmp_path_factory) -> dict:
    """The plan-budget pass, run once per session in a fresh process as
    ``tools/plan_budget.py`` runs it: every registered query at sf0.01,
    its warm-up rows compared with its oracle, then its plan counted.
    ``{"budget": {name: counts}, "wrong": {name: message}}``; a query in
    ``wrong`` was not counted."""
    out = tmp_path_factory.mktemp("sf01_pass") / "pass.json"
    subprocess.run(
        [
            sys.executable,
            "-c",
            "import json, sys; from tools.plan_budget import measure_budget; "
            "budget, wrong = measure_budget(); "
            "json.dump({'budget': budget, 'wrong': wrong}, open(sys.argv[1], 'w'))",
            str(out),
        ],
        cwd=ROOT,
        check=True,
        timeout=1800,
    )
    with open(out) as f:
        return json.load(f)


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory) -> str:
    """The trialstreamer warehouse of ``fixtures.generate``, written once
    per session into a directory no other run shares."""
    from fixtures.generate import generate

    path = str(tmp_path_factory.mktemp("ts_fixtures"))
    generate(path)
    return path


@pytest.fixture(scope="session")
def xml_dir(tmp_path_factory) -> str:
    """The PubMed XML baseline and update files of
    ``fixtures.pubmed_xml``, written once per session."""
    from fixtures.pubmed_xml import generate_xml_fixtures

    path = str(tmp_path_factory.mktemp("ts_xml_fixtures"))
    generate_xml_fixtures(path)
    return path


@pytest.fixture()
def sidecar_dir(monkeypatch, tmp_path):
    """An empty sidecar catalog for this test."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", str(tmp_path))
    yield str(tmp_path)


@pytest.fixture()
def bucketed_sf(spark, monkeypatch, tmp_path):
    """The sf0.001 corpus with every bucket layout prepared in a bucket
    directory of this test's own; the layouts are dropped afterwards."""
    from trialstreamer_spark import io

    monkeypatch.setenv("SPARK_GRAFT_BUCKET_DIR", str(tmp_path))
    io.prepare_buckets(spark, SF_DIR)
    yield SF_DIR
    for variant in io.BUCKET_SPECS:
        spark.sql(f"DROP TABLE IF EXISTS {io._bucket_table_name(SF_DIR, variant)}")


def write_documents(sf_dir: str, rows, source: str = "s1") -> None:
    """Write a hand-built ``documents`` table into ``sf_dir``. Each row is
    ``(doc_id, text)`` or ``(doc_id, text, source)``; lang is "en" and
    n_chars the text's length (null for null text)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(*r, source)[:3] for r in rows]
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": ["en"] * len(rows),
                "source": [r[2] for r in rows],
                "n_chars": pa.array(
                    [None if r[1] is None else len(r[1]) for r in rows],
                    pa.int64(),
                ),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )


def jobs_during(spark, fn) -> int:
    """Spark jobs submitted by any thread, the stream's included, while
    ``fn`` runs. The DAG scheduler numbers jobs in submission order, so
    this is how far its next job id moves across ``fn``. That counter is
    Spark-internal (package-private in Scala, public on the JVM); marker
    jobs around ``fn`` count the same ids but each costs a scheduler
    round trip and a Python worker task."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    fn()
    return dag.nextJobId() - first
