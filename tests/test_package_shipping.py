"""The suite tests its own checkout, and Python workers import the
package from whichever checkout the driver runs, from any working
directory."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import trialstreamer_spark
from tests.conftest import ROOT, SF_DIR

RUNS = {
    # a session this package creates, running the UDF outside any query
    "get_spark": "from trialstreamer_spark.session import get_spark\n"
    "from trialstreamer_spark.functions.text import abbreviations_udf\n"
    "spark = get_spark('ship-test')\n"
    "df = spark.createDataFrame([('heart rate (HR) rose',)], ['t'])"
    ".select(abbreviations_udf('t'))\n",
    # a session handed in from outside, as the driver contract's is,
    # running a registered query
    "external": "from pyspark.sql import SparkSession\n"
    "from trialstreamer_spark.plans.all_queries import QUERIES\n"
    "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
    f"df = QUERIES['abbrev_pairs'](spark, {SF_DIR!r})\n",
}


def test_suite_imports_its_own_checkout():
    assert os.path.abspath(trialstreamer_spark.__file__).startswith(ROOT + os.sep)


@pytest.mark.parametrize("run", sorted(RUNS))
def test_workers_import_the_package_from_any_cwd(tmp_path, run):
    """A pandas UDF defined in the package is pickled by reference, so
    the worker must import ``trialstreamer_spark``; the checkout is only
    on the driver's sys.path, never on the workers'."""
    script = (
        f"import sys\nsys.path.insert(0, {ROOT!r})\n"
        + RUNS[run]
        + "print('rows', len(df.collect()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split("rows ")[-1]) > 0
