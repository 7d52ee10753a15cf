"""Ship this package's source to Python workers.

Queries whose pandas UDFs reference module-level helpers (Schwartz-
Hearst, the concept matcher's lexicon machinery, annotators) pickle
those helpers BY REFERENCE: the worker must be able to import
``trialstreamer_spark``. Under the driver harness — or any cluster —
the workers' PYTHONPATH does not include this repo, so we ship the
package the standard way: zip the source once per process and
``SparkContext.addPyFile`` it (the programmatic ``--py-files``).

Two callers cover every session: ``session.get_spark`` ships to each
session this package creates, and the query registry
(``plans.registry.query``) ships before each registered query builds,
for sessions handed in from outside (the driver contract's own
session never passes through ``get_spark``).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

_SHIPPED: set[str] = set()


def ship_package(spark) -> None:
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED:
        return
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"trialstreamer_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_root):
                for fn in filenames:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "trialstreamer_spark", os.path.relpath(full, pkg_root)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    _SHIPPED.add(app)
