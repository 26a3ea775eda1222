"""Python worker daemon of local sessions: ``pyspark.daemon`` from the
installed pyspark.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and py4j's source zip
first on the worker ``PYTHONPATH``. zipimport keeps no bytecode cache,
so every application's daemon compiled pyspark from source: importing
``pyspark.daemon`` and ``pyspark.worker`` took 0.71 s from the zip and
0.14 s from site-packages (4 cores, PySpark 4.1.2). This module moves
the two zips to the end of ``sys.path``, so the pyspark the driver
runs (the installed one) also serves the workers, then runs the stock
daemon. Where no pyspark is installed the zips still serve.

``session.get_spark`` names this module in ``spark.python.daemon.module``
for local masters only: the daemon runs on the driver's host, where
the installed pyspark is the driver's own. The forked workers inherit
the daemon's imports; the worker module Spark passes in ``sys.argv``
is read by ``pyspark.daemon`` as usual.
"""

from __future__ import annotations

import os
import sys


def _zips_last(path: list[str]) -> list[str]:
    """``path`` with Spark's ``pyspark*.zip`` and ``py4j*.zip`` entries
    moved to the end, in their order."""

    def spark_zip(p: str) -> bool:
        name = os.path.basename(p)
        return name.endswith(".zip") and name.startswith(("pyspark", "py4j"))

    return [p for p in path if not spark_zip(p)] + [p for p in path if spark_zip(p)]


if __name__ == "__main__":
    sys.path[:] = _zips_last(sys.path)
    from pyspark import daemon

    daemon.manager()
