"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB deployment and merely scaled down
for local runs:

- AQE on (runtime shuffle re-planning + skew-join splitting);
- Arrow transfer on, with ``maxRecordsPerBatch`` bounded so batches of fat
  ``content`` blobs cannot blow Python-worker memory (SURVEY.md §4.2);
- shuffle partitions sized to the local core count (on a cluster this is
  set to ~2-3× total cores via spark-submit conf, or left to AQE's
  coalescing);
- the local core count is ``SPARK_GRAFT_CPUS`` when set, otherwise the
  CPUs this process may run on (:func:`default_cores`), so a small host
  does not start more Python workers than it has cores.

Python-worker bootstrap: every Arrow UDF task runs
``importlib.invalidate_caches()`` before it starts, which on CPython < 3.13
re-reads the central directory of ``pyspark.zip`` once per cached zip
importer (about 0.3 s of CPU per task).  Importing this package installs
the lazy invalidation CPython 3.13 ships (``zipimport_lazy``), and every
worker imports the package when it unpickles a kernel, so only a worker's
first task pays that cost.  It needs no conf key and no custom
``spark.python.daemon.module``: with ``--py-files`` the package reaches a
worker's ``sys.path`` per task, after the daemon has started.
"""

from __future__ import annotations

import os
from typing import Dict, Optional

from pyspark.sql import SparkSession

ARROW_MAX_RECORDS_PER_BATCH = 256


def default_cores() -> str:
    """``SPARK_GRAFT_CPUS`` if set, else the number of usable CPUs."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "mrc-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[Dict[str, str]] = None,
) -> SparkSession:
    cpus = default_cores()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(cpus))
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
