"""The one way this repository starts a local Spark session.

Every entry point (the CLI, ``bench.py``, the test fixture and the
tools) calls :func:`local_session`, so the keys they all need are set
in one place and a site passes only what it alone needs (shuffle
partitions, driver memory, a cleaner interval).
"""

from __future__ import annotations

import os

#: keys every session shares
SHARED_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # plan DEBUG strings default to a ~2 GB cap; deep self-joining
    # lineages (dedup star-contraction) can OOM the driver just
    # PRINTING a plan. 1 MB keeps every diagnostic readable.
    "spark.sql.maxPlanStringLength": "1048576",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def session_cpus(cpus: int | None = None) -> int:
    """Cores for a local session: *cpus*, else ``$SPARK_GRAFT_CPUS``,
    else every core this process may run on."""
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS") or "*"
        cpus = len(os.sched_getaffinity(0)) if env == "*" else int(env)
    return cpus


def local_session(app: str, cpus: int | None = None, conf: dict | None = None):
    """``local[n]`` session named *app* with :data:`SHARED_CONF` plus
    *conf* (which wins on a shared key), log level ERROR.

    An already running session is returned as is, apart from the
    runtime SQL keys, which Spark applies to it."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{session_cpus(cpus)}]").appName(app)
    for k, v in {**SHARED_CONF, **(conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
