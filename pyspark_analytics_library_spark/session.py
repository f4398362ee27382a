"""SparkSession construction helpers.

The driver supplies its own SparkSession to ``__spark_entry__``; this
builder is for tests and ``bench.py``.  Scale posture: these configs are
the local[N] analogue of a production cluster submit — shuffle
partitions sized to cores (would be ~2-3× total executor cores on a
real cluster), AQE on for runtime re-planning/skew handling, Arrow on
for every pandas-UDF boundary.

``spark.sql.codegen.cache.maxEntries`` is raised from Spark's 100 to
4096 so that generated classes stay compiled across calls.  The library
is many small operators used together in one session, and one pass of
all 198 declared queries at sf0.01 compiles 1,851 classes.  The default
cache of 100 evicts almost all of them before their next use: a second
pass of the seven short ``olap_mix`` queries recompiled 151 of its 157
classes.  With 4096 entries a second pass of all 198 queries compiled
12 classes (all in ``graph_pagerank_nations``) and took 118 s, against
209 s for the first pass (local[4], 4 vCPUs).  The conf is static: it takes
effect only when the session is built, so a caller that builds its own
session should set it there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pyspark-analytics-library-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
