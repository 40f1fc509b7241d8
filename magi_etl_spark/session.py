"""SparkSession factory.

The reference delegates execution to AWS Athena (reference
``connectors.py:182-253``); here Spark itself is the engine, so session
configuration is where its "cluster" posture lives.  Defaults are tuned for
correctness tests on ``local[*]`` but chosen to scale: AQE on (runtime
partition coalescing + skew-join splitting), explicit shuffle partitioning,
Arrow for any pandas interchange, UTC session timezone so calendar logic is
deterministic.

Generated-code cache: Spark compiles every whole-stage-codegen pipeline and
expression projection to a Java class through Janino and keeps the compiled
classes in an LRU cache keyed on the generated source, 100 entries by
default (``spark.sql.codegen.cache.maxEntries``).  The engine's working set
is far larger: the four iterative queries q221/q199/q179/q256 alone need
about 220 distinct classes, so with the default every warm request
recompiled all of its classes (q221 42, q199 31, q179 49, q256 88 at
sf0.01), at 20-50 ms of CPU each.  Measured by sweeping the whole
registry twice in one session at sf0.001 on a 4-core host:

==========================================  ==========  ==========  ========
setting                                     1st sweep   2nd sweep   2nd wall
==========================================  ==========  ==========  ========
Spark defaults                              5453        5409        69.1 s
8192 entries                                3875        222         56.2 s
8192 entries, no stage id in class names    3231        53          49.9 s
==========================================  ==========  ==========  ========

(classes compiled per sweep), with JVM metaspace at 197, 226 and 221 MB.
:data:`CODEGEN_CACHE_ENTRIES` holds a whole sweep with room to spare; a
caller that wants another size passes it through ``extra_conf``.

The cache key is the generated source, and by default Spark writes the
whole-stage-codegen stage id into the class name.  Under AQE the id a
pipeline gets can change from run to run, so an identical pipeline missed
the cache (q256_friedman_dow recompiled 4-8 classes on some warm runs for
that reason alone).  ``spark.sql.codegen.useIdInClassName=false`` keeps the
id in a comment only, so equal pipelines share one compiled class.  The
remaining recompiles come from plans that differ between runs: AQE picks a
broadcast side by which shuffle finishes first, and Catalyst emits some
expressions in varying order (the Expand projections of q184's three
count-distinct aggregates, operands of commutative operators in q43 and
q107).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
# about twice the classes one registry sweep compiles (module docstring)
CODEGEN_CACHE_ENTRIES = 8192
# half the physical memory, at most 24g (a fixed 24g outgrew a 15 GB host)
_RAM_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
DEFAULT_DRIVER_MEMORY = f"{min(_RAM_MB // 2, 24 * 1024)}m"


def get_spark(
    app_name: str = "magi-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a real cluster, ``master``/memory come from spark-submit and these
    builder calls are inert; locally they make ``local[N]`` behave like a
    small cluster (parallel shuffles, AQE re-planning).  Shuffle
    partitions and driver memory are deployment settings, read from
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` / ``SPARK_GRAFT_DRIVER_MEMORY``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = master or os.environ.get("SPARK_MASTER") or (f"local[{cpus}]" if cpus else "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.scheduler.mode", "FAIR")  # concurrent fan-out pools
        .config(
            "spark.scheduler.allocation.file",
            os.path.join(os.path.dirname(__file__), "fairscheduler.xml"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Python DataSources (sources/pyds.py) receive pushed filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", DEFAULT_DRIVER_MEMORY))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
