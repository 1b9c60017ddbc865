"""SparkSession factory with the engine's standard tuning.

Sandbox runs on local[N]; on a real cluster the same settings apply via
spark-submit conf. AQE is on by default (runtime skew-join splitting +
shuffle coalescing; build_index and merge_index switch it off for their
statically partitioned jobs). Arrow is on: every Python-side op in this
repo is a vectorized Arrow/pandas UDF — no per-row Python, per BASELINE
input_hint. maxRecordsPerBatch also bounds the working set of the
postings encode kernel, which sees one Arrow batch at a time.

Case mapping takes the JVM path (``spark.sql.icu.caseMappings.enabled``
false). With it on, Spark 4.1's first ``lower()`` or ``upper()`` in a JVM
runs the class initializer of ``CollationAwareUTF8String``, which calls
ICU ``UCharacter.toTitleCase`` on all 1,114,112 code points to fill one
lookup table (CHANGES.md has the allocation and timing figures), while
the other tasks of that stage wait on its class-init lock. The
analyzer's ``lower()`` (``analysis/analyzers.py``) is the first in every
build. The tokens do not change: ASCII text takes ``toLowerCaseAscii`` on
both paths, and the non-ASCII fixtures of ``tests/test_case_mapping.py``
lower alike. Builds and merges on a session made elsewhere get the same
setting from ``builder._job_scope``.

One Python worker pool serves the session. Spark keys its Python
daemons on the function's environment: SQL Python functions
(``mapInArrow``, pandas UDFs) add ``SPARK_SIMPLIFIED_TRACEBACK=1`` (from
``spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled``, on by
default), while RDD-path functions carry only ``sc.environment``.
``createDataFrame`` from a Python list runs on the RDD path, so a session
that ran both kinds kept two ``pyspark.daemon`` processes, each with its
own workers. Setting the variable as an executor environment variable
puts it in ``sc.environment``: both keys match, one daemon forks the
workers of both kinds, and RDD-path errors show the same shortened
traceback as SQL Python errors. This holds while the two environments
differ in that variable alone, apart from the secret each daemon factory
sets for itself (CHANGES.md has the ``/proc`` figures). A session made
elsewhere (``jobs/build_index_job.py``) keeps two pools.
The engine's frames of driver rows (query batches, suggest words,
streaming metrics rows, stage dictionaries) go through Arrow
(``arrow_frame``), so they start no Python task at all.

Tungsten pages are small (``spark.buffer.pageSize``, ``page_size``).
Spark's own rule sizes a page as execution memory / cores / 16, 1-64 MB:
8 MB in perfbench's 2g, 4-core session, 64 MB at the 8g default. Every
hash-aggregate task takes one page for its fast hash map, even over an
empty partition, and builds and commits run many such tasks over
driver-sized data, so those pages were mostly heap garbage that grew the
driver's committed heap (CHANGES.md has the JFR, GC-log and ``/proc``
figures). ``get_spark`` takes the smallest power of two, at least Spark's
1 MB floor, at which ``TaskMemoryManager``'s 8,192-page table covers the
whole driver heap: 1 MB up to an 8g driver, 4 MB at 24g. A task's pages
then cannot run out before its memory does, and a record larger than a
page still gets a page of its own size. A session made elsewhere
(``jobs/build_index_job.py`` under spark-submit) keeps Spark's rule,
which suits executors whose tasks hold partition-sized data.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession


def page_size(driver_memory: str) -> str:
    """``spark.buffer.pageSize`` for a driver heap of ``driver_memory`` (a
    Spark size such as ``8g``; a bare number is MiB): the smallest power of
    two, at least 1 MB, whose 8,192 pages (``TaskMemoryManager``'s page
    table) cover the heap."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", driver_memory.strip().lower())
    if m is None:
        raise ValueError(f"not a Spark memory size: {driver_memory!r}")
    mib = int(m[1]) * 1024 ** "kmgt".index(m[2] or "m") / 1024
    mb = 1
    while mb * 8192 < mib:
        mb *= 2
    return f"{mb}m"


def get_spark(app: str = "lucille-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None, **extra) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    driver_mem = extra.pop("spark.driver.memory",
                           os.environ.get("SPARK_DRIVER_MEM", "8g"))
    shuffle = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # RDD-path Python gets the variable SQL Python adds: one daemon
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # batch-throughput GC beats G1 for shuffle-heavy single-JVM runs
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # higher-ratio shuffle compression = fewer bytes through the
        # memory-bandwidth-capped path (BENCH.md) — ~12% on the build
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # a hash aggregate over a handful of rows takes one small page,
        # not execution memory / cores / 16 (docstring)
        .config("spark.buffer.pageSize", page_size(driver_mem))
    )
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()


def arrow_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in the order of the DDL
    ``schema``), sent to the JVM as one Arrow table: a local relation, with
    no pickled Python-RDD pass and no Python task to run it."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(struct.names)
    return spark.createDataFrame(
        pa.table({n: list(c) for n, c in zip(struct.names, cols)}), struct)
