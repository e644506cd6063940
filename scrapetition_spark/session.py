"""SparkSession bootstrap tuned for the crawl/analytics workload.

Maps the reference's connect+DDL step (app/Main.hs:207-217,
Setup.hs:16-24) onto SparkSession construction + catalog bootstrap.

Scale rationale (100 TB / 1000 executors):
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting for hot-host joins, dynamic broadcast conversion.
- Arrow on: every pandas UDF (multimodal decode, export, streaming
  state) crosses the JVM/Python boundary in columnar batches, and
  ``local_df`` hands driver rows to the JVM as one Arrow batch.
- shuffle.partitions is a local default; on a real cluster it is
  set per-job to ~2-3x total cores (or left to AQE's coalescing
  with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "scrapetition-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else *).

    Generated-code cache: 1024 entries. Whole-stage codegen compiles
    each plan's Java source with Janino and keeps the class in a
    JVM-wide LRU cache keyed by that source
    (``spark.sql.codegen.cache.maxEntries``, a static conf; Spark's
    default is 100). Working sets, as distinct classes compiled by a
    cold run with an unbounded cache (``CodegenMetrics
    .METRIC_COMPILATION_TIME`` count deltas, local[4], 4-core VM):

    - one pass over the six perfbench corpus queries, sf0.001: 135;
    - one 128-URL perfbench crawl epoch: 228 cold, 68 more on the
      first warm epoch, then 13 per epoch (about 296 in all);
    - one sweep over all of ``__spark_entry__.queries()``, sf0.001:
      2425, and 434 new ones on a second sweep.

    Repeated work walks its classes in a cycle, and an LRU smaller than
    the cycle misses on every access. At 100 entries a repeated query
    pass recompiled 126 classes and every warm crawl epoch about 283,
    and the JIT warmed each new class up from scratch. At 1024, 3.5x
    the largest repeated working set, a repeated pass compiles 0 and a
    warm epoch 13: the classes whose source inlines a per-epoch
    literal. The whole-suite sweep is a one-off correctness run, not a
    loop, so the cache is not sized to hold it. The cap also bounds
    memory: an evicted class's source leaves the heap and its class
    can unload from metaspace.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    # Sandbox/local-mode: avoid reverse-DNS stalls on task scheduling.
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.locality.wait", "0")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Catalog commits bin-pack to few files (catalog.py); smaller
        # parquet row groups keep those files splittable so later
        # scans still fan out across all cores (Spark splits parquet
        # at row-group boundaries).
        .config("spark.hadoop.parquet.block.size", str(16 * 1024 * 1024))
        # zstd made the device-bound sinks slower, not faster
        # (BENCH/BASELINE.md addendum 6).
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    # Device-isolation probe knob (BENCH/BASELINE.md): point shuffle /
    # block-manager spill at a different device (e.g. /dev/shm) to
    # separate "plan doesn't scale" from "one shared disk saturates".
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # JVM-flag probe knob (e.g. "-Xms32g -XX:+AlwaysPreTouch" to pin
    # the heap: under a syscall-intercepting sandbox, G1's on-demand
    # region commit/uncommit serializes 32 allocation-heavy threads
    # on memory-management syscalls — a single-JVM artifact a real
    # per-executor deployment never sees).
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, schema):
    """Driver-local rows as a DataFrame over a JVM ``LocalRelation``.

    The rows cross to the JVM as one Arrow batch; Spark keeps a batch
    under ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB
    by default) as a local relation, so every job over the frame scans
    rows held in the plan: no Python RDD under it (a Python RDD starts
    Python workers whenever a job reads it) and no per-call literal in
    generated code (which would recompile every epoch). ``schema`` is
    a ``StructType`` or a DDL string; ``rows`` are tuples in schema
    order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
