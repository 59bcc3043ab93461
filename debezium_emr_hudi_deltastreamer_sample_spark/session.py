"""SparkSession factory.

Mirrors the reference's session bootstraps (/root/reference/README.md:175
``SparkSession.builder.appName(...).getOrCreate()`` and README.md:281-286,
which add KryoSerializer + convertMetastoreParquet=false for Hudi) and adds
the scale-oriented defaults the reference leaves implicit: AQE, sane shuffle
partitioning, Arrow for the pandas-UDF path, UTC session time.

Designed for a 1000-executor cluster but testable on local[N]: every config
here is cluster-safe; only ``master`` and the driver heap are local-mode
concerns. The two memory-layout confs (broadcast chunk and Tungsten page
size) are not: they size the arrays one task allocates, not the heap. A
micro-batch task holds KB of data on any heap, and the sizes stay below
what G1 treats as humongous on small heaps while a task can still
address 16 GB of pages on a large executor.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Generated-class cache size (a static conf). One CDC step — the COW
#: merges, the IVM refresh, the rollup — compiles more classes than
#: Spark's default 100-entry cache holds, so every warm step recompiled
#: them: a warm IVM refresh alone recompiled 21-29 classes with 100
#: entries and none with 2000 (CodegenMetrics).
CODEGEN_CACHE_ENTRIES = 2000

#: Chunk size of a torrent broadcast (a static conf). Spark allocates a
#: broadcast's first chunk at the full block size whatever the payload,
#: and every stage's task binary and every file scan's and write's Hadoop
#: conf is a broadcast of a few KB. At the 4 MB default each was a G1
#: humongous object (an array of half a region or more, and a region is
#: at least 1 MB). 256k is the largest power of two below half of G1's
#: smallest region, so no chunk is humongous.
BROADCAST_BLOCK_SIZE = "256k"

#: Tungsten page size in bytes (a static conf). By default Spark derives
#: it from the heap and core count: 16 MB on the benchmark's 2 GB 4-core
#: driver, 32 MB on the 6 GB test session. A sorting task allocates at
#: least one page, so each sort of a 400-row micro-batch zeroed a 16 MB
#: humongous array. The page table holds 8192 pages per task, so 2 MB
#: pages still let one task address 16 GB; 256k pages would cap it at
#: 2 GB, too little on a cluster. A page is one ``long[]``: 16 bytes less
#: than 2 MB keeps the array and its header inside two 1 MB G1 regions
#: (inside one region from 2 MB regions up), as Spark's own default does.
#: With both confs, on the benchmark's 2 GB heap, the humongous regions
#: that pile up between two young GCs fell from at most 756 to 280, and
#: the peak RSS of its table workload from 2710 to 2274 MB (medians).
PAGE_SIZE = str(2 * 1024 * 1024 - 16)


def get_spark(
    app_name: str = "debezium_emr_hudi_deltastreamer_sample_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``. Shuffle partitions default to the local
    core count — on a cluster this should be ~2-3x total executor cores (set
    via ``shuffle_partitions`` or spark-submit conf); AQE coalesces down at
    runtime either way.

    A session already running is returned unchanged: ``getOrCreate``
    would re-apply every builder conf to it, so an in-process caller
    (``tools/parity.py main()``) would silently reset another owner's
    shuffle fan-out.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        # Reference session config: spark.serializer (README.md:283). Kryo
        # only affects RDD-path serde; harmless and kept for parity.
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # AQE: runtime coalesce + skew-join handling — the scale story for
        # joins/aggs the reference delegated to Hudi/Catalyst defaults.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        # Deterministic comparisons against the DuckDB oracle (naive ts).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for the pandas-UDF slow path (SURVEY.md §2.C UDF).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The fixture `events.ts` is parquet TIMESTAMP(NANOS) which Spark
        # refuses by default; read as long and convert in catalog.load_table
        # (values are µs-resolution, so the conversion is lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.broadcast.blockSize", BROADCAST_BLOCK_SIZE)
        .config("spark.buffer.pageSize", PAGE_SIZE)
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif os.environ.get("SPARK_MASTER"):
        # Use the value, not just its presence — SPARK_MASTER=spark://h:7077
        # must actually configure that master (an empty value means
        # "spark-submit supplies spark.master", the historical opt-out).
        builder = builder.master(os.environ["SPARK_MASTER"])
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]").config("spark.driver.memory", "48g")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
