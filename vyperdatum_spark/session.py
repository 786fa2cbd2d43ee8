"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same config block is what we
would submit with ``spark-submit --py-files`` on a real cluster (AQE,
Arrow, skew-join handling are cluster-relevant, not local-only).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "vyperdatum_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode (defaults to $SPARK_GRAFT_CPUS or *).
    shuffle_partitions: defaults to cores (local mode — 200 would be wrong).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores_s = env if env else "*"
    else:
        cores_s = str(cores)
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores_s == "*" else max(int(cores_s), 4)

    builder = (
        SparkSession.builder.master(f"local[{cores_s}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing is a two-sided trade measured on this box:
        # tiny batches pay per-batch Python plumbing, but BIG batches of
        # heavy (html/text) columns put gigabytes in flight across the
        # 32 worker sockets and melt the JVM heap into full-GC storms
        # (100k-row batches: 5-33 s wall variance on the same job; 8-10k
        # rows: stable). 10k × ~1 KB rows ≈ 10 MB per batch per worker.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # NOT bigger-is-better: oversized local heaps (48g) trigger
        # kernel page-management storms on this box (40-70% sys time,
        # 3-10× slowdowns); 8-12g is the sweet spot for these jobs
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # The SQL transform strategy fuses 7+ broadcast joins and the
        # PIP/bilinear math into ONE whole-stage-codegen method that
        # can exceed HotSpot's 8000-byte JIT ceiling; without this flag
        # the stage silently runs in the bytecode INTERPRETER (measured
        # 10× slower: 28 s → 2.9 s on an 8M-row transform).
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        # shuffle/spill scratch on fast local storage (guide §2.1: the
        # map side writes every shuffle block to spark.local.dir).
        # This sandbox's /tmp disk serializes concurrent writers (the
        # scaling children measured 3-10× wall variance from it), so
        # default to tmpfs here; on a real cluster point
        # $SPARK_GRAFT_LOCAL_DIR at the fast local SSD array instead.
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access(
            "/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # ad-hoc conf overrides for experiments: "k=v;k=v"
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame over driver-held row tuples, built from an Arrow
    table: Spark plans it as a ``LocalRelation`` (``LocalTableScan``),
    so broadcasting it or scanning it runs no Python worker and ships
    nothing through a pickled RDD. A table past
    ``spark.sql.execution.arrow.localRelationThreshold`` falls back to
    Spark's own Arrow-batch scan. Values may be numpy scalars at any
    depth; float NaN stays NaN (only ``None`` becomes null)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)
