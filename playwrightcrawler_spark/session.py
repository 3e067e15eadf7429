"""SparkSession factory tuned for this engine.

Local-mode defaults target the sandbox (local[32], single JVM); on a real
cluster the same settings apply minus master/driver-memory, and the tables
move from bare parquet to an Iceberg catalog (see sources/tables.py for the
mapping). All knobs are chosen for the 100 TB design point:

- AQE on (runtime skew-join splitting + partition coalescing);
- shuffle partitions sized to cores locally, to ~2-3× total cores on a
  cluster;
- Arrow batches capped so a pathological 900k-char text column can't blow
  executor memory inside a pandas UDF (reference analogue: the 6 GB
  per-process abort, config.py:224-233).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from playwrightcrawler_spark import config


def get_spark(
    app_name: str = "playwrightcrawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or config.DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # RIGHT-SIZED and PRE-COMMITTED heap. The wave pipeline no longer
        # caches page bytes, so 12g covers engine + analytics workloads
        # with headroom — and a giant lazily-committed heap is actively
        # harmful on VMs: G1 keeps growing/shrinking toward Xmx,
        # continuously uncommitting and re-faulting pages, and each fault
        # is EPT-expensive under virtualization (round-4 probe: the JVM
        # burned 19 CPU cores of pure SYSTEM time in exc_page_fault at
        # local[32]; pinning Xms=Xmx took the crawl bench from 247 to
        # 749 urls/s). On a real cluster set executor memory to what the
        # workload needs and keep -Xms=-Xmx for the same reason.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '12g')}",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch cap bounds JVM-side buffering, not just python peak
        # memory: every task holds a full batch of rows (html bytes!) in
        # young gen until flush, so at 100-200 KB/page a 2048-row cap is
        # ~400 MB in flight PER TASK — at 32 concurrent tasks that is a
        # G1 evacuation storm (round-4 probe: 330 s GC inside the
        # extraction stage at local[32] vs 8 s at local[8]). 256 rows
        # (~50 MB/task at CC page weight) keeps GC flat at any core
        # count while still amortizing per-batch pandas overhead.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PINNED, not assumed (round-4 verdict #6): daemon workers must be
        # reused across tasks or every wave re-pays fork + numpy/pandas
        # import per task — at local[32] that cost lands inside the timed
        # wave for whichever workers the warmup didn't fork. True is the
        # Spark default; pinning guards against env/packaging overrides
        # and lets tests assert the effective value.
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        # small enough that a wave-sized html scan still splits across all
        # cores (a 1 GB corpus at the 128 MB default is 8 tasks — extraction
        # would cap at 8-way parallelism no matter the core count). Sizing
        # is in COMPRESSED file bytes: web text snappy-compresses ~5-10x,
        # so 4 MB splits ≈ 20-40 MB of raw pages ≈ a few hundred pages ≈
        # 1-3 s of python per task — fine enough to pack evenly at any
        # core count (the 16 MB round-4 value left the bench corpus at 80
        # tasks: 2.5 quantized rounds at local[32] with a straggler tail
        # idling ~40% of the width; 240 one-per-row-group tasks cut the
        # extract phase 25%). Splits finer than a row group yield empty
        # slices, so the open cost below keeps packing at >= 1 file/task
        # rather than slicing inside row groups.
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        # weigh small files realistically during split packing: the 4 MB
        # default open cost makes Spark bin-pack 2-3 small row-group files
        # per task (that IS the 80-task cap above); 512 KB keeps seek
        # amortization without collapsing parallelism on fine-file layouts
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
