"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case: AQE on (runtime re-planning, skew-join
splitting, dynamic coalescing), Arrow for the few pandas-UDF operators,
and a shuffle-partition count that AQE coalesces down when input is small.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# share of physical memory given to the driver heap by default, and its cap
HEAP_SHARE = 4
HEAP_MAX_GIB = 16


def default_cpus() -> int:
    """Cores this process may run on (honours cgroup/taskset pinning)."""
    return len(os.sched_getaffinity(0))


def default_driver_mem() -> str:
    """Driver heap default: a share of MemTotal, at least 1 GiB and at
    most 16 GiB. The heap is committed and pre-touched at JVM start, so a
    fixed size larger than the machine kills the gateway before it
    answers."""
    with open("/proc/meminfo") as f:
        total_kib = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    gib = total_kib // (1024 * 1024) // HEAP_SHARE
    return f"{max(1, min(HEAP_MAX_GIB, gib))}g"


def get_spark(
    app_name: str = "sparksqlplus",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    AQE handles the local-vs-cluster gap: we set a generous static
    ``spark.sql.shuffle.partitions`` and let
    ``spark.sql.adaptive.coalescePartitions`` shrink it at runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(default_cpus())
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else default_cpus()

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    # Commit and pre-touch the full heap at JVM start (-Xms = -Xmx +
    # AlwaysPreTouch). Without it the heap grows lazily and G1 touches
    # freshly-committed pages MID-QUERY, a first-touch page-fault storm
    # that this guest's host backs slowly (SCALING.md r17 "pentagon slow
    # mode": slow runs show 35-50% guest sys time and 12-18 s summed GC
    # in the pre-stage; fast runs 6-8% / ~2 s, same plan). Pre-touching
    # moves that cost to session startup, outside every timed region —
    # standard production practice for long-lived executors too.
    # SPARK_GRAFT_PRETOUCH=0 opts out (e.g. many short-lived sessions).
    pretouch = os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs every executor thread inside the driver JVM —
        # the 1g default heap OOMs concurrent shuffle writers long
        # before the machine is anywhere near full
        .config("spark.driver.memory", driver_mem)
        # --- Adaptive Query Execution: the scale safety-net -------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- broadcast: let small dims skip the shuffle ------------------
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- runtime Bloom-filter semi-join pre-reduce (guide §3.2) ------
        # When a join falls out of the broadcast regime at scale (the
        # CQC COUNT-view towers at 100 TB), Spark can inject a Bloom
        # filter built on the selectively-filtered side to prune the
        # big side BEFORE its shuffle (SPARK-32268; on by default).
        # The default creation-side cap is 10 MB of ESTIMATED size, and
        # without CBO column stats a Filter does not shrink its child's
        # estimate at all (measured: a selective src < K filter over a
        # 96 MB cached graph still reports 96 MB), so the injection
        # skips exactly the selectively-filtered mid-size sides it is
        # for. 256 MB is cheap to allow: unlike a broadcast join the
        # broadcast object is the FILTER BITS (maxNumBits caps it at
        # 8 MB), and the injection still requires a selective predicate
        # on the creation side — the threshold only gates the pre-filter
        # scan estimate. Inert at sf0.1 where every such join broadcasts
        # (plan fingerprints unchanged); engages only in the
        # shuffled-join regime. Verified to fire on the engine's CQC
        # chain plans under a forced-shuffle probe at 10x scale
        # (scripts/exp_runtime_bloom.py, pinned by
        # tests/test_plan_shapes.py::test_runtime_bloom_filter_fires).
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            str(256 * 1024 * 1024),
        )
        # --- Arrow for pandas-UDF operators (dedup/similarity/multimodal)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- deterministic sessions for the oracle comparisons -----------
        .config("spark.sql.session.timeZone", "UTC")
        # read TIMESTAMP(NANOS) parquet as long (converted to timestamp at
        # registration — Spark has no native nanos type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # quieter driver logs
        .config("spark.ui.enabled", "false")
        # --- no Python call-site capture per Column call -----------------
        # PySpark wraps every functions.* / Column method in
        # _with_origin, which (with this conf on, its default) records
        # the calling Python frame in the JVM for error messages: an
        # active-session lookup, a conf read, a set and a clear of
        # PySparkCurrentOrigin — about 10 py4j round trips per call.
        # Compiling one CQC statement makes hundreds of such calls, so
        # capture was 3-4x the round trips of the plan itself and about
        # half its compile time. The frame it records is always inside
        # the compiler, never the user's SQL. With it off, analysis
        # errors keep their class and message and lose only the
        # Python-frame hint. PySpark reads the conf once per process,
        # at the first Column call made under an active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- generated-code cache ----------------------------------------
        # Generated code inlines numeric and date literals, so a new
        # literal in an ad-hoc statement is new Java source to compile,
        # and a mix of a dozen statement shapes uses more classes than
        # the default cache of 100 holds. Measured on perfbench
        # cqc_adhoc (sf0.1, 4-core guest, 73 statements after warm-up):
        # 577 Janino compilations (4.6 s) with 100 entries, 126 (1.4 s)
        # with 1,000, and the same JVM RSS. Static: read at JVM start.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    extra = dict(extra_conf or {})
    if pretouch:
        # -Xmx comes from spark.driver.memory (Spark forbids it here);
        # -Xms pinning + AlwaysPreTouch is allowed and takes effect
        # because the gateway JVM has not started yet. Caller-supplied
        # extraJavaOptions are MERGED (caller's flags last, so they can
        # override) rather than overwritten. Note that under
        # getOrCreate() reuse of an already-running session the conf is
        # recorded but the live JVM was never pre-touched.
        caller_opts = extra.pop("spark.driver.extraJavaOptions", "")
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch {caller_opts}".strip(),
        )
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
