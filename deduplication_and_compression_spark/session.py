"""SparkSession factory with the scale-oriented defaults this engine
assumes everywhere.

Local testing runs on local[N]; the settings below are the ones that
also matter on a real multi-executor cluster (AQE, skew-join, Arrow
batch transport).  Nothing here is test-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "dedup-compression-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        # ~cores for local mode; on a cluster this would be
        # 2-3x total executor cores, or left to AQE coalescing.
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE: parallelismFirst stays at its default (true).  We tried
        # size-based coalescing (parallelismFirst=false, 4-16m advisory)
        # to kill per-task overhead on tiny shuffles, but it halves the
        # parallelism of CPU-bound mid-size joins whose compressed
        # shuffle bytes are small (simhash candidate gen: 40s -> 95s at
        # local[32]).  The one pathological tiny-shuffle case, the CC
        # rounds, sizes its own shuffle partitions instead.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan the shuffles INSIDE a cached plan (coalesce
        # them like any other query's).  Off, a persisted frame keeps
        # its planned shuffle width: the streaming screen persists each
        # micro-batch's signatures, so a 100-row batch ran as 8 Python
        # signing tasks plus 8-task scans for both consumers — one
        # 6-batch drain ran 245 tasks, each Python task paying its
        # fixed cost for ~12 rows.  With it on, the cached signing plan
        # gains an AQEShuffleRead, the batch signs in one task and the
        # drain runs 71 tasks (BENCH/python_fixed_cost.md).  A cache
        # built on an explicit repartition(n) keeps its n partitions:
        # AQE never coalesces a user-numbered shuffle
        # (normalize_parallelism's input caches stay as wide as asked).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # coalesce floor: pair-scoring shuffles compress to a few MB
        # but carry seconds of CPU per MB (candidate pairs are two
        # longs that fan out into vector/array work downstream), and
        # the default 1m floor collapsed them to ~10 tasks at
        # local[32] (srp_topk re-rank: 15 s CPU on 10 tasks).  64k
        # keeps CPU-dense small shuffles wide; measured neutral on
        # genuinely tiny shuffles and -10..-25% on srp/minhash/ppjoin/
        # cc (OPTIMIZATION_r07.md).  Cluster tuning: extra_conf.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # the reference pairs dedup with LZW compression of unique chunks
        # (/root/reference/Server/encoder.cpp:369-485); the engine analog
        # is columnar zstd on every sink table
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", "8g")
        # throughput collector for batch work: G1's pause-time goal
        # buys nothing in a non-interactive engine, and under the
        # r7 concurrent-tier pipeline ParallelGC measured ~10% off the
        # warm pipeline wall (15.1 -> 13.6 s) with every other query
        # neutral-or-better.  Deployments that need G1 (very large
        # heaps / pause-sensitive co-tenants) override it in extra_conf.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # fork Python workers from a daemon that has numpy/pandas/pyarrow
    # and the engine kernels ALREADY imported (pydaemon.py): the first
    # task wave of every Arrow UDF stage otherwise pays the imports
    # once per worker — measured ~0.9 s off the first pandas stage of
    # a fresh session at local[32].  The daemon also stops every task
    # from re-parsing the pyspark.zip directory on Python < 3.12
    # (~0.2 CPU-s per Python task, see pydaemon.py).  Guarded by
    # find_spec: the daemon is launched as `python -m <module>` BEFORE
    # any task ships py-files, so on an executor where the package is
    # not installed the import would kill worker spawn outright (r7
    # code review) — this factory pins local[N] where driver
    # importability == worker importability, but the guard keeps the
    # conf safe to copy into a cluster submit.  SPARK_GRAFT_PY_DAEMON=
    # (empty) runs the stock daemon, which turns off both the preload
    # and the zip fix.
    import importlib.util

    daemon_mod = os.environ.get(
        "SPARK_GRAFT_PY_DAEMON", "deduplication_and_compression_spark.pydaemon"
    )
    if daemon_mod:
        try:
            spec = importlib.util.find_spec(daemon_mod)
        except (ImportError, ModuleNotFoundError, ValueError):
            spec = None
        if spec is not None:
            builder = builder.config("spark.python.daemon.module", daemon_mod)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warmup_async(spark)
    return spark


def broadcast_threshold(spark: SparkSession) -> int:
    """The session's spark.sql.autoBroadcastJoinThreshold in bytes, as
    Spark itself parses it ("10m" and plain byte counts alike); -1
    means broadcasting is off.  Operators that collect a side to the
    driver gate on it, so one setting bounds every such collect."""
    return int(spark._jsparkSession.sessionState().conf()
               .autoBroadcastJoinThreshold())


def _warmup_async(spark: SparkSession) -> None:
    """Warm the session's execution machinery on a background thread:
    one ~micro job through each cold path — codegen+shuffle, the
    Arrow/Python runner (spawns the worker daemon, guide §4.5), and
    the noop sink.  A fresh JVM otherwise pays JIT + worker spawn
    inside the FIRST real query (measured: pipeline stage walls
    7-8 s cold vs 0.7-0.9 s warm per stage shape); a long-lived
    deployment amortizes this across hours, so a fresh session does
    it once at build, overlapped with whatever setup the caller runs
    next (FIFO scheduling: the micro jobs finish before real work
    queues behind them).  Total work is a few hundred rows — no user
    data, no caching, nothing a query could reuse as a result."""
    import threading

    def _run() -> None:
        try:
            from pyspark import inheritable_thread_target
            from pyspark.sql import Window, functions as F

            @inheritable_thread_target(spark)
            def _go() -> None:
                spark.sparkContext.setJobDescription("session warmup")
                # codegen + shuffle + agg + broadcast-join + window
                base = spark.range(0, 256, 1, 8)
                small = spark.range(0, 16).withColumnRenamed("id", "k")
                (base.repartition(4, "id")
                 .withColumn("k", F.col("id") % 7)
                 .join(F.broadcast(small), "k")
                 .groupBy("k").count()
                 .withColumn("r", F.row_number().over(
                     Window.partitionBy("k").orderBy("count")))
                 .write.format("noop").mode("overwrite").save())
                # Arrow runner + Python worker daemon fork
                import pandas as pd  # noqa: F401
                df = spark.range(0, 64, 1, 4)

                def _gen(batches):
                    for pdf in batches:
                        yield pdf

                (df.mapInPandas(_gen, df.schema)
                 .write.format("noop").mode("overwrite").save())
                # parquet writer path (zstd codec + commit protocol):
                # the pipeline's first checkpoint write otherwise JITs
                # it inside the timed region
                import shutil
                import tempfile
                d = tempfile.mkdtemp(prefix="spark_warmup_")
                try:
                    spark.range(0, 8, 1, 1).write.mode("overwrite").parquet(d)
                finally:
                    shutil.rmtree(d, ignore_errors=True)
                spark.sparkContext.setJobDescription(None)

            _go()
        except Exception:
            pass  # warmup is best-effort; never break session build

    threading.Thread(target=_run, name="spark-graft-warmup",
                     daemon=True).start()
