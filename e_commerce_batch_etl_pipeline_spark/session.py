"""SparkSession factory.

Reference analog: ``src/pipeline.py:40-58`` + ``src/config.py:7-14`` build a
``local[*]`` session with Kryo and shuffle.partitions=8. We drop Kryo (the
DataFrame path uses Tungsten encoders), pin UTC (oracle comparison), enable
AQE + Arrow, and size shuffle partitions to the core count instead of a
hard-coded 8 so the same code scales from local[8] to a 1000-executor
cluster (where ``spark.sql.shuffle.partitions`` should be set to 2-3x total
cores by the submitter; AQE coalescing fixes over-partitioning at runtime).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# Column-expression memo shared by every per-epoch DAG builder (the LWW
# aggregate, the n_tok recompute, the engine's staging expressions).
# Unresolved Columns are immutable and bind by name at analysis, so one
# tree serves any number of DataFrames; reusing it removes the py4j
# construction round-trips from the per-epoch driver-serial path. Two
# constraints: entries are py4j handles into the current JVM gateway, so
# build_session clears the memo; and a memoized Alias keeps its exprId,
# so two same-shape outputs joined or unioned in one plan share exprIds
# and rely on the analyzer's DeduplicateRelations rewrite (pinned by
# tests/test_lww.py). Bounded: cleared wholesale past _EXPR_MEMO_MAX.
# No lock: every build of one key yields an equivalent tree, so a race
# only builds an entry twice.
_EXPR_MEMO: dict = {}
_EXPR_MEMO_MAX = 256


def expr_memo(key, build):
    """``build()``'s result, built once per ``key`` (a hashable tuple
    whose first element names the caller)."""
    got = _EXPR_MEMO.get(key)
    if got is None:
        if len(_EXPR_MEMO) >= _EXPR_MEMO_MAX:
            _EXPR_MEMO.clear()
        got = _EXPR_MEMO[key] = build()
    return got


def _preheat(spark: SparkSession) -> None:
    """Warm the Python worker pool and the codegen/shuffle machinery with
    one tiny background job at session build.

    The FIRST Python-path stage of a session pays worker fork +
    numpy/pandas/pyarrow imports (measured ~1.5-2 s on this box), and the
    first shuffled aggregate pays the Janino/whole-stage-codegen compiler
    bring-up — session-level one-time costs that otherwise land on
    whichever query happens to run first (guide §4.5: heavyweight init
    once, amortised; §2.6: overlap independent work). Runs detached so
    session build returns immediately; errors (e.g. the session being
    stopped first) are deliberately swallowed — the preheat is an
    optimisation, never a dependency. Computes nothing any query uses:
    the job is a row-id range, so this cannot cache or precompute query
    state. Disable with SPARK_GRAFT_PREHEAT=0.
    """

    def _run() -> None:
        try:
            from pyspark.sql import functions as F

            sc = spark.sparkContext
            n = max(2, sc.defaultParallelism)

            def _warm_workers(batches):
                import numpy  # noqa: F401
                import pandas  # noqa: F401
                import pyarrow  # noqa: F401

                for b in batches:
                    yield b

            sc.setJobDescription("session preheat: py workers + codegen")
            (
                spark.range(0, n * 8, numPartitions=n)
                .mapInArrow(_warm_workers, "id long")
                .groupBy((F.col("id") % 5).alias("k"))
                .count()
                .count()
            )
            sc.setJobDescription(None)
        except Exception:
            pass

    threading.Thread(target=_run, name="spark-preheat", daemon=True).start()


def build_session(
    app_name: str = "cdc_ingest_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session tuned for the CDC replay workload.

    ``master`` resolution (programmatic conf has the HIGHEST precedence,
    so ``builder.master()`` would silently override ``spark-submit
    --master`` — we only call it when a master was explicitly requested):
    1. explicit ``master`` arg → honored;
    2. ``SPARK_GRAFT_CPUS`` env → ``local[$SPARK_GRAFT_CPUS]``;
    3. a master submitted via spark-submit / spark.master conf → honored
       untouched (cluster launches run on the submitted master);
    4. none of the above (plain ``python``) → ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
    if master is None:
        # spark-submit publishes --master as the spark.master system
        # property; SparkConf() picks it up. Only default to local[*]
        # when nothing was submitted.
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            master = "local[*]"
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        # match parallelism; AQE coalesces small post-shuffle partitions.
        # On a submitted cluster master (master is None here) leave the
        # submitter's --conf spark.sql.shuffle.partitions in charge.
        try:
            n = (
                int(master.split("[")[1].rstrip("]"))
                if master and "[" in master
                else 0
            )
        except ValueError:
            n = 0
        if master is not None:
            shuffle_partitions = n if n > 0 else (os.cpu_count() or 8)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # custom Python DataSources (sources/wal_datasource.py) push
        # epoch/lsn predicates down; off by default in Spark 4.1
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        # deterministic timestamp behavior for oracle comparison
        "spark.sql.datetime.java8API.enabled": "true",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        conf["spark.default.parallelism"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _EXPR_MEMO.clear()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_PREHEAT", "1") != "0":
        _preheat(spark)
    return spark
