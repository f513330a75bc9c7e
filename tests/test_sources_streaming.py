"""Schema-pinned readers (modes + corrupt-row quarantine), Structured
Streaming front-end (watermarked windows, foreachBatch exactly-once),
plan assertions."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e_commerce_batch_etl_pipeline_spark.plans import (
    assert_no_python_row_udf,
    assert_pushed_filters,
)
from e_commerce_batch_etl_pipeline_spark.sources.readers import (
    read_csv,
    split_corrupt,
)

CSV_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)


@pytest.fixture()
def csv_path(tmpdir_clean):
    p = os.path.join(tmpdir_clean, "in.csv")
    with open(p, "w") as f:
        f.write("id,name,price\n1,apple,2.5\n2,banana,oops\n3,pear,4.0\n")
    return p


def test_csv_permissive_quarantine(spark, csv_path):
    df = read_csv(spark, csv_path, CSV_SCHEMA, mode="PERMISSIVE",
                  corrupt_col="_corrupt")
    clean, bad = split_corrupt(df)
    assert clean.count() == 2
    assert bad.count() == 1
    assert "banana" in bad.collect()[0]["_corrupt"]


def test_csv_dropmalformed(spark, csv_path):
    df = read_csv(spark, csv_path, CSV_SCHEMA, mode="DROPMALFORMED")
    assert {r["name"] for r in df.collect()} == {"apple", "pear"}


def test_csv_failfast(spark, csv_path):
    df = read_csv(spark, csv_path, CSV_SCHEMA, mode="FAILFAST")
    with pytest.raises(Exception):
        df.collect()


def test_pushdown_and_no_python_udf(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    assert_pushed_filters(df, "l_quantity")
    assert_no_python_row_udf(df, allow_arrow=False)


def test_streaming_windowed_rates(spark, tmpdir_clean):
    from e_commerce_batch_etl_pipeline_spark.sources.datagen import write_wal
    from e_commerce_batch_etl_pipeline_spark.streaming.structured import (
        stream_wal,
        windowed_change_rates,
    )

    wal = os.path.join(tmpdir_clean, "wal")
    write_wal(spark, wal, 2, 500, 400, seed=7, max_len=8)
    stream = stream_wal(spark, os.path.join(wal, "epoch-*"), 8)
    agg = windowed_change_rates(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("rates")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM rates").collect()
    assert len(out) > 0
    ops = {r["op"] for r in out}
    assert "I" in ops or "U" in ops


def test_streaming_foreachbatch_exactly_once(spark, tmpdir_clean):
    from e_commerce_batch_etl_pipeline_spark.sources.datagen import (
        generate_base_docs,
        write_wal,
    )
    from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
        bootstrap_table,
    )
    from e_commerce_batch_etl_pipeline_spark.streaming.structured import (
        stream_apply,
    )
    base = generate_base_docs(spark, 300, seed=9, max_len=8)
    table = bootstrap_table(os.path.join(tmpdir_clean, "t"), base,
                            num_buckets=4)
    wal = os.path.join(tmpdir_clean, "wal")
    write_wal(spark, wal, 2, 200, 300, seed=9, max_len=8)
    q = stream_apply(
        spark, os.path.join(wal, "epoch-*"), table.root,
        os.path.join(tmpdir_clean, "eng_ckpt"),
        os.path.join(tmpdir_clean, "stream_ckpt"),
        max_files_per_trigger=1000,
    )
    q.awaitTermination(180)
    n1 = table.read(spark).count()
    v1 = table.current().version
    assert n1 > 0
    # restart the stream with a FRESH streaming checkpoint: every batch is
    # redelivered; the engine's fences must make it a no-op
    q2 = stream_apply(
        spark, os.path.join(wal, "epoch-*"), table.root,
        os.path.join(tmpdir_clean, "eng_ckpt2"),
        os.path.join(tmpdir_clean, "stream_ckpt2"),
        max_files_per_trigger=1000,
    )
    q2.awaitTermination(180)
    assert table.read(spark).count() == n1
    assert table.current().version == v1


def test_stateful_change_compactor(spark, tmpdir_clean):
    """applyInPandasWithState: cross-batch LWW — batch 2's stale
    (lower-lsn) envelopes for keys advanced in batch 1 are swallowed."""
    from e_commerce_batch_etl_pipeline_spark.streaming.stateful import (
        compact_change_stream,
    )
    from e_commerce_batch_etl_pipeline_spark.streaming.structured import (
        ENVELOPE_SCHEMA,
        stream_wal,
    )

    wal = os.path.join(tmpdir_clean, "wal")
    rows1 = [
        (10, 0, "U", "a", [1, 2], None, "web", None),
        (11, 0, "U", "b", [3], None, "web", None),
    ]
    rows2 = [
        (5, 1, "U", "a", [9], None, "web", None),   # stale: lsn 5 < 10
        (12, 1, "D", "b", None, None, None, None),  # advances b
        (13, 1, "I", "c", [7, 7, 7], None, "code", None),
    ]
    for i, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(rows, ENVELOPE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(wal, f"epoch-{i:05d}"))
    stream = stream_wal(spark, os.path.join(wal, "epoch-*"),
                        max_files_per_trigger=1)
    out = compact_change_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("compacted")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["lsn"]): r["op"]
        for r in spark.sql("SELECT * FROM compacted").collect()
    }
    assert got[("a", 10)] == "U"     # batch-1 winner
    assert ("a", 5) not in got        # stale envelope swallowed by state
    assert got[("b", 12)] == "D"     # delete advanced past lsn 11
    assert got[("c", 13)] == "I"


def test_wal_python_datasource(spark, tmpdir_clean):
    """PySpark-4 custom Python DataSource: spark.read.format('wal') with
    epoch-segment skipping and lsn row-group pruning via pushed filters."""
    from e_commerce_batch_etl_pipeline_spark.sources.datagen import write_wal
    from e_commerce_batch_etl_pipeline_spark.sources.wal_datasource import (
        WalDataSource,
    )

    wal = os.path.join(tmpdir_clean, "wal")
    write_wal(spark, wal, 3, 400, 300, seed=13, max_len=8)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WalDataSource)
    df = spark.read.format("wal").option("root", wal).load()
    assert df.count() == 1200
    # option-based incremental tail
    df2 = (spark.read.format("wal").option("root", wal)
           .option("after_epoch", "1").load())
    assert df2.count() == 400
    assert df2.agg(F.min("epoch")).collect()[0][0] == 2
    # filter pushdown: epoch predicate skips whole segments
    df3 = spark.read.format("wal").option("root", wal).load().filter(
        F.col("epoch") > 1
    )
    assert df3.count() == 400
    # lsn watermark predicate
    df4 = spark.read.format("wal").option("root", wal).load().filter(
        F.col("lsn") > 1150
    )
    assert df4.count() == 49
    # parity with the plain parquet read
    plain = spark.read.parquet(os.path.join(wal, "epoch-*")).filter(
        "lsn > 1150"
    )
    assert df4.count() == plain.count()


def test_serving_sink_datasource(spark, tmpdir_clean):
    """K2 serving sink (JDBC stand-in): batchsize round-trips, truncate
    vs append semantics, transactional visibility, read-back verify
    (reference src/load.py:46-92, notebooks/05_mysql_load.py:288-303)."""
    from e_commerce_batch_etl_pipeline_spark.sources.serving_sink import (
        ServingSinkDataSource,
        read_serving_table,
    )

    spark.dataSource.register(ServingSinkDataSource)
    db = os.path.join(tmpdir_clean, "serve.duckdb")
    df = spark.range(100).select(
        F.col("id").alias("order_id"),
        (F.col("id") % 7).alias("qty"),
        F.format_string("c%03d", F.col("id") % 10).alias("cust"),
    ).repartition(4)

    (df.write.format("serving")
       .option("path", db).option("table", "curated")
       .option("batchsize", "8")
       .mode("append").save())
    n, cols = read_serving_table(db, "curated")
    assert n == 100
    assert cols == ["order_id", "qty", "cust"]

    # append without truncate accumulates (reference dq_report pattern)
    (df.write.format("serving")
       .option("path", db).option("table", "curated")
       .mode("append").save())
    assert read_serving_table(db, "curated")[0] == 200

    # truncate=true + append: replaces content, keeps the table
    # (reference: truncate instead of drop to preserve indexes)
    (df.limit(10).write.format("serving")
       .option("path", db).option("table", "curated")
       .option("truncate", "true")
       .mode("append").save())
    assert read_serving_table(db, "curated")[0] == 10

    # mode=overwrite rebuilds the table
    (df.limit(25).write.format("serving")
       .option("path", db).option("table", "curated")
       .mode("overwrite").save())
    assert read_serving_table(db, "curated")[0] == 25

    # no stray staging dirs left behind
    leftovers = [p for p in os.listdir(tmpdir_clean) if "staging" in p]
    assert leftovers == []


def test_serving_scan_reader_pushdown(spark, tmpdir_clean):
    """S4 JDBC-scan stand-in: read the serving table back through the
    'serving' format with predicates pushed into the database's WHERE
    clause and a partitioned numeric-range scan (the JDBC
    partitionColumn/numPartitions surface)."""
    from e_commerce_batch_etl_pipeline_spark.sources.serving_sink import (
        ServingSinkDataSource,
    )

    spark.dataSource.register(ServingSinkDataSource)
    db = os.path.join(tmpdir_clean, "serve2.duckdb")
    src = spark.range(1000).select(
        F.col("id").alias("order_id"),
        (F.col("id") % 13).alias("qty"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.format_string("c%03d", F.col("id") % 10)).alias("cust"),
    )
    (src.write.format("serving")
        .option("path", db).option("table", "curated")
        .mode("append").save())

    # fresh .load() per query pattern: Spark memoizes a pushed-down scan
    # on the shared relation (see ServingScanReader.pushFilters note)
    def back():
        return (spark.read.format("serving")
                .option("path", db).option("table", "curated")
                .option("partition_column", "order_id")
                .option("num_partitions", "4")
                .load())

    assert back().count() == 1000
    assert dict(back().dtypes) == {"order_id": "bigint", "qty": "bigint",
                                   "cust": "string"}
    # pushdown: equality + range + null filters all evaluate correctly
    got = back().filter((F.col("qty") >= 5) & (F.col("qty") < 8)
                        & F.col("cust").isNotNull())
    exp = src.filter((F.col("qty") >= 5) & (F.col("qty") < 8)
                     & F.col("cust").isNotNull())
    assert got.count() == exp.count()
    assert back().filter(F.col("cust").isNull()).count() == 100
    assert (back().filter(F.col("order_id") == 421).collect()[0]["qty"]
            == 421 % 13)
    # partitioned scan covers every row exactly once
    assert back().select("order_id").distinct().count() == 1000


def test_serving_sink_empty_input_semantics(spark, tmpdir_clean):
    """JDBC overwrite/truncate semantics apply even for ZERO input rows:
    an empty overwrite replaces the table with an empty one (review
    finding: the commit used to skip entirely and leave stale rows)."""
    from e_commerce_batch_etl_pipeline_spark.sources.serving_sink import (
        ServingSinkDataSource,
        read_serving_table,
    )

    spark.dataSource.register(ServingSinkDataSource)
    db = os.path.join(tmpdir_clean, "serve3.duckdb")
    df = spark.range(50).select(F.col("id").alias("k"))
    (df.write.format("serving")
       .option("path", db).option("table", "t").mode("append").save())
    assert read_serving_table(db, "t")[0] == 50
    empty = df.filter("k < 0")
    (empty.write.format("serving")
       .option("path", db).option("table", "t")
       .option("truncate", "true").mode("append").save())
    n, cols = read_serving_table(db, "t")
    assert n == 0 and cols == ["k"]
    # refill then empty-overwrite
    (df.write.format("serving")
       .option("path", db).option("table", "t").mode("append").save())
    (empty.write.format("serving")
       .option("path", db).option("table", "t").mode("overwrite").save())
    assert read_serving_table(db, "t")[0] == 0


def test_serving_reader_unpushable_literal_yields_back(spark, tmpdir_clean):
    """Date/timestamp filter literals are NOT pushed (str() would be
    broken SQL) — the filter must be yielded back and still evaluate
    correctly Spark-side."""
    import datetime

    from e_commerce_batch_etl_pipeline_spark.sources.serving_sink import (
        ServingSinkDataSource,
    )

    spark.dataSource.register(ServingSinkDataSource)
    db = os.path.join(tmpdir_clean, "serve4.duckdb")
    src = spark.range(10).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
    )
    (src.write.format("serving")
       .option("path", db).option("table", "t").mode("append").save())
    back = (spark.read.format("serving")
            .option("path", db).option("table", "t").load())
    got = back.filter(F.col("d") == F.lit(datetime.date(2024, 1, 5)))
    assert got.count() == 1
    assert got.collect()[0]["k"] == 4


def test_serving_partitioned_scan_keeps_null_partition_rows(
    spark, tmpdir_clean
):
    """Rows with a NULL partition_column fail every range predicate and
    would silently vanish from a partitioned scan; the first partition
    folds them in (Spark JDBC's 'OR col IS NULL' rule)."""
    from e_commerce_batch_etl_pipeline_spark.sources.serving_sink import (
        ServingSinkDataSource,
    )

    spark.dataSource.register(ServingSinkDataSource)
    db = os.path.join(tmpdir_clean, "serve3.duckdb")
    src = spark.range(200).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id")).alias("order_id"),
        (F.col("id") % 5).alias("qty"),
    )
    (src.write.format("serving")
        .option("path", db).option("table", "curated")
        .mode("append").save())
    back = (spark.read.format("serving")
            .option("path", db).option("table", "curated")
            .option("partition_column", "order_id")
            .option("num_partitions", "4")
            .load())
    assert back.count() == 200  # 29 NULL-keyed rows included
    assert back.filter(F.col("order_id").isNull()).count() == \
        src.filter(F.col("order_id").isNull()).count()


def test_windowed_rates_append_emission_batching_invariant(
    spark, tmpdir_clean
):
    """The oracle-checked append-mode emission contract
    (queries.py::streaming_windowed_rates): with watermark delay wider
    than one epoch's event-time span and results filtered to
    window_end <= max_ts - delay - 1, the emitted window set is the
    SAME under maxFilesPerTrigger=1 (many microbatches) and =64 (one
    batch) — no late drops, no boundary-dependent final windows."""
    from pyspark.sql import functions as F

    from e_commerce_batch_etl_pipeline_spark.sources.datagen import write_wal
    from e_commerce_batch_etl_pipeline_spark.streaming.structured import (
        stream_wal,
        windowed_change_rates,
    )

    wal = os.path.join(tmpdir_clean, "wal")
    write_wal(spark, wal, 3, 400, 300, seed=13, max_len=8)
    max_ts = 1704067200 + 3 * 400 - 1  # datagen: ts = 1704067200 + lsn
    delay = 400 + 60  # > one epoch's event-time span (= stride seconds)
    cutoff = max_ts - delay - 1

    def run(mfpt, name):
        stream = stream_wal(spark, os.path.join(wal, "epoch-*"), mfpt)
        agg = windowed_change_rates(
            stream, window="60 seconds", watermark=f"{delay} seconds"
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("memory").queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            tuple(r) for r in spark.table(name)
            .select(
                F.unix_timestamp("window_start").alias("ws"),
                "op", "n", "lsn_min", "lsn_max",
            )
            .filter(F.col("ws") + 60 <= cutoff)
            .collect()
        }

    fine = run(1, "inv_fine")
    coarse = run(64, "inv_coarse")
    assert fine, "vacuous: no windows below the cutoff"
    assert fine == coarse


def _wal_segments(spark, wal):
    """Three WAL segments: epoch 0 Spark-written by ``write_wal``; epoch
    1 Spark-written and evolved (a new ``lang`` column, ``n_tok``
    widened to bigint); epoch 2 pyarrow-written with a
    ``timestamp[us, UTC]`` ``ts``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from e_commerce_batch_etl_pipeline_spark.sources.datagen import (
        generate_wal_epoch,
        write_wal,
    )

    write_wal(spark, wal, 1, 60, 40, seed=1, max_len=8)
    generate_wal_epoch(
        spark, 1, 60, 40, seed=1, max_len=8, evolve_from_epoch=1,
    ).withColumn("n_tok", F.col("n_tok").cast("bigint")).write.parquet(
        os.path.join(wal, "epoch-00001"))
    seg = os.path.join(wal, "epoch-00002")
    os.makedirs(seg)
    pq.write_table(pa.table({
        "lsn": pa.array([120, 121, 122], pa.int64()),
        "epoch": pa.array([2, 2, 2], pa.int32()),
        "op": pa.array(["I", "U", "D"]),
        "doc_id": pa.array(["doc_000000001", None, "doc_000000003"]),
        "tokens": pa.array([[1, 2], [3], None], pa.list_(pa.int32())),
        "n_tok": pa.array([2, 1, None], pa.int32()),
        "source": pa.array(["web", "code", None]),
        "ts": pa.array([1, 2, 3], pa.timestamp("us", "UTC")),
    }), os.path.join(seg, "part-00000.parquet"))
    open(os.path.join(seg, "_SUCCESS"), "w").close()


def test_wal_footer_schema_equals_spark_inference(spark, tmpdir_clean):
    """``read_epoch`` pins the schema Spark would infer, for Spark- and
    pyarrow-written segments alike, and reads the same rows; a segment
    with no parquet file still fails in Spark's inference."""
    from pyspark.errors import AnalysisException

    from e_commerce_batch_etl_pipeline_spark.sources.wal import (
        WalSource,
        segment_schema,
    )

    wal = os.path.join(tmpdir_clean, "wal")
    _wal_segments(spark, wal)
    src = WalSource(wal)
    for e in (0, 1, 2):
        seg = os.path.join(wal, f"epoch-{e:05d}")
        inferred = spark.read.parquet(seg)
        assert segment_schema(seg) is not None, e
        pinned = src.read_epoch(spark, e)
        assert pinned.schema == inferred.schema, e
        assert sorted(pinned.collect()) == sorted(inferred.collect()), e
    evolved = dict((f.name, f.dataType) for f in
                   src.read_epoch(spark, 1).schema.fields)
    assert "lang" in evolved and evolved["n_tok"] == T.LongType()
    arrow = src.read_epoch(spark, 2).schema
    assert arrow["ts"].dataType == T.TimestampType()
    os.makedirs(os.path.join(wal, "epoch-00003"))
    assert segment_schema(os.path.join(wal, "epoch-00003")) is None
    with pytest.raises(AnalysisException, match="infer schema"):
        src.read_epoch(spark, 3)


def test_wal_read_epoch_starts_no_spark_job(spark, tmpdir_clean):
    """Reading an epoch's segment runs no Spark job (no schema
    inference); Spark's own inference over the same segment runs one."""
    import time

    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource

    wal = os.path.join(tmpdir_clean, "wal")
    _wal_segments(spark, wal)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for e in (0, 1, 2):
            sc.setJobGroup(f"wal-read-{e}", "read_epoch")
            WalSource(wal).read_epoch(spark, e).schema
        sc.setJobGroup("wal-infer", "inference")
        spark.read.parquet(os.path.join(wal, "epoch-00000")).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("wal-infer"):
        assert time.time() < deadline, "the inference job never showed"
        time.sleep(0.1)
    for e in (0, 1, 2):
        assert tracker.getJobIdsForGroup(f"wal-read-{e}") == [], e
