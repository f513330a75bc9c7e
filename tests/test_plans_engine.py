"""Plan-level guarantees of the engine's hot path (SURVEY.md §7.4.6):
no per-row Python anywhere, file pruning on the merge's base read,
broadcast of small change-sets."""

import os
import re
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from e_commerce_batch_etl_pipeline_spark.functions.tokens import (
    recompute_n_tok,
    validate_envelopes,
)
from e_commerce_batch_etl_pipeline_spark.operators.lww import lww_dedup_salted
from e_commerce_batch_etl_pipeline_spark.operators.merge import merge_upsert
from e_commerce_batch_etl_pipeline_spark.plans import (
    assert_broadcast_join,
    assert_no_python_row_udf,
    physical_plan,
)
from e_commerce_batch_etl_pipeline_spark.sources.datagen import (
    generate_base_docs,
    generate_wal_epoch,
)
from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import bootstrap_table
from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import _applies


def test_dedup_pipeline_is_pure_catalyst(spark):
    env = generate_wal_epoch(spark, 0, 500, 400, seed=5, max_len=8)
    valid, _ = validate_envelopes(env)
    dedup = recompute_n_tok(lww_dedup_salted(valid))
    plan = assert_no_python_row_udf(dedup, allow_arrow=False)
    # two-stage salted aggregation shape: (key, salt) then (key)
    assert plan.count("Exchange") >= 2


def test_merge_broadcasts_small_changeset(spark, tmpdir_clean):
    base = generate_base_docs(spark, 500, seed=5, max_len=8)
    table = bootstrap_table(os.path.join(tmpdir_clean, "t"), base, num_buckets=4)
    env = generate_wal_epoch(spark, 0, 100, 500, seed=5, max_len=8)
    valid, _ = validate_envelopes(env)
    changes = recompute_n_tok(lww_dedup_salted(valid))
    merged = merge_upsert(table.read(spark), changes, broadcast_changes=True)
    assert_broadcast_join(merged)
    assert_no_python_row_udf(merged, allow_arrow=False)


def test_base_read_prunes_files(spark, tmpdir_clean):
    base = generate_base_docs(spark, 500, seed=5, max_len=8)
    table = bootstrap_table(os.path.join(tmpdir_clean, "t"), base, num_buckets=4)
    pruned = table.read(spark, buckets=[1])
    plan = physical_plan(pruned)
    # only bucket 1's file is in the scan
    snap = table.current()
    b1 = [f for f in snap.files if f["bucket"] == 1]
    others = [f for f in snap.files if f["bucket"] != 1]
    assert len(b1) == 1 and others
    # the scan's location list contains exactly one file: verify by
    # row counts per bucket instead of parsing paths (plan truncates)
    assert pruned.count() == spark.read.parquet(
        os.path.join(table.root, b1[0]["path"])
    ).count()


def test_quantized_similarity_vectorized_not_row_python(spark):
    """The brute-force cosine baseline runs as ONE MapInArrow numpy
    kernel over the corpus (r6: replaces the interpreted Catalyst HOF
    cross-product — guide §4.2); it must never row-serialize through
    Python, and the kernel's candidate stream must stay tiny (the full
    cross product is never materialized as rows)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from e_commerce_batch_etl_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = cosine_topk(emb, q, k=3)
    plan = assert_no_python_row_udf(topk, allow_arrow=True)
    assert "MapInArrow" in plan, plan


def test_headline_query_plans(spark):
    """Plan quality of headline queries: dims broadcast, filters reach the
    scan, nothing row-serializes through Python."""
    from e_commerce_batch_etl_pipeline_spark.queries import QUERIES
    from e_commerce_batch_etl_pipeline_spark.plans import (
        assert_broadcast_join,
        assert_no_python_row_udf,
        assert_pushed_filters,
        physical_plan,
    )

    sf = "/root/testdata/sf0.001"
    # q1: shipdate filter pushed to parquet scan
    assert_pushed_filters(QUERIES["q1_pricing_summary"](spark, sf), "l_shipdate")
    # broadcast enrich: 3 dim joins all broadcast
    plan = assert_broadcast_join(QUERIES["etl_broadcast_enrich"](spark, sf), expect=3)
    assert "SortMergeJoin" not in plan
    # topk: customer dim broadcast
    assert_broadcast_join(QUERIES["etl_topk"](spark, sf), expect=1)
    # entire inventory (minus the engine-running fixture): no BatchEvalPython
    # anywhere except the sanctioned Arrow path in multimodal_meta
    for name, q in QUERIES.items():
        if name == "cdc_replay_engine":
            continue  # runs the engine (side effects); covered by e2e tests
        df = q(spark, sf)
        # sanctioned Arrow-vectorized paths (never row-at-a-time): the
        # multimodal/zscore pandas surfaces, plus the r6 MapInArrow numpy
        # kernels for hyperplane signatures and brute-force cosine
        # (OPTIMIZATION_r06.md — guide §4.2: batch native compute beats
        # interpreted Catalyst HOF folds; oracle parity pins bit-equality)
        allow_arrow = name in (
            "multimodal_meta", "text_zscore_by_source",
            "embed_cosine_topk", "embed_lsh_signature",
            "embed_ann_lsh_topk", "ann_recall_at_k",
            "ann_recall_multiprobe", "dedup_embedding_neardup_lsh",
        )
        assert_no_python_row_udf(df, allow_arrow=allow_arrow)


def test_mor_single_bucket_read_scans_only_that_bucket(spark, tmp_path):
    """The serving-read plan under merge-on-read: reading ONE bucket of
    a table with pending delta files must scan only that bucket's base +
    delta files (no full-table FileScan) and contain no BatchEvalPython —
    locking the MOR read path the way the merge plan already is."""
    from e_commerce_batch_etl_pipeline_spark.sources.datagen import write_wal
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )

    root = str(tmp_path)
    base = generate_base_docs(spark, 400, seed=7, max_len=16)
    table = bootstrap_table(os.path.join(root, "t"), base, num_buckets=4)
    write_wal(spark, os.path.join(root, "wal"), 3, 200, 400, seed=7,
              max_len=16)
    eng = CdcEngine(
        spark, table, WalSource(os.path.join(root, "wal")),
        os.path.join(root, "ckpt"), merge_mode="mor",
        mor_compact_files=None,  # deferred compaction → deltas persist
    )
    eng.run()
    snap = table.current()
    assert any(f.get("kind") == "delta" for f in snap.files), \
        "setup must leave pending delta files"

    target_bucket = sorted(
        {f["bucket"] for f in snap.files if f.get("kind") == "delta"}
    )[0]
    df = table.read(spark, buckets=[target_bucket])
    assert_no_python_row_udf(df)

    allowed = {
        os.path.realpath(os.path.join(table.root, f["path"]))
        for f in snap.files if f["bucket"] == target_bucket
    }
    scanned = {
        os.path.realpath(p.removeprefix("file:")) for p in df.inputFiles()
    }
    assert scanned, "plan reads no files?"
    assert scanned <= allowed, scanned - allowed
    # and the merge actually resolves: row count equals the bucket's
    # distinct live keys (LWW winner per key, deletes dropped)
    full = table.read(spark)
    from e_commerce_batch_etl_pipeline_spark.tables.format import bucket_expr
    expected = full.filter(
        bucket_expr(snap.key_column, snap.num_buckets) == target_bucket
    ).count()
    assert df.count() == expected


@pytest.mark.parametrize("num_buckets", [16, 4096])
def test_watermark_filter_folds_to_one_literal(spark, num_buckets):
    """The watermark filter is one plan-time literal at every bucket
    count: no broadcast exchange, and from_json constant-folded away."""
    snap = SimpleNamespace(
        key_column="doc_id", num_buckets=num_buckets,
        watermark={str(b): 100 + b for b in range(0, num_buckets, 2)},
    )
    df = spark.createDataFrame(
        [("a", 1, 0), ("b", 10**6, 0), ("c", 1, 1)],
        "doc_id string, lsn long, _q int",
    )
    qe = df.filter(_applies(snap))._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert "JsonToStructs" not in optimized
    assert "from_json" not in optimized
    assert "BroadcastExchange" not in qe.sparkPlan().toString()


def test_watermark_filter_reads_str_keyed_watermarks(spark):
    """``Snapshot.watermark`` keys are ``str(bucket)``: valid rows at or
    below their bucket's watermark drop, valid rows in buckets without
    one pass, and audit-lane rows are never applied."""
    from e_commerce_batch_etl_pipeline_spark.tables.format import bucket_expr

    df = spark.createDataFrame(
        [(f"d{i}", lsn, q) for i in range(8) for lsn in (5, 50)
         for q in (0, 1)],
        "doc_id string, lsn long, _q int",
    ).withColumn("_b", bucket_expr("doc_id", 4))
    snap = SimpleNamespace(key_column="doc_id", num_buckets=4,
                           watermark={"0": 10, "1": 10, "2": 10})
    got = {tuple(r) for r in df.filter(_applies(snap)).collect()}
    want = {tuple(r) for r in df.collect()
            if r["_q"] == 0 and (r["_b"] == 3 or r["lsn"] > 10)}
    assert got == want
    # both sides are exercised: some rows drop, and the no-watermark
    # bucket holds rows
    assert len(got) < df.count() and any(r[3] == 3 for r in got)


def test_cow_epoch_stages_nothing_and_merges_off_one_exchange(
        spark, tmp_path, monkeypatch):
    """A copy-on-write epoch writes no staged change-set under
    ``<ckpt>/stage/``, and what it writes to the table is planned off
    ONE hash exchange on the key, over the base scan and the WAL scan
    (write_data_files' own repartition is elided)."""
    from e_commerce_batch_etl_pipeline_spark.sources.datagen import write_wal
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )
    from e_commerce_batch_etl_pipeline_spark.tables.format import LakeTable

    root = str(tmp_path)
    base = generate_base_docs(spark, 400, seed=7, max_len=16)
    table = bootstrap_table(os.path.join(root, "t"), base, num_buckets=4)
    write_wal(spark, os.path.join(root, "wal"), 2, 200, 400, seed=7,
              max_len=16)
    plans = []
    write = LakeTable.write_data_files

    def spy(self, df, *args, **kwargs):
        # the frame write_data_files writes: its repartition(B, key)
        plans.append(physical_plan(df.repartition(4, F.col("doc_id"))))
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "write_data_files", spy)
    ckpt = os.path.join(root, "ckpt")
    res = CdcEngine(spark, table, WalSource(os.path.join(root, "wal")),
                    ckpt, merge_mode="cow").run()
    assert [r.status for r in res] == ["committed", "committed"]
    assert not os.path.exists(os.path.join(ckpt, "stage"))
    assert len(plans) == 2
    for plan in plans:
        tree = plan.split("\n\n")[0]  # the operator tree, not details
        assert tree.count("Exchange") == 1, plan
        assert re.search(r"hashpartitioning\(doc_id#\d+, 4\)", plan), plan
        assert tree.count("Scan parquet") == 2, plan
        assert "BroadcastExchange" not in plan, plan


def test_mor_epoch_stages_applied_rows_off_one_exchange(
        spark, tmp_path, monkeypatch):
    """A merge-on-read epoch writes only the rows it applies, straight
    into the table through ``write_data_files`` (no ``<ckpt>/stage/``):
    the write is planned off ONE hash exchange on the key, its LWW
    aggregate is keyed by the key alone (no per-row quarantine salt),
    and the attempt directory holds no ``_q=`` split, although the WAL
    carries quarantined rows."""
    from e_commerce_batch_etl_pipeline_spark.sources.datagen import write_wal
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )
    from e_commerce_batch_etl_pipeline_spark.tables.format import LakeTable

    root = str(tmp_path)
    base = generate_base_docs(spark, 400, seed=7, max_len=16)
    table = bootstrap_table(os.path.join(root, "t"), base, num_buckets=4)
    write_wal(spark, os.path.join(root, "wal"), 2, 200, 400, seed=7,
              max_len=16, invalid_frac=0.1)
    ckpt = os.path.join(root, "ckpt")
    staged = []
    write = LakeTable.write_data_files

    def spy(self, df, *args, **kwargs):
        # the frame write_data_files writes: its repartition(B, key)
        plan = physical_plan(df.repartition(4, F.col("doc_id")))
        files = write(self, df, *args, **kwargs)
        attempt = os.path.join(self.root, os.path.dirname(files[0]["path"]))
        staged.append((plan, os.listdir(attempt)))
        assert not os.path.exists(os.path.join(ckpt, "stage"))
        return files

    monkeypatch.setattr(LakeTable, "write_data_files", spy)
    res = CdcEngine(spark, table, WalSource(os.path.join(root, "wal")),
                    ckpt, merge_mode="mor").run()
    assert [r.status for r in res] == ["committed", "committed"]
    assert all(r.conflicts > 0 for r in res)
    assert not os.path.exists(os.path.join(ckpt, "stage"))
    assert len(staged) == 2
    for plan, listing in staged:
        tree = plan.split("\n\n")[0]  # the operator tree, not details
        assert tree.count("Exchange") == 1, plan
        assert re.search(r"hashpartitioning\(doc_id#\d+, 4\)", plan), plan
        assert "xxhash64" not in plan, plan
        keys = re.findall(r"Keys \[\d+\]: \[([^\]]*)\]", plan)
        assert keys and all(re.fullmatch(r"doc_id#\d+", k) for k in keys), plan
        assert "BroadcastExchange" not in plan, plan
        assert not [f for f in listing if f.startswith("_q=")], listing


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_epoch_writes_bucket_pure_files_in_one_task_wave(
        spark, tmp_path, monkeypatch, mode):
    """At B=16 on local[4] an epoch's write is planned off ONE
    ``hashpartitioning(doc_id, 4)`` exchange (the merge's or the MOR
    LWW's, which the writer reuses) and leaves one flat, bucket-pure
    ``part-<bucket>-*`` file, with its ``.crc``, per touched bucket and
    no ``_bucket=`` dir."""
    from e_commerce_batch_etl_pipeline_spark.sources.datagen import write_wal
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )
    from e_commerce_batch_etl_pipeline_spark.tables.format import (
        LakeTable,
        write_partitions,
    )

    from .test_table_format import assert_flat_pure_files

    assert write_partitions(spark, 16) == 4
    root = str(tmp_path)
    base = generate_base_docs(spark, 600, seed=9, max_len=16)
    table = bootstrap_table(os.path.join(root, "t"), base, num_buckets=16)
    write_wal(spark, os.path.join(root, "wal"), 1, 300, 600, seed=9,
              max_len=16, invalid_frac=0.05)
    written = []
    write = LakeTable.write_data_files

    def spy(self, df, *args, **kwargs):
        plan = physical_plan(df.repartition(4, F.col("doc_id")))
        files = write(self, df, *args, **kwargs)
        written.append((plan, files))
        return files

    monkeypatch.setattr(LakeTable, "write_data_files", spy)
    res = CdcEngine(spark, table, WalSource(os.path.join(root, "wal")),
                    os.path.join(root, "ckpt"), merge_mode=mode,
                    mor_compact_files=None).run()
    assert [r.status for r in res] == ["committed"]
    assert len(written) == 1
    plan, files = written[0]
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, plan
    assert re.search(r"hashpartitioning\(doc_id#\d+, 4\)", plan), plan
    assert res[0].buckets_touched == 16
    assert sorted(f["bucket"] for f in files) == list(range(16))
    assert_flat_pure_files(spark, table.root, files, 16)
    attempts = [d for d in os.listdir(os.path.join(table.root, "data"))]
    for d in attempts:
        assert not [x for x in os.listdir(os.path.join(table.root, "data", d))
                    if x.startswith("_bucket=")]


def test_cow_prepass_matches_count_distinct_off_one_exchange(
        spark, monkeypatch):
    """The CoW pre-pass groups (bucket, key) and then bucket off ONE
    exchange, and returns exactly what the ``count_distinct`` form
    returned, over hot keys, equal-lsn U/D ties, deletes, invalid rows
    and rows at or below their bucket's watermark."""
    from e_commerce_batch_etl_pipeline_spark.functions.tokens import (
        envelope_validity,
    )
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )
    from e_commerce_batch_etl_pipeline_spark.tables.format import bucket_expr

    B = 16
    snap = SimpleNamespace(
        key_column="doc_id", num_buckets=B,
        watermark={str(b): 100 for b in range(0, B, 2)},
    )
    rows = []
    for lsn in range(1, 301):
        key = "hot" if lsn % 3 == 0 else f"k{lsn % 40}"
        op = "D" if lsn % 7 == 0 else "U"
        rows.append((lsn, op, key, [1, 2]))
    rows += [
        (150, "U", "tie", [3]), (150, "D", "tie", None),  # equal-lsn tie
        (160, "D", "gone", None),
        (170, "U", None, [1]),                            # null key
        (171, "X", "bad_op", [1]),                        # bad op
        (172, "I", "empty", []),                          # empty tokens
        (None, "U", "no_lsn", [1]),                       # null lsn
    ]
    # keys seen only at lsn <= 100: applied in odd buckets, already
    # applied (below the watermark) in even ones
    rows += [(50 + i, "U", f"old{i}", [1]) for i in range(12)]
    flagged = spark.createDataFrame(
        rows, "lsn long, op string, doc_id string, tokens array<int>"
    ).withColumn("_q", (~envelope_validity()).cast("int"))
    applies = _applies(snap)

    old = flagged.groupBy(bucket_expr("doc_id", B).alias("_b")).agg(
        F.count_distinct(F.when(applies, F.col("doc_id"))).alias("rows"),
        F.max(F.when(applies, F.col("lsn"))).alias("max_lsn"),
        F.sum("_q").alias("q"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    want = (
        {int(r["_b"]): {"rows": int(r["rows"]),
                        "max_lsn": int(r["max_lsn"])}
         for r in old if r["rows"]},
        sum(int(r["q"]) for r in old),
        sum(int(r["n"]) for r in old),
    )

    plans = []
    cls = type(flagged)
    collect = cls.collect

    def spy(self):
        plans.append(physical_plan(self))
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    got = CdcEngine._cow_prepass(None, flagged, applies, snap)
    monkeypatch.undo()

    assert got == want
    stats, conflicts, rows_in = got
    assert conflicts == 4 and rows_in == len(rows)
    # the watermark drops the even buckets' old keys, not the odd ones'
    old_bucket = {r["doc_id"]: r["b"] for r in spark.createDataFrame(
        [(f"old{i}",) for i in range(12)], "doc_id string",
    ).select("doc_id", bucket_expr("doc_id", B).alias("b")).collect()}
    dropped = {k for k, b in old_bucket.items() if b % 2 == 0}
    assert 0 < len(dropped) < 12
    valid_keys = {r[2] for r in rows if r[2] and r[0] is not None} - {
        "bad_op", "empty"}
    assert sum(s["rows"] for s in stats.values()) == len(
        valid_keys - dropped)
    assert len(plans) == 1
    tree = plans[0].split("\n\n")[0]
    assert tree.count("Exchange") == 1, plans[0]
