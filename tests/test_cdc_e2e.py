"""End-to-end CDC replay vs the naive pandas oracle (SURVEY.md §5):
golden final state w/ exact token-array equality, idempotent replay,
crash/resume, skew, DQ gate, schema evolution mid-stream."""

import json
import os

import pytest
from pyspark.sql import functions as F

from e_commerce_batch_etl_pipeline_spark.sources.datagen import (
    generate_base_docs,
    generate_wal_epoch,
    write_wal,
)
from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import bootstrap_table
from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import CdcEngine
from e_commerce_batch_etl_pipeline_spark.tables.format import LakeTable

from .oracle import assert_states_equal, replay

BASE_N = 800
EPOCHS = 4
CHANGES = 600


def _collect_state(df, payload_cols):
    return {
        r["doc_id"]: {c: r[c] for c in payload_cols}
        for r in df.collect()
    }


def _setup(spark, root, **wal_kwargs):
    base = generate_base_docs(spark, BASE_N, seed=42, max_len=32)
    table = bootstrap_table(os.path.join(root, "table"), base, num_buckets=4)
    wal_root = os.path.join(root, "wal")
    write_wal(spark, wal_root, EPOCHS, CHANGES, BASE_N, seed=42,
              max_len=32, **wal_kwargs)
    return table, WalSource(wal_root), base


def _oracle_state(base, wal, spark, payload_cols):
    base_rows = [r.asDict() for r in base.collect()]
    env_rows = []
    for e in wal.epochs():
        env_rows += [r.asDict() for r in wal.read_epoch(spark, e).collect()]
    return replay(base_rows, env_rows, payload_cols)


def test_golden_final_state(spark, tmpdir_clean):
    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"))
    results = eng.run()
    assert all(r.status == "committed" for r in results)
    payload = ["tokens", "n_tok", "source"]
    expected = _oracle_state(base, wal, spark, payload)
    actual = _collect_state(table.read(spark), payload)
    assert_states_equal(expected, actual)


def test_golden_final_state_large_bucket_count(spark, tmpdir_clean):
    """Same golden-state contract at 1040 buckets: the single from_json
    watermark literal (1040 elements, no join) must replay to the
    identical state at a bucket count this large too."""
    base = generate_base_docs(spark, 200, seed=42, max_len=16)
    table = bootstrap_table(
        os.path.join(tmpdir_clean, "table"), base, num_buckets=1040
    )
    wal_root = os.path.join(tmpdir_clean, "wal")
    write_wal(spark, wal_root, 3, 300, 200, seed=42, max_len=16)
    wal = WalSource(wal_root)
    eng = CdcEngine(spark, table, wal,
                    os.path.join(tmpdir_clean, "ckpt"), merge_mode="mor")
    results = eng.run()
    assert all(r.status == "committed" for r in results)
    payload = ["tokens", "n_tok", "source"]
    expected = _oracle_state(base, wal, spark, payload)
    actual = _collect_state(table.read(spark), payload)
    assert_states_equal(expected, actual)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_redelivery_under_new_epoch_id_applies_nothing(
        spark, tmpdir_clean, mode):
    """Already-applied rows redelivered under a NEW epoch id — what the
    foreachBatch front-end does after losing its streaming checkpoint —
    match no fence, so the per-bucket watermark alone must drop every
    one of them (here at 4 buckets)."""
    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"),
                    merge_mode=mode)
    eng.run()
    v = table.current().version
    payload = ["tokens", "n_tok", "source"]
    before = _collect_state(table.read(spark), payload)
    res = eng.apply_changes_df(wal.read_epoch(spark, 0), epoch=EPOCHS + 10)
    assert res.status == "empty" and res.rows_applied == 0
    assert table.current().version == v
    assert_states_equal(before, _collect_state(table.read(spark), payload))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_epoch_with_nothing_to_apply_is_empty(spark, tmpdir_clean, mode):
    """An epoch that applies no row ends ``empty`` and commits nothing,
    in both modes: a zero-row batch, and (audit lane off) epoch 0
    re-applied under a new epoch id, whose rows the watermark drops. In
    merge-on-read both write an empty shuffle, whose observed counts
    must still arrive, and leave no attempt directory under ``data/``."""
    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"),
                    merge_mode=mode, audit_quarantine=False)
    data = os.path.join(table.root, "data")
    v, dirs = table.current().version, set(os.listdir(data))
    env0 = wal.read_epoch(spark, 0)
    res = eng.apply_changes_df(spark.createDataFrame([], env0.schema),
                               epoch=EPOCHS + 10)
    assert (res.status, res.rows_in, res.rows_applied) == ("empty", 0, 0)
    assert table.current().version == v
    assert set(os.listdir(data)) == dirs
    eng.run()
    v, dirs = table.current().version, set(os.listdir(data))
    res = eng.apply_changes_df(env0, epoch=EPOCHS + 11)
    assert (res.status, res.rows_in, res.rows_applied) == (
        "empty", env0.count(), 0)
    assert table.current().version == v
    assert set(os.listdir(data)) == dirs


def test_empty_shuffle_still_delivers_observed_counts(spark, tmpdir_clean):
    """Epoch 0 re-applied under a new epoch id with one NULL-op row
    added, audit lane on, in four engine shapes: the watermark drops
    every valid row, so each epoch ends ``empty`` and, in merge-on-read,
    writes an empty shuffle under the epoch's ``df.observe`` counts.

    Why this test exists: when an exchange that is NOT elided sits above
    an observed aggregate whose input shuffle came out empty, AQE
    (``AQEPropagateEmptyRelation``) replaces that subtree, metrics
    observer included, with an empty relation, and ``Observation.get``
    raises. The engine's plans shuffle once at the writer's width, so
    the writer's repartition is elided and the metrics arrive. An engine
    shape that adds such an exchange fails here, before publish, rather
    than in production."""
    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"))
    eng.apply_epoch(0)
    env0 = wal.read_epoch(spark, 0)
    batch = env0.unionByName(env0.orderBy("lsn").limit(1).withColumn(
        "op", F.lit(None).cast("string")))
    n = batch.count()
    data = os.path.join(table.root, "data")
    v, dirs = table.current().version, set(os.listdir(data))
    shapes = [("cow", {}), ("mor", {}), ("mor", {"salted": True}),
              ("mor", {"delta_blooms": True})]
    for i, (mode, opts) in enumerate(shapes):
        ckpt = os.path.join(tmpdir_clean, f"ckpt{i}")
        epoch = EPOCHS + 10 + i
        res = CdcEngine(spark, table, wal, ckpt, merge_mode=mode,
                        **opts).apply_changes_df(batch, epoch=epoch)
        audit = spark.read.parquet(
            os.path.join(ckpt, "quarantine", f"epoch-{epoch:05d}")).count()
        shape = (mode, opts)
        assert (res.status, res.rows_in, res.rows_applied) == (
            "empty", n, 0), shape
        assert res.conflicts == audit >= 1, (shape, res.conflicts, audit)
        assert table.current().version == v, shape
        assert set(os.listdir(data)) == dirs, shape


def test_replay_idempotent(spark, tmpdir_clean):
    table, wal, base = _setup(spark, tmpdir_clean)
    CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "c1")).run()
    v = table.current().version
    state1 = _collect_state(table.read(spark), ["tokens", "n_tok", "source"])
    # full replay with a fresh checkpoint — every epoch must be fenced out
    res = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "c2")).run()
    assert all(r.status == "skipped" for r in res)
    assert table.current().version == v
    state2 = _collect_state(table.read(spark), ["tokens", "n_tok", "source"])
    assert_states_equal(state1, state2)


def test_resume_from_checkpoint(spark, tmpdir_clean):
    table, wal, base = _setup(spark, tmpdir_clean)
    ckpt = os.path.join(tmpdir_clean, "ckpt")
    eng = CdcEngine(spark, table, wal, ckpt)
    eng.run(max_epochs=2)  # "crash" after 2 epochs
    assert eng.last_committed_epoch() == 1
    # new process resumes from checkpoint
    eng2 = CdcEngine(spark, LakeTable(table.root), wal, ckpt)
    res = eng2.run()
    assert [r.epoch for r in res] == [2, 3]
    payload = ["tokens", "n_tok", "source"]
    expected = _oracle_state(base, wal, spark, payload)
    assert_states_equal(expected, _collect_state(table.read(spark), payload))


def test_crash_between_publish_and_checkpoint(spark, tmpdir_clean):
    # worst-case crash window: snapshot published, checkpoint not written.
    # rerunning the epoch must be a fence no-op with identical state.
    table, wal, base = _setup(spark, tmpdir_clean)
    ckpt = os.path.join(tmpdir_clean, "ckpt")
    eng = CdcEngine(spark, table, wal, ckpt)
    eng.apply_epoch(0)  # committed, but checkpoint.json never written
    assert eng.last_committed_epoch() == -1
    v = table.current().version
    res = eng.run()  # re-delivers epoch 0, then 1..3
    assert res[0].epoch == 0 and res[0].status == "skipped"
    payload = ["tokens", "n_tok", "source"]
    expected = _oracle_state(base, wal, spark, payload)
    assert_states_equal(expected, _collect_state(table.read(spark), payload))


def test_skewed_hot_keys(spark, tmpdir_clean):
    table, wal, base = _setup(
        spark, tmpdir_clean, num_hot_keys=1, hot_key_frac=0.5
    )
    # both physical strategies must produce the oracle state under skew
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"),
                    salted=True)
    eng.run()
    payload = ["tokens", "n_tok", "source"]
    expected = _oracle_state(base, wal, spark, payload)
    assert_states_equal(expected, _collect_state(table.read(spark), payload))
    # the salted plan in merge-on-read, on a fresh table
    root = os.path.join(tmpdir_clean, "mor")
    table2, wal2, _ = _setup(spark, root, num_hot_keys=1, hot_key_frac=0.5)
    res = CdcEngine(spark, table2, wal2, os.path.join(root, "ckpt"),
                    merge_mode="mor", salted=True).run()
    assert all(r.status == "committed" for r in res)
    assert_states_equal(expected, _collect_state(table2.read(spark), payload))


def test_schema_evolution_mid_stream(spark, tmpdir_clean):
    table, wal, base = _setup(spark, tmpdir_clean, evolve_from_epoch=2)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"))
    eng.run()
    snap = table.current()
    assert ("lang", "string", True) in snap.schema.fields
    payload = ["tokens", "n_tok", "source", "lang"]
    expected = _oracle_state(base, wal, spark, payload)
    actual = _collect_state(table.read(spark), payload)
    assert_states_equal(expected, actual)
    # rows never touched after evolution read as NULL lang
    df = table.read(spark)
    assert df.filter(F.col("lang").isNull()).count() > 0


def test_quarantine_and_lineage(spark, tmpdir_clean):
    table, wal, base = _setup(spark, tmpdir_clean, invalid_frac=0.05)
    ckpt = os.path.join(tmpdir_clean, "ckpt")
    eng = CdcEngine(spark, table, wal, ckpt)
    results = eng.run()
    assert sum(r.conflicts for r in results) > 0
    assert [r.rows_in for r in results] == [
        wal.read_epoch(spark, e).count() for e in wal.epochs()
    ]
    # quarantined envelopes persisted for audit
    qdir = os.path.join(ckpt, "quarantine", "epoch-00000")
    assert spark.read.parquet(qdir).count() == results[0].conflicts
    # lineage: per-partition offset ranges + rows applied
    lin = json.load(open(os.path.join(ckpt, "lineage", "epoch-00000.json")))
    assert lin["rows_applied"] == results[0].rows_applied
    assert all({"bucket", "lsn_max", "rows_applied"} <= set(p) for p in lin["partitions"])
    # correctness unaffected by quarantining
    payload = ["tokens", "n_tok", "source"]
    expected = _oracle_state(base, wal, spark, payload)
    assert_states_equal(expected, _collect_state(table.read(spark), payload))
    # run-level history rollup APPENDED per run (reference pipeline-log
    # append, notebooks/07:341-388): one record now, two after a re-run
    hist_path = os.path.join(ckpt, "run_history.jsonl")
    hist = [json.loads(line) for line in open(hist_path)]
    assert len(hist) == 1
    assert hist[0]["epochs_committed"] == len(
        [r for r in results if r.status == "committed"]
    )
    assert hist[0]["rows_applied"] == sum(r.rows_applied for r in results)
    assert hist[0]["table_version"] == table.current().version
    eng.run()  # resume no-op still logs a run record
    hist2 = [json.loads(line) for line in open(hist_path)]
    assert len(hist2) == 2 and hist2[1]["epochs_total"] == 0


def test_dq_gate_aborts_before_commit(spark, tmpdir_clean, monkeypatch):
    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"))
    v0 = table.current().version
    state0 = _collect_state(table.read(spark), ["tokens", "n_tok", "source"])

    # sabotage the n_tok recompute so the DQ gate must fire
    import e_commerce_batch_etl_pipeline_spark.streaming.microbatch as mb

    monkeypatch.setattr(
        mb, "recompute_n_tok",
        lambda df: df.withColumn("n_tok", F.lit(1).cast("int")),
    )
    with pytest.raises(RuntimeError, match="DQ FAIL"):
        eng.apply_epoch(0)
    # table state unchanged — abort happened before publish
    assert table.current().version == v0
    assert_states_equal(
        state0, _collect_state(table.read(spark), ["tokens", "n_tok", "source"])
    )


def test_mor_dq_gate_aborts_before_commit(spark, tmpdir_clean, monkeypatch):
    """Merge-on-read epochs pass the same DQ gate as copy-on-write: a
    broken n_tok recompute aborts the epoch before publish."""
    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"),
                    merge_mode="mor")
    v0 = table.current().version
    state0 = _collect_state(table.read(spark), ["tokens", "n_tok", "source"])
    import e_commerce_batch_etl_pipeline_spark.streaming.microbatch as mb

    monkeypatch.setattr(
        mb, "recompute_n_tok",
        lambda df: df.withColumn("n_tok", F.lit(1).cast("int")),
    )
    with pytest.raises(RuntimeError, match="DQ FAIL"):
        eng.apply_epoch(0)
    assert table.current().version == v0
    assert_states_equal(
        state0, _collect_state(table.read(spark), ["tokens", "n_tok", "source"])
    )


def test_mor_commit_failure_resumes_and_gc_drops_dead_attempt(
        spark, tmpdir_clean, monkeypatch):
    """A merge-on-read epoch whose commit fails after its files are
    written leaves one unreferenced attempt directory under ``data/``:
    a fresh engine resumes to the oracle state, and orphan GC removes
    exactly that directory."""
    from e_commerce_batch_etl_pipeline_spark.tables.maintenance import (
        remove_orphans,
    )

    table, wal, base = _setup(spark, tmpdir_clean)
    ckpt = os.path.join(tmpdir_clean, "ckpt")
    data = os.path.join(table.root, "data")
    v0, dirs0 = table.current().version, set(os.listdir(data))
    commit = LakeTable.commit
    calls = []

    def failing_commit(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise OSError("injected: commit failed after the write")
        return commit(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "commit", failing_commit)
    with pytest.raises(OSError, match="injected"):
        CdcEngine(spark, table, wal, ckpt, merge_mode="mor",
                  mor_compact_files=None).run()
    dead = set(os.listdir(data)) - dirs0
    assert len(dead) == 1 and table.current().version == v0
    res = CdcEngine(spark, LakeTable(table.root), wal, ckpt,
                    merge_mode="mor", mor_compact_files=None).run()
    assert [r.status for r in res] == ["committed"] * EPOCHS
    payload = ["tokens", "n_tok", "source"]
    expected = _oracle_state(base, wal, spark, payload)
    assert_states_equal(expected, _collect_state(table.read(spark), payload))
    dirs = set(os.listdir(data))
    assert remove_orphans(table, min_age_sec=0) == [
        os.path.join("data", d) for d in dead]
    assert set(os.listdir(data)) == dirs - dead
    assert_states_equal(expected, _collect_state(table.read(spark), payload))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_replay_into_table_keyed_on_id(spark, tmpdir_clean, mode):
    """The engine validates envelopes on the table's key column, not on
    a fixed ``doc_id``: hand-built envelopes replay into a 4-bucket table
    keyed on ``id`` to the expected state, and an envelope with a null
    ``id`` is quarantined."""
    from e_commerce_batch_etl_pipeline_spark.tables.format import TableSchema

    schema = TableSchema(fields=[
        ("id", "string", False),
        ("tokens", "array<int>", True),
        ("n_tok", "int", True),
    ])
    base = spark.createDataFrame(
        [(f"k{i}", [i, i + 1], 2) for i in range(8)],
        "id string, tokens array<int>, n_tok int",
    )
    table = bootstrap_table(os.path.join(tmpdir_clean, "table"), base,
                            schema=schema, key_column="id", num_buckets=4)
    env = "lsn long, op string, id string, tokens array<int>, n_tok int"
    wal_root = os.path.join(tmpdir_clean, "wal")
    epochs = [
        [(1, "U", "k0", [7], None), (2, "D", "k1", None, None),
         (3, "I", "k9", [1, 2, 3], None), (4, "U", "k0", [8, 9], None),
         (5, "I", None, [5], None)],
        [(6, "D", "k9", None, None), (7, "U", "k2", [4, 4, 4, 4], 1),
         (8, "I", "k10", [0], None)],
    ]
    for e, rows in enumerate(epochs):
        spark.createDataFrame(rows, env).select(
            "lsn", F.lit(e).alias("epoch"), "op", "id", "tokens", "n_tok",
            F.lit(None).cast("timestamp").alias("ts"),
        ).write.parquet(os.path.join(wal_root, f"epoch-{e:05d}"))
    res = CdcEngine(spark, table, WalSource(wal_root),
                    os.path.join(tmpdir_clean, "ckpt"),
                    merge_mode=mode).run()
    assert [r.status for r in res] == ["committed", "committed"]
    assert [r.conflicts for r in res] == [1, 0]
    want = {f"k{i}": ([i, i + 1], 2) for i in range(3, 8)}
    want.update({"k0": ([8, 9], 2), "k2": ([4, 4, 4, 4], 4),
                 "k10": ([0], 1)})
    got = {r["id"]: (list(r["tokens"]), r["n_tok"])
           for r in table.read(spark).collect()}
    assert got == want


def test_unknown_merge_mode_is_rejected(spark, tmpdir_clean):
    """Any merge_mode but "cow" or "mor" raises, also under ``python -O``
    (an assert would be stripped and the engine would silently run
    merge-on-read)."""
    with pytest.raises(ValueError, match="merge_mode"):
        CdcEngine(spark, None, None, os.path.join(tmpdir_clean, "ckpt"),
                  merge_mode="merge-on-read")


def test_old_schema_producer_after_evolution(spark, tmpdir_clean):
    """Regression: after additive evolution, an epoch whose envelopes LACK
    the new column must not wipe it from untouched rows (merge must keep
    the union of payload columns)."""
    table, wal, base = _setup(spark, tmpdir_clean, evolve_from_epoch=1)
    ckpt = os.path.join(tmpdir_clean, "ckpt")
    eng = CdcEngine(spark, table, wal, ckpt)
    eng.run(max_epochs=2)  # epoch 0 (no lang), epoch 1 (adds lang)
    with_lang = table.read(spark).filter(F.col("lang").isNotNull()).count()
    assert with_lang > 0
    # epoch 2+: hand-write an OLD-schema segment (no lang column)
    env = generate_wal_epoch(spark, 4, 200, BASE_N, seed=42, max_len=32)
    wal_dir = os.path.join(tmpdir_clean, "wal", "epoch-00004")
    env.write.mode("overwrite").parquet(wal_dir)
    eng.run()
    df = table.read(spark)
    assert "lang" in df.columns
    # rows from epoch 1 untouched by epoch 4 must still carry their lang
    assert df.filter(F.col("lang").isNotNull()).count() > 0


def test_type_widening_from_envelopes(spark, tmpdir_clean):
    """An envelope stream whose n_tok arrives as BIGINT widens the table
    column via metadata-only DDL and applies cleanly."""
    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"))
    eng.run(max_epochs=1)
    env = generate_wal_epoch(spark, 5, 150, BASE_N, seed=42, max_len=32)
    env = env.withColumn("n_tok", F.col("n_tok").cast("bigint"))
    env.write.mode("overwrite").parquet(
        os.path.join(tmpdir_clean, "wal", "epoch-00005")
    )
    eng.run()
    snap = table.current()
    assert ("n_tok", "bigint", True) in snap.schema.fields
    df = table.read(spark)
    assert dict(df.dtypes)["n_tok"] == "bigint"
    assert df.filter("n_tok <> size(tokens)").count() == 0


@pytest.mark.parametrize("compact_files", [1, 100])
def test_mor_golden_final_state(spark, tmpdir_clean, compact_files):
    """Merge-on-read: delta commits + read-time LWW (+ forced compaction
    when compact_files=1) reproduce the oracle state exactly."""
    table, wal, base = _setup(spark, tmpdir_clean, evolve_from_epoch=2)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"),
                    merge_mode="mor", mor_compact_files=compact_files)
    results = eng.run()
    assert all(r.status == "committed" for r in results)
    payload = ["tokens", "n_tok", "source", "lang"]
    expected = _oracle_state(base, wal, spark, payload)
    actual = _collect_state(table.read(spark), payload)
    assert_states_equal(expected, actual)
    kinds = {f.get("kind", "base") for f in table.current().files}
    if compact_files == 100:
        assert "delta" in kinds  # deltas still pending
    else:
        assert kinds == {"base"}  # everything compacted back


def test_mor_replay_idempotent_and_verify(spark, tmpdir_clean):
    from e_commerce_batch_etl_pipeline_spark.tables.maintenance import verify

    table, wal, base = _setup(spark, tmpdir_clean)
    CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "c1"),
              merge_mode="mor").run()
    state1 = _collect_state(table.read(spark), ["tokens", "n_tok", "source"])
    res = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "c2"),
                    merge_mode="mor").run()
    assert all(r.status == "skipped" for r in res)
    assert_states_equal(
        state1, _collect_state(table.read(spark), ["tokens", "n_tok", "source"])
    )
    assert verify(table, spark)["ok"]


def test_mor_deferred_compaction_via_maintain(spark, tmpdir_clean):
    """mor_compact_files=None: ingest never folds deltas inline — the
    maintain entry point (background-job shape) compacts later through
    the same snapshot CAS, preserving state exactly."""
    from e_commerce_batch_etl_pipeline_spark.tables.maintenance import (
        compact,
        verify,
    )

    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"),
                    merge_mode="mor", mor_compact_files=None)
    results = eng.run()
    assert all(r.status == "committed" for r in results)
    payload = ["tokens", "n_tok", "source"]
    before = _collect_state(table.read(spark), payload)
    # every epoch's deltas still pending — ingest never compacted
    kinds = {f.get("kind", "base") for f in table.current().files}
    assert "delta" in kinds
    # background maintain folds them; state identical, all-base layout
    snap = compact(table, spark, max_files_per_bucket=1)
    assert snap is not None
    assert {f.get("kind", "base") for f in table.current().files} == {"base"}
    assert_states_equal(before, _collect_state(table.read(spark), payload))
    assert verify(table, spark)["ok"]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_changes_between_incremental_feed(spark, tmpdir_clean, mode):
    """Incremental change feed (Delta-CDF/Iceberg-CDC analog): NET row
    changes between two snapshots match a diff of the independent pandas
    oracle states, in both merge modes."""
    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"),
                    merge_mode=mode)
    eng.run(max_epochs=1)
    v1 = table.current().version
    eng.run(max_epochs=1)
    v2 = table.current().version

    payload = ["tokens", "n_tok", "source"]
    base_rows = [r.asDict() for r in base.collect()]
    env0 = [r.asDict() for r in wal.read_epoch(spark, 0).collect()]
    env1 = [r.asDict() for r in wal.read_epoch(spark, 1).collect()]
    from .oracle import replay as oracle_replay

    s_before = oracle_replay(base_rows, env0, payload)
    s_after = oracle_replay(base_rows, env0 + env1, payload)
    expected = {}
    for k in set(s_before) | set(s_after):
        if k not in s_before:
            expected[k] = ("I", s_after[k])
        elif k not in s_after:
            expected[k] = ("D", s_before[k])
        else:
            a, b = s_before[k], s_after[k]
            same = (
                list(a["tokens"]) == list(b["tokens"])
                and a["n_tok"] == b["n_tok"] and a["source"] == b["source"]
            )
            if not same:
                expected[k] = ("U", b)

    feed = table.changes_between(spark, v1, v2)
    actual = {
        r["doc_id"]: (r["_change_op"],
                      {c: r[c] for c in payload})
        for r in feed.collect()
    }
    assert set(actual) == set(expected), (
        f"{mode}: keys differ: extra={sorted(set(actual)-set(expected))[:5]} "
        f"missing={sorted(set(expected)-set(actual))[:5]}"
    )
    for k, (op, pay) in expected.items():
        aop, apay = actual[k]
        assert aop == op, f"{mode} {k}: op {aop} != {op}"
        assert list(apay["tokens"] or []) == list(pay["tokens"] or [])
        assert apay["n_tok"] == pay["n_tok"]
        assert apay["source"] == pay["source"]
    # no-change version range → empty feed
    assert table.changes_between(spark, v2, v2).count() == 0


def test_incremental_rollup_tracks_recompute(spark, tmpdir_clean):
    """Continuous aggregate: after every epoch, maintaining the
    (source -> n, sum n_tok) rollup incrementally from the change feed
    equals a full recompute over the table — in both merge modes the
    feed sees the same NET changes (covers I/U/D and group moves, since
    updates can change a doc's source)."""
    from e_commerce_batch_etl_pipeline_spark.tables.rollup import (
        incremental_rollup,
    )

    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"))
    state = None
    v_prev = table.current().version
    # bootstrap the rollup from the initial table state
    state = (
        table.read(spark).groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("n_tok").cast("long").alias("total"))
    ).localCheckpoint()
    for e in range(3):
        eng.run(max_epochs=1)
        v_now = table.current().version
        state = incremental_rollup(
            table, spark, v_prev, v_now, state, "source", "n_tok"
        ).localCheckpoint()
        v_prev = v_now
        expected = {
            (r["source"], r["n"], r["total"])
            for r in table.read(spark).groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_tok").cast("long").alias("total"),
            ).collect()
        }
        got = {(r["source"], r["n"], r["total"]) for r in state.collect()}
        assert got == expected, f"epoch {e}: {got} != {expected}"


def test_stats_job_path_matches_footer_path(spark, tmpdir_clean):
    """The CoW pre-pass (one distributed aggregate over the envelopes:
    nothing staged, no O(buckets) driver footer opens) must produce the
    identical final state, lineage stats and conflict counts as the MOR
    footer path over its staged change-set."""
    table, wal, base = _setup(spark, tmpdir_clean, invalid_frac=0.05)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "c1"))
    results = eng.run()
    assert all(r.status == "committed" for r in results)
    assert sum(r.conflicts for r in results) > 0
    payload = ["tokens", "n_tok", "source"]
    expected = _oracle_state(base, wal, spark, payload)
    assert_states_equal(expected, _collect_state(table.read(spark), payload))
    # footer path on an identical setup (also audit OFF, cross-checking
    # the conflicts count with the audit lane disabled): same stats
    table2, wal2, _ = _setup(spark, os.path.join(tmpdir_clean, "b"),
                             invalid_frac=0.05)
    eng2 = CdcEngine(spark, table2, wal2, os.path.join(tmpdir_clean, "c2"),
                     merge_mode="mor", audit_quarantine=False)
    results2 = eng2.run()
    assert [r.lineage for r in results2] == [r.lineage for r in results]
    assert [r.conflicts for r in results2] == [r.conflicts for r in results]
    assert_states_equal(expected, _collect_state(table2.read(spark), payload))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_null_op_and_null_lsn_are_quarantined(spark, tmpdir_clean, mode):
    """Validity is never NULL. An envelope with a NULL op (``isin`` on
    NULL is NULL) must not join the valid LWW group and displace the
    key's real update; one with a NULL lsn must not vanish at the
    watermark (``NULL > wm``). Both are quarantined and counted, and the
    audit lane keeps identical duplicates verbatim (two copies of the
    NULL-op row), so it holds exactly ``conflicts`` rows."""
    base = spark.createDataFrame(
        [("doc_a", [1, 2], 2, "web"), ("doc_b", [3], 1, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    table = bootstrap_table(os.path.join(tmpdir_clean, "table"), base,
                            num_buckets=4)
    env = spark.createDataFrame(
        [(10, 0, "U", "doc_a", [7, 8, 9], 3, "api"),
         (20, 0, None, "doc_a", [5], 1, "api"),
         (20, 0, None, "doc_a", [5], 1, "api"),
         (None, 0, "U", "doc_b", [6], 1, "api")],
        "lsn long, epoch int, op string, doc_id string, "
        "tokens array<int>, n_tok int, source string",
    )
    ckpt = os.path.join(tmpdir_clean, "ckpt")
    eng = CdcEngine(spark, table, WalSource(os.path.join(tmpdir_clean, "wal")),
                    ckpt, merge_mode=mode, strict_dq=True)
    res = eng.apply_changes_df(env, epoch=0)
    assert (res.status, res.conflicts, res.rows_applied) == ("committed", 3, 1)
    assert res.rows_in == 4
    state = _collect_state(table.read(spark), ["tokens", "n_tok", "source"])
    assert {k: (list(v["tokens"]), v["n_tok"], v["source"])
            for k, v in state.items()} == {
        "doc_a": ([7, 8, 9], 3, "api"),
        "doc_b": ([3], 1, "web"),
    }
    q = spark.read.parquet(os.path.join(ckpt, "quarantine", "epoch-00000"))
    assert sorted((r["lsn"] or 0, r["op"] or "", r["doc_id"])
                  for r in q.collect()) == [
        (0, "U", "doc_b"), (20, "", "doc_a"), (20, "", "doc_a"),
    ]


def test_quarantine_rides_staging_job(spark, tmpdir_clean):
    """Merge-on-read with audit_quarantine: each epoch's invalid rows are
    persisted verbatim by the audit-lane write (count == conflicts), and
    the delta files adopted from the staging write stay bucket-pure."""
    from e_commerce_batch_etl_pipeline_spark.tables.format import bucket_expr

    table, wal, base = _setup(spark, tmpdir_clean, invalid_frac=0.10)
    ckpt = os.path.join(tmpdir_clean, "ckpt")
    eng = CdcEngine(spark, table, wal, ckpt, merge_mode="mor",
                    mor_compact_files=None)
    results = eng.run()
    # quarantined rows persisted per epoch, count == conflicts
    for r in results:
        qdir = os.path.join(ckpt, "quarantine", f"epoch-{r.epoch:05d}")
        if r.conflicts:
            assert spark.read.parquet(qdir).count() == r.conflicts
    # MOR delta files (adopted from the same write) are bucket-pure
    snap = table.current()
    deltas = [f for f in snap.files if f.get("kind") == "delta"]
    assert deltas
    for f in deltas:
        sub = spark.read.parquet(os.path.join(table.root, f["path"]))
        assert sub.withColumn(
            "_b", bucket_expr(snap.key_column, snap.num_buckets)
        ).filter(f"_b <> {f['bucket']}").count() == 0
    # state still correct under MOR + in-job audit
    payload = ["tokens", "n_tok", "source"]
    expected = _oracle_state(base, wal, spark, payload)
    assert_states_equal(expected, _collect_state(table.read(spark), payload))


def test_changes_between_spans_schema_evolution(spark, tmpdir_clean):
    """A change-feed range containing an additive schema evolution is
    reconciled to the LATER snapshot's schema: pre-evolution rows read
    the new column as NULL, an update that (also) populates it surfaces
    as U, and include_old pre-images carry NULL for the new column."""
    table, wal, base = _setup(spark, tmpdir_clean, evolve_from_epoch=1)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"))
    eng.run(max_epochs=1)  # epoch 0: pre-evolution
    v1 = table.current().version
    eng.run(max_epochs=1)  # epoch 1: envelopes add `lang` -> DDL + data
    v2 = table.current().version

    feed = table.changes_between(spark, v1, v2, include_old=True)
    assert "lang" in feed.columns and "_old_lang" in feed.columns
    rows = feed.collect()
    assert rows
    ops = {r["_change_op"] for r in rows}
    assert "U" in ops  # updates across the evolution surface
    # every U pre-image has NULL lang (the column did not exist at v1)
    for r in rows:
        if r["_change_op"] == "U":
            assert r["_old_lang"] is None
    # some post-evolution row actually carries a lang value
    assert any(r["lang"] is not None for r in rows
               if r["_change_op"] in ("I", "U"))
    # rollup across the evolution range: group by the NEW column — every
    # pre-image groups under NULL... use source (stable) as group and
    # n_tok as measure: maintained state equals recompute at v2
    from e_commerce_batch_etl_pipeline_spark.tables.rollup import (
        incremental_rollup,
    )

    state_v1 = (
        table.read(spark, snapshot=table.snapshot_at(v1))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("n_tok").cast("long").alias("total"))
    )
    maintained = incremental_rollup(
        table, spark, v1, v2, state_v1, "source", "n_tok"
    )
    recomputed = (
        table.read(spark, snapshot=table.snapshot_at(v2))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("n_tok").cast("long").alias("total"))
    )
    got = {r["source"]: (r["n"], r["total"]) for r in maintained.collect()}
    want = {r["source"]: (r["n"], r["total"]) for r in recomputed.collect()}
    assert got == want


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_epoch_racing_a_rebucket_lands_in_the_new_layout(
        spark, tmpdir_clean, mode, monkeypatch):
    """A rebucket that publishes between an epoch's planning and its
    commit changes the bucket layout the epoch's files were written
    for. The commit refuses (ConcurrentCommitError) in both modes and
    the epoch re-runs against the new layout: no key appears twice, no
    live file carries a bucket id of the old layout, and the final
    state still equals the oracle."""
    from e_commerce_batch_etl_pipeline_spark.tables import maintenance

    table, wal, base = _setup(spark, tmpdir_clean)
    eng = CdcEngine(spark, table, wal, os.path.join(tmpdir_clean, "ckpt"),
                    merge_mode=mode, mor_compact_files=None)
    assert [r.status for r in eng.run(max_epochs=1)] == ["committed"]

    commit = LakeTable.commit
    raced = []

    def racing_commit(self, *args, **kwargs):
        if not raced:
            raced.append(True)
            maintenance.rebucket(self, spark, 8)
        return commit(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    assert [r.status for r in eng.run(max_epochs=1)] == ["committed"]
    monkeypatch.undo()
    assert raced

    snap = table.current()
    assert snap.num_buckets == 8
    df = table.read(spark)
    assert df.count() == df.select("doc_id").distinct().count()
    assert all(f["bucket"] < snap.num_buckets for f in snap.files)

    assert all(r.status == "committed" for r in eng.run())
    payload = ["tokens", "n_tok", "source"]
    expected = _oracle_state(base, wal, spark, payload)
    assert_states_equal(expected, _collect_state(table.read(spark), payload))


def test_run_and_follow_survive_run_history_failure(
        spark, tmpdir_clean, monkeypatch, capsys):
    """A failed run-history append is bookkeeping after publish: ``run()``
    and ``follow()`` still return their results, and the failure is
    logged to stderr rather than swallowed."""
    table, wal, _ = _setup(spark, tmpdir_clean)
    ckpt = os.path.join(tmpdir_clean, "ckpt")
    eng = CdcEngine(spark, table, wal, ckpt)

    def boom(*args, **kwargs):
        raise OSError("no space left on device")

    monkeypatch.setattr(CdcEngine, "_append_run_history", boom)
    assert [r.status for r in eng.run(max_epochs=1)] == ["committed"]
    err = capsys.readouterr().err
    assert "WARNING: run history" in err and "no space left" in err
    res = eng.follow(poll_sec=0.1, idle_timeout_sec=0, max_epochs=1)
    assert [(r.epoch, r.status) for r in res] == [(1, "committed")]
    err = capsys.readouterr().err
    assert "WARNING: run history" in err and "no space left" in err
    assert not os.path.exists(os.path.join(ckpt, "run_history.jsonl"))
