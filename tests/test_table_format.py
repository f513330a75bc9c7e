"""Table layer: snapshot isolation, atomic commit, fencing, evolution,
file pruning, time travel."""

import os

import pytest

from e_commerce_batch_etl_pipeline_spark.sources.datagen import generate_base_docs
from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
    bootstrap_table,
)
from e_commerce_batch_etl_pipeline_spark.tables.format import bucket_expr


@pytest.fixture()
def table(spark, tmpdir_clean):
    base = generate_base_docs(spark, 500, seed=42, max_len=32)
    return bootstrap_table(
        os.path.join(tmpdir_clean, "t"), base, num_buckets=4
    )


def test_bootstrap_and_read(spark, table):
    df = table.read(spark)
    assert df.count() == 500
    assert set(df.columns) == {"doc_id", "tokens", "n_tok", "source"}


def test_bootstrap_idempotent(spark, table):
    base2 = generate_base_docs(spark, 500, seed=42, max_len=32)
    t2 = bootstrap_table(table.root, base2, num_buckets=4)
    assert t2.current().version == table.current().version
    assert t2.read(spark).count() == 500


def test_file_pruning_reads_only_touched_buckets(spark, table):
    snap = table.current()
    df0 = table.read(spark, buckets=[0])
    # every row in bucket 0 must hash there
    got = df0.withColumn("_b", bucket_expr("doc_id", snap.num_buckets))
    assert got.filter("_b <> 0").count() == 0
    n_all = table.read(spark).count()
    n_by_bucket = sum(
        table.read(spark, buckets=[b]).count() for b in range(snap.num_buckets)
    )
    assert n_all == n_by_bucket
    # pruned read touches strictly fewer files
    files0 = [f for f in snap.files if f["bucket"] == 0]
    assert 0 < len(files0) < len(snap.files)


def test_commit_fencing_idempotent(spark, table):
    snap = table.current()
    v = snap.version
    # replaying the bootstrap epoch (-1) is a no-op
    out = table.commit(
        epoch=-1, replaced_buckets=list(range(snap.num_buckets)),
        new_files=[], bucket_max_lsn={},
    )
    assert out is None
    assert table.current().version == v


def test_schema_evolution_metadata_only(spark, table):
    files_before = {f["path"] for f in table.current().files}
    table.evolve_schema(add_columns=[("lang", "string")])
    snap = table.current()
    assert snap.schema.schema_version == 1
    assert ("lang", "string", True) in snap.schema.fields
    assert {f["path"] for f in snap.files} == files_before  # no rewrite
    df = table.read(spark)
    assert "lang" in df.columns
    assert df.filter("lang is not null").count() == 0


def test_type_widening(spark, table):
    table.evolve_schema(widen={"n_tok": "bigint"})
    df = table.read(spark)
    assert dict(df.dtypes)["n_tok"] == "bigint"
    assert df.filter("n_tok is null").count() == 0


def test_illegal_evolution_rejected(table):
    with pytest.raises(ValueError):
        table.evolve_schema(widen={"n_tok": "smallint"})  # narrowing
    with pytest.raises(ValueError):
        table.evolve_schema(add_columns=[("doc_id", "string")])  # dup


def test_time_travel(spark, table):
    v0 = table.current().version
    table.evolve_schema(add_columns=[("extra", "int")])
    old = table.snapshot_at(v0)
    df_old = table.read(spark, snapshot=old)
    assert "extra" not in df_old.columns
    assert "extra" in table.read(spark).columns
    assert table.history() == list(range(table.current().version + 1))


def test_orphan_files_invisible(spark, table, tmpdir_clean):
    # a crashed commit attempt leaves staged files no manifest references
    import pyspark.sql.functions as F

    staged = (
        generate_base_docs(spark, 50, seed=1, max_len=8)
        .withColumn("_bucket", bucket_expr("doc_id", 4))
    )
    table.write_data_files(staged, [0, 1, 2, 3])  # staged, never committed
    assert table.read(spark).count() == 500  # unchanged


def test_data_files_bucket_pure(spark, table):
    # every file must contain only rows whose bucket_expr equals its
    # manifest bucket — the invariant the murmur3-aligned writer relies on
    snap = table.current()
    import os as _os

    for f in snap.files:
        df = spark.read.parquet(_os.path.join(table.root, f["path"]))
        bad = df.withColumn(
            "_b", bucket_expr(snap.key_column, snap.num_buckets)
        ).filter(f"_b <> {f['bucket']}")
        assert bad.count() == 0, f"file {f['path']} impure"


def test_commit_lock_excludes_concurrent_writer(spark, table, monkeypatch):
    from e_commerce_batch_etl_pipeline_spark.tables import format as fmt
    from e_commerce_batch_etl_pipeline_spark.tables.format import (
        ConcurrentCommitError,
        commit_lock,
    )

    # a held FRESH lock is waited on; exhaust a short wait budget to see
    # the eventual error (production budget is LOCK_WAIT_SEC)
    monkeypatch.setattr(fmt, "LOCK_WAIT_SEC", 0.3)
    with commit_lock(table.root):
        with pytest.raises(ConcurrentCommitError):
            table.commit(epoch=99, replaced_buckets=[0], new_files=[],
                         bucket_max_lsn={0: 1})
    # lock released → commits proceed again
    table.evolve_schema(add_columns=[("extra2", "int")])
    assert ("extra2", "int", True) in table.current().schema.fields


def test_commit_lock_waits_out_transient_contention(spark, table):
    """Ingest must NOT abort on a fresh lock held briefly by background
    maintenance — the waiter retries with backoff and wins once the
    holder releases (the round-2 flaky-gate fix)."""
    import threading

    from e_commerce_batch_etl_pipeline_spark.tables.format import commit_lock

    release = threading.Event()

    def holder():
        with commit_lock(table.root):
            release.wait(timeout=10)

    th = threading.Thread(target=holder)
    th.start()
    time_held = 0.4
    import time as _time

    _time.sleep(0.05)  # let the holder acquire
    threading.Timer(time_held, release.set).start()
    # this commit lands AFTER the holder releases, without raising
    table.evolve_schema(add_columns=[("waited", "int")])
    th.join()
    assert ("waited", "int", True) in table.current().schema.fields


def test_publish_aborts_when_lease_lost(spark, table):
    """An expired leaseholder whose lock was taken over must NOT publish:
    the pre-VERSION-swap ownership re-check aborts the lost update."""
    import os as _os

    from e_commerce_batch_etl_pipeline_spark.tables.format import (
        LOCK_FILE,
        ConcurrentCommitError,
    )

    snap = table.current()
    v = snap.version
    lock = _os.path.join(table.root, "metadata", LOCK_FILE)
    open(lock, "w").write("new-owner-token 0.0")  # someone else holds it
    snap.version = v + 1
    snap.parent = v
    with pytest.raises(ConcurrentCommitError, match="lease lost"):
        table._write_snapshot(snap, cas_parent=v,
                              lock_token="expired-owner-token")
    _os.remove(lock)
    # VERSION untouched — the taker-over's state survives
    assert table.current().version == v


def test_stale_lock_broken(spark, table):
    import os as _os
    import time as _time

    from e_commerce_batch_etl_pipeline_spark.tables.format import LOCK_FILE

    lock = _os.path.join(table.root, "metadata", LOCK_FILE)
    open(lock, "w").write("dead-writer")
    _os.utime(lock, (_time.time() - 9999, _time.time() - 9999))
    table.evolve_schema(add_columns=[("extra3", "int")])  # breaks stale lock
    assert ("extra3", "int", True) in table.current().schema.fields


def test_stale_lock_takeover_is_ownership_safe(spark, table):
    """A waiter that takes over a stale lock must hold a lock the original
    owner's release path cannot remove (token-verified release)."""
    import os as _os
    import time as _time

    from e_commerce_batch_etl_pipeline_spark.tables.format import (
        LOCK_FILE,
        commit_lock,
    )

    lock = _os.path.join(table.root, "metadata", LOCK_FILE)
    open(lock, "w").write("stale-token 0.0")
    _os.utime(lock, (_time.time() - 9999, _time.time() - 9999))
    with commit_lock(table.root):
        # takeover succeeded; the new lock carries the new owner's token
        owner = open(lock).read().split(" ", 1)[0]
        assert owner != "stale-token"
        # the crashed owner's finally (token mismatch) must NOT unlock us:
        # simulate it by checking ownership the way release does
        assert open(lock).read().split(" ", 1)[0] == owner
    assert not _os.path.exists(lock)  # released by the rightful owner


def test_fence_pruning_bounds_metadata(spark, table):
    """Commits beyond FENCE_KEEP_EPOCHS prune old ingest fences into the
    min_fenced_epoch marker; pruned epochs still read as fenced and
    negative (bootstrap/compaction) epochs are unaffected."""
    from e_commerce_batch_etl_pipeline_spark.tables import format as fmt

    old_keep = fmt.FENCE_KEEP_EPOCHS
    fmt.FENCE_KEEP_EPOCHS = 8
    try:
        for e in range(20):
            table.commit(
                epoch=e, replaced_buckets=[0], new_files=[],
                bucket_max_lsn={0: e}, delta=True,
            )
        snap = table.current()
        ingest = {int(k.split(":")[0]) for k in snap.fences
                  if int(k.split(":")[0]) >= 0}
        assert len(ingest) <= 8
        assert snap.min_fenced_epoch == 12  # epochs 0..11 pruned
        # pruned epochs are still fenced (replay is a no-op)
        assert snap.epoch_fenced(0) and snap.units_fenced(3, [0])
        assert table.commit(epoch=5, replaced_buckets=[0], new_files=[],
                            bucket_max_lsn={0: 5}) is None
        # bootstrap fence survives pruning verbatim
        assert any(k.startswith("-1:") for k in snap.fences)
        # negative epochs are NOT covered by the marker: a new compaction
        # epoch (negative, unique) must still commit
        v = snap.version
        out = table.commit(
            epoch=-(v + 2), replaced_buckets=[0], new_files=[],
            bucket_max_lsn={0: int(snap.watermark.get("0", -1))},
            props={"compaction": True},
        )
        assert out is not None and out.version == v + 1
        # watermark still carries row-level idempotency for pruned epochs
        assert int(table.current().watermark["0"]) == 19
    finally:
        fmt.FENCE_KEEP_EPOCHS = old_keep


def test_crash_between_snapshot_and_pointer(spark, table):
    """A writer that dies AFTER writing snapshot-(v+1).json but BEFORE
    the VERSION pointer swap leaves an orphan snapshot: readers keep
    seeing v, and the next commit supersedes the orphan cleanly."""
    import json as _json
    import os as _os

    snap = table.current()
    v = snap.version
    md = _os.path.join(table.root, "metadata")
    # simulate the crash: orphan snapshot file, pointer untouched
    orphan = dict(snap.to_json())
    orphan["version"] = v + 1
    orphan["props"] = {"crashed_attempt": True}
    with open(_os.path.join(md, f"snapshot-{v + 1:08d}.json"), "w") as f:
        _json.dump(orphan, f)
    # readers are unaffected
    assert table.current().version == v
    assert table.read(spark).count() == 500
    # the next commit wins version v+1, overwriting the orphan
    out = table.commit(epoch=7, replaced_buckets=[0], new_files=[],
                       bucket_max_lsn={0: 10}, delta=True)
    assert out is not None and out.version == v + 1
    assert table.current().props.get("crashed_attempt") is None
    assert table.snapshot_at(v + 1).props.get("crashed_attempt") is None
    assert table.read(spark).count() == 500


def test_commit_cas_guard_detects_pointer_race(spark, table):
    """The CAS guard in _write_snapshot — the object-store conditional-
    put analog — refuses the pointer swap when VERSION moved after the
    writer read its parent (injected race: bypass the lock and advance
    VERSION between read and publish)."""
    from e_commerce_batch_etl_pipeline_spark.tables.format import (
        ConcurrentCommitError,
        Snapshot,
    )

    snap = table.current()
    stale_parent = snap.version
    # another writer commits first (advances VERSION)
    table.commit(epoch=11, replaced_buckets=[0], new_files=[],
                 bucket_max_lsn={0: 20}, delta=True)
    assert table.current().version == stale_parent + 1
    # the racing writer tries to publish against the stale parent
    racing = Snapshot(
        version=stale_parent + 1,
        schema=snap.schema,
        key_column=snap.key_column,
        num_buckets=snap.num_buckets,
        files=snap.files,
        fences=snap.fences,
        watermark=snap.watermark,
        parent=stale_parent,
    )
    with pytest.raises(ConcurrentCommitError, match="CAS failed"):
        table._write_snapshot(racing, cas_parent=stale_parent)
    # the loser's snapshot write did NOT clobber the winner's pointer
    assert table.current().version == stale_parent + 1
    assert table.current().epoch_fenced(11)
    # retry path: re-read + recommit succeeds (fences make replays no-op)
    assert table.commit(epoch=11, replaced_buckets=[0], new_files=[],
                        bucket_max_lsn={0: 20}, delta=True) is None


def test_point_lookup_prunes_to_key_buckets(spark, table):
    """lookup() reads only the buckets its keys hash to (bucket-route
    pruning) and returns exactly the matching rows."""
    all_rows = {r["doc_id"]: r for r in table.read(spark).collect()}
    some = sorted(all_rows)[:3]
    got = table.lookup(spark, some)
    rows = {r["doc_id"]: r for r in got.collect()}
    assert set(rows) == set(some)
    for k in some:
        assert rows[k]["n_tok"] == all_rows[k]["n_tok"]
    # file pruning: inputFiles covers only the keys' buckets
    snap = table.current()
    from e_commerce_batch_etl_pipeline_spark.tables.format import bucket_expr

    kdf = spark.createDataFrame([(k,) for k in some], "doc_id string")
    want_buckets = {
        r["b"] for r in kdf.select(
            bucket_expr("doc_id", snap.num_buckets).alias("b")
        ).collect()
    }
    allowed = {
        os.path.basename(f["path"])
        for f in snap.files if f["bucket"] in want_buckets
    }
    used = {os.path.basename(p) for p in got.inputFiles()}
    assert used <= allowed and used
    # and strictly fewer files than a full scan (4 buckets bootstrapped)
    assert len(used) < len(snap.files)
    # missing keys return nothing
    assert table.lookup(spark, ["doc_does_not_exist"]).count() == 0


def test_drop_column_metadata_only(spark, table):
    """Metadata-only column drop: no data rewrite, old files clip at
    scan time, key column protected, time travel still sees the column,
    and the dropped NAME is permanently retired (name-based parquet
    resolution would otherwise resurrect old values — no field ids)."""
    files_before = {f["path"] for f in table.current().files}
    v0 = table.current().version
    table.evolve_schema(drop_columns=["source"])
    snap = table.current()
    assert "source" not in snap.schema.names()
    assert {f["path"] for f in snap.files} == files_before  # no rewrite
    df = table.read(spark)
    assert "source" not in df.columns
    assert df.count() == 500
    # time travel to pre-drop still reads the column
    old = table.read(spark, snapshot=table.snapshot_at(v0))
    assert "source" in old.columns
    assert old.filter("source is not null").count() == 500
    # key column cannot be dropped; unknown column rejected
    with pytest.raises(ValueError):
        table.evolve_schema(drop_columns=["doc_id"])
    with pytest.raises(ValueError):
        table.evolve_schema(drop_columns=["nope"])
    # zombie guard: a dropped name can never be re-added
    with pytest.raises(ValueError, match="retired"):
        table.evolve_schema(add_columns=[("source", "string")])
    # a FRESH name works fine
    table.evolve_schema(add_columns=[("origin", "string")])
    assert "origin" in table.current().schema.names()


def test_manifest_reuse_across_commits(spark, table):
    """Commit metadata is O(changed buckets): snapshots serialize the
    file list as per-bucket content-addressed manifest files, and a
    commit touching one bucket reuses every other bucket's manifest BY
    NAME (no rewrite)."""
    snap0 = table.current()
    assert snap0.manifests, "snapshots should serialize via manifests"
    # metadata-only DDL: zero dirty buckets — every manifest reused
    table.evolve_schema(add_columns=[("m_extra", "int")])
    snap1 = table.current()
    assert snap1.manifests == snap0.manifests
    # CoW commit emptying bucket 0: only bucket 0's manifest changes
    out = table.commit(epoch=77, replaced_buckets=[0], new_files=[],
                       bucket_max_lsn={0: 10**9})
    assert out is not None
    snap2 = table.current()
    assert "0" not in snap2.manifests  # bucket emptied → no manifest
    for b, name in snap2.manifests.items():
        assert name == snap1.manifests[b]  # untouched buckets reused
    # resolved file list reflects the change; remaining buckets still read
    assert all(f["bucket"] != 0 for f in snap2.files)
    n = table.read(spark).count()
    assert 0 < n < 500  # bucket 0's rows gone, the rest intact


def test_manifest_gc_and_time_travel(spark, table, tmpdir_clean):
    """Orphaned manifests (expired history) are GC'd; manifests still
    referenced by retained snapshots survive and time travel works."""
    from e_commerce_batch_etl_pipeline_spark.tables.maintenance import (
        expire_snapshots,
        remove_orphans,
    )

    n0 = table.read(spark).count()
    for i in range(3):
        table.evolve_schema(add_columns=[(f"g{i}", "int")])
    table.commit(epoch=88, replaced_buckets=[1], new_files=[],
                 bucket_max_lsn={1: 10**9})
    v_final = table.current().version
    expire_snapshots(table, keep_last=1)
    removed = remove_orphans(table, min_age_sec=0.0)
    # current snapshot still loads and reads
    snap = table.current()
    assert snap.version == v_final
    assert table.read(spark).count() < n0  # bucket 1 emptied
    # every referenced manifest survived GC
    md = os.path.join(table.root, "metadata")
    for name in snap.manifests.values():
        assert os.path.exists(os.path.join(md, name)), name
    # at least the emptied bucket's pre-commit manifest became orphaned
    assert any(r.startswith("metadata/manifest-") for r in removed), removed


def test_cli_status_metadata_only(table, capsys):
    """`status` answers from snapshot metadata alone — no Spark session
    is built (sub-second ops probe)."""
    import json as _json

    from e_commerce_batch_etl_pipeline_spark.cli import main

    rc = main(["status", "--table", table.root])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip())
    snap = table.current()
    assert out["version"] == snap.version
    assert out["num_buckets"] == snap.num_buckets
    assert out["live_files"] == len(snap.files)
    assert out["columns"] == snap.schema.names()


def test_cli_verify_subcommand(spark, table, capsys):
    """`verify` CLI (K4 as an ops surface): ok/rc 0 on a healthy table;
    a missing data file flips ok=false with exit code 3 so orchestrators
    can gate on it."""
    import json as _json

    from e_commerce_batch_etl_pipeline_spark.cli import main

    rc = main(["verify", "--table", table.root])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["ok"] is True
    assert out["rows"] == out["distinct_keys"] == 500

    victim = table.current().files[0]["path"]
    os.rename(os.path.join(table.root, victim),
              os.path.join(table.root, victim + ".gone"))
    rc = main(["verify", "--table", table.root])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 3 and out["ok"] is False
    assert victim in out["missing_files"]


def test_meta_files_tolerates_statless_entries(spark, table):
    """Manifest entries written before per-file stats existed lack
    "rows"/min/max keys; inspect must render null, not raise (ADVICE r5)."""
    import copy

    snap = copy.deepcopy(table.current())
    assert snap.files, "fixture should have live files"
    e = snap.files[0]
    e.pop("rows", None)
    e.pop("min_key", None)
    e.pop("max_key", None)
    rows = {r["path"]: r for r in table.meta(spark, "files", snapshot=snap).collect()}
    assert rows[e["path"]]["rows"] is None
    assert rows[e["path"]]["min_key"] is None


def test_io_pool_refuses_reentry():
    """A pool task mapping back into the shared I/O pool could deadlock
    it, so _io_pool() refuses callers on a lake-io thread."""
    from e_commerce_batch_etl_pipeline_spark.tables import format as fmt

    with pytest.raises(RuntimeError, match="lake-io"):
        fmt._io_pool().submit(fmt._io_pool).result()


def assert_flat_pure_files(spark, root, entries, num_buckets,
                           key="doc_id"):
    """The bucket-pure writer's layout: one flat ``part-<bucket>-*``
    file per bucket, each with its ``.crc`` sidecar and holding only
    rows of its bucket, and no ``_bucket=`` dir left in the attempt
    dir."""
    import re

    from pyspark.sql import functions as F

    buckets = [e["bucket"] for e in entries]
    assert len(buckets) == len(set(buckets)), buckets
    for e in entries:
        d, fn = os.path.split(e["path"])
        assert re.fullmatch(rf"part-{e['bucket']:05d}-\S+\.parquet", fn), fn
        listing = os.listdir(os.path.join(root, d))
        assert f".{fn}.crc" in listing, listing
        assert not [x for x in listing if x.startswith("_bucket=")], listing
    seen = spark.read.parquet(
        *(os.path.join(root, e["path"]) for e in entries)
    ).select(
        F.input_file_name().alias("f"),
        bucket_expr(key, num_buckets).alias("b"),
    ).distinct().collect()
    by_name = {os.path.basename(e["path"]): e["bucket"] for e in entries}
    assert len(seen) == len(entries), seen
    for r in seen:
        assert by_name[os.path.basename(r["f"])] == r["b"], r


def test_write_partitions_fits_one_task_wave():
    """P is the largest divisor of B within the session's task slots,
    or B itself when that divisor would idle most slots."""
    from types import SimpleNamespace

    from e_commerce_batch_etl_pipeline_spark.tables.format import (
        write_partitions,
    )

    for (b, slots), p in {(16, 4): 4, (4, 4): 4, (2, 4): 2, (6, 4): 3,
                          (4096, 4): 4, (7, 4): 7}.items():
        fake = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=slots))
        assert write_partitions(fake, b) == p, (b, slots)


def test_coalesced_upstream_grouping_still_writes_pure_files(
        spark, tmpdir_clean):
    """AQE coalescing stays on through the write. An input grouped
    upstream by the key at ``shuffle.partitions == P`` elides the
    writer's repartition, and AQE coalesces that grouping's shuffle
    into one task; the task still splits its rows into one pure file per
    bucket."""
    import re

    from pyspark.sql import functions as F

    from e_commerce_batch_etl_pipeline_spark.plans import physical_plan
    from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
        DOCS_SCHEMA,
    )
    from e_commerce_batch_etl_pipeline_spark.tables.format import (
        LakeTable,
        write_partitions,
    )

    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    assert spark.conf.get(coalesce) == "true"
    P = write_partitions(spark, 16)
    assert P == 4 == int(spark.conf.get("spark.sql.shuffle.partitions"))

    table = LakeTable.create(os.path.join(tmpdir_clean, "t"), DOCS_SCHEMA,
                             key_column="doc_id", num_buckets=16)
    grouped = generate_base_docs(spark, 2000, seed=3, max_len=8).groupBy(
        "doc_id").agg(*(F.first(c).alias(c)
                        for c in ("tokens", "n_tok", "source")))
    # the writer's repartition(P, key) over it is elided: one exchange,
    # the grouping's own, which AQE may coalesce
    plan = physical_plan(grouped.repartition(P, F.col("doc_id")))
    assert plan.split("\n\n")[0].count("Exchange") == 1, plan
    assert re.search(r"hashpartitioning\(doc_id#\d+, 4\)", plan), plan

    entries = table.write_data_files(grouped)
    assert sorted(e["bucket"] for e in entries) == list(range(16))
    assert sum(e["rows"] for e in entries) == 2000
    # coalesced: one task wrote every bucket's file
    assert len({os.path.basename(e["path"]).split("-")[2]
                for e in entries}) == 1, entries
    assert_flat_pure_files(spark, table.root, entries, 16)


def test_concurrent_writes_leave_session_conf_alone(
        spark, tmpdir_clean, monkeypatch):
    """Two threads of one session write bucket-pure files into their own
    tables, interleaved in a fixed order: A is inside its write before B
    starts, B enters while A is still inside, and B's write returns only
    after A's ``write_data_files`` has. A writer that saves, sets and
    restores a session conf around its write would have B restore the
    value A set, and leave it set for every later query. The session
    conf must read as before, and every file must be flat and pure."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
        DOCS_SCHEMA,
    )
    from e_commerce_batch_etl_pipeline_spark.tables.format import LakeTable

    excluded = "spark.sql.adaptive.optimizer.excludedRules"
    before = spark.conf.get(excluded, None)
    a_inside, b_inside, a_done = (threading.Event() for _ in range(3))
    parquet = DataFrameWriter.parquet

    def ordered_parquet(self, path, *args, **kwargs):
        who = threading.current_thread().name
        if who == "A":
            a_inside.set()
            assert b_inside.wait(120), "B never entered its write"
        elif who == "B":
            b_inside.set()
            assert a_done.wait(120), "A's write never returned"
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", ordered_parquet)
    tables, entries, errors = {}, {}, {}
    for name in "AB":
        tables[name] = LakeTable.create(
            os.path.join(tmpdir_clean, name), DOCS_SCHEMA,
            key_column="doc_id", num_buckets=16)
    docs = {name: generate_base_docs(spark, 400, seed=seed, max_len=8)
            for name, seed in (("A", 1), ("B", 2))}

    def write(name):
        try:
            if name == "B":
                assert a_inside.wait(120), "A never entered its write"
            entries[name] = tables[name].write_data_files(docs[name])
        except Exception as exc:  # re-raised on the main thread
            errors[name] = exc
        finally:
            # unblock the other thread even when this one failed
            (a_done if name == "A" else b_inside).set()

    threads = [threading.Thread(target=write, args=(n,), name=n)
               for n in "AB"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not [t for t in threads if t.is_alive()]
    for name, exc in errors.items():
        raise AssertionError(f"writer {name} failed") from exc
    assert spark.conf.get(excluded, None) == before
    for name in "AB":
        assert sum(e["rows"] for e in entries[name]) == 400
        assert_flat_pure_files(spark, tables[name].root, entries[name], 16)
