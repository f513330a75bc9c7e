"""Compaction, snapshot expiry, orphan GC — state preserved throughout."""

import os

import pytest

from e_commerce_batch_etl_pipeline_spark.sources.datagen import (
    generate_base_docs,
    write_wal,
)
from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import bootstrap_table
from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import CdcEngine
from e_commerce_batch_etl_pipeline_spark.tables.maintenance import (
    compact,
    expire_snapshots,
    remove_orphans,
)


@pytest.fixture()
def replayed(spark, tmpdir_clean):
    base = generate_base_docs(spark, 400, seed=11, max_len=8)
    table = bootstrap_table(os.path.join(tmpdir_clean, "t"), base, num_buckets=4)
    write_wal(spark, os.path.join(tmpdir_clean, "wal"), 3, 300, 400,
              seed=11, max_len=8)
    CdcEngine(spark, table, WalSource(os.path.join(tmpdir_clean, "wal")),
              os.path.join(tmpdir_clean, "ckpt")).run()
    return table


def _state(spark, table):
    return sorted(
        (r["doc_id"], r["n_tok"], r["source"])
        for r in table.read(spark).collect()
    )


def test_compact_preserves_state(spark, replayed):
    before = _state(spark, replayed)
    snap = compact(replayed, spark, max_files_per_bucket=0)  # force all
    assert snap is not None
    assert _state(spark, replayed) == before
    per_bucket = {}
    for f in replayed.current().files:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    # idempotent: nothing left to compact at threshold 1
    assert compact(replayed, spark, max_files_per_bucket=1) is None


def test_expire_and_orphan_gc(spark, replayed):
    before = _state(spark, replayed)
    compact(replayed, spark, max_files_per_bucket=0)
    # stage an orphan (crashed commit attempt)
    orphan_src = generate_base_docs(spark, 20, seed=3, max_len=4)
    replayed.write_data_files(orphan_src, [0, 1, 2, 3])
    dropped = expire_snapshots(replayed, keep_last=1)
    assert dropped
    # default safety age would skip the seconds-old orphan; force for test
    assert remove_orphans(replayed) == []  # age gate protects fresh files
    removed = remove_orphans(replayed, min_age_sec=0)
    assert removed  # old bucket files + the orphan attempt
    assert _state(spark, replayed) == before
    # every remaining manifest file exists on disk
    for f in replayed.current().files:
        assert os.path.exists(os.path.join(replayed.root, f["path"]))


def test_write_verify(spark, replayed):
    from e_commerce_batch_etl_pipeline_spark.tables.maintenance import verify

    rep = verify(replayed, spark)
    assert rep["ok"], rep
    assert rep["rows"] == rep["distinct_keys"]
    # sabotage: delete a data file → verify flags it
    import os as _os

    victim = replayed.current().files[0]["path"]
    _os.remove(_os.path.join(replayed.root, victim))
    rep2 = verify(replayed, spark)
    assert not rep2["ok"] and victim in rep2["missing_files"]


def test_concurrent_replay_and_gc_processes(spark, tmpdir_clean):
    """ADVICE regression: `maintain --gc` racing a live replay must never
    delete files a not-yet-published epoch staged (commit-lock + min-age
    gate). Runs maintenance in a real subprocess loop while this process
    replays, then verifies final state + manifest integrity."""
    import subprocess
    import sys
    import time as _time

    from e_commerce_batch_etl_pipeline_spark.sources.datagen import (
        write_wal,
    )
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
        bootstrap_table,
    )
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )

    base = generate_base_docs(spark, 400, seed=11, max_len=16)
    table = bootstrap_table(
        os.path.join(tmpdir_clean, "t"), base, num_buckets=4
    )
    wal_root = os.path.join(tmpdir_clean, "wal")
    write_wal(spark, wal_root, 4, 400, 400, seed=11, max_len=16)

    # background GC loop in a separate PROCESS (its own lock acquisitions);
    # min_age_sec=0 makes it maximally aggressive — the commit lock is
    # then the only thing protecting in-flight commits' adopted files,
    # while pre-commit staged files are protected by being outside the
    # lock window... so use a tiny-but-nonzero age for those (0.5s).
    gc_script = f"""
import sys, time
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from e_commerce_batch_etl_pipeline_spark.tables.format import (
    ConcurrentCommitError, LakeTable)
from e_commerce_batch_etl_pipeline_spark.tables.maintenance import (
    expire_snapshots, remove_orphans)
t = LakeTable({table.root!r})
removed = 0
for _ in range(60):
    try:
        expire_snapshots(t, keep_last=3)
        removed += len(remove_orphans(t, min_age_sec=0.5))
    except ConcurrentCommitError:
        pass  # ingest holds the commit lock — retry next tick
    time.sleep(0.2)
print(removed)
"""
    gc_proc = subprocess.Popen(
        [sys.executable, "-c", gc_script],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    try:
        eng = CdcEngine(
            spark, table, WalSource(wal_root),
            os.path.join(tmpdir_clean, "ckpt"), merge_mode="mor",
            audit_quarantine=False,
        )
        for e in range(4):
            eng.run(max_epochs=1)
            _time.sleep(0.3)  # give GC ticks a window between epochs
    finally:
        gc_proc.wait(timeout=60)

    # every manifest file still exists; state readable and key-unique
    snap = table.current()
    for f in snap.files:
        assert os.path.exists(os.path.join(table.root, f["path"])), f["path"]
    df = table.read(spark)
    n, k = df.count(), df.select("doc_id").distinct().count()
    assert n == k > 0


def test_rebucket_grows_layout_preserving_state(spark, tmpdir_clean):
    """Bucket-count evolution: state survives exactly, files are pure
    under the NEW layout, replaying already-committed epochs stays a
    no-op (min-watermark conservatism + idempotent LWW), and further
    ingest + point lookups work against the new layout."""
    from e_commerce_batch_etl_pipeline_spark.sources.datagen import (
        write_wal,
    )
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
        bootstrap_table,
    )
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )
    from e_commerce_batch_etl_pipeline_spark.tables.format import bucket_expr
    from e_commerce_batch_etl_pipeline_spark.tables.maintenance import (
        rebucket,
        verify,
    )

    base = generate_base_docs(spark, 600, seed=21, max_len=16)
    table = bootstrap_table(
        os.path.join(tmpdir_clean, "t"), base, num_buckets=4
    )
    wal_root = os.path.join(tmpdir_clean, "wal")
    write_wal(spark, wal_root, 3, 500, 600, seed=21, max_len=16)
    eng = CdcEngine(spark, table, WalSource(wal_root),
                    os.path.join(tmpdir_clean, "c1"))
    eng.run(max_epochs=2)
    before = sorted(
        (r["doc_id"], r["n_tok"], r["source"])
        for r in table.read(spark).collect()
    )

    snap = rebucket(table, spark, new_buckets=16)
    assert snap.num_buckets == 16
    assert table.current().props["rebucketed_from"] == 4
    after = sorted(
        (r["doc_id"], r["n_tok"], r["source"])
        for r in table.read(spark).collect()
    )
    assert after == before
    # bucket purity under the NEW layout
    for f in table.current().files:
        df = spark.read.parquet(os.path.join(table.root, f["path"]))
        assert df.withColumn("_b", bucket_expr("doc_id", 16)).filter(
            f"_b <> {f['bucket']}"
        ).count() == 0
    # replaying committed epochs with a fresh checkpoint is a state no-op
    # (rows re-pass the conservative watermark; LWW merge is idempotent)
    CdcEngine(spark, table, WalSource(wal_root),
              os.path.join(tmpdir_clean, "c2")).run(max_epochs=2)
    assert sorted(
        (r["doc_id"], r["n_tok"], r["source"])
        for r in table.read(spark).collect()
    ) == before
    # continued ingest (epoch 2) lands correctly in the new layout
    eng2 = CdcEngine(spark, table, WalSource(wal_root),
                     os.path.join(tmpdir_clean, "c3"))
    eng2.run()
    rep = verify(table, spark)
    assert rep["ok"], rep
    assert rep["buckets"] > 4
    # point lookup routes through the new bucket count
    k = before[0][0]
    assert table.lookup(spark, [k]).count() == 1


def test_compaction_lost_update_guard(spark, replayed):
    """Background-compaction safety: a compaction-style commit whose
    input was read at version V must REFUSE to publish once ingest
    advanced the table (its rewrite doesn't contain the new deltas);
    a retry against the current state succeeds."""
    from e_commerce_batch_etl_pipeline_spark.tables.format import (
        ConcurrentCommitError,
    )

    snap0 = replayed.current()
    # ingest advances the table after the (simulated) compaction read
    replayed.commit(epoch=50, replaced_buckets=[0], new_files=[],
                    bucket_max_lsn={0: 10_000}, delta=True)
    with pytest.raises(ConcurrentCommitError, match="advanced"):
        replayed.commit(
            epoch=-(snap0.version + 2), replaced_buckets=[0], new_files=[],
            bucket_max_lsn={0: 1}, planned=snap0,
        )
    # the retry loop re-reads and compacts the CURRENT state fine
    before = _state(spark, replayed)
    assert compact(replayed, spark, max_files_per_bucket=0) is not None
    assert _state(spark, replayed) == before


def test_background_compaction_lands_under_live_ingest(spark, tmpdir_clean):
    """File-level rewrite commits let background compaction FOLD while
    ingest keeps committing: deltas added after the fold's read stay
    live on top (read-time LWW beats folded base rows), final state
    equals the pandas oracle, and at least one fold actually lands
    (the whole-table version guard would livelock here)."""
    import subprocess
    import sys
    import time as _time

    from e_commerce_batch_etl_pipeline_spark.sources.datagen import (
        write_wal,
    )
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
        bootstrap_table,
    )
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )
    from tests.oracle import assert_states_equal, replay as oracle_replay

    base = generate_base_docs(spark, 500, seed=31, max_len=16)
    table = bootstrap_table(
        os.path.join(tmpdir_clean, "t"), base, num_buckets=4
    )
    wal_root = os.path.join(tmpdir_clean, "wal")
    write_wal(spark, wal_root, 6, 400, 500, seed=31, max_len=16)

    compact_script = f"""
import sys, time, json
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from e_commerce_batch_etl_pipeline_spark.session import build_session
from e_commerce_batch_etl_pipeline_spark.tables.format import (
    ConcurrentCommitError, LakeTable)
from e_commerce_batch_etl_pipeline_spark.tables.maintenance import compact
spark = build_session(master="local[2]", shuffle_partitions=2)
t = LakeTable({table.root!r})
landed = 0
for _ in range(40):
    try:
        if compact(t, spark, max_files_per_bucket=1) is not None:
            landed += 1
    except ConcurrentCommitError:
        pass
    time.sleep(0.5)
print(json.dumps({{"landed": landed}}))
"""
    proc = subprocess.Popen(
        [sys.executable, "-c", compact_script],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    try:
        eng = CdcEngine(
            spark, table, WalSource(wal_root),
            os.path.join(tmpdir_clean, "ckpt"), merge_mode="mor",
            mor_compact_files=None, audit_quarantine=False,
        )
        for e in range(6):
            eng.run(max_epochs=1)
            _time.sleep(1.0)
    finally:
        out, _ = proc.communicate(timeout=120)
    import json as _json

    landed = _json.loads(out.strip().splitlines()[-1])["landed"]
    assert landed >= 1, "no background fold ever landed (livelock?)"

    payload = ["tokens", "n_tok", "source"]
    base_rows = [r.asDict() for r in base.collect()]
    env = []
    wal = WalSource(wal_root)
    for e in wal.epochs():
        env += [r.asDict() for r in wal.read_epoch(spark, e).collect()]
    expected = oracle_replay(base_rows, env, payload)
    actual = {
        r["doc_id"]: {c: r[c] for c in payload}
        for r in table.read(spark).collect()
    }
    assert_states_equal(expected, actual)


def test_changes_between_spans_shrink_rebucket(spark, tmpdir_clean):
    """changes_between across a bucket-count change must not prune by
    bucket id (ids are not comparable between layouts): across a SHRINK,
    rows in old buckets >= new_count would vanish from the old-side read
    and surface as spurious inserts."""
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
        bootstrap_table,
    )
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )
    from e_commerce_batch_etl_pipeline_spark.tables.maintenance import (
        rebucket,
    )

    base = generate_base_docs(spark, 300, seed=31, max_len=8)
    table = bootstrap_table(
        os.path.join(tmpdir_clean, "t"), base, num_buckets=8
    )
    wal_root = os.path.join(tmpdir_clean, "wal")
    write_wal(spark, wal_root, 2, 200, 300, seed=31, max_len=8)
    eng = CdcEngine(spark, table, WalSource(wal_root),
                    os.path.join(tmpdir_clean, "c"))
    eng.run(max_epochs=1)
    v1 = table.current().version

    # shrink 8 -> 2: logical state unchanged, so the change feed over the
    # rebucket must be EMPTY (the pruning bug made unchanged rows in old
    # buckets 2..7 surface as 'I')
    rebucket(table, spark, new_buckets=2)
    v_rb = table.current().version
    assert table.changes_between(spark, v1, v_rb).count() == 0

    # ingest another epoch on the new layout; the feed across the whole
    # range (v1 -> v2, spanning the rebucket) equals the logical diff
    eng.run(max_epochs=1)
    v2 = table.current().version
    feed = table.changes_between(spark, v1, v2)
    old_rows = {
        r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in table.read(spark, snapshot=table.snapshot_at(v1)).collect()
    }
    new_rows = {
        r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in table.read(spark, snapshot=table.snapshot_at(v2)).collect()
    }
    expect = {}
    for k in set(old_rows) | set(new_rows):
        if k not in old_rows:
            expect[k] = "I"
        elif k not in new_rows:
            expect[k] = "D"
        elif old_rows[k] != new_rows[k]:
            expect[k] = "U"
    got = {r["doc_id"]: r["_change_op"] for r in feed.collect()}
    assert got == expect


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_dual_writer_processes_exactly_once(spark, tmpdir_clean,
                                            merge_mode):
    """Two engine PROCESSES replaying the same WAL into one table, each
    with its own checkpoint: the commit lock + (epoch, bucket) fences +
    the CAS/retry loop must yield each epoch applied exactly once and
    the sequential-replay final state — no lost updates, no
    double-applies. CoW races on bucket REPLACEMENT commits; MOR
    (deferred compaction) races on delta APPEND commits, where a loser
    whose units got fenced mid-flight must drop its adopted files as a
    no-op rather than double-append."""
    import subprocess
    import sys

    from e_commerce_batch_etl_pipeline_spark.sources.datagen import write_wal
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
        bootstrap_table,
    )
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )
    from e_commerce_batch_etl_pipeline_spark.tables.maintenance import verify

    base = generate_base_docs(spark, 400, seed=77, max_len=8)
    table = bootstrap_table(
        os.path.join(tmpdir_clean, "t"), base, num_buckets=4
    )
    wal_root = os.path.join(tmpdir_clean, "wal")
    n_epochs = 4
    write_wal(spark, wal_root, n_epochs, 350, 400, seed=77, max_len=8)

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    peer_script = f"""
import sys
sys.path.insert(0, {repo_root!r})
from e_commerce_batch_etl_pipeline_spark.session import build_session
from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import CdcEngine
from e_commerce_batch_etl_pipeline_spark.tables.format import LakeTable
spark = build_session(app_name="peer-writer", master="local[4]",
                      shuffle_partitions=4)
eng = CdcEngine(spark, LakeTable({table.root!r}),
                WalSource({wal_root!r}), {os.path.join(tmpdir_clean, "ckpt_b")!r},
                merge_mode={merge_mode!r},
                mor_compact_files=None)
res = eng.run()
print("PEER", [(r.epoch, r.status) for r in res])
spark.stop()
"""
    peer = subprocess.Popen(
        [sys.executable, "-c", peer_script],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    try:
        eng = CdcEngine(spark, table, WalSource(wal_root),
                        os.path.join(tmpdir_clean, "ckpt_a"),
                        merge_mode=merge_mode, mor_compact_files=None)
        res_a = eng.run()
    finally:
        out, _ = peer.communicate(timeout=240)
    assert peer.returncode == 0, out
    assert len(res_a) == n_epochs

    # every epoch fenced exactly once in the final snapshot lineage;
    # final state equals the single-writer sequential replay
    snap = table.current()
    for e in range(n_epochs):
        assert snap.epoch_fenced(e), e
    rep = verify(table, spark)
    assert rep["ok"], rep
    from .oracle import assert_states_equal, replay

    base_rows = [r.asDict() for r in base.collect()]
    env_rows = []
    wal = WalSource(wal_root)
    for e in wal.epochs():
        env_rows += [r.asDict() for r in wal.read_epoch(spark, e).collect()]
    expected = replay(base_rows, env_rows, ["n_tok", "source"])
    actual = {
        r["doc_id"]: {"n_tok": r["n_tok"], "source": r["source"]}
        for r in table.read(spark).collect()
    }
    assert_states_equal(expected, actual)


def test_compact_partial_progress_chunks(spark, tmpdir_clean):
    """max_buckets_per_pass bounds one pass to the N most-fragmented
    buckets (the partial-progress shape that keeps background folds
    landing under continuous ingest — the round-4 200M-soak failure
    mode was unbounded passes that stopped landing). Repeated chunked
    passes drain the backlog completely; state preserved throughout."""
    base = generate_base_docs(spark, 400, seed=13, max_len=8)
    table = bootstrap_table(
        os.path.join(tmpdir_clean, "t"), base, num_buckets=4
    )
    write_wal(spark, os.path.join(tmpdir_clean, "wal"), 3, 300, 400,
              seed=13, max_len=8)
    CdcEngine(
        spark, table, WalSource(os.path.join(tmpdir_clean, "wal")),
        os.path.join(tmpdir_clean, "ckpt"),
        merge_mode="mor", mor_compact_files=None,
    ).run()
    before = _state(spark, table)

    def frag_buckets():
        per = {}
        for f in table.current().files:
            per[f["bucket"]] = per.get(f["bucket"], 0) + 1
        return {b for b, n in per.items() if n > 1}

    backlog0 = frag_buckets()
    assert len(backlog0) == 4, "fixture must fragment every bucket"
    passes = 0
    while True:
        snap = compact(table, spark, max_files_per_bucket=1,
                       max_buckets_per_pass=1)
        if snap is None:
            break
        passes += 1
        assert snap.props["buckets"] == 1  # one bucket per pass
        assert passes <= 4, "chunked passes failed to drain"
    assert passes == 4
    assert frag_buckets() == set()
    assert _state(spark, table) == before


def test_sorted_compaction_prunes_within_buckets(spark, replayed):
    """Sort-order compaction (Iceberg rewrite_data_files with a sort
    order): folded buckets are written key-sorted and size-split, so
    per-file manifest [min_key, max_key] spans are tight and DISJOINT
    within a bucket and key_range reads prune files INSIDE buckets —
    an unsorted fold file spans the bucket's whole hash-scattered key
    range and can never be pruned by key. Fragmentation counts distinct
    live COMMITS (not files), so the split output is one unit and is
    not re-folded forever, while a real ingest commit still counts."""
    from pyspark.sql import functions as F

    before = _state(spark, replayed)
    snap = compact(replayed, spark, max_files_per_bucket=0,
                   sort_by_key=True, target_rows_per_file=40)
    assert snap is not None
    assert _state(spark, replayed) == before

    per_bucket = {}
    for f in replayed.current().files:
        per_bucket.setdefault(f["bucket"], []).append(f)
    assert any(len(fs) > 1 for fs in per_bucket.values()), \
        "expected size-split output (multiple files per bucket)"
    for fs in per_bucket.values():
        spans = sorted((f["min_key"], f["max_key"]) for f in fs)
        assert all(lo <= hi for lo, hi in spans)
        for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]):
            assert a_hi < b_lo, "split files must cover disjoint ranges"

    # a point range scan now plans at most ONE file per bucket (ranges
    # are disjoint within each bucket), not the whole table
    total = sum(len(fs) for fs in per_bucket.values())
    k = before[0][0]
    scan = replayed.read(spark, key_range=(k, k))
    assert [r["doc_id"] for r in scan.collect()] == [k]
    planned = len(scan.inputFiles())
    assert planned <= len(per_bucket) < total, (planned, total)

    # split output is ONE commit per bucket — not fragmentation
    assert compact(replayed, spark, max_files_per_bucket=1) is None

    # a real ingest (delta) commit adds a second live commit to its
    # bucket; dir-granular counting sees it and the fold runs again
    one = replayed.read(spark, buckets=[0]).limit(1)
    delta = (one.withColumn("op", F.lit("U"))
                .withColumn("lsn", F.lit(999_999).cast("long")))
    nf = replayed.write_data_files(delta, [0])
    assert nf, "delta staging produced no file (row not in bucket 0?)"
    replayed.commit(epoch=99, replaced_buckets=[0], new_files=nf,
                    bucket_max_lsn={0: 999_999}, delta=True)
    assert compact(replayed, spark, max_files_per_bucket=1) is not None
    assert _state(spark, replayed) == before
