"""Table maintenance: compaction, snapshot expiry, orphan-file GC.

The reference's small-files discipline (``repartition(8)``: "148 tiny
files → 8 files", ``streamlit_app/app.py:929-952``; ~128 MB/file rule
``notebooks/04_write_parquet.py:36-46``) becomes real table maintenance
here, in Iceberg's shape:

- ``compact``: rewrite buckets whose file count exceeds a threshold into
  one file per bucket, committed as a normal snapshot (readers never see
  a partial compaction; time travel to pre-compaction snapshots still
  works because old files are only dereferenced, not deleted).
- ``expire_snapshots``: drop snapshot JSONs older than a retention count,
  keeping the current one (bounds metadata growth).
- ``remove_orphans``: delete data files under ``data/`` that no retained
  snapshot references — crashed commit attempts and expired history.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .format import (
    ConcurrentCommitError,
    LakeTable,
    Snapshot,
    _attempt_dir,
    _build_entries,
    bucket_aligned_write,
    commit_lock,
)


def compact(
    table: LakeTable,
    spark: SparkSession,
    max_files_per_bucket: int = 1,
    max_buckets_per_pass: int | None = None,
    sort_by_key: bool = False,
    target_rows_per_file: int | None = None,
    collect_blooms: bool = False,
) -> Snapshot | None:
    """Rewrite over-fragmented buckets; returns the new snapshot or None.

    At 100 TB this runs per-bucket-group as a background job; the commit
    is the same atomic pointer swap as an ingest epoch, so compaction and
    ingest serialize through the one snapshot publish path.

    ``max_buckets_per_pass`` bounds ONE pass to the N most-fragmented
    buckets (Iceberg rewrite_data_files partial-progress shape). This is
    what keeps background compaction LANDING under continuous ingest at
    large bucket counts: an unbounded pass over a growing backlog gets
    slower every epoch (it reads every fragmented bucket) until its
    runtime exceeds the epoch interval and the backlog only ever grows —
    measured in the round-4 200M-event soak, where full passes stopped
    landing at ~6 deltas/bucket × 1024 buckets and the MOR read-back's
    LWW sort over the ~3× amplified input spilled past the disk. Chunked
    passes each fold in seconds, commit between epochs, and drain the
    most fragmented buckets first.

    ``sort_by_key`` + ``target_rows_per_file``: Iceberg sort-order
    compaction — each folded bucket is written key-sorted and split into
    files of ~``target_rows_per_file`` rows, so every file's manifest
    [min_key, max_key] is tight and disjoint and key_range/lookup reads
    prune INSIDE buckets (a single unsorted fold file spans the bucket's
    whole hash-scattered key range and can never be pruned by key).

    Fragmentation counts DISTINCT LIVE COMMITS per bucket (files group
    by their commit directory), not raw files: one sorted-split fold is
    one commit regardless of how many range files it produced, so a
    freshly sorted bucket is NOT re-folded forever, while every ingest
    epoch still adds one unit of fragmentation exactly as before (one
    file per bucket per commit in the unsorted layout).
    """
    snap = table.current()
    per_bucket: dict[int, set] = {}
    for f in snap.files:
        per_bucket.setdefault(f["bucket"], set()).add(
            os.path.dirname(f["path"])
        )
    frag = sorted(
        (b for b, dirs in per_bucket.items()
         if len(dirs) > max_files_per_bucket),
        key=lambda b: (-len(per_bucket[b]), b),  # most fragmented first
    )
    if not frag:
        return None
    if max_buckets_per_pass is not None:
        frag = sorted(frag[:max_buckets_per_pass])
    # fold exactly the files the fragmentation scan saw (read pinned to
    # `snap`): the LWW-resolved content of those base+delta files becomes
    # the new base. Publishing uses FILE-level replacement (Iceberg
    # rewrite_data_files shape): delta files committed by concurrent
    # ingest SINCE this read stay live on top — correct because folded
    # base rows scan with lsn=-1, so any later delta wins read-time LWW.
    # Conflicts are precise (another rewrite folded the same inputs →
    # ConcurrentCommitError retry), which is what lets compaction run as
    # a background job without livelocking against continuous ingest.
    input_paths = [
        f["path"] for f in snap.files if f["bucket"] in set(frag)
    ]
    df = table.read(spark, buckets=frag, snapshot=snap)
    new_files = table.write_data_files(
        df, frag, sort_by_key=sort_by_key,
        max_records_per_file=target_rows_per_file,
        collect_blooms=collect_blooms,
    )
    return table.commit(
        epoch=-(snap.version + 2),
        replaced_buckets=[],
        new_files=new_files,
        bucket_max_lsn={},
        props={"compaction": True, "buckets": len(frag)},
        planned=snap,
        replace_files=input_paths,
    )


def expire_snapshots(table: LakeTable, keep_last: int = 5) -> list[int]:
    """Delete snapshot metadata older than the last ``keep_last``.

    TAGGED versions (table.tags() — the Iceberg ref surface) are never
    expired: a tag is a retention pin, so time travel to "prod" or an
    audit cut survives aggressive retention, and the tagged snapshot's
    files stay in remove_orphans' live set (its walk covers every
    snapshot still on disk).

    Holds the commit lock: another maintenance process may be walking
    ``history()`` → ``snapshot_at()`` (remove_orphans' live-set scan)
    and must not see snapshots vanish mid-walk. Note that expiring a
    snapshot also retires it from ``changes_between`` ranges."""
    with commit_lock(table.root):
        versions = table.history()
        current = table.current().version
        pinned = set(table.tags().values()) | {current}
        to_drop = [v for v in versions[:-keep_last] if v not in pinned]
        for v in to_drop:
            p = os.path.join(table.root, "metadata", f"snapshot-{v:08d}.json")
            if os.path.exists(p):
                os.remove(p)
    return to_drop


def remove_orphans(
    table: LakeTable, min_age_sec: float = 3600.0
) -> list[str]:
    """Delete data files/dirs no retained snapshot references.

    Concurrency safety (an in-flight epoch stages files BEFORE its commit
    publishes them, so "unreferenced" is not "orphaned"):
    - holds the commit lock while computing the live set and deleting, so
      no commit can publish between the scan and the rm;
    - skips anything younger than ``min_age_sec`` — staged files of an
      epoch whose writer is alive but not yet at its commit call (the
      lock alone can't see those).
    """
    import json
    import time

    removed = []
    with commit_lock(table.root):
        live: set[str] = set()
        live_manifests: set[str] = set()
        md_dir = os.path.join(table.root, "metadata")
        for v in table.history():
            try:
                snap = table.snapshot_at(v)
                with open(
                    os.path.join(md_dir, f"snapshot-{v:08d}.json")
                ) as f:
                    raw = json.load(f)
            except FileNotFoundError:
                continue  # expired between listdir and open — not live
            live.update(f["path"] for f in snap.files)
            live.update(
                f["bloom"]["path"] for f in snap.files if "bloom" in f
            )
            live_manifests.update((raw.get("manifests") or {}).values())
        data_root = os.path.join(table.root, "data")
        now = time.time()

        def _old_enough(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) >= min_age_sec
            except OSError:
                return False  # vanished → another actor owns it; skip

        for commit_dir in sorted(os.listdir(data_root)):
            cdir = os.path.join(data_root, commit_dir)
            if not os.path.isdir(cdir):
                continue
            rels = [
                os.path.join("data", commit_dir, fn)
                for fn in os.listdir(cdir)
                if fn.endswith(".parquet")
            ]
            dead = [
                r for r in rels
                if r not in live and _old_enough(os.path.join(table.root, r))
            ]
            if rels and len(dead) == len(rels) and _old_enough(cdir):
                shutil.rmtree(cdir)
                removed.extend(rels)
            else:
                for r in dead:
                    os.remove(os.path.join(table.root, r))
                    removed.append(r)
        # manifest files no retained snapshot references (expired history
        # or crashed pre-publish attempts); content-addressed + immutable,
        # so "unreferenced and old" is safe under the held commit lock
        for fn in os.listdir(md_dir):
            if not (fn.startswith("manifest-") and fn.endswith(".json")):
                continue
            p = os.path.join(md_dir, fn)
            if fn not in live_manifests and _old_enough(p):
                os.remove(p)
                removed.append(os.path.join("metadata", fn))
        # bloom sidecars follow the same rule as data files: content-
        # addressed + immutable, dead once no retained snapshot's entries
        # reference them (crashed pre-publish attempts, expired history)
        bloom_dir = os.path.join(md_dir, "blooms")
        if os.path.isdir(bloom_dir):
            for fn in os.listdir(bloom_dir):
                rel = os.path.join("metadata", "blooms", fn)
                p = os.path.join(bloom_dir, fn)
                if rel not in live and _old_enough(p):
                    os.remove(p)
                    removed.append(rel)
    return removed


def rebucket(
    table: LakeTable, spark: SparkSession, new_buckets: int
) -> Snapshot:
    """Bucket-count evolution: rewrite the table into ``new_buckets``
    hash buckets as one atomic snapshot commit — the operational lever
    when a table outgrows its layout (more buckets ⇒ smaller per-epoch
    touched fraction ⇒ CoW rewrite cost tracks change volume again).

    Correctness across the layout change:
    - per-bucket LSN watermarks can't be remapped exactly (keys move
      buckets), so every NEW bucket gets the MIN of the old watermarks —
      conservative in the SAFE direction: some already-applied rows pass
      the replay filter again and the LWW MERGE reapplies them
      idempotently; nothing unapplied is ever skipped.
    - (epoch, bucket) fences are keyed by the OLD layout and are dropped;
      min_fenced_epoch is kept, and full-epoch replays below it stay
      no-ops while later epochs re-run idempotently via the watermark.
    - readers never see a half-rebucketed table: one snapshot swap.
    - an ingest epoch planned against the old layout that commits after
      the swap is refused by the layout guard of ``LakeTable._publish``
      and re-runs against the new layout.

    At 100 TB this is a background job like compaction (same commit
    CAS); run it when per-epoch touched-bucket fraction approaches 1.
    """
    # the rewrite reads `snap` and publishes with it as the planned
    # snapshot: if ingest advanced the table since, this data is stale
    # and the publish refuses (same retry as any CAS loser)
    snap = table.current()
    df = table.read(spark, snapshot=snap)
    rel_dir, out_dir = _attempt_dir(table.root)
    with bucket_aligned_write(spark):
        df.repartition(new_buckets, F.col(snap.key_column)).write.mode(
            "overwrite"
        ).parquet(out_dir)
    entries = _build_entries(out_dir, rel_dir, snap.key_column, None)
    min_wm = min(
        (int(v) for v in snap.watermark.values()), default=-1
    )

    def derive(head):
        # bucket ids change meaning: every manifest is rewritten
        return {
            "num_buckets": new_buckets,
            "files": entries,
            "fences": {},
            "watermark": {str(b): min_wm for b in range(new_buckets)},
            "props": {**head.props, "rebucketed_from": head.num_buckets},
        }, None

    return table._publish(derive, planned=snap, rewrite=True)


def verify(table: LakeTable, spark: SparkSession,
           snapshot=None) -> dict:
    """Post-commit write-verify (reference K4: read-back counts +
    partition histogram, ``notebooks/04_write_parquet.py:119-139``).

    Two tiers: (a) metadata — every manifest file exists on disk and is
    bucket-consistent by footer; (b) data — one read-back pass asserting
    the table invariants (key uniqueness, n_tok == size(tokens)).

    ``snapshot``: verify a PINNED snapshot instead of the head — what
    ``publish`` audits before moving a serving ref to it.
    """
    import pyarrow.parquet as pq

    snap = snapshot if snapshot is not None else table.current()
    missing = []
    has_delta = any(f.get("kind", "base") == "delta" for f in snap.files)
    rows_by_bucket: dict[int, int] = {}
    for f in snap.files:
        p = os.path.join(table.root, f["path"])
        if not os.path.exists(p):
            missing.append(f["path"])
            continue
        rows_by_bucket[f["bucket"]] = (
            rows_by_bucket.get(f["bucket"], 0)
            + pq.ParquetFile(p).metadata.num_rows
        )
    if missing:
        return {
            "ok": False, "version": snap.version, "rows": None,
            "distinct_keys": None, "bad_ntok": None,
            "missing_files": missing, "buckets": len(rows_by_bucket),
        }
    df = table.read(spark, snapshot=snap)
    agg = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct(F.col(snap.key_column)).alias("keys"),
        F.sum(
            F.when(F.col("n_tok") != F.size(F.col("tokens")), 1).otherwise(0)
        ).alias("bad_ntok"),
    ).collect()[0]
    ok = (
        not missing
        # physical row sums only equal logical rows when no deltas are
        # pending (MOR resolves superseded/deleted rows at read time)
        and (has_delta or int(agg["rows"]) == sum(rows_by_bucket.values()))
        and int(agg["rows"]) == int(agg["keys"])
        and int(agg["bad_ntok"] or 0) == 0
    )
    return {
        "ok": ok,
        "version": snap.version,
        "rows": int(agg["rows"]),
        "distinct_keys": int(agg["keys"]),
        "bad_ntok": int(agg["bad_ntok"] or 0),
        "missing_files": missing,
        "buckets": len(rows_by_bucket),
    }


def publish(
    table: LakeTable,
    spark: SparkSession,
    ref: str = "published",
    version: int | None = None,
    audit_predicate: str | None = None,
    allow_rollback: bool = False,
    full_verify: bool = True,
) -> dict:
    """Write-audit-publish: audit a committed snapshot, then atomically
    fast-forward a named serving ref to it (the Iceberg branch
    fast-forward / WAP ceremony, over this format's linear chain).

    Ingest keeps advancing the table head; downstream consumers pin to
    ``ref`` (``snapshot_at("published")`` for batch reads/lookups, the
    ``lakefeed`` stream's ``ref`` option for subscriptions) — so a bad
    epoch can land in the chain without ever becoming VISIBLE to
    serving until it passes the audit. The ref is a tag, so the
    published version is also retention-pinned: ``expire_snapshots``
    and orphan GC can never collect what serving points at.

    Audit tiers (any failure leaves the ref untouched and returns
    ``ok=False`` — the CLI maps that to exit 3):
    1. every file of the target snapshot exists on disk;
    2. ``audit_predicate`` (SQL boolean) evaluated over the CHANGES
       being published — ``changes_between(current_ref, target)`` — so
       the audit is O(changes), not O(table); the first publish audits
       the full state (everything is being published);
    3. ``full_verify``: the invariant read-back of ``verify`` pinned to
       the target snapshot.

    ``version=None`` publishes the head. Moving the ref BACKWARDS is
    refused unless ``allow_rollback=True`` (the explicit
    rollback-serving-to-a-known-good-cut surface).
    """
    head = table.current().version
    target = head if version is None else int(version)
    snap_t = table.snapshot_at(target)  # raises if not retained
    try:
        cur_ref = table.ref(ref)
    except FileNotFoundError:
        cur_ref = None
    if cur_ref is not None and target < cur_ref and not allow_rollback:
        raise ValueError(
            f"publish would move {ref!r} backwards v{cur_ref}→v{target}; "
            "pass allow_rollback=True to roll serving back explicitly"
        )
    out = {
        "ref": ref, "from_version": cur_ref, "to_version": target,
        "ok": True, "violations": 0, "published": False,
    }
    missing = [
        f["path"] for f in snap_t.files
        if not os.path.exists(os.path.join(table.root, f["path"]))
    ]
    if missing:
        out.update(ok=False, missing_files=missing[:10])
        return out
    if audit_predicate:
        if cur_ref is None or target <= cur_ref:
            # first publish OR a rollback/re-publish: the whole target
            # state is what serving will see — audit it directly (a
            # first publish can't use changes_between(0, target):
            # retention may have expired v0; a rollback has no forward
            # change-set, and silently skipping a requested audit would
            # let an unaudited snapshot serve)
            feed = table.read(spark, snapshot=snap_t).withColumn(
                "_change_op", F.lit("I")
            )
        else:
            feed = table.changes_between(spark, cur_ref, target)
        bad = feed.filter(
            ~F.coalesce(F.expr(audit_predicate), F.lit(False))
        ).count()
        out["violations"] = int(bad)
        if bad:
            out["ok"] = False
            return out
    if full_verify:
        rep = verify(table, spark, snapshot=snap_t)
        if not rep["ok"]:
            out.update(ok=False, verify=rep)
            return out
    # audits ran OUTSIDE the lock (they are Spark jobs — holding the
    # commit lock through them would stall ingest); re-check the ref
    # under the lock before moving it, so two concurrent publishers
    # can't interleave read-guard→tag and silently move serving
    # backwards (publisher A tags v5, B — who read the ref before A —
    # tags v4 over it)
    with commit_lock(table.root):
        now_ref = None
        try:
            now_ref = table.ref(ref)
        except FileNotFoundError:
            pass
        if (not allow_rollback and now_ref is not None
                and target < now_ref):
            raise ConcurrentCommitError(
                f"{ref!r} advanced to v{now_ref} while this publish "
                f"audited v{target}; refusing the implicit rollback — "
                "retry against the new state"
            )
        table.tag(ref, target)
    out["from_version"] = cur_ref if now_ref is None else now_ref
    out["published"] = True
    return out
