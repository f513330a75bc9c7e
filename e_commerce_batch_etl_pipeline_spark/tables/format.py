"""Iceberg-shaped lake table format, from scratch.

The sandbox has no iceberg-spark-runtime jar, so the table layer implements
the same *shape* of guarantees Iceberg gives (SURVEY.md §7.2) above plain
Parquet:

- **Immutable data files** under ``data/commit-<attempt>/`` (one directory
  per commit attempt), each file bucket-pure: hash-bucketed by the table
  key so an upsert only rewrites touched buckets (file-level pruning;
  at 100 TB this is the difference between rewriting 100 TB per epoch and
  rewriting only the buckets an epoch's change-set touches).
- **Snapshot manifests** ``metadata/snapshot-<v>.json`` listing the live
  files + per-file stats; readers go through the manifest, never through
  directory listing, so partially-written files are invisible.
- **Atomic commit**: write ``snapshot-<v+1>.json``, then ``os.replace`` the
  ``VERSION`` pointer — the same single-swap semantics as Iceberg's
  metadata pointer. Concurrent writers serialize on ``commit_lock`` and
  CAS against the parent version; every snapshot after the first is
  derived and published by ``LakeTable._publish``, and a writer whose
  plan went stale gets ``ConcurrentCommitError`` and retries.
- **Exactly-once fencing**: each snapshot carries the set of committed
  ``(epoch, bucket)`` units and a per-bucket high-LSN watermark; replaying
  an already-committed epoch is a metadata no-op, and rows with
  ``lsn <= watermark`` are dropped by the engine before the merge.
- **Schema evolution as metadata-only DDL**: adding a nullable column or
  widening an integer type bumps ``schema_version`` in the manifest only;
  readers reconcile old files via ``lit(None)`` + ``cast`` at scan time —
  no data rewrite (Iceberg's add-column / type-promotion semantics).

Reference analog: the reference's persistent layer is an overwrite-mode
partitioned Parquet dir with no snapshot log (``src/load.py:8-43``,
``src/config.py:52``); this module adds the ACID/commit layer the
north-rule requires. The partitioned-write + file-count control semantics
of ``src/load.py:34-41`` live on in ``write_data_files``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VERSION_FILE = "VERSION"
LOCK_FILE = "COMMIT_LOCK"
# A lock older than this is presumed crashed and taken over. MUST exceed
# the longest lock-holding operation (remove_orphans walking a large
# table, expire_snapshots listing history) — an owner that legitimately
# stalls past this horizon can lose its lease to a waiter, and only the
# pre-publish ownership re-check in _write_snapshot keeps the expired
# leaseholder from publishing a lost update.
LOCK_STALE_SEC = 300.0
# How long a writer WAITS on a fresh (non-stale) lock before giving up.
# Transient contention (ingest committing while background compaction/GC
# holds the lock for a few seconds) resolves by waiting, not failing:
# fail-fast here made live ingest nondeterministically abort under
# background maintenance. True conflicts (CAS/rewrite) still fail fast.
LOCK_WAIT_SEC = 60.0
# fence retention horizon: keep the last N ingest epochs' (epoch, bucket)
# fences verbatim; older ingest epochs collapse into min_fenced_epoch.
# Negative epochs are special (bootstrap=-1, compaction=-(version+2));
# the marker never applies to them: each compaction gets a fresh unique
# epoch, and the bootstrap fence is retained forever (never pruned).
FENCE_KEEP_EPOCHS = 64
BOOTSTRAP_EPOCH = -1


class ConcurrentCommitError(RuntimeError):
    """Another writer published a snapshot since this commit was planned."""
# Shared driver-side I/O pool (footer reads, manifest write+fsync): the
# per-epoch phases used to build and tear down a 16-thread pool EACH —
# thread spawn/join is pure per-epoch driver-serial overhead.
# Lazy singleton. A task that maps back into the pool can deadlock it
# once every worker waits on a queued child, so _io_pool() refuses
# callers running on a pool thread.
_IO_POOL = None
_IO_POOL_LOCK = threading.Lock()


def _io_pool():
    global _IO_POOL
    if threading.current_thread().name.startswith("lake-io"):
        raise RuntimeError("_io_pool() called from a lake-io pool task")
    if _IO_POOL is None:
        with _IO_POOL_LOCK:
            if _IO_POOL is None:
                from concurrent.futures import ThreadPoolExecutor

                _IO_POOL = ThreadPoolExecutor(
                    max_workers=16, thread_name_prefix="lake-io"
                )
    return _IO_POOL


_TYPE_WIDENING_OK = {
    ("int", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("float", "double"),
    ("int", "double"),  # permissive: int -> double widening
}


@dataclass
class TableSchema:
    """Versioned schema: list of (name, spark-ddl-type, nullable).

    ``retired`` records every column name ever dropped: parquet scans
    resolve columns BY NAME (this format carries no Iceberg-style field
    ids), so re-adding a dropped name would resurrect the old files'
    values as the new column's data — the zombie-column hazard. Retired
    names are therefore permanently unavailable."""

    fields: list[tuple[str, str, bool]]
    schema_version: int = 0
    retired: list[str] = field(default_factory=list)

    def to_struct(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(n, _parse_type(t), nullable)
                for n, t, nullable in self.fields
            ]
        )

    def names(self) -> list[str]:
        return [n for n, _, _ in self.fields]

    def to_json(self) -> dict:
        return {
            "schema_version": self.schema_version,
            "fields": [list(f) for f in self.fields],
            "retired": self.retired,
        }

    @staticmethod
    def from_json(d: dict) -> "TableSchema":
        return TableSchema(
            fields=[(n, t, bool(nl)) for n, t, nl in d["fields"]],
            schema_version=int(d["schema_version"]),
            retired=list(d.get("retired", [])),
        )

    def evolved(
        self,
        add_columns: list[tuple[str, str]] | None = None,
        widen: dict[str, str] | None = None,
        drop_columns: list[str] | None = None,
        key_column: str | None = None,
    ) -> "TableSchema":
        """Metadata-only evolution: add nullable columns, widen
        integer/float types, DROP non-key columns (reads clip — the
        explicit-schema scan simply stops selecting the column from old
        files; no rewrite, like Iceberg's drop). Raises on anything that
        would require a data rewrite (rename, narrowing) or break the
        table (dropping the key column).
        """
        fields = list(self.fields)
        names = {n for n, _, _ in fields}
        retired = list(self.retired)
        for name in drop_columns or []:
            if name not in names:
                raise ValueError(f"cannot drop unknown column {name}")
            if key_column is not None and name == key_column:
                raise ValueError(f"cannot drop key column {name}")
            fields = [f for f in fields if f[0] != name]
            names.discard(name)
            retired.append(name)
        for name, typ in add_columns or []:
            if name in names:
                raise ValueError(f"column {name} already exists")
            if name in retired:
                raise ValueError(
                    f"column name {name} was dropped earlier and is "
                    "retired: name-based parquet resolution would "
                    "resurrect old files' values (no field ids) — "
                    "choose a new name"
                )
            fields.append((name, typ, True))
        if widen:
            if key_column is not None and key_column in widen:
                # the bucket layout IS murmur3(key): Spark hashes int 5
                # and long 5 differently, so widening the key column
                # would route a key's new rows to a different bucket
                # than its old rows — bucket-local LWW then resolves
                # against half the history (silent wrong results), and
                # persisted bloom sidecars hash-drift the same way.
                # A key-type change requires a full rewrite (rebucket
                # with an explicit cast), not metadata-only DDL.
                raise ValueError(
                    f"cannot widen key column {key_column}: the bucket "
                    "route hashes by type (murmur3(int) != murmur3("
                    "long)) — rebucket with an explicit cast instead"
                )
            out = []
            for n, t, nl in fields:
                if n in widen:
                    new_t = widen[n]
                    if (t, new_t) not in _TYPE_WIDENING_OK:
                        raise ValueError(f"illegal widening {t} -> {new_t} for {n}")
                    out.append((n, new_t, nl))
                else:
                    out.append((n, t, nl))
            fields = out
        return TableSchema(
            fields=fields,
            schema_version=self.schema_version + 1,
            retired=retired,
        )


def _parse_type(ddl: str) -> T.DataType:
    # struct wrapper trick: parse "a: <ddl>" and take the field's type
    return T.StructType.fromDDL(f"x {ddl}")[0].dataType


@dataclass
class Snapshot:
    version: int
    schema: TableSchema
    key_column: str
    num_buckets: int
    # file entries: {"path": rel, "bucket": int, "rows": int}
    files: list[dict] = field(default_factory=list)
    # per-bucket manifest map {str(bucket): "manifest-<sha>.json"} — the
    # SERIALIZED form of ``files`` (Iceberg manifest-list shape). Set by
    # _write_snapshot; None on snapshots built in memory. Content-
    # addressed manifest files are immutable and shared across snapshots,
    # so a commit writes only the CHANGED buckets' manifests — commit
    # metadata cost is O(changed buckets + B), not O(live files).
    manifests: dict | None = None
    # committed units: {"epoch:bucket": {"max_lsn": L, "rows_applied": n}}
    fences: dict[str, dict] = field(default_factory=dict)
    # per-bucket high LSN watermark: {"bucket": L}
    watermark: dict[str, int] = field(default_factory=dict)
    # every epoch strictly below this is fenced (pruned fence horizon);
    # None = no pruning has happened yet. Bounds fence-set growth to
    # O(FENCE_KEEP_EPOCHS * buckets): without it, commit metadata and the
    # per-epoch fence scan grow O(epochs * buckets) over the table's life.
    # Pruning is LOSSLESS for correctness: LSNs are monotone with epochs,
    # so a late replay of a pruned epoch is dropped row-by-row by the
    # per-bucket watermark even without its fence entry.
    min_fenced_epoch: int | None = None
    parent: int | None = None
    committed_at: float = 0.0
    props: dict = field(default_factory=dict)

    def _below_horizon(self, epoch: int) -> bool:
        # the pruned-fence marker covers INGEST epochs only (>= 0):
        # LSN monotonicity backs it there; negative (bootstrap/compaction)
        # epochs keep explicit fences or are never re-checked
        return (
            self.min_fenced_epoch is not None
            and 0 <= epoch < self.min_fenced_epoch
        )

    def epoch_fenced(self, epoch: int) -> bool:
        """True iff any (epoch, bucket) unit of ``epoch`` is committed."""
        if self._below_horizon(epoch):
            return True
        pfx = f"{epoch}:"
        return any(k.startswith(pfx) for k in self.fences)

    def units_fenced(self, epoch: int, buckets) -> bool:
        """True iff EVERY (epoch, bucket) unit is committed."""
        if self._below_horizon(epoch):
            return True
        return all(f"{epoch}:{b}" in self.fences for b in buckets)

    def fenced_buckets(self, epoch: int) -> set[int]:
        pfx = f"{epoch}:"
        return {int(k.split(":")[1]) for k in self.fences if k.startswith(pfx)}

    def to_json(self) -> dict:
        out = {
            "version": self.version,
            "schema": self.schema.to_json(),
            "key_column": self.key_column,
            "num_buckets": self.num_buckets,
            "fences": self.fences,
            "watermark": self.watermark,
            "min_fenced_epoch": self.min_fenced_epoch,
            "parent": self.parent,
            "committed_at": self.committed_at,
            "props": self.props,
        }
        if self.manifests is not None:
            out["manifests"] = self.manifests
        else:
            out["files"] = self.files
        return out

    @staticmethod
    def from_json(d: dict, md_dir: str | None = None) -> "Snapshot":
        manifests = d.get("manifests")
        if manifests is not None:
            if md_dir is None:
                raise ValueError(
                    "snapshot uses manifest files; md_dir is required"
                )
            files = []
            for b in sorted(manifests, key=int):
                files.extend(_load_manifest(md_dir, manifests[b]))
        else:
            files = d["files"]
        return Snapshot(
            version=d["version"],
            schema=TableSchema.from_json(d["schema"]),
            key_column=d["key_column"],
            num_buckets=d["num_buckets"],
            files=files,
            manifests=manifests,
            fences=d["fences"],
            watermark=d["watermark"],
            min_fenced_epoch=d.get("min_fenced_epoch"),
            parent=d.get("parent"),
            committed_at=d.get("committed_at", 0.0),
            props=d.get("props", {}),
        )


def _file_entry(
    abs_path: str, rel_path: str, bucket: int, key_column: str
) -> dict | None:
    """Build a manifest file entry with per-file stats from the parquet
    footer: row count, min/max of the key column, and (when the file
    carries it — delta files) min/max lsn. Returns None for empty files.

    The footer is ALREADY being opened here to skip empty partitions, so
    the stats are free at write time; they buy file-level pruning at
    read/lookup time (Iceberg manifest column-stats shape). Per-row-group
    min/max are folded to file level. Parquet string stats may be
    writer-truncated to a bounding prefix — still a SOUND range (stat_min
    <= true_min, stat_max >= true_max), so pruning on them never drops a
    live file. Files whose footer lacks stats simply omit the keys and
    are never pruned (backward compatible with pre-stats manifests)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    if md.num_rows == 0:
        return None
    entry = {"path": rel_path, "bucket": bucket, "rows": md.num_rows}
    cols = {}
    for i in range(md.num_columns):
        name = md.schema.column(i).path
        if name in (key_column, "lsn"):
            cols[name] = i
    for name, i in cols.items():
        mn = mx = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                mn = None
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if mn is None:
            continue
        if isinstance(mn, bytes) or isinstance(mx, bytes):
            continue  # undecoded binary stats — not comparable portably
        if name == key_column:
            entry["min_key"], entry["max_key"] = mn, mx
        else:
            entry["min_lsn"], entry["max_lsn"] = int(mn), int(mx)
    return entry


def _build_entries(
    src_dir: str, rel_dir: str, key_column: str, wanted: set | None
) -> list[dict]:
    """File entries (with footer stats) for every non-empty bucket-pure
    ``part-<bucket>-*`` file in ``src_dir``. Footer opens run on a thread
    pool (I/O-bound, GIL released inside pyarrow) so a 4096-bucket
    commit's entry build is not 4096 SERIAL driver reads. A merge-on-read
    epoch reads its per-bucket rows and max lsn from these entries
    (``write_data_files`` returns them)."""
    cands = []
    for fn in sorted(os.listdir(src_dir)):
        if not fn.endswith(".parquet"):
            continue
        b = int(fn.split("-")[1])
        if wanted is not None and b not in wanted:
            continue
        cands.append((fn, b))
    if not cands:
        return []

    def one(t):
        fn, b = t
        return _file_entry(
            os.path.join(src_dir, fn), os.path.join(rel_dir, fn),
            b, key_column,
        )

    return [e for e in _io_pool().map(one, cands) if e is not None]


def _flatten_bucket_dirs(out_dir: str) -> None:
    """Move every file of a ``partitionBy("_bucket")`` write up into
    ``out_dir``: ``_bucket=<b>/part-<rest>`` becomes ``part-<b:05d>-<rest>``
    and its ``.crc`` sidecar moves with it; the emptied ``_bucket=*`` dirs
    are removed. ``<rest>`` (task id, write uuid, split counter) is unique
    within a bucket dir, so the flat names are unique by construction and
    ``_build_entries`` reads the bucket from the name."""
    for d in os.listdir(out_dir):
        if not d.startswith("_bucket="):
            continue
        b = int(d[len("_bucket="):])
        src = os.path.join(out_dir, d)
        for fn in os.listdir(src):
            if not fn.startswith("part-"):
                continue
            flat = f"part-{b:05d}-{fn[len('part-'):]}"
            os.rename(os.path.join(src, fn), os.path.join(out_dir, flat))
            crc = os.path.join(src, f".{fn}.crc")
            if os.path.exists(crc):
                os.rename(crc, os.path.join(out_dir, f".{flat}.crc"))
        shutil.rmtree(src)


def _attempt_dir(root: str) -> tuple[str, str]:
    """A fresh ``data/commit-<attempt>`` directory for one commit
    attempt, as (path relative to the table root, absolute path).
    Crashed attempts never collide, and files under it go live only
    when a snapshot referencing them publishes."""
    rel_dir = os.path.join("data", f"commit-{uuid.uuid4().hex[:12]}")
    return rel_dir, os.path.join(root, rel_dir)


def _may_contain_keys(entry: dict, sorted_keys: list) -> bool:
    """File-level key pruning: False only when the entry's key range
    provably excludes every requested key. Entries without stats are
    kept. ``sorted_keys`` must be sorted ascending."""
    mn, mx = entry.get("min_key"), entry.get("max_key")
    if mn is None or mx is None or not sorted_keys:
        return True
    import bisect

    try:
        i = bisect.bisect_left(sorted_keys, mn)
        return i < len(sorted_keys) and sorted_keys[i] <= mx
    except TypeError:
        return True  # incomparable key/stat types — never prune


def _may_overlap_range(entry: dict, lo, hi) -> bool:
    """File-level range pruning: False only when the entry's
    [min_key, max_key] provably misses the (inclusive) requested range.
    Open ends (``lo``/``hi`` = None) never exclude on that side; entries
    without stats are kept."""
    mn, mx = entry.get("min_key"), entry.get("max_key")
    if mn is None or mx is None:
        return True
    try:
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    except TypeError:
        return True  # incomparable bound/stat types — never prune
    return True


# Manifest files are content-addressed (name = sha1 of canonical entry
# JSON) and therefore immutable; cache discipline (LRU cap, shared
# values, why) lives in tables/lru.py — the same helper backs the bloom
# sidecar cache.
from .lru import LruCache

_MANIFEST_CACHE = LruCache("LAKE_MANIFEST_CACHE_MAX", 4096)


def _manifest_bytes(entries: list[dict]) -> bytes:
    return json.dumps(entries, sort_keys=True).encode()


def _manifest_name(entries: list[dict]) -> str:
    import hashlib

    return f"manifest-{hashlib.sha1(_manifest_bytes(entries)).hexdigest()[:20]}.json"


def _load_manifest(md_dir: str, name: str) -> list[dict]:
    path = os.path.join(md_dir, name)
    cached = _MANIFEST_CACHE.get(path)
    if cached is None:
        with open(path) as f:
            cached = json.load(f)
        _MANIFEST_CACHE.put(path, cached)
    return list(cached)


def _write_manifest(md_dir: str, entries: list[dict]) -> str:
    """Write a content-addressed manifest file if absent; returns name.

    Atomic (tmp + replace) so a racer writing identical content or a
    crashed attempt never exposes a partial file; identical content from
    two writers converges to the same name, which is the point.
    """
    name = _manifest_name(entries)
    path = os.path.join(md_dir, name)
    if not os.path.exists(path):
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(_manifest_bytes(entries).decode())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        _MANIFEST_CACHE.put(path, [dict(e) for e in entries])
    return name


@contextmanager
def commit_lock(root: str, wait_sec: float | None = None):
    """Exclusive advisory commit lock (O_CREAT|O_EXCL — atomic on POSIX).

    Every publish holds it (``LakeTable._publish``), so two engines
    committing to one table serialize instead of silently
    last-write-winning the VERSION pointer.

    A FRESH lock held by a live writer is WAITED on (bounded exponential
    backoff up to ``wait_sec``) — background maintenance (compaction, GC)
    holding the lock for seconds must not abort live ingest; only after
    the wait budget is exhausted does ConcurrentCommitError surface.
    Fail-fast is reserved for true conflicts (snapshot CAS, rewrite-input
    dereference), where retrying the same commit would publish a lost
    update.

    Stale locks (crashed writer, age > LOCK_STALE_SEC) are taken over
    ATOMICALLY: the waiter ``os.rename``s the stale lock to a unique
    claim name — only one of N racing waiters wins the rename (the losers
    get ENOENT and return to the wait loop) — then recreates the lock
    with O_EXCL. Release verifies ownership (the lock body carries a
    per-acquisition token) so a waiter that legitimately took over a
    stale lock is never unlocked by the crashed owner's ``finally``.

    Yields the ownership token; ``_write_snapshot`` re-verifies it
    immediately before the VERSION swap, so an owner that stalled past
    LOCK_STALE_SEC and lost its lease cannot publish a lost update over
    the taker-over's commit (the residual read-then-replace window is
    additionally backstopped by the snapshot CAS).
    """
    if wait_sec is None:
        wait_sec = LOCK_WAIT_SEC  # resolved at call time (patchable)
    path = os.path.join(root, "metadata", LOCK_FILE)
    token = f"{os.getpid()}:{uuid.uuid4().hex}"

    def _acquire():
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, f"{token} {time.time()}".encode())
        os.close(fd)

    deadline = time.monotonic() + wait_sec
    backoff = 0.02
    age = None  # last successful stat; None until one lands
    acquired = False
    try:
        # one unconditional attempt BEFORE the deadline-checked loop:
        # wait_sec=0 must behave as a non-blocking try-lock (acquire a
        # free lock, error only on a held one), not error unconditionally
        _acquire()
        acquired = True
    except FileExistsError:
        pass
    while not acquired:
        # deadline first, so EVERY path through the loop is bounded —
        # including a lock that flaps between exists (O_EXCL fails) and
        # vanished (stat fails), which previously skipped both the
        # deadline check and the backoff sleep
        if time.monotonic() >= deadline:
            held = ("unknown age (stat raced)" if age is None
                    else f"age {age:.0f}s at last stat")
            raise ConcurrentCommitError(
                f"commit lock held ({path}, {held}, waited "
                f"{wait_sec:.0f}s)"
            ) from None
        try:
            _acquire()
            break
        except FileExistsError:
            pass
        try:
            age = time.time() - os.path.getmtime(path)
        except OSError:
            # lock vanished between EXISTS and stat — retry promptly but
            # never hot: minimal sleep, then back through the deadline
            time.sleep(0.005)
            continue
        if age > LOCK_STALE_SEC:
            # stale: claim via atomic rename — exactly one waiter succeeds
            claim = f"{path}.stale.{uuid.uuid4().hex}"
            try:
                os.rename(path, claim)
            except OSError:
                pass  # lost the takeover race — back to the wait loop
            else:
                try:
                    os.remove(claim)
                except OSError:
                    pass
                try:
                    _acquire()
                    break
                except FileExistsError:
                    pass  # re-taken during takeover — back to the loop
        time.sleep(backoff)
        backoff = min(backoff * 2, 0.5)
    try:
        yield token
    finally:
        # release only if we still own it (takeover-safe)
        try:
            with open(path) as f:
                owner = f.read().split(" ", 1)[0]
            if owner == token:
                os.remove(path)
        except OSError:
            pass


def bucket_expr(key_col: str, num_buckets: int):
    """Deterministic bucket id for a key: pmod(murmur3(key), B).

    Deliberately IDENTICAL to Spark's HashPartitioning formula
    (``pmod(Murmur3Hash(key), n)``). For any P that divides B,
    ``bucket mod P`` is the hash partition of ``repartition(P, key)``,
    so every bucket's rows land in exactly one of those P partitions:
    the writer tags rows with this expression and splits each task's
    rows into one file per bucket, and a join or aggregate shuffled on
    the key at P partitions is already aligned with the table layout
    (``write_partitions``). File naming no longer comes from a
    partition index: ``write_data_files`` names each file after the
    bucket value it was split on. Stability: Murmur3Hash(seed 42) is
    part of Spark's shuffle contract and cannot change without breaking
    every bucketed table; tests assert file purity against this
    expression.
    """
    return F.pmod(F.hash(F.col(key_col)), F.lit(num_buckets)).cast("int")


def write_partitions(spark: SparkSession, num_buckets: int) -> int:
    """The shuffle width P of a bucket-pure write of ``num_buckets``
    buckets: the largest divisor of B that is at most the session's task
    slots (``defaultParallelism``), so the write runs in one task wave
    and each bucket lives in exactly one task. When that divisor is
    below half the slots (a prime B, say) it returns B instead: one task
    per bucket, in several waves, rather than most slots idle."""
    slots = max(1, spark.sparkContext.defaultParallelism)
    p = max(d for d in range(1, min(num_buckets, slots) + 1)
            if num_buckets % d == 0)
    return p if 2 * p >= slots else num_buckets


def _delta_schema(target: T.StructType) -> T.StructType:
    """A delta file's schema: the table's columns plus the change's
    ``op`` and ``lsn``."""
    return T.StructType(list(target.fields) + [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
    ])


class _FeedShaper:
    """The change-feed output shape, shared by the endpoint diff and the
    delta-only fast path: both join a FROM side against a TO side on the
    key and differ only in the join and the op rule."""

    def __init__(self, snap: Snapshot):
        self.key = snap.key_column
        self.target = snap.schema.to_struct()
        self.payload = [
            f.name for f in self.target.fields if f.name != self.key
        ]

    def side(self, df: DataFrame, name: str, *extra) -> DataFrame:
        """``(key, struct(payload) AS name, *extra)`` with ``df``
        reconciled to the TO schema: columns it lacks read as typed
        NULLs, the rest are cast to the TO type."""
        cols = {
            f.name: F.col(f.name).cast(f.dataType) if f.name in df.columns
            else F.lit(None).cast(f.dataType)
            for f in self.target.fields
        }
        return df.select(
            cols[self.key].alias(self.key),
            F.struct(*[cols[c].alias(c) for c in self.payload]).alias(name),
            *extra,
        )

    def rows(self, joined: DataFrame, op, side,
             include_old: bool) -> DataFrame:
        """``(_change_op, key, payload..., [_old_<col>...])``: rows whose
        ``op`` is NULL are not changes; payload comes from the ``side``
        struct; the ``_old_<col>`` pre-images are NULL where the key was
        absent from the FROM state (``_ino`` NULL)."""
        old_cols = [
            F.when(F.col("_ino").isNotNull(), F.col("_old").getField(c))
            .alias(f"_old_{c}")
            for c in self.payload
        ] if include_old else []
        return (
            joined.withColumn("_change_op", op)
            .filter(F.col("_change_op").isNotNull())
            .select(
                "_change_op", self.key,
                *[side.getField(c).alias(c) for c in self.payload],
                *old_cols,
            )
        )


class LakeTable:
    """Snapshot-isolated lake table. Writers serialize on
    ``commit_lock``; every snapshot after the first publishes through
    ``_publish``."""

    def __init__(self, root: str):
        self.root = root

    # ---------- lifecycle ----------

    @staticmethod
    def create(
        root: str,
        schema: TableSchema,
        key_column: str = "doc_id",
        num_buckets: int = 16,
        props: dict | None = None,
    ) -> "LakeTable":
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        t = LakeTable(root)
        snap = Snapshot(
            version=0,
            schema=schema,
            key_column=key_column,
            num_buckets=num_buckets,
            committed_at=time.time(),
            props=props or {},
        )
        t._write_snapshot(snap)
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "metadata", VERSION_FILE))

    def current(self) -> Snapshot:
        md = os.path.join(self.root, "metadata")
        with open(os.path.join(md, VERSION_FILE)) as f:
            name = f.read().strip()
        with open(os.path.join(md, name)) as f:
            return Snapshot.from_json(json.load(f), md_dir=md)

    def snapshot_at(self, version: int | str) -> Snapshot:
        """Time travel: load a snapshot by version number or TAG name
        (the Iceberg ``VERSION AS OF <n>`` / ``ref`` surface)."""
        if isinstance(version, str):
            version = self.ref(version)
        md = os.path.join(self.root, "metadata")
        p = os.path.join(md, f"snapshot-{version:08d}.json")
        with open(p) as f:
            return Snapshot.from_json(json.load(f), md_dir=md)

    def history(self) -> list[int]:
        md = os.path.join(self.root, "metadata")
        return sorted(
            int(fn.split("-")[1].split(".")[0])
            for fn in os.listdir(md)
            if fn.startswith("snapshot-")
        )

    # ---------- named refs (tags) ----------
    #
    # Iceberg tag shape: a named pointer to a committed snapshot version,
    # stored as one small JSON per ref under metadata/refs/. Tags make a
    # version ADDRESSABLE ("prod", "pre-migration", an audit cut) and,
    # more importantly, RETAINED: expire_snapshots never drops a tagged
    # version, so its files stay live through remove_orphans — time
    # travel to a tag keeps working under aggressive retention.

    @staticmethod
    def _check_ref_name(name: str) -> str:
        import re as _re

        if not _re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,99}", name):
            raise ValueError(
                f"invalid ref name {name!r} (alnum start; alnum/._- only)"
            )
        return name

    def tag(self, name: str, version: int | None = None) -> int:
        """Create/move a named tag; returns the tagged version. Atomic
        (tmp + rename), and validated against an existing snapshot so a
        tag can never dangle at creation time."""
        self._check_ref_name(name)
        v = self.current().version if version is None else int(version)
        p = os.path.join(self.root, "metadata",
                         f"snapshot-{v:08d}.json")
        if not os.path.exists(p):
            raise FileNotFoundError(f"no snapshot version {v} to tag")
        refs = os.path.join(self.root, "metadata", "refs")
        os.makedirs(refs, exist_ok=True)
        tmp = os.path.join(refs, f".{name}.tmp")
        with open(tmp, "w") as f:
            json.dump({"version": v, "created_at": time.time()}, f)
        os.replace(tmp, os.path.join(refs, f"{name}.json"))
        return v

    def ref(self, name: str) -> int:
        """Resolve a tag to its snapshot version."""
        self._check_ref_name(name)
        p = os.path.join(self.root, "metadata", "refs", f"{name}.json")
        with open(p) as f:
            return int(json.load(f)["version"])

    def tags(self) -> dict[str, int]:
        refs = os.path.join(self.root, "metadata", "refs")
        if not os.path.isdir(refs):
            return {}
        out = {}
        for fn in sorted(os.listdir(refs)):
            if fn.endswith(".json") and not fn.startswith("."):
                try:
                    with open(os.path.join(refs, fn)) as f:
                        out[fn[:-5]] = int(json.load(f)["version"])
                except FileNotFoundError:
                    continue  # dropped between listdir and open
        return out

    def drop_tag(self, name: str) -> None:
        self._check_ref_name(name)
        try:
            os.remove(
                os.path.join(self.root, "metadata", "refs", f"{name}.json")
            )
        except FileNotFoundError:
            pass

    # ---------- metadata tables ----------

    def meta(self, spark: SparkSession, kind: str = "files",
             snapshot: Snapshot | None = None) -> DataFrame:
        """Metadata as queryable DataFrames (Iceberg's ``table$files`` /
        ``$snapshots`` inspection surface): ops questions — fragmentation
        per bucket, delta backlog by age, stats coverage, fence spread —
        become plain Spark SQL over table metadata, no data files read.
        Built from the already-driver-resident manifest entries, so cost
        is O(live files) metadata, same as any snapshot load.

        kinds: ``files`` (one row per live data file, with stats +
        bloom flag), ``snapshots`` (one row per retained version),
        ``fences`` (committed (epoch, bucket) units), ``tags``.
        """
        snap = snapshot or self.current()
        if kind == "files":
            rows = [
                (
                    f["path"], int(f["bucket"]),
                    f.get("kind", "base"),
                    # nullable: manifest entries written before per-file
                    # stats existed lack "rows" — inspect must render
                    # them as null, not raise (ADVICE r5)
                    None if f.get("rows") is None else int(f["rows"]),
                    # stringified: key stats keep the key column's type
                    # in the manifest (string or int keys)
                    None if f.get("min_key") is None else str(f["min_key"]),
                    None if f.get("max_key") is None else str(f["max_key"]),
                    f.get("min_lsn"), f.get("max_lsn"),
                    "bloom" in f,
                )
                for f in snap.files
            ]
            schema = (
                "path string, bucket int, kind string, rows bigint, "
                "min_key string, max_key string, min_lsn bigint, "
                "max_lsn bigint, has_bloom boolean"
            )
            return spark.createDataFrame(rows, schema)
        if kind == "snapshots":
            rows = []
            for v in self.history():
                try:
                    s = self.snapshot_at(v)
                except FileNotFoundError:
                    continue  # expired mid-walk
                rows.append((
                    s.version, s.parent, float(s.committed_at),
                    s.schema.schema_version, s.num_buckets,
                    len(s.files),
                    sum(1 for f in s.files if f.get("kind") == "delta"),
                    json.dumps(s.props, sort_keys=True),
                ))
            schema = (
                "version int, parent int, committed_at double, "
                "schema_version int, num_buckets int, live_files int, "
                "pending_delta_files int, props string"
            )
            return spark.createDataFrame(rows, schema)
        if kind == "fences":
            rows = [
                (int(k.split(":")[0]), int(k.split(":")[1]),
                 int(v.get("max_lsn", -1)))
                for k, v in snap.fences.items()
            ]
            return spark.createDataFrame(
                rows, "epoch int, bucket int, max_lsn bigint"
            )
        if kind == "tags":
            return spark.createDataFrame(
                list(self.tags().items()), "name string, version int"
            )
        raise ValueError(
            f"unknown metadata table {kind!r} "
            "(files | snapshots | fences | tags)"
        )

    # ---------- read path ----------

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        snapshot: Snapshot | None = None,
        keys: list | None = None,
        key_range: tuple | None = None,
    ) -> DataFrame:
        """Manifest-driven scan with file pruning + schema reconciliation.

        Only files listed in the snapshot are read (partially-written or
        orphaned files are invisible). ``buckets`` prunes to the touched
        buckets — the MERGE path's file-level pruning. ``keys`` prunes
        further to the files whose manifest [min_key, max_key] range can
        contain a requested key (per-file stats recorded at write time)
        and restricts the RESULT to exactly those keys — under
        merge-on-read this also shrinks the LWW merge itself: a delta
        file whose key range excludes every requested key never enters
        the union, and a bucket whose deltas are all pruned scans clean
        with no merge at all. ``key_range=(lo, hi)`` is the range-scan
        analog (Iceberg manifest range filtering): inclusive bounds,
        either end None for open; files whose key range provably misses
        [lo, hi] never enter the scan — with monotone ingest ids this
        turns a "recent rows" range scan into a few-file read even at
        thousands of files. Pruning either way is sound under MOR: a
        pruned file contains NO requested key, so no requested key's LWW
        resolution loses a contender. Buckets hash by key, so a range
        does NOT bucket-route — it file-prunes across all buckets. Old
        files written under an earlier schema_version are reconciled
        column-by-column: missing columns become typed NULLs, narrower
        ints are cast up.
        """
        if keys is not None and key_range is not None:
            raise ValueError("pass keys= or key_range=, not both")
        snap = snapshot or self.current()
        files = snap.files
        if buckets is not None:
            bs = set(buckets)
            files = [f for f in files if f["bucket"] in bs]
        key_pred = None
        if key_range is not None:
            lo, hi = key_range
            if lo is None and hi is None:
                raise ValueError("key_range needs at least one bound")
            files = [f for f in files if _may_overlap_range(f, lo, hi)]
            kc = F.col(snap.key_column)
            if lo is None:
                key_pred = lambda df: df.filter(kc <= F.lit(hi))
            elif hi is None:
                key_pred = lambda df: df.filter(kc >= F.lit(lo))
            else:
                key_pred = lambda df: df.filter(
                    kc.between(F.lit(lo), F.lit(hi))
                )
        if keys is not None:
            # NULL matches no key (isin / equi-join semantics) — drop it
            # rather than crash sorting; key sets Python cannot totally
            # order (mixed types) skip file pruning but still restrict
            # row-exactly below.
            ks = {k for k in keys if k is not None}
            if not ks:
                files = []
            try:
                sk = sorted(ks)
                files = [f for f in files if _may_contain_keys(f, sk)]
            except TypeError:
                sk = list(ks)
            # Bloom pruning answers what min/max cannot — "is THIS key in
            # THIS file?" — which is what prunes delta files carrying
            # hash-scattered update keys (their [min,max] spans nearly the
            # whole bucket). Probes hash driver-side with the Spark-equal
            # pure-Python XXH64 (zero extra jobs); unsupported key types,
            # bloom-less entries, and large probe sets fail OPEN.
            if ks and len(ks) <= 10000 and any("bloom" in f for f in files):
                from .bloom import key_hash, may_contain

                ktype = dict(
                    (n, t) for n, t, _ in snap.schema.fields
                )[snap.key_column]
                # a probe key that cannot coerce to the key column's
                # type must fail OPEN like every other pruning path,
                # not crash the read (ADVICE r5): int("x") in key_hash
                # raises ValueError
                def _h(k):
                    try:
                        return key_hash(k, ktype)
                    except (TypeError, ValueError):
                        return None

                hs = [_h(k) for k in ks]
                if all(h is not None for h in hs):
                    files = [
                        f for f in files if may_contain(f, self.root, hs)
                    ]
            # stats pruning is file-granular; the row-exact restriction:
            # small sets push an In literal list (reaches row-group
            # stats), large sets broadcast-semi-join (a 10^5-literal In
            # bloats the plan) — applied BELOW the MOR merge either way
            if len(sk) <= 1000:
                key_pred = lambda df: df.filter(
                    F.col(snap.key_column).isin(sk)
                )
            else:
                kdf = spark.createDataFrame(
                    [(k,) for k in sk],
                    T.StructType([next(
                        f for f in snap.schema.to_struct().fields
                        if f.name == snap.key_column
                    )]),
                )
                key_pred = lambda df: df.join(
                    F.broadcast(kdf), snap.key_column, "left_semi"
                )
        target = snap.schema.to_struct()
        if not files:
            return spark.createDataFrame([], target)
        base_files = [f for f in files if f.get("kind", "base") == "base"]
        delta_files = [f for f in files if f.get("kind", "base") == "delta"]
        # Explicit schema: skips driver-side footer inference (saves ~2s
        # per read with many files — a serial cost that hurts scaling).
        # The parquet reader clips to the requested schema: columns absent
        # in old files (additive evolution) come back as NULL, and
        # int32→int64 / float→double widening is upcast by the vectorized
        # reader (Spark 4 type-widening) — so old-schema files reconcile
        # without a per-file plan.
        def scan(fs, schema):
            paths = [os.path.join(self.root, f["path"]) for f in fs]
            df = spark.read.schema(schema).parquet(*paths)
            return key_pred(df) if key_pred is not None else df

        if not delta_files:
            return scan(base_files, target)

        # merge-on-read: buckets with pending delta files resolve LWW at
        # scan time (base rows get lsn=-1 — any delta beats the base; the
        # latest delta per key wins; winner op=D drops the key). Buckets
        # WITHOUT deltas scan clean and skip the merge entirely.
        from ..operators.lww import lww_dedup

        dirty = sorted({f["bucket"] for f in delta_files})
        clean_base = [f for f in base_files if f["bucket"] not in dirty]
        dirty_base = [f for f in base_files if f["bucket"] in dirty]
        parts = []
        if dirty_base:
            parts.append(
                scan(dirty_base, target)
                .withColumn("op", F.lit("I"))
                .withColumn("lsn", F.lit(-1).cast("long"))
            )
        parts.append(scan(delta_files, _delta_schema(target)))
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        resolved = (
            lww_dedup(u, key=snap.key_column, order="lsn")
            .filter(F.col("op") != "D")
            .select(*[f.name for f in target.fields])
        )
        if clean_base:
            resolved = resolved.unionByName(scan(clean_base, target))
        return resolved

    def lookup(
        self,
        spark: SparkSession,
        keys: list,
        snapshot: Snapshot | None = None,
    ) -> DataFrame:
        """Point lookups (the serving-read path): scan ONLY the buckets
        the keys hash to — the murmur3 bucket route turns a key lookup
        into a 1/B-of-table scan per distinct bucket, independent of
        table size. Within the routed buckets, per-file manifest key
        stats prune base AND delta files whose [min_key, max_key] range
        excludes every requested key (read(keys=...)), so a lookup
        touches a handful of files even in a bucket carrying thousands
        of pending deltas. Small key sets additionally push an ``In``
        filter to the parquet row-group stats; large sets use a
        broadcast semi-join instead (an ``isin`` with 10^5 literals
        bloats the plan)."""
        snap = snapshot or self.current()
        key = snap.key_column
        key_type = dict(
            (n, t) for n, t, _ in snap.schema.fields
        )[key]
        # Bucket routing is pmod(murmur3(key), B) — computed driver-side
        # by the Spark-bit-equal pure-Python replica (tables/murmur.py,
        # property-tested vs bucket_expr), so the serving path plans its
        # read with ZERO extra Spark jobs. Unsupported key types fall
        # back to the one-job Spark route; either way the routed read is
        # row-exact below.
        from .murmur import key_bucket

        route = [
            key_bucket(k, key_type, snap.num_buckets)
            for k in keys if k is not None  # NULL matches no key
        ]
        if any(b is None for b in route):
            kdf = spark.createDataFrame(
                [(k,) for k in keys], f"{key} {key_type}"
            )
            buckets = sorted(
                r["b"]
                for r in kdf.select(
                    bucket_expr(key, snap.num_buckets).alias("b")
                ).distinct().collect()
            )
        else:
            buckets = sorted({b for b in route if b is not None})
        return self.read(spark, buckets=buckets, snapshot=snap, keys=keys)

    def changes_between(
        self, spark: SparkSession, from_version: int, to_version: int,
        include_old: bool = False,
    ) -> DataFrame:
        """Incremental change feed (the Delta-CDF / Iceberg-CDC read
        surface): NET row-level changes between two committed snapshots,
        as (_change_op, key, payload...) — ``I`` inserted, ``U`` updated
        (payload differs), ``D`` deleted.

        ``include_old=True`` appends ``_old_<col>`` columns carrying the
        PRE-image for U/D rows (NULL on I) — what an incremental
        aggregate/materialized-view maintainer needs to retract the old
        contribution before applying the new one.

        Scale shape, two tiers:
        - DELTA-ONLY ranges (deferred-compaction MOR: no file removed,
          every added file a delta whose min_lsn clears the FROM
          watermark — per-file manifest lsn stats gate this) take the
          O(changes) fast path (``_changes_from_deltas``): LWW over the
          added delta rows joined once against the FROM state; the TO
          state is never materialized.
        - Any other range (CoW replacements, compaction folds, rebucket)
          falls back to the endpoint-snapshot diff: both snapshot reads
          FILE-PRUNED to the buckets whose file sets differ — cost is
          O(changed-bucket data), not O(table), for any mix of CoW/MOR/
          compaction commits in the range (compaction rewrites buckets
          without changing logical state; those rows fall out of the
          full-outer diff as unchanged).
        Schema evolution in the range is reconciled to the LATER
        snapshot's schema (added columns read as NULL from the earlier
        version, so an update that only populates a new column still
        surfaces as U).
        """
        s1 = self.snapshot_at(from_version)
        s2 = self.snapshot_at(to_version)
        paths1 = {f["path"] for f in s1.files}
        paths2 = {f["path"] for f in s2.files}
        added = [f for f in s2.files if f["path"] not in paths1]
        removed = [f for f in s1.files if f["path"] not in paths2]
        if self._delta_only_range(s1, s2, added, removed):
            return self._changes_from_deltas(spark, s1, s2, added,
                                             include_old)
        if s1.num_buckets == s2.num_buckets:
            files1 = {b: sorted(f["path"] for f in s1.files if f["bucket"] == b)
                      for b in range(s1.num_buckets)}
            files2 = {b: sorted(f["path"] for f in s2.files if f["bucket"] == b)
                      for b in range(s2.num_buckets)}
            old_buckets = new_buckets = [
                b for b in range(s2.num_buckets)
                if files1.get(b) != files2.get(b)
            ]
        else:
            # a rebucket in the range: bucket ids are NOT comparable
            # between the layouts (keys moved buckets, and under a SHRINK
            # s1 buckets >= s2.num_buckets would silently drop out of a
            # pruned old-side read, surfacing live rows as spurious I).
            # Diff the full table — no pruning is sound across a layout
            # change.
            old_buckets = new_buckets = None
        # with no changed bucket both reads are empty relations, and the
        # diff plans to an empty result of the same shape
        shape = _FeedShaper(s2)
        o = shape.side(self.read(spark, buckets=old_buckets, snapshot=s1),
                       "_old", F.lit(1).alias("_ino"))
        n = shape.side(self.read(spark, buckets=new_buckets, snapshot=s2),
                       "_new", F.lit(1).alias("_inn"))
        op = (
            F.when(F.col("_ino").isNull(), "I")
            .when(F.col("_inn").isNull(), "D")
            .when(~F.col("_old").eqNullSafe(F.col("_new")), "U")
        )
        side = F.when(F.col("_inn").isNull(), F.col("_old")).otherwise(
            F.col("_new")
        )
        return shape.rows(o.join(n, shape.key, "full_outer"), op, side,
                          include_old)

    @staticmethod
    def _delta_only_range(s1, s2, added: list[dict],
                          removed: list[dict]) -> bool:
        """True iff the version range is DELTA-ONLY, making the
        O(changes) feed fast path sound:

        - same bucket layout (a rebucket makes bucket ids incomparable);
        - no file removed (a CoW replacement or compaction fold inside
          the range rewrites state that the added files alone can't
          reconstruct);
        - every added file is a delta CARRYING min_lsn stats, and its
          min_lsn is strictly above the FROM snapshot's per-bucket
          watermark — so the latest added delta per key provably beats
          every row of the FROM state in read-time LWW. The soundness
          rests on a commit invariant, not on failing closed: between
          rebuckets, ``watermark[b]`` is monotone and ≥ every delta-row
          lsn in bucket b's files (commit sets it to the written delta's
          max lsn), and a rebucket that RESETS watermarks also folds
          every delta into base files (which read as lsn=-1) — so no
          FROM state can hold a delta row above its own watermark, and
          an added file clearing the watermark beats all FROM rows.
          In particular, post-rebucket re-applied ranges legitimately
          TAKE the fast path (their old lsns still clear the reset
          watermark) and remain correct; stats-less added files and
          mixed layouts are what actually fall back.
        """
        return bool(
            s1.num_buckets == s2.num_buckets
            and added and not removed
            and all(
                f.get("kind") == "delta" and "min_lsn" in f
                for f in added
            )
            and all(
                f["min_lsn"] > int(s1.watermark.get(str(f["bucket"]), -1))
                for f in added
            )
        )

    def _changes_from_deltas(
        self, spark: SparkSession, s1: Snapshot, s2: Snapshot,
        added: list[dict], include_old: bool,
    ) -> DataFrame:
        """O(changes) feed for a delta-only range: every change in the
        range lives in the ADDED delta files, so the NET feed is the
        per-key LWW winner of those rows joined against the FROM state —
        the TO state is never materialized (the endpoint-diff path reads
        it in full, which re-reads every FROM file a second time plus
        the full-outer shuffle of both states).

        Net-change semantics identical to the endpoint diff:
        winner D + key in FROM → D (old payload); winner D + absent →
        nothing (insert+delete inside the range); winner I/U + absent →
        I; winner I/U + present → U only when the payload differs
        (null-safe struct compare — an idempotent re-statement of the
        same payload is NOT a change, matching compaction-safe diff
        behavior).
        """
        from ..operators.lww import lww_dedup

        shape = _FeedShaper(s2)
        paths = [os.path.join(self.root, f["path"]) for f in added]
        latest = lww_dedup(
            spark.read.schema(_delta_schema(shape.target)).parquet(*paths),
            key=shape.key, order="lsn",
        )
        changed_buckets = sorted({f["bucket"] for f in added})
        o = shape.side(self.read(spark, buckets=changed_buckets, snapshot=s1),
                       "_old", F.lit(1).alias("_ino"))
        n = shape.side(latest, "_new", F.col("op").alias("_dop"))
        op = (
            F.when(
                F.col("_dop") == "D",
                F.when(F.col("_ino").isNotNull(), "D"),
            )
            .when(F.col("_ino").isNull(), "I")
            .when(~F.col("_old").eqNullSafe(F.col("_new")), "U")
        )
        side = F.when(F.col("_dop") == "D", F.col("_old")).otherwise(
            F.col("_new")
        )
        return shape.rows(n.join(o, shape.key, "left_outer"), op, side,
                          include_old)

    # ---------- write path ----------

    def write_data_files(
        self, df: DataFrame, buckets_touched: list[int] | None = None,
        sort_by_key: bool = False,
        max_records_per_file: int | None = None,
        collect_blooms: bool = False,
        planned: Snapshot | None = None,
    ) -> list[dict]:
        """Write bucket-pure data files; returns their file entries.

        The one writer of files a snapshot references: ingest epochs in
        both modes, compaction, rebucket and bootstrap all write here.
        ``planned``: the snapshot whose layout (bucket count, key column)
        the files are written for, the one the caller then passes to
        ``commit(planned=)``; ``None`` reads the head. A rebucket passes
        its target layout (``dataclasses.replace(snap, num_buckets=N)``).

        The rows go through ``repartition(P, key)``, with P from
        ``write_partitions`` (the largest divisor of B that fits the
        session's task slots), are tagged with ``_bucket =
        bucket_expr(key, B)`` and written with ``partitionBy("_bucket")``:
        each task splits its rows into one file per bucket, the
        dynamic-partition shape Delta Lake writes partitioned tables
        with. P divides B, so every bucket lives in exactly one task and
        gets exactly one file, and the whole write runs in one task wave.
        A user-specified repartition is never coalesced by AQE, and an
        upstream join or aggregate already hash-partitioned on the key at
        P partitions elides it (the CoW merge and the MOR LWW shuffle at
        the same P), so the write adds no exchange of its own. Before the
        entries are built, each ``_bucket=<b>/part-<rest>`` file moves up
        to the flat ``part-<b:05d>-<rest>`` (its ``.crc`` sidecar with it)
        and the ``_bucket=*`` dirs are removed: manifests and readers
        only ever see the flat ``data/commit-<attempt>/part-<bucket>-*``
        layout. This is the reference's file-count control
        (``src/load.py:34-41``) upgraded into the commit protocol. One
        fresh output dir per attempt (``_attempt_dir``), in the table: the
        files go live only when a commit references them, and a dead
        attempt is an orphan for ``remove_orphans``. Buckets that end up
        empty (all rows deleted) produce no file and drop out; when no
        file survives, the attempt dir is removed. The write sets no
        session conf, so writers on several threads of one session share
        no state but the commit log (``_publish``).

        ``sort_by_key`` + ``max_records_per_file`` produce SORTED,
        SIZE-SPLIT buckets (Iceberg sort-order compaction): several files
        per bucket, each covering a tight contiguous key range — what
        makes key_range/lookup pruning effective inside a bucket. Without
        them a bucket's single fold file spans the bucket's whole
        (hash-scattered) key range and can never be pruned by key.
        """
        snap = planned if planned is not None else self.current()
        key, B = snap.key_column, snap.num_buckets
        rel_dir, out_dir = _attempt_dir(self.root)
        out = df.drop("_bucket").repartition(
            write_partitions(df.sparkSession, B), F.col(key)
        ).withColumn("_bucket", bucket_expr(key, B))
        if sort_by_key:
            # Iceberg-style sort order: rows stream to the writer in key
            # order within each bucket, so maxRecordsPerFile's sequential
            # splits each hold a CONTIGUOUS key range — per-file manifest
            # [min_key, max_key] become tight and disjoint within a
            # bucket, and key_range / lookup pruning works INSIDE
            # buckets, not just across them. Spark names the splits
            # part-<task>-<uuid>.c000/.c001/... inside the bucket's dir.
            out = out.sortWithinPartitions("_bucket", key)
        writer = out.write.mode("overwrite").partitionBy("_bucket")
        if max_records_per_file is not None:
            writer = writer.option(
                "maxRecordsPerFile", int(max_records_per_file)
            )
        writer.parquet(out_dir)
        _flatten_bucket_dirs(out_dir)
        wanted = set(buckets_touched) if buckets_touched is not None else None
        # a bucket with no rows has no _bucket dir, hence no file
        entries = _build_entries(out_dir, rel_dir, key, wanted)
        if not entries:
            shutil.rmtree(out_dir, ignore_errors=True)
        elif collect_blooms:
            # per-bucket Bloom filters from the WRITTEN files (a column-
            # pruned key scan — never re-executes the caller's plan). For
            # size-split buckets the per-bucket filter attaches to every
            # split file as a sound superset; negative probes still prune.
            from .bloom import attach_blooms, bucket_blooms

            written = df.sparkSession.read.parquet(out_dir)
            blooms = bucket_blooms(written, key, B)
            entries = attach_blooms(self.root, entries, blooms)
        return entries

    def commit(
        self,
        epoch: int,
        replaced_buckets: list[int],
        new_files: list[dict],
        bucket_max_lsn: dict[int, int],
        rows_applied: int = 0,
        props: dict | None = None,
        delta: bool = False,
        planned: Snapshot | None = None,
        replace_files: list[str] | None = None,
    ) -> Snapshot | None:
        """Publish a new snapshot for ``replaced_buckets``.

        ``planned``: the snapshot ``new_files`` were derived from (see
        ``_publish``). The commit raises ConcurrentCommitError, so the
        caller re-reads and retries, when the head's bucket layout is no
        longer the planned one (the files carry the old layout's bucket
        ids: a concurrent rebucket), and, for a copy-on-write commit,
        when the head moved past ``planned`` at all (the rewrite of the
        planned buckets would drop what landed since: a lost update).
        Ingest epochs and compaction pass it; ``None`` skips both guards.

        ``replace_files``: FILE-level rewrite (Iceberg rewrite_data_files
        shape, used by compaction): the new snapshot dereferences exactly
        these paths and adds ``new_files``; files committed by concurrent
        ingest since the rewrite's read stay live on top (read-time LWW
        gives them precedence — folded base rows scan with lsn=-1). The
        conflict check is precise: if any listed path is already gone
        (another rewrite folded it), ConcurrentCommitError. This is what
        lets compaction run as a BACKGROUND job without livelocking
        against continuous ingest (a whole-table version guard would
        lose every race once epochs outpace the rewrite).
        Fences/watermarks are untouched in this mode.

        ``delta=False`` (copy-on-write): the buckets' previous files are
        dereferenced and ``new_files`` replace them.
        ``delta=True`` (merge-on-read): previous files stay live and
        ``new_files`` (kind="delta", carrying op+lsn) are appended —
        the epoch's write cost is O(changes), and readers resolve LWW at
        scan time until compaction folds the deltas back into base files.

        Idempotent: if every (epoch, bucket) unit is already fenced, the
        call is a no-op returning None (replay safety). Atomicity: the
        VERSION pointer swap is a single ``os.replace``.
        """
        props = props or {}
        if delta:
            new_files = [{**f, "kind": "delta"} for f in new_files]
        added = {f["bucket"] for f in new_files}

        def derive(head):
            if replace_files is not None:
                replace_set = set(replace_files)
                gone = replace_set - {f["path"] for f in head.files}
                if gone:
                    raise ConcurrentCommitError(
                        f"{len(gone)} rewrite input files already "
                        "dereferenced (concurrent rewrite folded them); "
                        "retry"
                    )
                return {
                    "files": [f for f in head.files
                              if f["path"] not in replace_set] + new_files,
                    "props": {**head.props, **props},
                }, added | {f["bucket"] for f in head.files
                            if f["path"] in replace_set}
            if replaced_buckets and head.units_fenced(epoch, replaced_buckets):
                return None  # already applied — exactly-once fence
            replaced = set(replaced_buckets)
            keep = head.files if delta else [
                f for f in head.files if f["bucket"] not in replaced
            ]
            fences = dict(head.fences)
            watermark = dict(head.watermark)
            for b in replaced_buckets:
                ml = int(bucket_max_lsn.get(b, watermark.get(str(b), -1)))
                fences[f"{epoch}:{b}"] = {"max_lsn": ml}
                watermark[str(b)] = max(int(watermark.get(str(b), -1)), ml)
            # prune the fence horizon: keep the newest FENCE_KEEP_EPOCHS
            # ingest epochs; older ingest epochs + old compaction fences
            # collapse into min_fenced_epoch (bootstrap's fence is kept)
            min_fenced = head.min_fenced_epoch
            ingest_epochs = sorted(
                {e for e in (int(k.split(":")[0]) for k in fences) if e >= 0}
            )
            if len(ingest_epochs) > FENCE_KEEP_EPOCHS:
                cutoff = ingest_epochs[-FENCE_KEEP_EPOCHS]
                fences = {
                    k: v for k, v in fences.items()
                    if int(k.split(":")[0]) >= cutoff
                    or int(k.split(":")[0]) == BOOTSTRAP_EPOCH
                }
                min_fenced = (cutoff if min_fenced is None
                              else max(min_fenced, cutoff))
            return {
                "files": keep + new_files,
                "fences": fences,
                "watermark": watermark,
                "min_fenced_epoch": min_fenced,
                "props": {**head.props, **props,
                          "rows_applied": rows_applied},
            }, replaced | added

        return self._publish(derive, planned,
                             rewrite=not delta and replace_files is None)

    def _publish(self, derive, planned: Snapshot | None = None,
                 rewrite: bool = False) -> Snapshot | None:
        """The one path that publishes every snapshot after ``create``.

        Under ``commit_lock`` it re-reads the head and guards the
        snapshot the caller planned against (``planned``; None skips the
        guards, for callers that plan under the lock): the head must have
        the planned bucket layout, since files written bucket-pure for
        another bucket count carry the wrong bucket ids; and a
        ``rewrite`` of prior state needs the planned version itself,
        since publishing over a later head would drop what landed since
        (a lost update). A refusal is a ConcurrentCommitError: the caller
        re-plans against the new head. This is the optimistic commit
        check of Delta Lake's log, which fails a transaction whose read
        metadata changed under it.

        ``derive(head)`` returns ``(changes, dirty)``: the snapshot
        fields that change, and the buckets whose manifests must be
        rewritten (None: all of them; unchanged buckets reuse the head's
        manifests) — or None for a fenced no-op. Version, parent and
        commit time are set here.
        """
        with commit_lock(self.root) as tok:
            head = self.current()
            if planned is not None:
                if head.num_buckets != planned.num_buckets:
                    raise ConcurrentCommitError(
                        f"bucket layout changed {planned.num_buckets}→"
                        f"{head.num_buckets} buckets since v{planned.version}"
                        "; the files were written for the old layout — retry"
                    )
                if rewrite and head.version != planned.version:
                    raise ConcurrentCommitError(
                        f"table advanced v{planned.version}→v{head.version} "
                        "since the rewrite read its input; retry against "
                        "the new state"
                    )
            derived = derive(head)
            if derived is None:
                return None
            changes, dirty = derived
            snap = dataclasses.replace(
                head, version=head.version + 1, parent=head.version,
                committed_at=time.time(), manifests=None, **changes,
            )
            self._write_snapshot(snap, cas_parent=head.version,
                                 lock_token=tok,
                                 parent_manifests=head.manifests,
                                 dirty_buckets=dirty)
            return snap

    def adopt_delta_files(
        self, stage_dir: str, buckets_touched: list[int] | None = None,
        key_column: str | None = None,
        entries: list[dict] | None = None,
    ) -> list[dict]:
        """Move bucket-pure files written outside the table (``stage_dir``)
        into a fresh attempt dir, as delta files for a merge-on-read
        commit. The engine no longer calls it: its epochs write into the
        table through ``write_data_files``.

        ``key_column`` / ``entries`` skip the head read and the footer
        opens when the caller already has them; precomputed ``entries``
        keep their stats, only their ``path`` is rewritten into the
        attempt dir.
        """
        rel_dir, out_dir = _attempt_dir(self.root)
        os.makedirs(out_dir, exist_ok=True)
        wanted = set(buckets_touched) if buckets_touched is not None else None
        if entries is None:
            if key_column is None:
                key_column = self.current().key_column
            entries = _build_entries(stage_dir, rel_dir, key_column, wanted)
        else:
            entries = [
                {**e,
                 "path": os.path.join(rel_dir, os.path.basename(e["path"]))}
                for e in entries
                if wanted is None or e["bucket"] in wanted
            ]
        for e in entries:
            fn = os.path.basename(e["path"])
            shutil.move(
                os.path.join(stage_dir, fn), os.path.join(out_dir, fn)
            )
        return entries

    def evolve_schema(
        self,
        add_columns: list[tuple[str, str]] | None = None,
        widen: dict[str, str] | None = None,
        drop_columns: list[str] | None = None,
    ) -> Snapshot:
        """Metadata-only DDL: publish a snapshot with the evolved schema.

        No data files are touched; readers reconcile at scan time
        (added columns read as NULL from old files, dropped columns stop
        being selected, widened ints upcast in the vectorized reader).
        """
        def derive(head):
            # no bucket changed — every manifest is reused
            return {"schema": head.schema.evolved(
                add_columns=add_columns, widen=widen,
                drop_columns=drop_columns, key_column=head.key_column,
            )}, set()

        return self._publish(derive)

    def _write_snapshot(
        self, snap: Snapshot, cas_parent: int | None = None,
        lock_token: str | None = None,
        parent_manifests: dict | None = None,
        dirty_buckets: set | None = None,
    ) -> None:
        """Two-phase publish: write the immutable snapshot file, then swap
        the VERSION pointer. A crash between the phases leaves an ORPHAN
        snapshot file that readers never see (VERSION still names the
        parent) and the next commit harmlessly overwrites.

        ``cas_parent`` is the compare-and-swap guard — publish proceeds
        only if VERSION still names the expected parent, checked BEFORE
        the snapshot file is written so a losing writer clobbers nothing
        (a committed snapshot file is immutable). Under the local
        commit_lock this never fires; it exists because it IS the
        object-store protocol: on S3/GCS the same check runs server-side
        as a conditional PUT (If-Match on the pointer object) or a
        catalog/DynamoDB CAS, replacing both the lock and ``os.replace``
        (there, snapshot keys should also carry an attempt suffix so two
        racers can never write the same key). A loser retries: re-read
        VERSION, re-check fences (idempotent), re-commit. See README
        'Commit protocol on object storage'.

        ``lock_token``: the caller's commit-lock ownership token.
        Re-verified immediately before the VERSION swap: an owner that
        stalled past LOCK_STALE_SEC and lost its lease to a waiter would
        otherwise pass the CAS read (non-atomic read-then-replace) and
        silently clobber the taker-over's commit. With the re-check, the
        expired leaseholder aborts instead of publishing a lost update.

        File-list serialization uses PER-BUCKET MANIFEST FILES (Iceberg
        manifest-list shape): the snapshot JSON carries only
        {bucket: manifest-name}; content-addressed manifest files are
        immutable and shared between snapshots. With ``parent_manifests``
        + ``dirty_buckets``, unchanged buckets reuse the parent's
        manifest by name and only changed buckets serialize — commit
        metadata I/O is O(changed buckets + B) instead of O(live files),
        which is what keeps commit latency flat as a 10^10-row table
        accumulates 10^4-10^5 live files (measured: see BASELINE.md
        'commit cost vs live file count').
        """
        md = os.path.join(self.root, "metadata")
        if snap.manifests is None:
            by_bucket: dict[int, list] = {}
            for e in snap.files:
                by_bucket.setdefault(e["bucket"], []).append(e)
            manifests: dict[str, str] = {}
            to_write: list[tuple[int, list]] = []
            for b, entries in by_bucket.items():
                reuse = (
                    parent_manifests is not None
                    and dirty_buckets is not None
                    and b not in dirty_buckets
                    and str(b) in parent_manifests
                )
                if reuse:
                    manifests[str(b)] = parent_manifests[str(b)]
                else:
                    to_write.append(
                        (b, sorted(entries, key=lambda e: e["path"]))
                    )
            # dirty manifests are independent content-addressed files —
            # write+fsync them on a thread pool (I/O-bound, GIL released
            # in fsync; r6: a 64-bucket epoch paid ~64 serial fsyncs per
            # commit, a 4096-bucket commit thousands). Durability is
            # unchanged: every manifest is fsynced before the VERSION
            # pointer below publishes anything referencing it.
            if len(to_write) > 4:
                for (b, _), name in zip(
                    to_write,
                    _io_pool().map(
                        lambda t: _write_manifest(md, t[1]), to_write
                    ),
                ):
                    manifests[str(b)] = name
            else:
                for b, entries in to_write:
                    manifests[str(b)] = _write_manifest(md, entries)
            snap.manifests = manifests
        vpath = os.path.join(md, VERSION_FILE)
        if cas_parent is not None:
            expected = f"snapshot-{cas_parent:08d}.json"
            with open(vpath) as f:
                actual = f.read().strip()
            if actual != expected:
                raise ConcurrentCommitError(
                    f"CAS failed: VERSION moved to {actual} (expected "
                    f"{expected}) — another writer committed; retry"
                )
        name = f"snapshot-{snap.version:08d}.json"
        path = os.path.join(md, name)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap.to_json(), f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        if lock_token is not None:
            lpath = os.path.join(md, LOCK_FILE)
            try:
                with open(lpath) as f:
                    owner = f.read().split(" ", 1)[0]
            except OSError:
                owner = None
            if owner != lock_token:
                raise ConcurrentCommitError(
                    "commit lock lease lost before publish (stalled past "
                    f"LOCK_STALE_SEC and taken over? {lpath}) — aborting "
                    "instead of clobbering the new owner's commit"
                )
        vtmp = vpath + ".tmp"
        with open(vtmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(vtmp, vpath)
