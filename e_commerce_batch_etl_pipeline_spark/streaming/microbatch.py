"""The CDC replay loop: WAL tail → validate → LWW → MERGE → commit.

One epoch (microbatch) flows through (SURVEY.md §3.4):

1. **fence check** — epoch already committed? → no-op (idempotent replay)
2. **scan** the epoch's WAL segment (incremental; only new segments read)
3. **schema evolution** — new nullable envelope columns → metadata-only
   DDL on the table before any data moves
4. **validate** envelopes (Catalyst predicates); invalid → quarantine +
   conflict count (reference analog: PERMISSIVE-mode + business-rule
   filters, ``src/extract.py:40-48`` + ``src/transform.py:90-112``)
5. **applied rows** — one predicate (``_applies``) picks the rows an
   epoch applies: valid, and lsn above their bucket's committed
   watermark (rows at or below it were applied by an earlier commit).
   This keeps a partial replay, and applied rows redelivered under a NEW
   epoch id (which no fence matches), exactly-once. The B watermarks are
   one plan-time literal indexed by the bucket expression — no join

Copy-on-write (default) then runs:

6. **pre-pass** — one column-pruned aggregate grouped by bucket: distinct
   applied keys and max lsn per bucket (touched buckets, lineage,
   watermarks) and the quarantined count
7. **audit lane** — quarantined envelopes written verbatim to
   ``<ckpt>/quarantine/epoch-N`` (only when there are any)
8. **MERGE** into only the touched buckets — ``merge_upsert_lww`` over
   the base and the UN-deduped valid envelopes (n_tok recomputed, the
   ``salted`` flag pre-collapses hot keys): LWW among changes and
   against the base in one aggregate, off ONE key exchange of
   base+changes that the bucket-pure write reuses; untouched buckets'
   files survive untouched
9. **DQ gate** via ``df.observe`` on that same write job — zero extra
   passes; FAIL → abort *before* publish (reference: orchestrator DQ
   gate, ``notebooks/07_pipeline_orchestrator.py:250-252``)
10. **atomic snapshot commit** (CAS on the merged snapshot) +
    per-partition lineage + metrics JSON + driver checkpoint

Merge-on-read instead runs LWW dedup + n_tok recompute over the rows it
applies and writes them as the epoch's delta files, off ONE exchange,
straight into the table — no table rewrite. A ``df.observe`` on the
scan counts rows in and conflicts; the audit lane is step 7's. Both
modes write through one engine writer (``CdcEngine._write_epoch``:
``LakeTable.write_data_files`` behind the same DQ gate, step 9).

Crash safety, the same in both modes: a crash before publish leaves
written files under ``data/`` that no manifest references (invisible
orphans for ``remove_orphans``); a crash after publish but before the
driver checkpoint is healed by the (epoch, bucket) fence set — the rerun
commits nothing twice. Resume = read checkpoint, continue from the next
epoch (``resume`` arg / CLI).

Why a driver epoch loop and not Structured Streaming: exactly-once here
is fenced on *our* snapshot commits, and a resumable batch loop gives
replay/resume semantics directly (SURVEY.md §2.10). The loop body is pure
DataFrame ops, so each epoch is a fixed handful of Spark jobs regardless
of data size (CoW: the pre-pass collect, the merge write; MOR: the
delta write, plus inline compaction; both: the audit write only when
anything was quarantined, the ``strict_dq`` re-check only when asked
for) — driver orchestration cost is O(epochs), not O(rows).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.tokens import recompute_n_tok
from ..operators.lww import lww_dedup, lww_dedup_salted
# merge_upsert is no longer called here; it stays importable from this
# module because perfbench's tracer wraps the name (it counts 0 calls)
from ..operators.merge import merge_upsert, merge_upsert_lww  # noqa: F401
from ..session import expr_memo
from ..sources.wal import WalSource
from ..tables.format import LakeTable, bucket_expr

ENVELOPE_COLS = {"lsn", "epoch", "op", "ts"}


def _applies(snap):
    """The rows an epoch applies, as one Column: valid (``_q == 0``) and
    ``lsn > <the row's bucket's committed watermark>``. Valid rows
    failing the watermark were applied by an earlier commit. Both modes
    select on this one predicate: the CoW pre-pass and merge input, and
    the MOR delta write's input.

    The B watermarks ride the plan as ONE JSON string literal that
    from_json parses and Catalyst folds into a single array Literal,
    indexed by the bucket expression: no per-epoch broadcast build, and
    plan time flat in B (``lit(list)`` would lower to B Literal nodes —
    ~1 s of analysis per epoch at B=4096). ``Snapshot.watermark`` is
    keyed by ``str(bucket)``; buckets without one get the LONG_MIN
    sentinel (lsn > LONG_MIN always).
    """
    valid = F.col("_q") == 0
    wm = snap.watermark
    if not wm:
        return valid
    B = snap.num_buckets
    no_wm = -(1 << 63)
    wm_json = json.dumps([int(wm.get(str(b), no_wm)) for b in range(B)])
    wm_col = F.element_at(
        F.from_json(F.lit(wm_json), "array<bigint>"),
        expr_memo(("engine.wm_idx", snap.key_column, B),
                  lambda: bucket_expr(snap.key_column, B) + 1),
    )
    return valid & (F.col("lsn") > wm_col)


@dataclass
class EpochResult:
    epoch: int
    status: str  # "committed" | "skipped" | "empty"
    rows_in: int = 0
    conflicts: int = 0
    rows_applied: int = 0
    buckets_touched: int = 0
    duration_sec: float = 0.0
    lineage: list[dict] = field(default_factory=list)


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        wal: WalSource,
        checkpoint_dir: str,
        salted: bool = False,
        num_salts: int = 16,
        broadcast_threshold: int = 100_000,
        audit_quarantine: bool = True,
        strict_dq: bool = False,
        merge_mode: str = "cow",
        mor_compact_files: int | None = 8,
        commit_retries: int = 5,
        delta_blooms: bool = False,
    ):
        """``merge_mode``:

        - "cow" (copy-on-write, default): each epoch rewrites the touched
          buckets via one union+LWW MERGE — reads stay plain scans.
        - "mor" (merge-on-read): each epoch writes its LWW-deduped
          change-set as per-bucket delta files (write cost O(changes),
          never O(table)); readers resolve LWW at scan time; buckets are
          compacted back to base files once they accumulate more than
          ``mor_compact_files`` files — or, with
          ``mor_compact_files=None``, never inline: run the ``maintain``
          entry point as a background/cron job instead (it commits via
          the same snapshot CAS, so it serializes with ingest and ingest
          never absorbs the fold). The right mode when per-epoch changes
          are small relative to the table — the 10^10 steady state — or
          when uniform change spread makes CoW rewrite the whole table
          every epoch.

        ``broadcast_threshold`` selects nothing: copy-on-write always
        runs the single-exchange ``merge_upsert_lww``. It is still
        accepted so existing callers (perfbench) keep working.

        ``delta_blooms``: attach a per-file key Bloom filter to every
        MOR delta file as it is written (``write_data_files``'
        ``collect_blooms``; tables/bloom.py). Point lookups then skip the
        pending deltas that don't contain the probed key — the
        deferred-compaction read tax min/max stats cannot touch (random
        update keys span each delta's whole range). Costs one extra
        column-pruned O(changes) pass per epoch over the written delta
        files; off by default so replay-throughput benchmarks are
        unaffected unless asked for.
        """
        self.spark = spark
        self.table = table
        self.wal = wal
        self.checkpoint_dir = checkpoint_dir
        self.salted = salted
        self.num_salts = num_salts
        self.audit_quarantine = audit_quarantine
        self.strict_dq = strict_dq
        if merge_mode not in ("cow", "mor"):
            raise ValueError(
                f"merge_mode must be 'cow' or 'mor', not {merge_mode!r}"
            )
        self.merge_mode = merge_mode
        self.mor_compact_files = mor_compact_files
        self.commit_retries = commit_retries
        self.delta_blooms = delta_blooms
        os.makedirs(checkpoint_dir, exist_ok=True)
        os.makedirs(os.path.join(checkpoint_dir, "lineage"), exist_ok=True)
        os.makedirs(os.path.join(checkpoint_dir, "quarantine"), exist_ok=True)

    # ---------- checkpoint ----------

    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "checkpoint.json")

    def last_committed_epoch(self) -> int:
        if not os.path.exists(self._ckpt_path):
            return -1
        with open(self._ckpt_path) as f:
            return int(json.load(f)["last_epoch"])

    def _write_checkpoint(self, epoch: int) -> None:
        tmp = self._ckpt_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_epoch": epoch, "at": time.time()}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._ckpt_path)

    # ---------- per-bucket stats ----------

    def _cow_prepass(self, flagged, applies, snap):
        """``({bucket: {rows, max_lsn}}, conflicts, rows_in)`` for a CoW
        epoch from ONE column-pruned aggregate over the flagged
        envelopes, grouped by the bucket expression (B small rows
        collected; no driver footer opens, so flat in the bucket
        count). Spark plans the
        distinct count as HashAggregates over two small exchanges, on
        (bucket, key) and then on bucket.

        ``rows`` counts distinct keys among the rows the merge applies
        (``applies``: valid and above the watermark) — exactly the LWW
        winners — and ``max_lsn`` is their max lsn; ``conflicts`` is
        ``sum(_q)`` and ``rows_in`` the row count over every envelope.
        The counts come from the aggregate itself, not an
        ``Observation`` below it: a metrics observer under an aggregate
        whose input the watermark empties fails in ``Observation.get``.
        """
        key = snap.key_column
        rows = (
            flagged.groupBy(
                bucket_expr(key, snap.num_buckets).alias("_b")
            )
            .agg(
                F.count_distinct(F.when(applies, F.col(key))).alias("rows"),
                F.max(F.when(applies, F.col("lsn"))).alias("max_lsn"),
                F.sum("_q").alias("q"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        stats = {
            int(r["_b"]): {"rows": int(r["rows"]),
                           "max_lsn": int(r["max_lsn"])}
            for r in rows if r["rows"]
        }
        return (stats, sum(int(r["q"]) for r in rows),
                sum(int(r["n"]) for r in rows))

    def _write_audit(self, flagged, epoch: int, conflicts: int) -> None:
        """Audit lane (with ``audit_quarantine``): a fresh
        ``<ckpt>/quarantine/epoch-N`` holding the epoch's quarantined
        envelopes verbatim, straight from the WAL scan. The write runs
        only when ``conflicts > 0``, so its row count equals
        ``conflicts``; otherwise the directory is left empty."""
        if not self.audit_quarantine:
            return
        qdir = os.path.join(
            self.checkpoint_dir, "quarantine", f"epoch-{epoch:05d}"
        )
        shutil.rmtree(qdir, ignore_errors=True)
        if conflicts:
            flagged.filter(F.col("_q") == 1).drop("_q").write.mode(
                "overwrite").parquet(qdir)
        else:
            os.makedirs(qdir, exist_ok=True)

    def _write_epoch(self, df, snap, epoch: int,
                     touched: list[int] | None = None):
        """The engine's one data-file writer, for both modes:
        ``write_data_files`` of ``df`` at ``snap``'s layout, with the DQ
        gate's counts riding the same job (``df.observe``), then the gate
        itself — abort BEFORE publish, the written files stay orphans —
        and, with ``strict_dq``, key uniqueness re-checked on the WRITTEN
        files (LWW output is unique per key by construction, so this
        guards against regressions, not data; one extra job). MOR delta
        files get Bloom filters with ``delta_blooms``. Returns the file
        entries and the written row count."""
        key = snap.key_column
        obs = Observation()
        observed = df.observe(obs, *expr_memo(("engine.dq", key), lambda: (
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("n_tok") != F.size(F.col("tokens")), 1)
                  .otherwise(0)).alias("bad_ntok"),
            F.sum(F.when(F.col(key).isNull(), 1).otherwise(0)).alias(
                "null_keys"),
        )))
        files = self.table.write_data_files(
            observed, touched, planned=snap,
            collect_blooms=self.merge_mode == "mor" and self.delta_blooms,
        )
        m = obs.get
        if int(m["bad_ntok"] or 0) != 0:
            raise RuntimeError(
                f"DQ FAIL epoch {epoch}: {m['bad_ntok']} rows violate "
                "n_tok == size(tokens) — aborting before commit"
            )
        if int(m["null_keys"] or 0) != 0:
            raise RuntimeError(
                f"DQ FAIL epoch {epoch}: null keys reached the write — "
                "aborting before commit"
            )
        if self.strict_dq and files:
            nk = self.spark.read.parquet(*(
                os.path.join(self.table.root, f["path"]) for f in files
            )).select(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col(key)).alias("k"),
            ).collect()[0]
            if int(nk["n"]) != int(nk["k"]):
                raise RuntimeError(f"DQ FAIL epoch {epoch}: duplicate keys "
                                   "in the written files")
        return files, int(m["rows"])

    # ---------- the loop ----------

    def run(self, max_epochs: int | None = None) -> list[EpochResult]:
        """Replay all pending WAL epochs; resumable from checkpoint.

        Each run also APPENDS one rollup record to
        ``<checkpoint>/run_history.jsonl`` (run-level stage log across
        epochs — the reference's pipeline-log history append,
        ``notebooks/07_pipeline_orchestrator.py:341-388``, where per-epoch
        lineage JSON is the per-stage detail)."""
        t0 = time.time()
        results = []
        pending = self.wal.epochs_after(self.last_committed_epoch())
        if max_epochs is not None:
            pending = pending[:max_epochs]
        err: BaseException | None = None
        try:
            for e in pending:
                results.append(self.apply_epoch(e))
                self._write_checkpoint(e)
        except BaseException as exc:
            err = exc
            raise
        finally:
            # best-effort: the history append must never mask the real
            # ingest exception (e.g. unreadable metadata in a crash)
            try:
                self._append_run_history(results, time.time() - t0, err)
            except Exception:
                pass
        return results

    def follow(
        self,
        poll_sec: float = 2.0,
        idle_timeout_sec: float | None = None,
        max_epochs: int | None = None,
        stop_file: str | None = None,
    ) -> list[EpochResult]:
        """Tail the WAL: apply new epochs as their segments land.

        The continuous form of ``run()`` — the binlog-tail shape of the
        north rule, where the landing zone keeps growing while the
        engine runs. Differences from one-shot replay:

        - only COMPLETE segments are consumed (``_SUCCESS`` marker), and
          consumption stops at the first incomplete one so a slow
          upstream writer can never cause a partial-epoch read or an
          out-of-order apply (WalSource.complete_epochs_after);
        - between batches the loop sleeps ``poll_sec`` (object-store
          LIST cadence — cheap: one listdir, no Spark job);
        - it returns when ``stop_file`` appears (graceful ops shutdown:
          finish the in-flight epoch, checkpoint, exit), after
          ``idle_timeout_sec`` with no new work (None = tail forever),
          or once ``max_epochs`` have been applied.

        Crash safety is unchanged: every epoch checkpoints after commit,
        so a killed tail resumes exactly where it stopped; redelivered
        epochs hit the snapshot fence and no-op. Run history gets one
        record for the whole tail session.
        """
        t0 = time.time()
        results: list[EpochResult] = []
        idle_since = time.time()
        err: BaseException | None = None
        try:
            while True:
                if stop_file is not None and os.path.exists(stop_file):
                    break
                pending = self.wal.complete_epochs_after(
                    self.last_committed_epoch()
                )
                if max_epochs is not None:
                    pending = pending[: max_epochs - len(results)]
                if pending:
                    for e in pending:
                        results.append(self.apply_epoch(e))
                        self._write_checkpoint(e)
                        if (stop_file is not None
                                and os.path.exists(stop_file)):
                            break
                    idle_since = time.time()
                if max_epochs is not None and len(results) >= max_epochs:
                    break
                if not pending:
                    if (idle_timeout_sec is not None
                            and time.time() - idle_since >= idle_timeout_sec):
                        break
                    time.sleep(poll_sec)
        except BaseException as exc:
            err = exc
            raise
        finally:
            try:
                self._append_run_history(results, time.time() - t0, err)
            except Exception:
                pass
        return results

    def _append_run_history(
        self, results: list, dur: float, err: BaseException | None = None
    ) -> None:
        rec = {
            "run_id": uuid.uuid4().hex[:12],
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "duration_sec": round(dur, 3),
            "status": "failed" if err is not None else "ok",
            "error": f"{type(err).__name__}: {err}" if err is not None else None,
            "epochs_total": len(results),
            "epochs_committed": sum(
                1 for r in results if r.status == "committed"
            ),
            "epochs_skipped": sum(1 for r in results if r.status == "skipped"),
            "rows_applied": sum(r.rows_applied for r in results),
            "conflicts": sum(r.conflicts for r in results),
            "table_version": self.table.current().version,
            "merge_mode": self.merge_mode,
        }
        path = os.path.join(self.checkpoint_dir, "run_history.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def apply_epoch(self, epoch: int) -> EpochResult:
        """Apply one WAL segment (fence-checked, idempotent)."""
        raw = None
        snap = self.table.current()
        if not snap.epoch_fenced(epoch):
            raw = self.wal.read_epoch(self.spark, epoch)
        return self.apply_changes_df(raw, epoch)

    def apply_changes_df(self, raw, epoch: int) -> EpochResult:
        """Apply a DataFrame of change envelopes as epoch ``epoch``.

        Also the ``foreachBatch`` body for the Structured Streaming
        front-end (streaming/structured.py) — the streaming batch id is
        the epoch, and the fence set makes redelivery a no-op.

        Retries the WHOLE epoch on ConcurrentCommitError (bounded by
        ``commit_retries``): a retry re-reads the table state, re-merges
        and re-commits — the optimistic-concurrency loop that lets two
        engine processes ingest into one table (each loser of a CoW CAS
        race re-derives its merge from the winner's snapshot; an epoch
        the other writer already committed resolves to "skipped" at the
        fence check).
        """
        from ..tables.format import ConcurrentCommitError

        last: Exception | None = None
        for _ in range(self.commit_retries + 1):
            try:
                return self._apply_changes_once(raw, epoch)
            except ConcurrentCommitError as exc:
                last = exc
        raise last

    def _apply_changes_once(self, raw, epoch: int) -> EpochResult:
        t0 = time.time()
        snap = self.table.current()

        # 1. fence check — full-epoch replay is a no-op (epochs below the
        # pruned fence horizon count as fenced; see Snapshot.epoch_fenced)
        if snap.epoch_fenced(epoch):
            committed = snap.fenced_buckets(epoch)
            return EpochResult(epoch=epoch, status="skipped",
                               buckets_touched=len(committed),
                               duration_sec=time.time() - t0)
        if raw is None:
            raw = self.wal.read_epoch(self.spark, epoch)

        # 3. schema evolution from the envelope shape — metadata-only DDL:
        #    new nullable payload columns are ADDED; a payload column
        #    arriving WIDER than the table's type (int→bigint etc.)
        #    triggers type widening. Envelopes NARROWER than the table or
        #    missing table columns are fine as-is (merge aligns them).
        from ..tables.format import _TYPE_WIDENING_OK

        table_types = {n: t for n, t, _ in snap.schema.fields}
        env_types = {f.name: f.dataType.simpleString() for f in raw.schema.fields}
        payload_cols = [c for c in raw.columns if c not in ENVELOPE_COLS]
        new_cols = [c for c in payload_cols if c not in table_types]
        widen = {
            c: env_types[c]
            for c in payload_cols
            if c in table_types
            and (table_types[c], env_types[c]) in _TYPE_WIDENING_OK
        }
        if new_cols or widen:
            self.table.evolve_schema(
                add_columns=[(c, env_types[c]) for c in new_cols] or None,
                widen=widen or None,
            )
            snap = self.table.current()

        # 4. validate. Validity is a FLAG COLUMN (``_q``: 0 valid,
        # 1 quarantined; never NULL) rather than a DataFrame split: each
        # pass over the epoch reads valid lane and audit lane off one
        # linear plan, and the conflict count rides a pass the epoch
        # runs anyway (CoW: the pre-pass aggregate; MOR: one observe on
        # the delta write — A4 pattern, zero extra passes).
        from ..functions.tokens import envelope_validity

        key = snap.key_column
        flagged = raw.withColumn(
            "_q", expr_memo(
                ("engine.validity", key),
                lambda: (~envelope_validity(key_column=key)).cast("int"))
        )
        if self.merge_mode == "cow":
            return self._apply_cow(flagged, snap, epoch, t0)
        return self._apply_mor(flagged, snap, epoch, t0)

    def _apply_cow(self, flagged, snap, epoch: int, t0: float) -> EpochResult:
        """Copy-on-write epoch: pre-pass, audit lane, then ONE merge+write.

        The merge consumes the raw (un-deduped) envelopes and resolves
        change-vs-change and change-vs-base LWW in one aggregate, so the
        whole epoch's data movement is one exchange of base+changes and
        one write.
        """
        key, B = snap.key_column, snap.num_buckets
        # 5. the rows this epoch applies: valid, and above their bucket's
        # committed watermark (exactly-once under partial replay and
        # under redelivery with a new epoch id). The pre-pass counts and
        # the merge input filter on this SAME predicate.
        applies = _applies(snap)

        # 6. pre-pass: touched buckets, lineage stats, conflict count
        stats, conflicts, rows_in = self._cow_prepass(flagged, applies, snap)

        # 7. audit lane (only when anything was quarantined)
        self._write_audit(flagged, epoch, conflicts)
        if not stats:
            return EpochResult(
                epoch=epoch, status="empty", rows_in=rows_in,
                conflicts=conflicts, duration_sec=time.time() - t0,
            )
        touched = sorted(stats)
        bucket_max_lsn = {b: s["max_lsn"] for b, s in stats.items()}
        rows_valid = sum(s["rows"] for s in stats.values())

        # 8. MERGE into touched buckets only (file-pruned base read).
        # PINNED to the epoch's snapshot, which the commit names as
        # ``planned``: the CoW files are a REWRITE of prior bucket state,
        # so the publish refuses if any commit landed since (a lost
        # update otherwise). MOR commits name it too, for the layout
        # guard alone. The change side is the UN-deduped valid lane:
        # merge_upsert_lww's one max_by picks each key's winner among
        # base and changes alike, off a single repartition(B, key) that
        # the bucket-pure write reuses. n_tok is recomputed on the change
        # side (derive-if-missing/wrong; the union keeps the table's
        # n_tok type under widening). The ``salted`` flag collapses a hot
        # key to ≤ num_salts rows per salt stage BEFORE that exchange.
        changes = flagged.filter(applies).drop("_q", "_bucket")
        if self.salted:
            changes = lww_dedup_salted(
                changes, key=key, num_salts=self.num_salts
            )
        base = self.table.read(self.spark, buckets=touched, snapshot=snap)
        merged = merge_upsert_lww(
            base, recompute_n_tok(changes), key=key, num_partitions=B
        )

        # 9. write + DQ gate (its counts ride the write job).
        # write_data_files' repartition(B, key) is elided: the merge
        # already partitioned on the key at B.
        new_files, rows_out = self._write_epoch(merged, snap, epoch, touched)

        # 10. atomic publish + lineage + metrics (guarded on the
        # snapshot the merge read — a loser raises ConcurrentCommitError
        # and apply_changes_df re-runs the epoch against the new state)
        self.table.commit(
            epoch=epoch,
            replaced_buckets=touched,
            new_files=new_files,
            bucket_max_lsn=bucket_max_lsn,
            rows_applied=rows_valid,
            props={"epoch": epoch},
            planned=snap,
        )
        return self._committed(epoch, stats, rows_in, conflicts, t0,
                               rows_out)

    def _apply_mor(self, flagged, snap, epoch: int,
                   t0: float) -> EpochResult:
        """Merge-on-read epoch: LWW of the rows it applies, written in one
        exchange as the epoch's delta files, straight into the table. The
        audit lane is a separate write, only when anything was
        quarantined."""
        key, B = snap.key_column, snap.num_buckets
        # the input and quarantine counts ride the delta write
        obs = Observation()
        changes = flagged.observe(
            obs,
            *expr_memo(("engine.obs_in",), lambda: (
                F.count(F.lit(1)).alias("rows_in"),
                F.sum("_q").alias("rows_q"),
            )),
        ).filter(_applies(snap)).drop("_q", "_bucket")  # 5. applied rows

        # 6. LWW dedup — deterministic winner per key by max lsn.
        # Default plan: repartition(B, key) FIRST, then groupBy(key) — the
        # aggregate's clustering requirement is satisfied by the key
        # partitioning, and write_data_files' own repartition(B, key) is
        # elided, so dedup AND the bucket-pure write share ONE exchange
        # (guide §2.4). Trade, priced in BASELINE.md: the single exchange
        # moves raw rows, so a pathological hot key lands on one reducer
        # before collapsing — the ``salted`` flag first collapses a hot
        # key to ≤ num_salts rows (two-stage plan) for that regime.
        # 7. n_tok recomputed (derive-if-missing/wrong).
        if self.salted:
            changes = lww_dedup_salted(
                changes, key=key, num_salts=self.num_salts
            )
        deduped = recompute_n_tok(
            lww_dedup(changes.repartition(B, F.col(key)), key=key)
        )
        # 8. write the delta files + DQ gate. Bucket-pure, so each file's
        # footer gives its bucket's applied rows and max lsn.
        new_files, _ = self._write_epoch(deduped, snap, epoch)
        m = obs.get
        rows_in, conflicts = int(m["rows_in"] or 0), int(m["rows_q"] or 0)
        # the audit write re-reads the WAL, not the observed plan
        self._write_audit(flagged, epoch, conflicts)
        stats = {}
        for f in new_files:
            if "max_lsn" not in f:
                raise RuntimeError(
                    f"delta file {f['path']} lacks lsn statistics"
                )
            stats[f["bucket"]] = {"rows": f["rows"], "max_lsn": f["max_lsn"]}
        if not stats:
            return EpochResult(
                epoch=epoch, status="empty", rows_in=rows_in,
                conflicts=conflicts, duration_sec=time.time() - t0,
            )
        touched = sorted(stats)
        rows_applied = sum(s["rows"] for s in stats.values())

        # 9. publish the delta files, then compact any bucket that
        # exceeded the delta budget (read-time LWW cost bound). With
        # ``mor_compact_files=None`` compaction is DEFERRED to the
        # ``maintain`` entry point (background job; it commits through
        # the same snapshot CAS so it serializes with ingest) — the
        # production shape, where ingest never absorbs the fold
        # (measured: a 13M-row inline fold cost one 123 s epoch in the
        # 55M soak; see BASELINE.md).
        landed = self.table.commit(
            epoch=epoch,
            replaced_buckets=touched,
            new_files=new_files,
            bucket_max_lsn={b: s["max_lsn"] for b, s in stats.items()},
            rows_applied=rows_applied,
            props={"epoch": epoch, "mode": "mor"},
            delta=True,
            # written bucket-pure at this snapshot's bucket count: a
            # rebucket since then refuses the commit, and the epoch
            # re-runs against the new layout
            planned=snap,
        )
        if landed is None:
            # fence no-op: a concurrent engine committed this epoch
            # between our fence check and our commit. The table is
            # exactly-once either way (our files are unreferenced
            # orphans for GC); report "skipped" so run summaries and
            # lineage don't double-count the winner's rows.
            return EpochResult(
                epoch=epoch, status="skipped",
                rows_in=rows_in, conflicts=conflicts,
                buckets_touched=len(touched),
                duration_sec=time.time() - t0,
            )
        if self.mor_compact_files is not None:
            from ..tables.format import ConcurrentCommitError
            from ..tables.maintenance import compact

            try:
                compact(self.table, self.spark,
                        max_files_per_bucket=self.mor_compact_files)
            except ConcurrentCommitError:
                # another writer/compactor folded the same inputs; the
                # epoch itself IS committed — don't let the epoch retry
                # loop re-run it over a lost fold
                pass
        return self._committed(epoch, stats, rows_in, conflicts, t0,
                               rows_applied)

    def _committed(self, epoch, stats, rows_in, conflicts, t0,
                   table_rows) -> EpochResult:
        """Emit the epoch's lineage record; return its committed result."""
        rows_valid = sum(s["rows"] for s in stats.values())
        lineage = [
            {
                "epoch": epoch,
                "bucket": b,
                "lsn_max": s["max_lsn"],
                "rows_applied": s["rows"],
            }
            for b, s in sorted(stats.items())
        ]
        self._emit_lineage(epoch, lineage, rows_valid, conflicts,
                           time.time() - t0, table_rows)
        return EpochResult(
            epoch=epoch,
            status="committed",
            rows_in=rows_in,
            conflicts=conflicts,
            rows_applied=rows_valid,
            buckets_touched=len(stats),
            duration_sec=time.time() - t0,
            lineage=lineage,
        )

    def _emit_lineage(self, epoch, lineage, rows_valid, conflicts, dur, table_rows):
        path = os.path.join(
            self.checkpoint_dir, "lineage", f"epoch-{epoch:05d}.json"
        )
        rec = {
            "epoch": epoch,
            "rows_applied": rows_valid,
            "conflicts": conflicts,
            "duration_sec": round(dur, 3),
            "rows_in_touched_buckets_after": table_rows,
            "partitions": lineage,
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, path)
