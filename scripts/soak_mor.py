"""55M-event merge-on-read soak (round-2 item 8 — BASELINE.md records
the result): same trajectory as the round-1 CoW large soak (5M-doc base,
256 buckets, 11 x 5M-event epochs with epoch 0 as warm-up, 3 hot keys at
20% of changes, additive `lang` column arriving at epoch 6), but with
`merge_mode="mor"`, instrumenting per-epoch ingest rate, pending delta
files (compaction cadence), and read-back latency.

Run:  python scripts/soak_mor.py [--scale-div N]   (N>1 shrinks the run)
Emits one JSON line per epoch plus a final summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from e_commerce_batch_etl_pipeline_spark.session import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale-div", type=int, default=1)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--compact-files", type=int, default=8)
    ap.add_argument("--defer-compaction", action="store_true",
                    help="production shape: ingest never compacts "
                         "inline; a background maintain subprocess folds "
                         "deltas concurrently (own Spark session)")
    ap.add_argument("--buckets", type=int, default=256,
                    help="bucket count (1024+ exercises the distributed "
                         "per-bucket stats job instead of driver footer "
                         "reads)")
    ap.add_argument("--base-n", type=int, default=None,
                    help="base docs (default 5M/scale-div)")
    ap.add_argument("--per-epoch", type=int, default=None,
                    help="events per epoch (default 5M/scale-div)")
    ap.add_argument("--epochs", type=int, default=11)
    ap.add_argument("--max-len", type=int, default=96)
    ap.add_argument("--compact-buckets-per-pass", type=int, default=128,
                    help="partial-progress chunk for the background "
                         "fold (unbounded passes stop landing once the "
                         "backlog outgrows the epoch interval — the "
                         "round-4 200M-soak failure mode)")
    ap.add_argument("--read-back-every", type=int, default=1,
                    help="full read-back count every N epochs (the "
                         "read is O(table) — at 10M+ rows per-epoch "
                         "read-backs dominate wall clock, not ingest)")
    args = ap.parse_args()

    base_n = args.base_n or 5_000_000 // args.scale_div
    per_epoch = args.per_epoch or 5_000_000 // args.scale_div
    epochs = args.epochs
    buckets = args.buckets

    spark = build_session(master=f"local[{args.cores}]",
                          shuffle_partitions=args.cores)
    from e_commerce_batch_etl_pipeline_spark.sources.datagen import (
        generate_base_docs,
        write_wal,
    )
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.bootstrap import (
        bootstrap_table,
    )
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )
    from e_commerce_batch_etl_pipeline_spark.tables.maintenance import (
        compact,
        verify,
    )

    root = tempfile.mkdtemp(prefix="soak_mor_")
    try:
        t0 = time.time()
        base = generate_base_docs(spark, base_n, seed=7,
                                  max_len=args.max_len)
        base.write.mode("overwrite").parquet(f"{root}/base")
        write_wal(
            spark, f"{root}/wal", epochs, per_epoch, base_n, seed=7,
            max_len=args.max_len, num_hot_keys=3, hot_key_frac=0.20,
            evolve_from_epoch=min(6, max(1, epochs // 2)),
        )
        print(json.dumps({"stage": "datagen", "sec": round(time.time() - t0, 1),
                          "events": epochs * per_epoch}), flush=True)

        t0 = time.time()
        table = bootstrap_table(
            f"{root}/table", spark.read.parquet(f"{root}/base"),
            num_buckets=buckets,
        )
        print(json.dumps({"stage": "bootstrap",
                          "sec": round(time.time() - t0, 1)}), flush=True)

        eng = CdcEngine(
            spark, table, WalSource(f"{root}/wal"), f"{root}/ckpt",
            merge_mode="mor",
            mor_compact_files=(None if args.defer_compaction
                               else args.compact_files),
            # audit on: quarantined rows get their own write, only in
            # epochs that quarantine anything
        )
        maint = None
        if args.defer_compaction:
            import subprocess

            maint_script = f"""
import sys, time
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from e_commerce_batch_etl_pipeline_spark.session import build_session
from e_commerce_batch_etl_pipeline_spark.tables.format import (
    ConcurrentCommitError, LakeTable)
from e_commerce_batch_etl_pipeline_spark.tables.maintenance import compact
spark = build_session(master="local[8]", shuffle_partitions=8)
t = LakeTable({(root + "/table")!r})
import json as _json
while True:
    try:
        snap = compact(t, spark, max_files_per_bucket={args.compact_files},
                       max_buckets_per_pass={args.compact_buckets_per_pass})
        if snap is not None:
            print(_json.dumps({{"bg_compacted_to_version": snap.version}}),
                  flush=True)
    except ConcurrentCommitError:
        pass
    time.sleep(5)
"""
            # stderr kept (round-4 lesson: DEVNULL hid the folder's own
            # death; its progress noise is worth the postmortem)
            maint = subprocess.Popen(
                [sys.executable, "-c", maint_script],
                stdout=sys.stderr, stderr=sys.stderr,
            )
        timed_events = 0
        timed_sec = 0.0
        try:
            for e in range(epochs):
                r = eng.run(max_epochs=1)[0]
                snap = table.current()
                deltas = sum(
                    1 for f in snap.files if f.get("kind", "base") == "delta"
                )
                read_sec = None
                n_rows = None
                if e % args.read_back_every == 0 or e == epochs - 1:
                    tr0 = time.time()
                    n_rows = table.read(spark).count()
                    read_sec = round(time.time() - tr0, 2)
                rate = (r.rows_applied / r.duration_sec) if r.duration_sec else 0
                if e > 0:  # epoch 0 = warm-up, excluded from sustained rate
                    timed_events += r.rows_applied
                    timed_sec += r.duration_sec
                st = os.statvfs(root)
                print(json.dumps({
                    "epoch": e, "rows_applied": r.rows_applied,
                    "sec": round(r.duration_sec, 1),
                    "events_per_sec": round(rate),
                    "pending_delta_files": deltas,
                    "table_version": snap.version,
                    "read_back_sec": read_sec,
                    "table_rows": n_rows,
                    "disk_free_gb": round(st.f_bavail * st.f_frsize / 2**30, 1),
                }), flush=True)
        finally:
            # round-4 lesson: a crashed epoch loop used to leak the
            # background folder (skipped terminate), which kept a live
            # Spark session competing for the machine
            if maint is not None:
                maint.terminate()
                maint.wait(timeout=30)

        if args.defer_compaction:
            # DRAIN: catch-up compaction with the full machine before the
            # final verify read. On shared cores a background folder can
            # never match ingest bandwidth (folds rewrite base+delta rows
            # while ingest only appends deltas) — the backlog is bounded
            # during ingest by chunked passes and cleared here, exactly
            # how a cluster would schedule a compaction wave before
            # serving reads. Without this the final read's LWW sort over
            # epochs×epoch_size delta rows spills past any local disk.
            t0 = time.time()
            folds = 0
            while True:
                snap = compact(
                    table, spark,
                    max_files_per_bucket=args.compact_files,
                    max_buckets_per_pass=args.compact_buckets_per_pass,
                )
                if snap is None:
                    break
                folds += 1
            st = os.statvfs(root)
            print(json.dumps({
                "stage": "drain", "fold_passes": folds,
                "sec": round(time.time() - t0, 1),
                "pending_delta_files": sum(
                    1 for f in table.current().files
                    if f.get("kind", "base") == "delta"
                ),
                "disk_free_gb": round(st.f_bavail * st.f_frsize / 2**30, 1),
            }), flush=True)

        rep = verify(table, spark)
        print(json.dumps({
            "stage": "summary",
            "sustained_events_per_sec": round(timed_events / timed_sec),
            "timed_events": timed_events,
            "final_rows": rep["rows"],
            "verify_ok": rep["ok"],
            "schema_version": table.current().schema.schema_version,
        }), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
