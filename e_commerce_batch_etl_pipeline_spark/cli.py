"""spark-submit entry point.

Usage (north_rule launch shape):

    spark-submit --py-files e_commerce_batch_etl_pipeline_spark.zip \
        -m e_commerce_batch_etl_pipeline_spark.cli \
        replay --table /path/table --wal /path/wal --checkpoint /path/ckpt

Subcommands:
    datagen    — deterministic base docs + WAL epochs (seeded, distributed)
    bootstrap  — initial snapshot commit of the base table
    replay     — checkpointed epoch loop (resumes automatically)
    changes    — incremental change feed between two snapshot versions
    feed       — incremental changelog EXPORT (lakefeed stream,
                 Trigger.AvailableNow + checkpoint): each invocation
                 appends exactly the commits since the last run to a
                 parquet directory — cron-able exactly-once CDC export
    rollup     — maintain a (group, count, sum) rollup incrementally
                 from the change feed (O(changes) per refresh)
    lookup     — bucket-routed point read (serving path, time-travelable)
    status     — metadata-only table/ops probe (no Spark session)
    verify     — write-verify read-back (K4): manifest + invariants;
                 exit 3 on failure
    publish    — write-audit-publish: audit a snapshot (file existence,
                 DQ predicate over the changes, invariant verify) and
                 fast-forward the serving ref to it; exit 3 on audit
                 failure (ref untouched)
    maintain   — compaction / snapshot expiry / orphan GC / rebucket
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cdc-ingest")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("datagen")
    g.add_argument("--out", required=True)
    g.add_argument("--base-n", type=int, default=50_000)
    g.add_argument("--epochs", type=int, default=8)
    g.add_argument("--changes-per-epoch", type=int, default=25_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--max-len", type=int, default=256)
    g.add_argument("--evolve-from-epoch", type=int, default=None)

    b = sub.add_parser("bootstrap")
    b.add_argument("--table", required=True)
    b.add_argument("--base", required=True, help="parquet dir of base docs")
    b.add_argument("--num-buckets", type=int, default=16)

    r = sub.add_parser("replay")
    r.add_argument("--table", required=True)
    r.add_argument("--wal", required=True)
    r.add_argument("--checkpoint", required=True)
    r.add_argument("--max-epochs", type=int, default=None)
    r.add_argument("--salted", action="store_true",
                   help="two-stage salted LWW: collapses a hot key to "
                        "<= 16 rows before the epoch's single key "
                        "exchange, which otherwise sends all of its raw "
                        "rows to one reducer")
    r.add_argument("--merge-mode", choices=["cow", "mor"], default="cow",
                   help="copy-on-write (rewrite touched buckets) or "
                        "merge-on-read (append delta files, O(changes) "
                        "writes, lazy compaction)")
    r.add_argument("--mor-compact-files", default="8",
                   help="MOR inline-compaction budget (delta files per "
                        "bucket); 'none' defers compaction entirely to "
                        "the maintain entry point (background-job shape)")
    r.add_argument("--strict-dq", action="store_true",
                   help="re-verify LWW key-uniqueness with an extra job")
    r.add_argument("--follow", action="store_true",
                   help="tail mode: keep polling the WAL for new "
                        "COMPLETE segments (_SUCCESS marker) and apply "
                        "them as they land, instead of one-shot replay")
    r.add_argument("--poll-sec", type=float, default=2.0,
                   help="tail mode: seconds between WAL listings")
    r.add_argument("--idle-timeout", type=float, default=None,
                   help="tail mode: exit after this many seconds with "
                        "no new epochs (default: tail forever)")
    r.add_argument("--stop-file", default=None,
                   help="tail mode: exit gracefully (finish in-flight "
                        "epoch, checkpoint) once this path exists")
    r.add_argument("--delta-blooms", action="store_true",
                   help="MOR only: attach per-file key Bloom filters to "
                        "delta files so point lookups skip the pending "
                        "deltas that don't contain the key")
    r.add_argument("--no-audit-quarantine", action="store_true",
                   help="skip persisting quarantined envelopes (counts "
                        "still recorded in lineage)")

    ch = sub.add_parser("changes")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-version", type=int, required=True)
    ch.add_argument("--to-version", type=int, required=True)
    ch.add_argument("--out", required=True,
                    help="parquet dir for the change feed")
    ch.add_argument("--include-old", action="store_true",
                    help="append _old_<col> pre-image columns to U/D "
                         "rows (what an incremental aggregate maintainer "
                         "needs to retract old contributions)")

    fd = sub.add_parser("feed")
    fd.add_argument("--table", required=True)
    fd.add_argument("--out", required=True,
                    help="parquet dir the changelog is appended to")
    fd.add_argument("--checkpoint", required=True,
                    help="stream checkpoint: the cursor that makes "
                         "re-invocations incremental and exactly-once")
    fd.add_argument("--starting-version", default=None,
                    help="first run only: version number or ref name to "
                         "start after (default 0 = everything)")
    fd.add_argument("--ref", default=None,
                    help="follow a serving ref (e.g. published) instead "
                         "of the head — unaudited commits are never "
                         "exported")

    ru = sub.add_parser("rollup")
    ru.add_argument("--table", required=True)
    ru.add_argument("--state", required=True,
                    help="rollup state dir (parquet + _VERSION marker); "
                         "created on first run, refreshed incrementally "
                         "from the change feed afterwards")
    ru.add_argument("--group-col", default="source")
    ru.add_argument("--measure", default="n_tok")

    lk = sub.add_parser("lookup")
    lk.add_argument("--table", required=True)
    lk.add_argument("--keys", required=True,
                    help="comma-separated doc_ids (serving point read: "
                         "scans only the buckets the keys hash to)")
    lk.add_argument("--version", type=int, default=None,
                    help="time-travel to a snapshot version")
    lk.add_argument("--out", default=None,
                    help="optional parquet dir; otherwise prints rows")

    st = sub.add_parser("status")
    st.add_argument("--table", required=True)
    st.add_argument("--checkpoint", default=None,
                    help="include the tail of this checkpoint's "
                         "run_history.jsonl")

    ins = sub.add_parser("inspect")
    ins.add_argument("--table", required=True)
    ins.add_argument("--what", default="files",
                     choices=["files", "snapshots", "fences", "tags"],
                     help="metadata table to query (Iceberg $files/"
                          "$snapshots inspection shape)")
    ins.add_argument("--sql", default=None,
                     help="optional SQL over the metadata registered as "
                          "view 'meta' (e.g. \"SELECT bucket, count(*) "
                          "FROM meta GROUP BY bucket\")")
    ins.add_argument("--limit", type=int, default=20)

    tg = sub.add_parser("tag")
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", required=True,
                    help="ref name (alnum/._-); tags pin a snapshot "
                         "against expire_snapshots retention")
    tg.add_argument("--version", type=int, default=None,
                    help="snapshot version to tag (default: current)")
    tg.add_argument("--delete", action="store_true",
                    help="drop the tag instead of creating it")

    vf = sub.add_parser("verify")
    vf.add_argument("--table", required=True)

    pub = sub.add_parser("publish")
    pub.add_argument("--table", required=True)
    pub.add_argument("--ref", default="published",
                     help="serving ref to fast-forward (default: "
                          "published)")
    pub.add_argument("--version", type=int, default=None,
                     help="snapshot to publish (default: head)")
    pub.add_argument("--audit-predicate", default=None,
                     help="SQL boolean evaluated over the CHANGES being "
                          "published (columns: _change_op, key, payload); "
                          "any FALSE/NULL row fails the audit")
    pub.add_argument("--allow-rollback", action="store_true",
                     help="permit moving the ref backwards (explicit "
                          "serving rollback)")
    pub.add_argument("--skip-verify", action="store_true",
                     help="skip the full invariant read-back tier")

    m = sub.add_parser("maintain")
    m.add_argument("--table", required=True)
    m.add_argument("--max-files-per-bucket", type=int, default=4)
    m.add_argument("--max-buckets-per-pass", type=int, default=None,
                   help="bound one compaction pass to the N most-"
                        "fragmented buckets (partial-progress shape: "
                        "keeps background folds landing under "
                        "continuous ingest at large bucket counts)")
    m.add_argument("--keep-snapshots", type=int, default=10)
    m.add_argument("--gc", action="store_true",
                   help="also delete orphaned data files")
    m.add_argument("--gc-min-age-sec", type=float, default=3600.0,
                   help="never GC files younger than this (in-flight "
                        "epoch write safety)")
    m.add_argument("--rebucket", type=int, default=None,
                   help="rewrite the table into N hash buckets (bucket-"
                        "count evolution; atomic snapshot commit)")
    m.add_argument("--sort-by-key", action="store_true",
                   help="sort-order compaction: write each folded bucket "
                        "key-sorted and size-split so per-file manifest "
                        "key ranges are tight — key_range/lookup reads "
                        "then prune files INSIDE buckets")
    m.add_argument("--target-rows-per-file", type=int, default=None,
                   help="split sorted fold output into files of ~N rows "
                        "(with --sort-by-key; each file covers a "
                        "contiguous key range)")
    m.add_argument("--collect-blooms", action="store_true",
                   help="attach per-file key Bloom filters to the fold "
                        "output (negative point lookups then skip whole "
                        "buckets)")

    args = p.parse_args(argv)

    if args.cmd == "status":
        # pure metadata — no Spark session (sub-second ops probe; the
        # observability surface: reference streamlit_app/app.py's
        # pipeline-stats panel as one machine-readable JSON line)
        import os as _os

        from .tables.format import LakeTable

        table = LakeTable(args.table)
        snap = table.current()
        deltas = [f for f in snap.files if f.get("kind") == "delta"]
        wm = [int(v) for v in snap.watermark.values()]
        out = {
            "version": snap.version,
            "schema_version": snap.schema.schema_version,
            "columns": snap.schema.names(),
            "num_buckets": snap.num_buckets,
            "live_files": len(snap.files),
            "pending_delta_files": len(deltas),
            "buckets_with_deltas": len({f["bucket"] for f in deltas}),
            "watermark_min": min(wm) if wm else None,
            "watermark_max": max(wm) if wm else None,
            "fences": len(snap.fences),
            "min_fenced_epoch": snap.min_fenced_epoch,
            "snapshots_retained": len(table.history()),
            "tags": table.tags(),
            "committed_at": snap.committed_at,
        }
        refs = out["tags"]
        if "published" in refs:
            # WAP serving lag: how far the audited ref trails the head
            # (versions + wall seconds) — the number an operator pages on
            pv = refs["published"]
            out["published_version"] = pv
            out["publish_lag_versions"] = snap.version - pv
            try:
                out["publish_lag_sec"] = round(
                    snap.committed_at
                    - table.snapshot_at(pv).committed_at, 1,
                )
            except FileNotFoundError:
                out["publish_lag_sec"] = None
        if args.checkpoint:
            hist_path = _os.path.join(args.checkpoint, "run_history.jsonl")
            if _os.path.exists(hist_path):
                runs = [json.loads(line) for line in open(hist_path)]
                out["runs"] = runs[-5:]
        print(json.dumps(out))
        return 0

    if args.cmd == "tag":
        # pure metadata — no Spark session
        from .tables.format import LakeTable

        table = LakeTable(args.table)
        if args.delete:
            table.drop_tag(args.name)
            print(json.dumps({"dropped": args.name,
                              "tags": table.tags()}))
        else:
            v = table.tag(args.name, version=args.version)
            print(json.dumps({"tagged": args.name, "version": v,
                              "tags": table.tags()}))
        return 0

    from .session import build_session

    spark = build_session(master=None)

    if args.cmd == "datagen":
        from .sources.datagen import generate_base_docs, write_wal

        base = generate_base_docs(spark, args.base_n, seed=args.seed,
                                  max_len=args.max_len)
        base.write.mode("overwrite").parquet(f"{args.out}/base")
        write_wal(spark, f"{args.out}/wal", args.epochs,
                  args.changes_per_epoch, args.base_n, seed=args.seed,
                  max_len=args.max_len,
                  evolve_from_epoch=args.evolve_from_epoch)
        print(json.dumps({"base": args.base_n,
                          "wal_events": args.epochs * args.changes_per_epoch}))
    elif args.cmd == "bootstrap":
        from .streaming.bootstrap import bootstrap_table

        base = spark.read.parquet(args.base)
        bootstrap_table(args.table, base, num_buckets=args.num_buckets)
        print(json.dumps({"bootstrapped": args.table}))
    elif args.cmd == "replay":
        from .sources.wal import WalSource
        from .streaming.microbatch import CdcEngine
        from .tables.format import LakeTable

        mcf = (
            None if str(args.mor_compact_files).lower() == "none"
            else int(args.mor_compact_files)
        )
        eng = CdcEngine(
            spark, LakeTable(args.table), WalSource(args.wal),
            args.checkpoint, salted=args.salted,
            merge_mode=args.merge_mode,
            mor_compact_files=mcf,
            strict_dq=args.strict_dq,
            audit_quarantine=not args.no_audit_quarantine,
            delta_blooms=args.delta_blooms,
        )
        t0 = time.time()
        if args.follow:
            results = eng.follow(
                poll_sec=args.poll_sec,
                idle_timeout_sec=args.idle_timeout,
                max_epochs=args.max_epochs,
                stop_file=args.stop_file,
            )
        else:
            results = eng.run(max_epochs=args.max_epochs)
        wall = time.time() - t0
        applied = sum(r.rows_applied for r in results)
        print(json.dumps({
            "epochs": len(results),
            "rows_applied": applied,
            "wall_sec": round(wall, 3),
            "events_per_sec": round(applied / wall, 1) if wall > 0 else None,
        }))
    elif args.cmd == "changes":
        from pyspark.sql import functions as F

        from .tables.format import LakeTable

        feed = LakeTable(args.table).changes_between(
            spark, args.from_version, args.to_version,
            include_old=args.include_old,
        )
        feed.write.mode("overwrite").parquet(args.out)
        counts = {
            r["_change_op"]: r["n"]
            for r in spark.read.parquet(args.out)
            .groupBy("_change_op").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(json.dumps({
            "from": args.from_version, "to": args.to_version,
            "inserts": counts.get("I", 0), "updates": counts.get("U", 0),
            "deletes": counts.get("D", 0), "out": args.out,
        }))
    elif args.cmd == "feed":
        # incremental changelog export: the lakefeed stream under
        # Trigger.AvailableNow drains exactly the commits the checkpoint
        # hasn't seen, appends them to the parquet dir, and stops — so a
        # cron re-invocation is an exactly-once "give me what's new"
        # (sources/feed_datasource.py; version offsets in the checkpoint)
        from .sources.feed_datasource import LakeFeedDataSource

        spark.dataSource.register(LakeFeedDataSource)
        r = spark.readStream.format("lakefeed").option("root", args.table)
        if args.starting_version is not None:
            r = r.option("startingVersion", args.starting_version)
        if args.ref:
            r = r.option("ref", args.ref)
        q = (
            r.load().writeStream.format("parquet")
            .option("path", args.out)
            .option("checkpointLocation", args.checkpoint)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        exported = sum(
            int(p["numInputRows"]) for p in (q.recentProgress or [])
        )
        print(json.dumps({
            "out": args.out, "rows_exported": exported,
            "ref": args.ref,
        }))
    elif args.cmd == "rollup":
        import os as _os

        from pyspark.sql import functions as F

        from .tables.format import LakeTable
        from .tables.rollup import incremental_rollup

        import shutil as _shutil

        table = LakeTable(args.table)
        cur = table.current().version
        data_dir = _os.path.join(args.state, "data")
        old_dir = data_dir + ".old"
        marker = _os.path.join(data_dir, "_VERSION")
        legacy_vfile = _os.path.join(args.state, "_VERSION")
        # recover an interrupted swap: data renamed aside but the new
        # copy never promoted — restore it (its embedded marker still
        # matches its rows); a leftover .old beside a live data dir is
        # a completed swap's debris
        if _os.path.exists(old_dir) and not _os.path.exists(data_dir):
            _os.replace(old_dir, data_dir)
        _shutil.rmtree(old_dir, ignore_errors=True)

        v_from = None
        if _os.path.isdir(data_dir):
            if _os.path.exists(marker):
                v_from = int(open(marker).read().strip())
            elif _os.path.exists(legacy_vfile):
                # pre-marker layout: external _VERSION beside data/
                v_from = int(open(legacy_vfile).read().strip())
        if v_from is not None:
            if v_from == cur:
                print(json.dumps({"group_col": args.group_col,
                                  "version": cur, "refreshed": False}))
                return 0
            state = spark.read.parquet(data_dir)
            new_state = incremental_rollup(
                table, spark, v_from, cur, state,
                args.group_col, args.measure,
            )
            mode = "incremental"
        else:
            new_state = (
                table.read(spark)
                .groupBy(args.group_col)
                .agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.sum(args.measure).cast("long").alias("total"))
            )
            mode = "bootstrap"
        tmp_dir = _os.path.join(args.state, "data.tmp")
        _shutil.rmtree(tmp_dir, ignore_errors=True)
        new_state.write.mode("overwrite").parquet(tmp_dir)
        # version marker INSIDE the data dir ("_"-prefixed files are
        # invisible to parquet directory reads): one os.replace promotes
        # rows and version together, so no crash window can pair new
        # rows with the old version (incremental double-apply) or leave
        # _VERSION pointing at a destroyed data dir
        with open(_os.path.join(tmp_dir, "_VERSION"), "w") as f:
            f.write(str(cur))
        if _os.path.exists(data_dir):
            _os.replace(data_dir, old_dir)
        _os.replace(tmp_dir, data_dir)
        _shutil.rmtree(old_dir, ignore_errors=True)
        if _os.path.exists(legacy_vfile):
            _os.remove(legacy_vfile)
        n_groups = spark.read.parquet(data_dir).count()
        print(json.dumps({"group_col": args.group_col, "mode": mode,
                          "version": cur, "groups": n_groups,
                          "refreshed": True}))
    elif args.cmd == "lookup":
        from .tables.format import LakeTable

        table = LakeTable(args.table)
        snap = (
            table.snapshot_at(args.version)
            if args.version is not None else None
        )
        keys = [k for k in args.keys.split(",") if k]
        rows = table.lookup(spark, keys, snapshot=snap)
        if args.out:
            rows.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"keys": len(keys), "found": n,
                              "out": args.out}))
        else:
            found = rows.collect()  # point read: ≤ len(keys) rows
            print(json.dumps({
                "keys": len(keys), "found": len(found),
                "rows": [
                    {"doc_id": r["doc_id"], "n_tok": r["n_tok"],
                     "source": r["source"]}
                    for r in found
                ],
            }))
    elif args.cmd == "inspect":
        from .tables.format import LakeTable

        df = LakeTable(args.table).meta(spark, args.what)
        if args.sql:
            df.createOrReplaceTempView("meta")
            df = spark.sql(args.sql)
        rows = [r.asDict() for r in df.limit(args.limit).collect()]
        print(json.dumps({"what": args.what, "rows": rows,
                          "shown": len(rows)}))
    elif args.cmd == "verify":
        # write-verify read-back (reference K4,
        # notebooks/04_write_parquet.py:119-139): manifest files on
        # disk + invariants (key uniqueness, n_tok == size(tokens));
        # exit 3 on failure so cron/orchestrators can gate on it
        from .tables.format import LakeTable
        from .tables.maintenance import verify as _verify

        rep = _verify(LakeTable(args.table), spark)
        print(json.dumps(rep))
        return 0 if rep["ok"] else 3
    elif args.cmd == "publish":
        # write-audit-publish ceremony (tables/maintenance.py:publish):
        # audit the target snapshot, fast-forward the serving ref only
        # if every tier passes; exit 3 on audit failure (ref untouched)
        from .tables.format import LakeTable
        from .tables.maintenance import publish as _publish

        rep = _publish(
            LakeTable(args.table), spark,
            ref=args.ref, version=args.version,
            audit_predicate=args.audit_predicate,
            allow_rollback=args.allow_rollback,
            full_verify=not args.skip_verify,
        )
        print(json.dumps(rep))
        return 0 if rep["ok"] else 3
    elif args.cmd == "maintain":
        from .tables.format import LakeTable
        from .tables.maintenance import (
            compact,
            expire_snapshots,
            remove_orphans,
        )

        table = LakeTable(args.table)
        if args.rebucket:
            from .tables.maintenance import rebucket

            rebucket(table, spark, args.rebucket)
        snap = compact(table, spark,
                       max_files_per_bucket=args.max_files_per_bucket,
                       max_buckets_per_pass=args.max_buckets_per_pass,
                       sort_by_key=args.sort_by_key,
                       target_rows_per_file=args.target_rows_per_file,
                       collect_blooms=args.collect_blooms)
        dropped = expire_snapshots(table, keep_last=args.keep_snapshots)
        removed = (
            remove_orphans(table, min_age_sec=args.gc_min_age_sec)
            if args.gc else []
        )
        print(json.dumps({
            "rebucketed_to": args.rebucket,
            "compacted": snap is not None,
            "snapshots_expired": len(dropped),
            "orphans_removed": len(removed),
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
