"""The three workloads. Each takes a ``Run`` and a ``Tracer`` and fills in
``run.e2e`` (the gated metrics), ``run.report`` (the workload's own named
metrics) and, in traced runs, ``run.layers``.

See README.md in this directory for why each workload exists and what
every metric means.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

from . import gen
from .harness import Run, log, median
from .oracle import ChangeLogOracle, QueryOracle, scan_aggregate_columns
from .trace import JobLog, Tracer, percentile

# ---------------------------------------------------------------------
# shapes (fixed: a change to any of these is a benchmark change)
# ---------------------------------------------------------------------

MAX_LEN = 96          # tokens per document, upper bound
BUCKETS = 16
STRIDE = 1_000_000    # lsn stride per epoch; lsn = epoch * STRIDE + row
LOOKUP_WARMUP = 4     # first lookup requests are checked but not timed

COW_BASE = 20_000
COW_SMALL = 5_000     # events; ~4k valid rows  -> broadcast merge
COW_BIG = 18_000      # events; ~13k valid rows -> union + max_by merge
COW_BCAST_ROWS = 8_000  # engine broadcast_threshold, between the two
COW_WARMUP = [COW_SMALL, COW_BIG, COW_SMALL]
COW_LOOKUPS = 24
COW_SCANS = 2

MOR_BASE = 20_000
MOR_SEGMENT = 3_000
MOR_WARMUP = 2
MOR_INTERVAL_S = 2.0  # ~1.4x the steady per-segment service time
MOR_LOOKUPS = 8
MOR_POLL_S = 0.02

QUERY_SF = 0.02
QUERY_PASSES = 2      # timed passes at --seconds 10
READ_QUERY = "etl_dedup_lww"  # read_s_p50 of query_suite: this query,
READ_REPEATS = 10     # executed this many times after the passes
# bench.HEADLINE, copied: bench.py is frozen and outside this directory
HEADLINE = [
    "q1_pricing_summary", "etl_clean_filter", "etl_broadcast_enrich",
    "etl_dedup_lww", "etl_topk", "cdc_lww_latest", "cdc_merge_upsert",
    "window_running_sum", "sessionize", "tumbling_window_agg",
    "text_metrics", "dedup_exact_stats", "dedup_minhash_lsh",
    "dedup_simhash", "embed_cosine_topk", "embed_lsh_signature",
    "multimodal_meta",
]

# gated end-to-end metrics: (name, unit); every workload reports each
END_TO_END = [
    ("setup_s", "s"),
    ("rate_per_s", "1/s"),
    ("read_s_p50", "s"),
]

PER_LAYER = [
    ("session.build_s", "s"),
    ("sources.wal_read_s_p50", "s"),
    ("sources.wal_bytes_per_event", "bytes/event"),
    ("sources.datagen_s", "s"),
    ("streaming.epoch_s_p50", "s"),
    ("streaming.epoch_s_max", "s"),
    ("streaming.epoch_self_s_p50", "s"),
    ("streaming.warmup_s", "s"),
    ("streaming.busy_frac", "fraction"),
    ("streaming.backlog_max", "segments"),
    ("streaming.rows_in", "rows"),
    ("streaming.rows_quarantined", "rows"),
    ("streaming.rows_applied", "rows"),
    ("streaming.applied_frac", "fraction"),
    ("streaming.epochs_retried", "count"),
    ("streaming.spark_jobs_per_epoch", "count"),
    ("streaming.shuffle_bytes_per_event", "bytes/event"),
    ("streaming.spill_bytes", "bytes"),
    ("streaming.task_skew", "ratio"),
    ("operators.lww_calls", "count"),
    ("operators.lww_build_s", "s"),
    ("operators.merge_lww_calls", "count"),
    ("operators.merge_bcast_calls", "count"),
    ("operators.merge_build_s", "s"),
    ("functions.ntok_build_s", "s"),
    ("tables.bootstrap_s", "s"),
    ("tables.read_plan_s_p50", "s"),
    ("tables.write_s_p50", "s"),
    ("tables.write_shuffle_bytes_per_event", "bytes/event"),
    ("tables.commit_s_p50", "s"),
    ("tables.files_added_per_epoch", "files"),
    ("tables.bytes_added_per_epoch", "bytes"),
    ("tables.live_files", "files"),
    ("tables.table_bytes_per_row", "bytes/row"),
    ("tables.write_bytes_per_event", "bytes/event"),
    ("tables.lookup_plan_s_p50", "s"),
    ("tables.lookup_exec_s_p50", "s"),
    ("tables.lookup_files_p50", "files"),
    ("tables.scan_plan_s", "s"),
    ("tables.scan_exec_s", "s"),
    ("tables.scan_files", "files"),
    ("tables.changes_plan_s", "s"),
    ("tables.changes_exec_s", "s"),
    *[(f"queries.{q}_s", "s") for q in HEADLINE],
    ("queries.first_pass_s", "s"),
    ("queries.spark_jobs", "count"),
    ("queries.shuffle_bytes", "bytes"),
]

# layer metrics only mor_tail can move (CoW never adopts delta files or
# compacts, and its segments carry no new column): printed on stderr by a
# traced run, not part of the per-layer set in BENCHMARK.json
MOR_LAYERS = [
    ("sources.landing_late_s_max", "s"),
    ("tables.adopt_s_p50", "s"),
    ("tables.evolve_s", "s"),
    ("tables.evolve_calls", "count"),
    ("tables.delta_files_per_bucket_max", "files"),
    ("tables.compact_s", "s"),
    ("tables.compact_bytes_rewritten", "bytes"),
    ("tables.compact_files_in", "files"),
    ("tables.compact_files_out", "files"),
]

# ---------------------------------------------------------------------
# tracing hooks
# ---------------------------------------------------------------------

def install_wrappers(tr: Tracer) -> None:
    """Patch each module's public entry points where its callers look
    them up (see trace.py); a no-op on a disabled tracer."""
    import e_commerce_batch_etl_pipeline_spark.operators.lww as lww_mod
    import e_commerce_batch_etl_pipeline_spark.queries as queries
    import e_commerce_batch_etl_pipeline_spark.streaming.bootstrap as boot
    import e_commerce_batch_etl_pipeline_spark.streaming.microbatch as mb
    import e_commerce_batch_etl_pipeline_spark.tables.maintenance as maint
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.tables.format import LakeTable

    tr.wrap(mb.CdcEngine, "apply_epoch", "streaming.epoch")
    tr.count_calls(mb.CdcEngine, "_apply_changes_once", "streaming.attempts")
    tr.wrap(WalSource, "read_epoch", "sources.wal_read")
    for mod in (mb, queries, lww_mod):
        tr.wrap(mod, "lww_dedup", "operators.lww")
    for mod in (mb, queries):
        tr.wrap(mod, "merge_upsert", "operators.merge_bcast")
    tr.wrap(mb, "merge_upsert_lww", "operators.merge_lww")
    tr.wrap(mb, "recompute_n_tok", "functions.ntok")
    for attr, name in [("read", "tables.read"),
                       ("write_data_files", "tables.write"),
                       ("adopt_delta_files", "tables.adopt"),
                       ("commit", "tables.commit"),
                       ("evolve_schema", "tables.evolve"),
                       ("lookup", "tables.lookup"),
                       ("changes_between", "tables.changes")]:
        tr.wrap(LakeTable, attr, name)
    tr.wrap(maint, "compact", "tables.compact")
    tr.wrap(boot, "bootstrap_table", "tables.bootstrap")


# ---------------------------------------------------------------------
# shared ingest pieces
# ---------------------------------------------------------------------

def _table_files(table, snap) -> tuple[int, int]:
    """(files, bytes) referenced by ``snap``."""
    return len(snap.files), sum(
        os.path.getsize(os.path.join(table.root, f["path"]))
        for f in snap.files)


def _added_files(table, v_from: int, v_to: int) -> list[tuple[int, int]]:
    """(files, bytes) first referenced by each commit in (v_from, v_to]."""
    out = []
    prev = {f["path"] for f in table.snapshot_at(v_from).files}
    for v in range(v_from + 1, v_to + 1):
        cur = table.snapshot_at(v).files
        new = [f for f in cur if f["path"] not in prev]
        out.append((len(new), sum(
            os.path.getsize(os.path.join(table.root, f["path"]))
            for f in new)))
        prev = {f["path"] for f in cur}
    return out


def _bootstrap(run: Run, spark, base_dir: str) -> tuple[object, float]:
    """Bootstrap the workload's table from the base; returns it and the
    time taken."""
    import e_commerce_batch_etl_pipeline_spark.streaming.bootstrap as boot

    t0 = time.perf_counter()
    table = boot.bootstrap_table(run.path("table"),
                                 spark.read.parquet(base_dir),
                                 num_buckets=BUCKETS)
    return table, time.perf_counter() - t0


def _lookup_requests(rng, n: int, base_n: int, epochs: list[int],
                     seg_rows: dict[int, int]) -> list[list[str]]:
    """Every request asks for four keys: a base key (live, updated or
    deleted by now), a key a replayed epoch may have inserted, a hot key
    and a key that never existed. The same mix in every request keeps the
    latency distribution unimodal."""
    reqs = []
    for i in range(n):
        e = epochs[int(rng.integers(0, len(epochs)))]
        reqs.append([
            f"doc_{int(rng.integers(2, base_n)):09d}",
            f"doc_{base_n + e * STRIDE + int(rng.integers(0, seg_rows[e])):09d}",
            f"doc_{int(rng.integers(0, 2)):09d}",
            f"doc_{999_000_000 + i:09d}",
        ])
    return reqs


def _row_tuple(r) -> tuple:
    d = r.asDict()
    return (list(d["tokens"]) if d["tokens"] is not None else None,
            d["n_tok"], d["source"], d.get("lang"))


def _read_phase(run: Run, tr: Tracer, spark, table, oracle, last_epoch: int,
                feed_from: tuple[int, int], requests: list[list[str]],
                scans: int) -> dict:
    """Lookups, full scans and one change feed over the head snapshot;
    every result is checked against the oracle after timing."""
    head = table.current()
    has_lang = "lang" in head.schema.names()
    out = {"lookup_s": [], "lookup_files": [], "scan_s": [], "feed_s": 0.0}
    answers = []
    for i, keys in enumerate(requests):
        t0 = time.perf_counter()
        df = table.lookup(spark, keys)
        with tr.span("bench.lookup_exec"):
            rows = df.collect()
        if i >= LOOKUP_WARMUP:
            out["lookup_s"].append(time.perf_counter() - t0)
        if tr.enabled:
            out["lookup_files"].append(len(df.inputFiles()))
        answers.append({r["doc_id"]: _row_tuple(r) for r in rows})
    expected = oracle.rows_for(last_epoch, sorted({k for q in requests
                                                   for k in q}))
    for keys, got in zip(requests, answers):
        want = {k: tuple(expected[k]) for k in keys if k in expected}
        run.ok(f"lookup {keys}", [] if got == want
               else [f"got {sorted(got)} want {sorted(want)}"])

    live_rows = 0
    aggs = []
    for _ in range(scans):
        t0 = time.perf_counter()
        with tr.span("bench.scan"):
            df = table.read(spark)
            with tr.span("bench.scan_exec"):
                agg = df.agg(*scan_aggregate_columns(has_lang)).collect()[0]
        out["scan_s"].append(time.perf_counter() - t0)
        aggs.append(tuple(None if v is None else int(v) for v in agg))
        live_rows = aggs[-1][0]
    exp = oracle.scan_aggregate(last_epoch)
    for a in aggs:
        run.ok("scan", [] if a == exp else [f"aggregate {a} != {exp}"])
    out["live_rows"] = live_rows

    v_from, e_from = feed_from
    t0 = time.perf_counter()
    with tr.span("bench.changes"):
        df = table.changes_between(spark, v_from, head.version)
        with tr.span("bench.changes_exec"):
            df.write.format("noop").mode("overwrite").save()
    out["feed_s"] = time.perf_counter() - t0
    counts = {r["_change_op"]: int(r["count"]) for r in
              df.groupBy("_change_op").count().collect()}
    exp_counts = oracle.change_counts(e_from, last_epoch)
    run.ok("change feed", [] if counts == exp_counts
           else [f"{counts} != {exp_counts}"])
    out["feed_rows"] = sum(counts.values())
    run.ctx["reads"] = out
    return out


def _check_final_state(run: Run, spark, table, oracle, last_epoch: int):
    out = run.path("final_state")
    table.read(spark).write.mode("overwrite").parquet(out)
    run.ok("final state", oracle.compare_table(last_epoch, out))


def _ingest_report(run: Run, reads: dict, table, space_from: int,
                   events: int) -> None:
    head = table.current()
    files, size = _table_files(table, head)
    added = _added_files(table, space_from, head.version)
    run.put("lookup_s_p50", percentile(reads["lookup_s"], 50), "s")
    run.put("lookup_s_p75", percentile(reads["lookup_s"], 75), "s")
    run.put("lookup_s_p90", percentile(reads["lookup_s"], 90), "s")
    run.put("lookup_requests", len(reads["lookup_s"]), "count")
    run.put("scan_rows_per_s",
            reads["live_rows"] / median(reads["scan_s"]), "rows/s")
    run.put("feed_rows_per_s", reads["feed_rows"] / reads["feed_s"],
            "rows/s")
    run.put("table_bytes_per_row", size / max(1, reads["live_rows"]),
            "bytes/row")
    run.put("write_bytes_per_event",
            sum(b for _, b in added) / max(1, events), "bytes/event")
    run.e2e["read_s_p50"] = percentile(reads["lookup_s"], 50)
    run.layers.update({
        "tables.live_files": files,
        "tables.table_bytes_per_row": size / max(1, reads["live_rows"]),
        "tables.write_bytes_per_event":
            sum(b for _, b in added) / max(1, events),
    })


def _epoch_layers(run: Run, tr: Tracer, jobs: JobLog, epoch_spans: list,
                  events: int) -> None:
    """Per-layer metrics of the timed epochs (traced runs)."""
    durs = [s["t1"] - s["t0"] for s in epoch_spans]
    selfs = [tr.self_s(s) for s in epoch_spans]
    # self time plus children must rebuild each epoch's duration
    bad = []
    for s, d, st in zip(epoch_spans, durs, selfs):
        kids = sum(c["t1"] - c["t0"] for c in tr.children(s["id"]))
        if abs(st + kids - d) > 1e-6:
            bad.append(f"epoch span {s['id']}: {st} + {kids} != {d}")
    run.ok("epoch self-time identity", bad)

    def under(name):
        ids = {s["id"] for s in epoch_spans}
        return [s for s in tr.named(name) if _has_ancestor(tr, s, ids)]

    def dsum(spans):
        return sum(s["t1"] - s["t0"] for s in spans)

    sub_ids = {s["id"] for s in epoch_spans}
    for s in epoch_spans:
        sub_ids |= {d["id"] for d in tr.descendants(s["id"])}
    write_ids = {s["id"] for s in under("tables.write")}
    n = max(1, len(epoch_spans))
    run.layers.update({
        "streaming.epoch_s_p50": median(durs),
        "streaming.epoch_s_max": max(durs, default=0.0),
        "streaming.epoch_self_s_p50": median(selfs),
        "streaming.spark_jobs_per_epoch": len(jobs.jobs_of(sub_ids)) / n,
        "streaming.shuffle_bytes_per_event":
            jobs.total(sub_ids, "shuffle_write") / max(1, events),
        "streaming.spill_bytes": jobs.total(sub_ids, "spill"),
        "streaming.task_skew": median([
            jobs.widest_stage_skew({s["id"]}) for s in epoch_spans]),
        "sources.wal_read_s_p50": median(
            [s["t1"] - s["t0"] for s in under("sources.wal_read")]),
        "operators.lww_calls": len(under("operators.lww")),
        "operators.lww_build_s": dsum(under("operators.lww")),
        "operators.merge_lww_calls": len(under("operators.merge_lww")),
        "operators.merge_bcast_calls": len(under("operators.merge_bcast")),
        "operators.merge_build_s": dsum(under("operators.merge_lww")
                                        + under("operators.merge_bcast")),
        "functions.ntok_build_s": dsum(under("functions.ntok")),
        "tables.read_plan_s_p50": median(
            [s["t1"] - s["t0"] for s in under("tables.read")]),
        "tables.write_s_p50": median(
            [s["t1"] - s["t0"] for s in under("tables.write")]),
        "tables.write_shuffle_bytes_per_event":
            jobs.total(write_ids, "shuffle_write") / max(1, events),
        "tables.adopt_s_p50": median(
            [s["t1"] - s["t0"] for s in under("tables.adopt")]),
        "tables.commit_s_p50": median(
            [s["t1"] - s["t0"] for s in under("tables.commit")]),
        "tables.evolve_s": dsum(under("tables.evolve")),
        "tables.evolve_calls": len(under("tables.evolve")),
    })


def _has_ancestor(tr: Tracer, span: dict, ids: set[int]) -> bool:
    p = span["parent"]
    while p is not None:
        if p in ids:
            return True
        p = tr.spans[p]["parent"]
    return False


def _read_layers(run: Run, tr: Tracer, reads: dict) -> None:
    def first_child(parent_name, child_name):
        return [c["t1"] - c["t0"] for p in tr.named(parent_name)
                for c in tr.children(p["id"]) if c["name"] == child_name]

    run.layers.update({
        "tables.lookup_plan_s_p50": median(tr.durations("tables.lookup")),
        "tables.lookup_exec_s_p50": median(tr.durations("bench.lookup_exec")),
        "tables.lookup_files_p50": median(reads["lookup_files"]),
        "tables.scan_plan_s": median(first_child("bench.scan",
                                                 "tables.read")),
        "tables.scan_exec_s": median(tr.durations("bench.scan_exec")),
        "tables.changes_plan_s": sum(first_child("bench.changes",
                                                 "tables.changes")),
        "tables.changes_exec_s": sum(tr.durations("bench.changes_exec")),
    })


def _segments_bytes(wal_dir: str, epochs: list[int]) -> int:
    total = 0
    for e in epochs:
        d = os.path.join(wal_dir, f"epoch-{e:05d}")
        total += sum(os.path.getsize(os.path.join(d, f))
                     for f in os.listdir(d))
    return total


# ---------------------------------------------------------------------
# cow_catchup
# ---------------------------------------------------------------------

def cow_catchup(run: Run, tr: Tracer, spark) -> None:
    """Closed loop, one client: replay a pre-landed backlog in CoW mode."""
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )

    n_timed = 2 * max(2, round(run.seconds / 5))  # four at --seconds 10
    sizes = COW_WARMUP + [COW_BIG if i % 2 == 0 else COW_SMALL
                          for i in range(n_timed)]
    n_warm = len(COW_WARMUP)
    base_dir, wal_dir = run.path("base"), run.path("wal")

    t0 = time.perf_counter()
    gen.write_base(base_dir, run.seed, COW_BASE, MAX_LEN)
    seg_rows = {}
    for e, n in enumerate(sizes):
        gen.write_segment(os.path.join(wal_dir, f"epoch-{e:05d}"),
                          gen.segment_table(run.seed, e, n, COW_BASE,
                                            STRIDE, MAX_LEN))
        seg_rows[e] = n
    datagen_s = time.perf_counter() - t0
    run.mark("inputs generated")
    timed_epochs = list(range(n_warm, len(sizes)))
    events = sum(sizes[n_warm:])

    # --- setup: bootstrap + warm-up epochs ---
    table, boot_s = _bootstrap(run, spark, base_dir)
    engine = CdcEngine(spark, table, WalSource(wal_dir), run.path("ckpt"),
                       merge_mode="cow", broadcast_threshold=COW_BCAST_ROWS)
    t0 = time.perf_counter()
    with tr.span("bench.warmup"):
        engine.run(max_epochs=n_warm)
    warm_s = time.perf_counter() - t0
    run.e2e["setup_s"] = run.session_build_s + boot_s + warm_s
    run.mark("bootstrap and warm-up")
    v_from = table.current().version

    # --- timed catch-up ---
    t_start = time.time()
    t0 = time.perf_counter()
    with tr.span("bench.catchup"):
        results = engine.run()
    wall = time.perf_counter() - t0
    for r in results:
        run.ok(f"epoch {r.epoch}", [] if r.status == "committed"
               else [f"status {r.status}"])
    commits = sorted(table.snapshot_at(v).committed_at
                     for v in range(v_from + 1, table.current().version + 1))
    epoch_s = np.diff([t_start] + commits).tolist()
    log(f"  timed epochs: {[round(t, 3) for t in epoch_s]}")
    run.put("ingest_events_per_s", events / wall, "events/s")
    run.put("epoch_s_p50", median(epoch_s), "s")
    run.e2e["rate_per_s"] = events / wall
    run.mark("catch-up replay")

    # --- reads ---
    oracle = ChangeLogOracle(base_dir, wal_dir)
    last = len(sizes) - 1
    rng = np.random.default_rng([run.seed, 3])
    reqs = _lookup_requests(rng, LOOKUP_WARMUP + COW_LOOKUPS, COW_BASE,
                            timed_epochs, seg_rows)
    reads = _read_phase(run, tr, spark, table, oracle, last,
                        (v_from, n_warm - 1), reqs, scans=COW_SCANS)
    run.mark("reads")
    _ingest_report(run, reads, table, v_from, events)
    _check_final_state(run, spark, table, oracle, last)
    oracle.close()
    run.mark("final-state check")

    quarantined = sum(r.conflicts for r in results)
    applied = sum(r.rows_applied for r in results)
    run.layers.update({
        "sources.datagen_s": datagen_s,
        "sources.wal_bytes_per_event":
            _segments_bytes(wal_dir, timed_epochs) / events,
        "tables.bootstrap_s": boot_s,
        "streaming.warmup_s": warm_s,
        "streaming.busy_frac": 1.0,
        "streaming.backlog_max": len(timed_epochs),
        "streaming.rows_in": events,
        "streaming.rows_quarantined": quarantined,
        "streaming.rows_applied": applied,
        "streaming.applied_frac": applied / events,
        "tables.scan_files": len(table.current().files),
    })
    if tr.enabled:
        run.layers["streaming.busy_frac"] = sum(
            tr.durations("streaming.epoch")[-len(results):]) / wall
        added = _added_files(table, v_from, v_from + len(results))
        run.layers["tables.files_added_per_epoch"] = median(
            [f for f, _ in added])
        run.layers["tables.bytes_added_per_epoch"] = median(
            [b for _, b in added])
        run.ctx["timed_epochs"] = results


# ---------------------------------------------------------------------
# mor_tail
# ---------------------------------------------------------------------

def mor_tail(run: Run, tr: Tracer, spark) -> None:
    """Open loop: a lander process drops a segment every MOR_INTERVAL_S;
    the engine tails the WAL in MOR mode with compaction deferred."""
    import e_commerce_batch_etl_pipeline_spark.tables.maintenance as maint
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming.microbatch import (
        CdcEngine,
    )

    n_timed = max(5, round(run.seconds / MOR_INTERVAL_S))
    n_total = MOR_WARMUP + n_timed
    lang_from = MOR_WARMUP + n_timed // 2
    base_dir, wal_dir = run.path("base"), run.path("wal")
    pending = run.path("pending")

    t0 = time.perf_counter()
    gen.write_base(base_dir, run.seed, MOR_BASE, MAX_LEN)
    for e in range(n_total):
        d = os.path.join(wal_dir if e < MOR_WARMUP else pending,
                         f"epoch-{e:05d}")
        gen.write_segment(d, gen.segment_table(
            run.seed, e, MOR_SEGMENT, MOR_BASE, STRIDE, MAX_LEN,
            hot_key_frac=0.0, with_lang=e >= lang_from))
    datagen_s = time.perf_counter() - t0
    run.mark("inputs generated")
    timed_epochs = list(range(MOR_WARMUP, n_total))
    events = MOR_SEGMENT * n_timed

    table, boot_s = _bootstrap(run, spark, base_dir)
    engine = CdcEngine(spark, table, WalSource(wal_dir), run.path("ckpt"),
                       merge_mode="mor", mor_compact_files=None)
    t0 = time.perf_counter()
    with tr.span("bench.warmup"):
        engine.run()
    warm_s = time.perf_counter() - t0
    run.e2e["setup_s"] = run.session_build_s + boot_s + warm_s
    run.mark("bootstrap and warm-up")
    v_from = table.current().version

    # --- timed open-loop tail ---
    land_log = run.path("landed.jsonl")
    start = time.time() + 0.2
    lander = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(__file__), "lander.py"),
        "--pending", pending, "--wal", wal_dir,
        "--epochs", ",".join(map(str, timed_epochs)),
        "--start", repr(start), "--interval", repr(MOR_INTERVAL_S),
        "--log", land_log,
    ])
    try:
        t0 = time.perf_counter()
        with tr.span("bench.tail"):
            results = engine.follow(poll_sec=MOR_POLL_S, max_epochs=n_timed,
                                    idle_timeout_sec=10 * MOR_INTERVAL_S)
        tail_wall = time.perf_counter() - t0
    finally:
        try:
            lander.wait(timeout=10 * MOR_INTERVAL_S)
        except subprocess.TimeoutExpired:
            lander.kill()
            lander.wait()
    run.ok("lander", [] if lander.returncode == 0
           else [f"exit code {lander.returncode}"])
    for r in results:
        run.ok(f"epoch {r.epoch}", [] if r.status == "committed"
               else [f"status {r.status}"])
    if len(results) != n_timed:
        run.ok("tail", [f"{len(results)} of {n_timed} segments applied"])
    with open(land_log) as f:
        landed = {d["epoch"]: d for d in map(json.loads, f)}
    head = table.current()
    committed = {}
    for v in range(v_from + 1, head.version + 1):
        s = table.snapshot_at(v)
        committed[s.props.get("epoch")] = s.committed_at
    fresh = freshness(committed, landed, timed_epochs)
    service = [r.duration_sec for r in results]
    run.put("freshness_s_p50", percentile(fresh, 50), "s")
    run.put("freshness_s_p75", percentile(fresh, 75), "s")
    run.put("freshness_samples", len(fresh), "count")
    run.e2e["rate_per_s"] = events / sum(service)
    run.mark("open-loop tail")

    dpb: dict[int, int] = {}
    for f in head.files:
        if f.get("kind") == "delta":
            dpb[f["bucket"]] = dpb.get(f["bucket"], 0) + 1

    # --- reads on the fragmented head ---
    oracle = ChangeLogOracle(base_dir, wal_dir)
    last = n_total - 1
    rng = np.random.default_rng([run.seed, 3])
    reqs = _lookup_requests(rng, LOOKUP_WARMUP + MOR_LOOKUPS, MOR_BASE,
                            timed_epochs, dict.fromkeys(timed_epochs,
                                                        MOR_SEGMENT))
    reads = _read_phase(run, tr, spark, table, oracle, last,
                        (v_from, MOR_WARMUP - 1), reqs, scans=1)
    scan_files = len(table.current().files)
    run.mark("reads")

    # --- deferred compaction, one timed pass ---
    before = table.current()
    t0 = time.perf_counter()
    maint.compact(table, spark, max_files_per_bucket=1)
    compact_s = time.perf_counter() - t0
    run.put("compact_s", compact_s, "s")
    after = table.current()
    out_paths = {f["path"] for f in after.files} - \
        {f["path"] for f in before.files}
    in_paths = {f["path"] for f in before.files} - \
        {f["path"] for f in after.files}
    run.mark("compaction")
    _ingest_report(run, reads, table, v_from, events)
    _check_final_state(run, spark, table, oracle, last)
    oracle.close()
    run.mark("final-state check")

    lateness = [d["landed"] - d["due"] for d in landed.values()]
    run.layers.update({
        "sources.datagen_s": datagen_s,
        "sources.wal_bytes_per_event":
            _segments_bytes(wal_dir, timed_epochs) / events,
        "sources.landing_late_s_max": max(lateness),
        "tables.bootstrap_s": boot_s,
        "streaming.warmup_s": warm_s,
        "streaming.busy_frac": sum(service) / tail_wall,
        "streaming.backlog_max": _backlog_max(landed, committed,
                                              timed_epochs),
        "streaming.rows_in": events,
        "streaming.rows_quarantined": sum(r.conflicts for r in results),
        "streaming.rows_applied": sum(r.rows_applied for r in results),
        "streaming.applied_frac":
            sum(r.rows_applied for r in results) / events,
        "tables.delta_files_per_bucket_max": max(dpb.values(), default=0),
        "tables.scan_files": scan_files,
        "tables.compact_s": compact_s,
        "tables.compact_bytes_rewritten": sum(
            os.path.getsize(os.path.join(table.root, p)) for p in out_paths),
        "tables.compact_files_in": len(in_paths),
        "tables.compact_files_out": len(out_paths),
    })
    if tr.enabled:
        added = _added_files(table, v_from, v_from + len(results))
        run.layers["tables.files_added_per_epoch"] = median(
            [f for f, _ in added])
        run.layers["tables.bytes_added_per_epoch"] = median(
            [b for _, b in added])
        run.ctx["timed_epochs"] = results


def freshness(committed: dict, landed: dict, epochs: list[int]) -> list:
    """Per segment: commit time of the snapshot that applied it minus the
    time it was due to land (open loop: a stall delays every later
    segment, and that wait counts)."""
    return [committed[e] - landed[e]["due"] for e in epochs]


def _backlog_max(landed: dict, committed: dict, epochs: list[int]) -> int:
    """Most segments landed but not yet committed at any landing."""
    worst = 0
    for e in epochs:
        t = landed[e]["landed"]
        n = sum(1 for x in epochs
                if landed[x]["landed"] <= t and committed[x] > t)
        worst = max(worst, n)
    return worst


# ---------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------

def query_suite(run: Run, tr: Tracer, spark) -> None:
    """Closed loop: the 17 headline queries, executed to the noop sink."""
    from e_commerce_batch_etl_pipeline_spark.queries import ORACLES, QUERIES

    sf_dir = run.path("sf")
    t0 = time.perf_counter()
    gen.write_query_tables(sf_dir, run.seed, QUERY_SF)
    datagen_s = time.perf_counter() - t0
    run.mark("inputs generated")

    # warm-up pass: each query collected to Arrow (kept for the checks)
    results = {}
    t0 = time.perf_counter()
    with tr.span("bench.first_pass"):
        for name in HEADLINE:
            results[name] = QUERIES[name](spark, sf_dir).toArrow()
    first_pass_s = time.perf_counter() - t0
    run.e2e["setup_s"] = run.session_build_s + first_pass_s
    run.mark("warm-up pass")

    passes = max(QUERY_PASSES, round(run.seconds / 5))
    pass_s, per_query = [], {n: [] for n in HEADLINE}
    for _ in range(passes):
        tp = time.perf_counter()
        with tr.span("bench.pass"):
            for name in HEADLINE:
                t0 = time.perf_counter()
                with tr.span(f"bench.query.{name}"):
                    _run_to_noop(QUERIES[name](spark, sf_dir))
                per_query[name].append(time.perf_counter() - t0)
                run.attempted += 1
        pass_s.append(time.perf_counter() - tp)
    log(f"  pass times: {[round(t, 3) for t in pass_s]}")
    run.put("query_suite_s", median(pass_s), "s")
    run.e2e["rate_per_s"] = len(HEADLINE) * passes / sum(pass_s)

    # one query, executed again and again: a latency over many samples
    read_s = []
    with tr.span("bench.read_repeats"):
        for _ in range(READ_REPEATS):
            t0 = time.perf_counter()
            _run_to_noop(QUERIES[READ_QUERY](spark, sf_dir))
            read_s.append(time.perf_counter() - t0)
            run.attempted += 1
    log(f"  {READ_QUERY} times: {[round(t, 3) for t in read_s]}")
    run.put(f"{READ_QUERY}_s_p50", median(read_s), "s")
    run.e2e["read_s_p50"] = median(read_s)
    run.mark("timed passes and repeated query")

    oracle = QueryOracle(sf_dir)
    for name in HEADLINE:
        run.ok(f"query {name}", oracle.compare(ORACLES[name], results[name]))
    oracle.close()
    run.mark("oracle checks")

    run.layers.update({
        "sources.datagen_s": datagen_s,
        "queries.first_pass_s": first_pass_s,
        **{f"queries.{n}_s": median(ts) for n, ts in per_query.items()},
    })


def _run_to_noop(df) -> None:
    """Execute every column of ``df`` (``count()`` could prune them)."""
    df.write.format("noop").mode("overwrite").save()


WORKLOADS = {
    "cow_catchup": cow_catchup,
    "mor_tail": mor_tail,
    "query_suite": query_suite,
}


def finish_layers(run: Run, tr: Tracer) -> None:
    """Spark-side attribution, after the session stopped (traced runs)."""
    jobs = JobLog(run.path("events"))
    results = run.ctx.get("timed_epochs")
    if results is not None:
        parents = {s["id"] for s in tr.named("bench.catchup")
                   + tr.named("bench.tail")}
        epochs = [s for s in tr.named("streaming.epoch")
                  if s["parent"] in parents]
        _epoch_layers(run, tr, jobs, epochs, int(run.layers[
            "streaming.rows_in"]))
        attempts = tr.counts.get("streaming.attempts", 0)
        run.layers["streaming.epochs_retried"] = attempts - len(
            tr.named("streaming.epoch"))
        _read_layers(run, tr, run.ctx["reads"])
    passes = {s["id"] for s in tr.named("bench.pass")}
    if passes:
        qids = set()
        for p in passes:
            qids |= {d["id"] for d in tr.descendants(p)} | {p}
        run.layers["queries.spark_jobs"] = len(jobs.jobs_of(qids)) / len(
            passes)
        run.layers["queries.shuffle_bytes"] = jobs.total(
            qids, "shuffle_write") / len(passes)


def log_span_table(tr: Tracer) -> None:
    log(f"{'span':<34}{'calls':>6}{'total_s':>10}{'self_s':>10}"
        f"{'p50_s':>9}")
    for name, calls, total, self_s, p50 in tr.table():
        log(f"{name:<34}{calls:>6}{total:>10.3f}{self_s:>10.3f}{p50:>9.3f}")
