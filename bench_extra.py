"""Optimization-round measurement harness (bench.py stays frozen).

Per-query isolation per the optimization guide §1.4: each headline query
is timed with the noop sink (computes every column, discards output) and
separately with the frozen-bench methodology (construct + count), median
of N repeats, with jobs labeled via setJobDescription. Also dumps
``explain("formatted")`` for each query to plans/r06/.

Usage:
  python bench_extra.py queries [names...]   # per-query timings + plans
  python bench_extra.py replay               # replay micro-bench (CoW+MOR)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
     (default: the CPUs this process may run on), SPARK_DRIVER_MEMORY
     (default: build_session's),
     BENCH_EXTRA_REPEATS (default 3), BENCH_EXTRA_PLANS_DIR (default none:
     set to e.g. plans/r06 with suffix via BENCH_EXTRA_PLAN_SUFFIX)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                          len(os.sched_getaffinity(0))))
REPEATS = int(os.environ.get("BENCH_EXTRA_REPEATS", "3"))
PLANS_DIR = os.environ.get("BENCH_EXTRA_PLANS_DIR", "")
PLAN_SUFFIX = os.environ.get("BENCH_EXTRA_PLAN_SUFFIX", "")


def build(master=None, shuffle=None):
    from e_commerce_batch_etl_pipeline_spark.session import build_session

    return build_session(
        app_name="bench-extra",
        master=master or f"local[{CPUS}]",
        shuffle_partitions=shuffle or CPUS,
    )


def time_queries(names=None):
    from e_commerce_batch_etl_pipeline_spark.queries import QUERIES
    import bench

    spark = build()
    sc = spark.sparkContext
    # same warm-up as the frozen bench
    for t in ("lineitem", "orders", "customer", "nation", "region", "part",
              "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).count()
    todo = names or bench.HEADLINE
    out = {}
    for name in todo:
        q = QUERIES[name]
        construct, counts, noops = [], [], []
        for i in range(REPEATS):
            sc.setJobDescription(f"{name}#count{i}")
            t0 = time.time()
            df = q(spark, SF_DIR)
            t1 = time.time()
            df.count()
            t2 = time.time()
            construct.append(t1 - t0)
            counts.append(t2 - t0)
            sc.setJobDescription(f"{name}#noop{i}")
            df2 = q(spark, SF_DIR)
            t3 = time.time()
            df2.write.format("noop").mode("overwrite").save()
            noops.append(time.time() - t3)
        sc.setJobDescription(None)
        if PLANS_DIR:
            os.makedirs(PLANS_DIR, exist_ok=True)
            with open(os.path.join(
                    PLANS_DIR, f"{name}{PLAN_SUFFIX}.txt"), "w") as f:
                f.write(q(spark, SF_DIR)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")))
        out[name] = {
            "count_med": round(statistics.median(counts), 3),
            "count_min": round(min(counts), 3),
            "construct_med": round(statistics.median(construct), 3),
            "noop_med": round(statistics.median(noops), 3),
            "noop_min": round(min(noops), 3),
            "samples_count": [round(x, 3) for x in counts],
        }
        print(f"{name}: count_med={out[name]['count_med']} "
              f"construct={out[name]['construct_med']} "
              f"noop_med={out[name]['noop_med']}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"sf": SF_DIR, "queries": out,
                      "total_count_med": round(sum(
                          v["count_med"] for v in out.values()), 3)}))


def time_replay(modes=("cow", "mor"), repeats=None):
    import shutil

    import bench

    repeats = repeats or max(1, REPEATS - 1)
    tmp = tempfile.mkdtemp(prefix="bench_extra_cdc_")
    out = {}
    try:
        spark = build()
        bench.prepare_replay_input(spark, os.path.join(tmp, "input"))
        spark.stop()
        n = min(CPUS, 16)
        spark_r = build(f"local[{n}]", n)
        for mode in modes:
            rates = []
            for i in range(repeats):
                rep = bench.run_replay(
                    spark_r, os.path.join(tmp, "input"),
                    os.path.join(tmp, f"{mode}{i}"), merge_mode=mode)
                rates.append(rep["events_per_sec"])
                print(f"replay {mode}#{i}: {rep}", file=sys.stderr)
            out[mode] = {"median": statistics.median(rates), "all": rates}
        spark_r.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        time_queries(sys.argv[2:] or None)
    elif cmd == "replay":
        time_replay(modes=tuple(sys.argv[2:]) or ("cow", "mor"),
                    repeats=int(os.environ.get("BENCH_EXTRA_REPLAY_REPEATS",
                                               "0")) or None)
    else:
        raise SystemExit(f"unknown command {cmd}")
