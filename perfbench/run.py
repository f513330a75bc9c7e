"""Benchmark entry point.

One run:
    python3 perfbench/run.py --workload cow_catchup --seed 1 --seconds 10 \
        --trace 0

prints the workload's own metrics and checks on stderr and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the gated end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Exit code 0 only when every
operation and correctness check passed.

Steadiness report (runs the workload N times in fresh processes, seeds
seed..seed+N-1, and prints median, quartiles and (Q3-Q1)/median of every
metric; ``--with-trace`` adds N traced runs and the tracing overhead):
    python3 perfbench/run.py --workload mor_tail --repeat 5 --with-trace
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.harness import Run, log  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    END_TO_END,
    MOR_LAYERS,
    PER_LAYER,
    WORKLOADS,
    finish_layers,
    install_wrappers,
    log_span_table,
)


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> int:
    try:
        import e_commerce_batch_etl_pipeline_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program under test: {exc}")
        return 2
    run = Run(workload, seed, seconds, trace)
    tr = Tracer(enabled=trace)
    crashed = False
    try:
        spark = run.start_spark()
        run.mark("session built")
        if trace:
            tr.sc = spark.sparkContext
        install_wrappers(tr)
        WORKLOADS[workload](run, tr, spark)
        run.put("peak_rss_mb", run.peak_rss_mib(), "MiB")
    except Exception:
        crashed = True
        run.ok("workload", [traceback.format_exc()])
    finally:
        tr.unwrap_all()
        run.stop_spark()
        run.mark("session stopped")
    if trace and not crashed:
        run.layers["session.build_s"] = run.session_build_s
        finish_layers(run, tr)
        log_span_table(tr)
    run.cleanup()

    log(f"--- {workload} seed={seed} trace={int(trace)}")
    for name, (value, unit) in sorted(run.report.items()):
        log(f"  {name:<28}{value:>14.6g} {unit}")
    log(f"  {'failed_op_frac':<28}{run.failed / max(1, run.attempted):>14.6g}"
        f" fraction ({run.failed} of {run.attempted})")
    if trace:
        for name, unit in MOR_LAYERS:
            if name in run.layers:
                log(f"  {name:<28}{run.layers[name]:>14.6g} {unit}"
                    " (layer metric outside BENCHMARK.json)")
    for p in run.problems:
        log(f"  FAILED {p}")
    correct = run.failed == 0
    log(f"  correct: {correct}")

    names = PER_LAYER if trace else END_TO_END
    src = run.layers if trace else run.e2e
    metrics = {n: {"value": float(src.get(n, 0.0)), "unit": u}
               for n, u in names if n in src or trace}
    print("e2e: " + json.dumps({n: v for n, v in run.e2e.items()}))
    print("report: " + json.dumps(run.report))
    print("layers: " + json.dumps(run.layers))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}),
          flush=True)
    return 0 if correct else 1


# ---------------------------------------------------------------------
# steadiness report
# ---------------------------------------------------------------------

def _child(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(int(trace))],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    out = {"wall_s": time.time() - t0, "rc": p.returncode}
    for line in lines:
        if line.startswith("e2e: "):
            out["e2e"] = json.loads(line[5:])
        elif line.startswith("report: "):
            out["report"] = {k: v[0] for k, v in
                             json.loads(line[8:]).items()}
        elif line.startswith("layers: "):
            out["layers"] = json.loads(line[8:])
    if lines:
        out["result"] = json.loads(lines[-1])
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3 - Q1) / median), quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def _table(title: str, series: dict[str, list[float]]) -> None:
    print(f"\n{title}")
    print(f"{'metric':<40}{'n':>3}{'median':>13}{'q1':>13}{'q3':>13}"
          f"{'spread':>9}")
    for name, vals in series.items():
        med, q1, q3, sp = spread(vals)
        sps = f"{sp:>9.3f}" if med else f"{'n/a':>9}"
        print(f"{name:<40}{len(vals):>3}{med:>13.6g}{q1:>13.6g}"
              f"{q3:>13.6g}{sps}")


def repeat(workload: str, n: int, seed0: int, seconds: int,
           with_trace: bool) -> int:
    plain, traced = [], []
    for i in range(n):
        r = _child(workload, seed0 + i, seconds, False)
        plain.append(r)
        print(f"run {i} seed={seed0 + i} rc={r['rc']} wall={r['wall_s']:.1f}s",
              flush=True)
        if with_trace:
            t = _child(workload, seed0 + i, seconds, True)
            traced.append(t)
            print(f"  traced rc={t['rc']} wall={t['wall_s']:.1f}s",
                  flush=True)
    ok = [r for r in plain if r["rc"] == 0]
    _table(f"{workload}: gated end-to-end metrics, untraced, {len(ok)} runs",
           {m: [r["result"]["metrics"][m]["value"] for r in ok]
            for m, _ in END_TO_END})
    _table(f"{workload}: workload metrics, untraced",
           {m: [r["report"][m] for r in ok]
            for m in (ok[0]["report"] if ok else {})})
    _table("run wall time", {"wall_s": [r["wall_s"] for r in plain]})
    tok = [t for t in traced if t["rc"] == 0]
    if tok:
        _table(f"{workload}: per-layer metrics, traced, {len(tok)} runs",
               {m: [t["layers"].get(m, 0.0) for t in tok]
                for m, _ in PER_LAYER + MOR_LAYERS})
        print("\ntracing overhead (traced median / untraced median - 1)")
        for m, _ in END_TO_END:
            a = statistics.median(r["e2e"][m] for r in ok)
            b = statistics.median(t["e2e"][m] for t in tok)
            print(f"{m:<40}{a:>13.6g}{b:>13.6g}{b / a - 1:>+9.3f}")
    bad = len(plain) - len(ok) + len(traced) - len(tok)
    return 0 if bad == 0 else 1


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="steadiness report over this many runs")
    ap.add_argument("--with-trace", action="store_true",
                    help="with --repeat: also traced runs and overhead")
    a = ap.parse_args(argv)
    if a.repeat:
        return repeat(a.workload, a.repeat, a.seed, a.seconds, a.with_trace)
    return run_once(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
