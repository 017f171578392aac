"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload lake_and_corpus --seed 1 --seconds 4 --trace 0

Run it from the root of a checkout. Workloads: ``lake_and_corpus`` and
``live_ingest`` (see BENCHMARK.json and perfbench/README.md). ``--trace 0``
prints the end-to-end metrics, ``--trace 1`` the per-layer ones (spans,
Spark event log, tracing overhead). ``--smoke`` runs a tiny input;
``--inject-wrong`` corrupts one answer before it is checked, which must
show up as a failed operation.

Human-readable lines go first; the last line of stdout is the JSON result
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {"lake_and_corpus": "lake", "live_ingest": "ingest"}


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--inject-wrong", action="store_true")
    return ap.parse_args(argv)


def _shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway's JVM and wait until it and every process
    under it (the Python worker daemon and its workers) has exited."""
    from pyspark import SparkContext

    import common

    started = common.descendants(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — already closed
            pass
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.time() < deadline:
        time.sleep(0.2)


def _spark_layers(ctx, res: dict) -> dict[str, float]:
    """Event-log counters summed over the intervals in which the program
    ran timed work (``res["spark_windows"]``), so the benchmark's own
    answer checks and oracle runs never count."""
    from spans import EventLog

    log = EventLog(ctx.path("eventlog"))
    out: dict[str, float] = {}
    for t0, t1 in res["spark_windows"]:
        for k, v in log.window(t0, t1).items():
            out[f"spark.{k}"] = out.get(f"spark.{k}", 0.0) + v
    for f in res.get("families", []):
        gaps = [log.window(o.t0, o.t1)["driver_gap_s"] for o in res["ops"] if o.family == f and o.ok]
        out[f"spark.{f}.driver_gap_s"] = statistics.median(gaps) if gaps else 0.0
    return out


def main(argv: list[str]) -> int:
    a = _args(argv)
    root = os.getcwd()
    for need in ("vectra_player_spark/__init__.py", "tests/oracle_harness.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}; run from a checkout root", file=sys.stderr)
            return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, root]

    import common

    ctx = common.Ctx(root, a.workload, a.seed, a.seconds, bool(a.trace), a.smoke, a.inject_wrong)
    common.prepare_env(ctx)
    mod = __import__(WORKLOADS[a.workload])
    try:
        res = mod.run(ctx)
    finally:
        _shutdown_jvm()

    ops = res.get("ops")
    if ops is not None:
        attempted, failed = len(ops), sum(not o.ok for o in ops)
        errors = [f"{o.name}: {o.error}" for o in ops if not o.ok]
    else:
        attempted, failed, errors = res["attempted"], res["failed"], []
    errors += res.get("problems", [])
    failed = max(failed, 1 if errors else 0)
    correct = not errors

    results_dir = os.path.join(root, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    if a.trace:
        metrics = dict(res["layers"])
        metrics.update(_spark_layers(ctx, res))
        metrics.update({f"{k}.self_s": v for k, v in ctx.tracer.self_times().items()})
        ref = os.path.join(results_dir, f"{a.workload}-{a.seed}.json")
        if os.path.exists(ref):
            with open(ref) as fh:
                untraced = json.load(fh)["latency_p50_s"]
            metrics["trace.overhead_s"] = res["e2e"]["latency_p50_s"] - untraced
        else:
            print("no untraced run of this workload and seed yet: trace.overhead_s reads 0")
        ctx.tracer.dump(os.path.join(root, ".perfbench", "traces", f"{a.workload}-{a.seed}.jsonl"))
        wanted = spec["per_layer"]
    else:
        metrics = res["e2e"]
        with open(os.path.join(results_dir, f"{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump(metrics, fh)
        wanted = spec["end_to_end"]

    out = {}
    for m in wanted:
        out[m["name"]] = {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
    print(f"workload {a.workload} seed {a.seed}: {res['samples']}")
    for name, v in out.items():
        print(f"  {name} = {v['value']:.6g} {v['unit']}")
    for name in sorted(set(metrics) - set(out)):  # measured, but not a listed metric
        print(f"  {name} = {metrics[name]:.6g} (not in BENCHMARK.json)")
    print(f"  failed_ops_ratio = {failed / max(1, attempted):.6g} ({failed} of {attempted})")
    print(f"  correct = {correct}")
    for e in errors[:10]:
        print(f"  error: {e}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
