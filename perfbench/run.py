"""Benchmark entry point.

    python3 perfbench/run.py --workload toot_backfill --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (before Spark starts), starts
the engine's SparkSession, warms up, measures for ``--seconds``, checks
every output against a plain-Python reference and prints one JSON object as
the last line of stdout. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` its per-layer metrics (a separate run, with
spans, the streaming progress listener and Spark's monitoring API on).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from functools import partial  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARD_LIMIT_S = 170  # the whole run, set-up included


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")


def main() -> int:
    spec = _spec()
    workloads = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    traced = bool(args.trace)

    sys.path.insert(0, HERE)
    from common import PACKAGE

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"engine package {PACKAGE!r} not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(HARD_LIMIT_S)

    import bench_backfill
    import bench_stream
    from projet_5spar_sparkstreaming_spark.session import get_spark
    from common import (
        GC_LOG,
        HostCounters,
        RunDirs,
        SparkCounters,
        Tracer,
        heap_after_gc_mb,
        isolate_env,
        jvm_uptime_s,
        peak_rss_mb,
        stop_session,
    )

    if args.workload == "toot_stream":
        generate, cls = partial(bench_stream.generate, seconds=args.seconds), bench_stream.Stream
    else:
        generate, cls = bench_backfill.generate, bench_backfill.Backfill
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}["latency_p50_s"]
    dirs = RunDirs(ROOT, f"{args.workload}-{args.seed}-{args.trace}")
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        t = time.perf_counter()
        inputs = generate(args.seed, dirs)
        gen_s = time.perf_counter() - t
        conf = isolate_env(ROOT, dirs, ui=traced)

        t = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t
        wl = None
        try:
            tracer = Tracer(traced)
            wl = cls(spark, inputs, dirs, tracer)
            wl.warm_up()
            setup_s = time.perf_counter() - T_PROCESS - gen_s
            host = HostCounters()
            counters = SparkCounters(spark) if traced else None
            window = [jvm_uptime_s(spark)]
            wl.measure(args.seconds)
            window.append(jvm_uptime_s(spark))
            layer = host.shares()
            if counters:
                layer.update(counters.delta())
            rss = peak_rss_mb()
            errors = wl.check()
            if traced:
                layer.update(wl.per_layer())
                layer["session.start_s"] = session_s
        finally:
            if wl is not None:
                report["series"] = wl.series
            stop_session(spark)
        heap = heap_after_gc_mb(dirs.path(GC_LOG), *window)
    except Exception:
        traceback.print_exc()
        _emit(False, 1, 1, {})
        return 0
    finally:
        signal.alarm(0)
        dirs.close()

    attempted = wl.attempted()
    failed = attempted if errors else 0
    report.update(
        {
            "gen_s": gen_s,
            "session_s": session_s,
            "errors": errors,
            "heap_after_gc_mb": heap,
            "steadiness": wl.steadiness(bound),
            "host": {k: v for k, v in layer.items() if k.startswith("host.")},
        }
    )
    if traced:
        report["spans"] = tracer.spans
        table = spec["per_layer"]
        values = layer
    else:
        table = spec["end_to_end"]
        values = dict(wl.end_to_end(), setup_s=setup_s, peak_rss_mb=rss, peak_heap_mb=max(heap))
    metrics = {m["name"]: (float(values.get(m["name"], 0.0)), m["unit"]) for m in table}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(dict(report, metrics=metrics), f, indent=1, default=str)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({k: report[k] for k in ("steadiness", "host", "series")}, default=str))
    _emit(not errors, attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
