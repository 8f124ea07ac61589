"""Benchmark driver: one closed-loop client, one workload, one process.

    python3 perfbench/run.py --workload {qcew_etl,registry_batch}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_cache/``, the engine's SparkSession is started and the
workload's warm-up ops run, then whole passes of the workload's ops run back
to back until ``--seconds`` have passed. ``setup_s`` runs from process start
(interpreter, imports, JVM launch) to the first timed op, less the input
generation. Every op's output is checked after the timed phase. A report goes
to stderr; the last stdout line is the JSON result.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` re-runs the same
work with spans, job groups, the Spark event log, a streaming listener and
the UDF profiler on, reports the per-layer metrics and writes the spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _load_spec() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    return bench, spec


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "jp_qcew_spark")):
        _fail(f"no engine sources next to {HERE}: run from a full checkout")
    bench, spec = _load_spec()
    if args.workload not in spec["workloads"]:
        _fail(f"unknown workload {args.workload!r}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # keep every file the run writes inside the checkout: Python and JVM
    # temp files, Spark scratch space and the engine's stream checkpoints
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_GRAFT_STREAM_CKPT"] = tmp

    import workloads
    from tracing import Tracer, driver_peak_rss_mb, percentile, tree_cpu_s

    wl = workloads.make(spec["workloads"][args.workload])
    traced = bool(args.trace)

    t = time.perf_counter()
    wl.generate(CACHE, args.seed)
    gen_s = time.perf_counter() - t

    ctx = workloads.Context(Tracer(traced), OUT, args.seed)
    try:
        ctx.start_session()
        wl.warm_up(ctx)
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        ctx.begin_timed()
        t0 = time.perf_counter()
        passes = []
        pass_cpu = []
        while len(passes) < workloads.MIN_PASSES or time.perf_counter() - t0 < args.seconds:
            p0, c0 = time.perf_counter(), tree_cpu_s()
            wl.one_pass(ctx, len(passes))
            passes.append(time.perf_counter() - p0)
            pass_cpu.append(tree_cpu_s() - c0)
        timed_s = time.perf_counter() - t0
        ctx.n_passes = len(passes)
        ctx.end_timed()
        extra = wl.after_timed(ctx) if traced else {}
    finally:
        ctx.stop()
    peak_rss_mb = driver_peak_rss_mb()
    ctx.shutdown_jvm()

    wl.check(ctx)
    timed_ops = [o for o in ctx.ops if o["timed"]]
    lat = [o["s"] for o in timed_ops if o["family"].startswith(wl.LATENCY_FAMILIES)]
    failed: dict[str, str] = {}
    for o in timed_ops:
        if not o["ok"]:
            failed.setdefault(o["name"], o.get("problem", "?"))
    n_failed = sum(not o["ok"] for o in timed_ops)
    attempted = len(timed_ops)

    report = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(passes), "s"),
        "op_p50_s": (percentile(lat, 50), "s"),
        "op_p90_s": (percentile(lat, 90), "s"),
        "failed_op_ratio": (n_failed / attempted, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "cpu_s": (statistics.median(pass_cpu), "s"),
        **wl.end_to_end(ctx, passes),
    }
    print(f"== {args.workload} seed={args.seed} trace={args.trace} "
          f"gen_s={gen_s:.2f} "
          f"passes={len(passes)} ({', '.join(f'{p:.2f}' for p in passes)} s) "
          f"timed_s={timed_s:.2f} "
          f"ops={attempted} (latency samples: {len(lat)})", file=sys.stderr)
    for k, (v, unit) in report.items():
        shown = "omitted (fewer than 100 ops)" if v is None else f"{v:.6g} {unit}"
        print(f"  {k:<32} {shown}", file=sys.stderr)
    by_name: dict[str, list[float]] = {}
    for o in timed_ops:
        by_name.setdefault(o["name"], []).append(o["s"])
    print("  op latency medians (s): " + ", ".join(
        f"{n}={statistics.median(v):.3f}" for n, v in sorted(by_name.items())), file=sys.stderr)
    for name, problem in sorted(failed.items()):
        print(f"  FAILED {name}: {problem}", file=sys.stderr)

    if traced:
        layer = {**ctx.layer_metrics(), **ctx.layer, **extra}
        untraced = ctx.read_untraced(args.workload)
        if untraced is not None:
            layer["trace.overhead_s"] = report["wall_s"][0] - untraced
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        units |= {k: k.rsplit("_", 1)[1] for k in workloads.WORKLOAD_TIMES}
        for k in [*units, *sorted(k for k in layer if k.startswith("trace."))]:
            why = ctx.unmeasurable.get(k) or (
                "no op of this workload reaches this layer"
                if k in workloads.WORKLOAD_TIMES and not layer[k] else None)
            shown = f"not measurable: {why}" if why else f"{layer[k]:.6g} {units.get(k, '')}"
            print(f"  {k:<32} {shown}", file=sys.stderr)
        print(f"  spans -> {ctx.write_trace(args.workload, report, layer)}", file=sys.stderr)
        metrics = {m["name"]: _metric(layer[m["name"]], m["unit"]) for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: _metric(report[m["name"]][0], m["unit"])
                   for m in bench["end_to_end"]}
        ctx.record_untraced(args.workload, report["wall_s"][0])
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
