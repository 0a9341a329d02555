"""Benchmark entry point.

    python3 perfbench/run.py --workload job-segmentation --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  One run starts one Spark session, makes
its inputs from ``--seed``, warms up, then drives identical ops closed-loop
(one client) for ``--seconds`` and checks every op's output.  It stops
Spark, waits for the JVM and its Python workers to exit, and prints the
metrics as one JSON object on the last line of stdout; a readable table
goes to stderr.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
plain ops with traced ops (each layer in its own span) and reports the
per-layer metrics, plus the traced op's cost against the plain op's
(``trace.overhead_ratio``).  Spans are written to
``.perfbench_out/spans-<workload>-<seed>.json``.

Exit status is 0 only when every op's output was correct.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def metric_units():
    """(end-to-end units, per-layer units) by metric name, from
    BENCHMARK.json at the repository root."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(wl, args, rss):
    """Warm up, then run the closed loop; returns (setup_s, plain op
    latencies, traced op latencies).  ``rss`` keeps the peak of the
    measured window only."""
    from perfbench import harness

    wl.setup()
    warm = [wl.op(i) for i in range(wl.warmup)]
    print("warm-up op s:", " ".join(f"{t:.2f}" for t in warm), file=sys.stderr)
    if wl.failures:
        raise RuntimeError(f"warm-up op failed its check: {wl.failures}")
    setup_s = time.perf_counter() - T_START
    rss.reset()
    first = wl.warmup
    if not args.trace:
        return setup_s, harness.closed_loop(wl.op, args.seconds, first), []
    plain, traced = [], []

    def pair(i):
        # a plain op (for job and task counts) and a traced op, back to back
        plain.append(wl.group_op(2 * i - first))
        traced.append(wl.traced_op(2 * i - first + 1))
        return plain[-1]

    harness.closed_loop(pair, args.seconds, first, min_ops=2)
    return setup_s, plain, traced


def main(argv=None) -> int:
    sys.path.insert(0, REPO)
    import label_maker_dask_spark

    # the program under test is the checkout's, never an installed copy
    pkg = os.path.dirname(os.path.abspath(label_maker_dask_spark.__file__))
    if os.path.dirname(pkg) != REPO:
        raise SystemExit(f"label_maker_dask_spark imported from {pkg}, not {REPO}")
    from perfbench import harness
    from perfbench.trace import Tracer, percentile
    from perfbench.workloads import WORKLOADS

    args = parse_args(argv)
    end_units, layer_units = metric_units()
    # on SIGTERM, still stop Spark and remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(enabled=bool(args.trace))
    try:
        with harness.RssSampler(os.getpid()) as rss:
            spark = harness.start_spark(work, REPO)
            try:
                wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
                setup_s, plain, traced = measure(wl, args, rss)
                wl.finish()
                out_bytes = wl.out_bytes_per_item()
                if args.trace:
                    layer = {**wl.per_layer(), **wl.kernels()}
            finally:
                harness.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(plain) + len(traced)
    failed_ops = {op for op, _ in wl.failures}
    failed = attempted if None in failed_ops else len(failed_ops)
    for op, why in wl.failures:
        print(f"CHECK FAILED (op {op}): {why}", file=sys.stderr)

    if args.trace:
        layer["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(plain)
        values = {k: float(layer.get(k, 0.0)) for k in layer_units}
        units = layer_units
        out_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    else:
        p50, n = percentile(plain, 50)
        values = {
            "items_per_s": wl.items_per_op * len(plain) / sum(plain),
            "op_s.p50": p50,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
            "out_bytes_per_item": out_bytes,
            "ok_ratio": (attempted - failed) / attempted,
        }
        units = end_units
        print(f"{args.workload}: {n} ops of {wl.items_per_op} items, "
              f"fail_ratio {failed / attempted:.4f}", file=sys.stderr)
    print("measured op s:", " ".join(f"{t:.2f}" for t in plain + traced),
          file=sys.stderr)
    for k, v in values.items():
        print(f"  {k:34s} {v:14.6g} {units[k]}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
