"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--cores N]

Run from the root of a checkout of this repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Everything the run writes
stays under ``.bench_work/`` in the checkout and is removed at the end.
See ``perfbench/workloads.json`` for what each workload stresses.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402  (starts the setup clock)

WORKLOADS = ("dashboard", "ingest", "registry", "gate")
PACKAGE = "sparkstreaming_gmall_demo_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 4),
                   help="local[N] cores of the Spark session (default: min(4, nproc))")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    ctx = common.Ctx(args, root)
    ctx.prepare_env(event_log=bool(args.trace))
    module = importlib.import_module(args.workload)
    try:
        if args.trace:
            import layers

            result = layers.traced_run(ctx, module)
        else:
            result = module.run(ctx)
            rss = common.peak_rss_mb([os.getpid(), ctx.jvm_pid()])
            metrics = {
                "setup_s": common.metric(result["setup_end"] - common.T0, "s"),
                "peak_rss_mb": common.metric(rss, "MB"),
                "p50_ms": common.metric(result["p50_ms"], "ms"),
                "p90_ms": common.metric(result["p90_ms"], "ms"),
                "work_per_s": common.metric(result["work_per_s"], "1/s"),
            }
            result = metrics
    except Exception:
        traceback.print_exc()
        ctx.stop()
        ctx.cleanup()
        return 1
    ctx.stop()
    ctx.cleanup()
    common.emit(ctx, result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
