"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Run from the repository root.  Generates the workload's inputs from the
seed, sets up the engine (timed), measures for ``--seconds``, checks every
output and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Scratch files live under ``.bench_build/perfbench/`` and are removed on
exit; traced runs keep their spans in ``.bench_build/perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

WORKLOADS = ("serve", "ingest")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from perfbench import common as C

    if not os.path.isdir(os.path.join(root, C.PKG)):
        print(f"perfbench: package {C.PKG} not found under {root}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    args.trace_dir = os.path.join(base, "traces")
    C.configure_env(work)
    try:
        if args.workload == "serve":
            from perfbench import serve as workload
        else:
            from perfbench import ingest as workload
        out = workload.run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
