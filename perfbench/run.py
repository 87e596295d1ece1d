"""Benchmark entry point.

Run from the root of a checkout of the repository::

    python3 perfbench/run.py --workload power_etl --seed 1 --seconds 20 --trace 0

Prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Failed ops are listed by name on the line before it.
Exits 2 without a result when the program is not in the working
directory.

A run measures one pass of the workload's fixed op pool, so its length is
set by the work, not by ``--seconds``; ``run_seconds`` in
``BENCHMARK.json`` is the usual length of an untraced pass. A traced run
first makes the untraced run of the same seed in a child process, for
``trace.overhead_ratio``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("power_etl", "curation")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted for the benchmark interface; see above")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "powerdatapipeline_spark",
                                       "queries.py")):
        print(f"perfbench: {root} holds no powerdatapipeline_spark package; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    sys.path[:0] = [HERE, root]
    import harness

    result, failed = harness.run(args.workload, args.seed, args.seconds,
                                 bool(args.trace), root, T_PROCESS)
    units = {m["name"]: m["unit"] for m in declared}
    if set(result["metrics"]) != set(units):
        raise RuntimeError(
            "metrics differ from BENCHMARK.json: "
            f"{sorted(set(result['metrics']) ^ set(units))}")
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in result["metrics"].items()}
    if failed:
        print("perfbench: failed ops: " + "; ".join(failed))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
