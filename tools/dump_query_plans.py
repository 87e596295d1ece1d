#!/usr/bin/env python
"""Dump explain("formatted") for chosen queries into
<outdir>/<stem>_<suffix>.txt — before/after plan evidence for an
operator change (tools/dump_plans.py is the different job of generating
PLANS.md). Driver-side plan build only: no query executes, though eager
operators still run their plan-build jobs, so use small tables.

Usage:
  python tools/dump_query_plans.py OUTDIR SUFFIX --sf DIR
      [QUERY ...] [--stream STEM=FRAME_FN ...] [--lazy]

  QUERY     a registry name (q135_pagerank); its file stem is the qNN
  --stream  also dump ``queries.FRAME_FN(spark, sf)`` under STEM — a
            streaming query's pre-sink frame, the exact DAG its
            micro-batches run (the memory sink has no batch plan to
            explain ahead of time), e.g. --stream q45=q45_stream_frame
  --lazy    identity-patch localCheckpoint/unpersist, so materializing
            operators show their full physical plan instead of the
            post-checkpoint ExistingRDD scan

"Before" plans come from a checkout of the earlier commit, or — for the
graph operators' distributed forms — from a run with
$SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS=0.
"""
from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _patch_lazy() -> None:
    # patch the RUNTIME class (Spark 4: pyspark.sql.DataFrame is the
    # facade; instances are classic.dataframe.DataFrame). Plan SHAPE is
    # unchanged by the patch — only the lineage cut is. unpersist is a
    # no-op so the dumped plan keeps the InMemoryTableScan substitutions
    # the operator really runs with.
    from pyspark.sql.classic.dataframe import DataFrame

    DataFrame.localCheckpoint = lambda self, eager=True: self
    DataFrame.unpersist = lambda self, blocking=False: self


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("outdir")
    ap.add_argument("suffix")
    ap.add_argument("queries", nargs="*", metavar="QUERY")
    ap.add_argument("--sf", required=True, help="fixture table directory")
    ap.add_argument("--stream", action="append", default=[],
                    metavar="STEM=FRAME_FN")
    ap.add_argument("--lazy", action="store_true")
    args = ap.parse_intermixed_args(argv)
    streams = dict(s.split("=", 1) for s in args.stream)
    if not args.queries and not streams:
        ap.error("name at least one QUERY or --stream")
    if args.lazy:
        _patch_lazy()

    from powerdatapipeline_spark import queries as Q
    from powerdatapipeline_spark.session import get_spark

    os.makedirs(args.outdir, exist_ok=True)
    spark = get_spark("dump_query_plans")
    spark.sparkContext.setLogLevel("ERROR")
    jobs = [(name.split("_")[0], name, Q.REGISTRY[name][0])
            for name in args.queries]
    jobs += [(stem, fn, getattr(Q, fn)) for stem, fn in streams.items()]
    for stem, label, build in jobs:
        df = build(spark, args.sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(args.outdir, f"{stem}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(f"== {label} @ {args.sf} ({args.suffix}) ==\n\n")
            f.write(txt)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
