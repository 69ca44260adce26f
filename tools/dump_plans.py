#!/usr/bin/env python
"""Dump .explain("formatted") for named queries into --out.

Usage: python tools/dump_plans.py --tag after --out DIR q1 q2 ...

``--out`` is required, so a run never overwrites committed plans by
default.

Run from any checkout's root (the cwd on sys.path decides which code
is explained); the session is bench.py's ``bench_session``, so the
plan matches what the bench executes.  Output files:
<out>/<query>_<tag>.txt
"""
from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.getcwd())

from bench import bench_session  # noqa: E402
from ex9_big_data_gal_drimer_spark.plans import QUERIES  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="after")
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    spark, _ = bench_session("ex9-dump-plans", args.sf)

    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        df = QUERIES[name](spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        plan = buf.getvalue()
        print(
            f"{name}: {path}  Exchange={plan.count('Exchange (')}"
            f" Reused={plan.count('ReusedExchange')}"
            f" BatchEvalPython={plan.count('BatchEvalPython')}",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
