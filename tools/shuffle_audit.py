#!/usr/bin/env python
"""Shuffle/spill audit: execute every registered query once at the
given SF and extract the EXECUTED plan's runtime metrics — shuffle
bytes/records written, spill bytes, broadcast sizes, scan output rows.

This answers the 100 TB question the plan *shape* alone can't: not
"is there a shuffle" but "how much does each shuffle actually carry".
A query whose only exchanges move kilobytes after map-side combine
scales with input; one that shuffles its input verbatim does not.

Writes SHUFFLE_r{N}.json:
  {query: {shuffle_bytes, shuffle_records, spill_bytes,
           broadcast_bytes, scan_rows, n_exchanges}}
plus a summary block (totals, zero-spill count, worst shufflers and
the shuffle-bytes : scan-rows ratio that flags verbatim-shuffle
plans).

The session is bench.py's ``bench_session`` (AQE off, 4 shuffle
partitions, cached tables) so the audited plans are the benched
plans.  Iterative-construction queries report the FINAL plan's
metrics; their construction-time jobs (fixpoint rounds, codebook
training) are documented separately in PLANS.md.

Usage: python tools/shuffle_audit.py SF_DIR OUT_JSON
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

from bench import bench_session  # noqa: E402
from ex9_big_data_gal_drimer_spark.catalog import release_query_caches  # noqa: E402
from ex9_big_data_gal_drimer_spark.plans import QUERIES  # noqa: E402


def _node_metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        try:
            out[kv._1()] = int(kv._2().value())
        except Exception:  # noqa: BLE001 — non-numeric metric
            pass
    return out


def collect_plan_metrics(df) -> dict[str, int]:
    """Walk the executed plan, summing the scale-relevant metrics."""
    agg = {
        "shuffle_bytes": 0,
        "shuffle_records": 0,
        "spill_bytes": 0,
        "broadcast_bytes": 0,
        "scan_rows": 0,
        "n_exchanges": 0,
    }

    def walk(node):
        name = node.nodeName()
        m = _node_metrics(node)
        if name.startswith("Exchange") or "ShuffleExchange" in name:
            agg["n_exchanges"] += 1
            agg["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            agg["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
        if "BroadcastExchange" in name:
            agg["broadcast_bytes"] += m.get("dataSize", 0)
        if "Scan" in name:
            agg["scan_rows"] += m.get("numOutputRows", 0)
        for k, v in m.items():
            if "spill" in k.lower():
                agg["spill_bytes"] += v
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))
        # AQE-materialized subtrees hang off queryStage inputs; with
        # AQE disabled in this harness the children walk is complete.

    walk(df._jdf.queryExecution().executedPlan())
    return agg


def main() -> int:
    # Both paths are required: an output default would overwrite a
    # committed SHUFFLE_r*.json artifact.
    if len(sys.argv) != 3:
        print("usage: python tools/shuffle_audit.py SF_DIR OUT_JSON", file=sys.stderr)
        return 2
    sf_dir, out_path = sys.argv[1:]

    spark, _ = bench_session("shuffle-audit", sf_dir)

    report: dict[str, dict] = {}
    for name, fn in sorted(QUERIES.items()):
        try:
            # bench.py methodology (round-14): query caches released per
            # run, so each audited plan executes its own cache fills.
            release_query_caches()
            df = fn(spark, sf_dir)
            df.toArrow()
            report[name] = collect_plan_metrics(df)
        except Exception as ex:  # noqa: BLE001
            report[name] = {"error": str(ex)[:200]}

    ok = {k: v for k, v in report.items() if "error" not in v}
    worst = sorted(ok.items(), key=lambda kv: -kv[1]["shuffle_bytes"])[:10]
    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "n_errors": len(report) - len(ok),
        "total_shuffle_mb": round(
            sum(v["shuffle_bytes"] for v in ok.values()) / 1e6, 2
        ),
        "queries_with_spill": [
            k for k, v in ok.items() if v["spill_bytes"] > 0
        ],
        "top_shufflers": [
            {"query": k, "shuffle_mb": round(v["shuffle_bytes"] / 1e6, 3),
             "shuffle_records": v["shuffle_records"],
             "scan_rows": v["scan_rows"]}
            for k, v in worst
        ],
    }
    with open(out_path, "w") as fh:
        json.dump({"summary": summary, "queries": report}, fh, indent=1)
    print(json.dumps(summary, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
