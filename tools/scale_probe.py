"""Per-query timer: a cold pass, then N timed reps, of registered queries.

MRBench's measure (N identical runs of one job) over the query registry.
Per query: one cold pass (builds staged artifacts, warms the JIT), then
``--reps`` runs, each after ``spark.catalog.clearCache()``. Every pass
executes the whole plan into the noop sink (``sinks.write_noop``), so no
driver-side collection is timed. One JSON line per query, then a summary
line; the exit code is 1 if any query failed.

With no ``--queries`` the whole registry is swept once, except the
exact-mode walls in ``SKIP_WALLS`` (their scale twins run instead). A
walled query named in ``--queries`` runs.

Usage:
  python tools/scale_probe.py --sf-dir DATA_DIR \\
      --queries wordcount,dedup_components --reps 2
  python tools/scale_probe.py --sf-dir /tmp/qms_sf1    # sweep (tools/make_sf1.py)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quatrain_mapreduce_spark import get_spark  # noqa: E402
from quatrain_mapreduce_spark.registry import all_queries  # noqa: E402
from quatrain_mapreduce_spark.sources.sinks import write_noop  # noqa: E402

SKIP_WALLS = {
    "graph_summary": "exact wedge enumeration, >10 min at sf1 (ground truth; sampled twin runs)",
    "triangle_count": "exact wedge enumeration, >10 min at sf1 (ground truth; sampled twin runs)",
    "doc_similarity_pairs": "deliberate quadratic ground truth (LSH path runs)",
    "user_similarity_knn": "deliberate quadratic ground truth (ANN path runs)",
}


def _timed(spark, q, sf_dir: str) -> float:
    spark.catalog.clearCache()
    t0 = time.monotonic()
    write_noop(q.fn(spark, sf_dir))
    return round(time.monotonic() - t0, 3)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--queries", default=None,
                    help="comma-separated registered query names "
                         "(default: every query except SKIP_WALLS)")
    ap.add_argument("--reps", type=int, default=0,
                    help="timed reps after the cold pass")
    args = ap.parse_args()

    qs = all_queries()
    if args.queries:
        names = args.queries.split(",")
        unknown = [n for n in names if n not in qs]
        if unknown:
            raise SystemExit(f"not registered: {unknown}")
    else:
        names = [n for n in qs if n not in SKIP_WALLS]

    spark = get_spark(app_name="qms-scale-probe")
    cold: dict[str, float] = {}
    failed: dict[str, str] = {}
    for name in names:
        try:
            cold_s = _timed(spark, qs[name], args.sf_dir)
            reps = [_timed(spark, qs[name], args.sf_dir) for _ in range(args.reps)]
        except Exception as exc:  # noqa: BLE001 — report it and sweep on
            failed[name] = f"{type(exc).__name__}: {exc}"[:400]
            print(json.dumps({"query": name, "error": failed[name]}), flush=True)
            continue
        cold[name] = cold_s
        print(json.dumps({
            "query": name, "cold_s": cold_s, "reps": reps,
            "min_s": min(reps, default=None),
            "median_s": round(statistics.median(reps), 3) if reps else None,
        }), flush=True)
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "n_ran": len(cold),
        "n_failed": len(failed),
        "total_cold_s": round(sum(cold.values()), 1),
        "slowest": dict(sorted(cold.items(), key=lambda kv: -kv[1])[:10]),
        "failed": failed,
    }), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
