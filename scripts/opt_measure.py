"""Round-13 optimization measurement harness.

Times individual registered queries with the bench methodology (warm
session, noop sink, best-of-N) and captures `.explain("formatted")`
output per query, without paying for the full 206-query bench on every
iteration.

Usage:
    python scripts/opt_measure.py q1 q2 ...        # time + plan listed queries
    python scripts/opt_measure.py --plans-only --tag before q1 q2
    python scripts/opt_measure.py --all            # time everything (no plans)
    python scripts/opt_measure.py --top N          # time the N slowest from BENCH.json

Plans go to plans/r13/<query>_<tag>.txt (tag defaults to "probe", the
round deliverables use before/after). Timing prints one line per query.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--tag", default="probe")
    ap.add_argument("--plans-dir", default="r14")
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from tiered_storage_for_apache_kafka_spark.operators import QUERIES
    from tiered_storage_for_apache_kafka_spark.session import get_spark

    names = list(args.queries)
    if args.all:
        names = sorted(QUERIES)
    elif args.top:
        with open(os.path.join(REPO, "BENCH.json")) as f:
            bench = json.load(f)
        names = [n for n, _ in sorted(bench["queries"].items(), key=lambda kv: -kv[1])[: args.top]]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 1

    spark = get_spark(app_name="opt-measure")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = args.sf_dir

    # same warmups as bench.py so per-query numbers are steady-state
    _force(QUERIES["q1_pricing_summary"](spark, sf_dir))
    _force(QUERIES["tiered_offset_range_fetch"](spark, sf_dir))
    _force(QUERIES["streaming_user_totals_stateful"](spark, sf_dir))
    _force(QUERIES["datasource_offset_range_fetch"](spark, sf_dir))

    plans_dir = os.path.join(REPO, "plans", args.plans_dir)
    os.makedirs(plans_dir, exist_ok=True)

    timings: dict[str, float] = {}
    if not args.plans_only:
        for _p in range(args.passes):
            for name in names:
                spark.sparkContext.setJobDescription(f"opt:{name}")
                t0 = time.perf_counter()
                _force(QUERIES[name](spark, sf_dir))
                el = round(time.perf_counter() - t0, 4)
                timings[name] = min(timings.get(name, el), el)
        for name in names:
            print(f"{timings[name]:8.3f}  {name}")
        print(f"{sum(timings.values()):8.3f}  TOTAL({len(names)})")

    if not args.no_plans:
        for name in names:
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        print(
            f"plans written to plans/{args.plans_dir}/*_{args.tag}.txt",
            file=sys.stderr,
        )

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
