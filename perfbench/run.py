"""Benchmark of the tiered-storage engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: broker_tier, consumer_fetch, iceberg_table_mode, llm_curation
(see README.md). The run builds its inputs from the seed, measures whole
rounds for ``--seconds``, checks the engine's outputs against answers made
apart from it, and prints one JSON object as the last line of standard
output. With ``--trace 0`` it holds the end-to-end metrics; with
``--trace 1`` the per-layer metrics of a traced run, whose spans are also
written to ``.perfbench_out/trace/``. A failed check exits with code 2
and prints no result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402
from perfbench.common import REPO_ROOT, peak_rss_mb, process_tree, wait_gone  # noqa: E402
from perfbench.trace import NULL_TRACER, Tracer  # noqa: E402

OUT_DIR = os.path.join(REPO_ROOT, ".perfbench_out")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "round_s_min": "s",
    "op_ms_min": "ms",
}


def per_layer_units() -> dict[str, str]:
    """The per-layer metrics BENCHMARK.json declares, name -> unit."""
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


WORKLOADS = {
    "broker_tier": "byte_path",
    "consumer_fetch": "byte_path",
    "iceberg_table_mode": "table_mode",
    "llm_curation": "curation",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine under test comes from the checkout; without it, fail here
    import tiered_storage_for_apache_kafka_spark  # noqa: F401

    module = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    layer_units = per_layer_units() if args.trace else {}

    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"work-{args.workload}-", dir=OUT_DIR)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    tracer = Tracer() if args.trace else NULL_TRACER
    try:
        result = getattr(module, args.workload)(
            args.seed, args.seconds, tracer, work, T_START
        )
        rss_mb = result.peak_rss_mb or peak_rss_mb()
    except checks.CheckFailed as e:
        print(f"check failed: {e}", file=sys.stderr)
        return 2
    finally:
        tracer.restore()
        wait_gone([p for p in process_tree() if p != os.getpid()])
        shutil.rmtree(work, ignore_errors=True)

    values = {
        "setup_s": result.setup_s,
        "peak_rss_mb": rss_mb,
        "round_s_min": min(result.rounds),
        "op_ms_min": min(result.op_ms),
    }
    # the medians, printed and traced but not bounded: see README.md,
    # "Steadiness and bounds"
    medians = {
        "round_s_p50": checks.median(result.rounds),
        "op_ms_p50": checks.median(result.op_ms),
    }
    print(
        "detail "
        + json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "rounds": len(result.rounds),
                "ops": len(result.op_ms),
                **values,
                **medians,
                **result.detail,
            }
        )
    )
    if args.trace:
        trace_dir = os.path.join(OUT_DIR, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
        result.layers.update(medians)
        unknown = sorted(set(result.layers) - set(layer_units))
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        metrics = {
            n: {"value": float(result.layers.get(n, 0.0)), "unit": u}
            for n, u in layer_units.items()
        }
    else:
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": True,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
