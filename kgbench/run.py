"""KG-construction benchmark for waka_spark.

    python3 kgbench/run.py --workload kg_submit_docs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark starts a ``local[4]`` Spark
session, builds the workload's inputs from ``--seed``, runs the workload
(see workloads.py: ``kg_serve`` sends requests for ``--seconds`` seconds,
at least one; ``kg_submit_docs`` runs one fresh job and its resume), checks
every output against gold and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
workload with the Spark event log on, one job group per span, and reports
the per-layer metrics (spans.py) after printing the per-layer table.

Exit status: 0 when every check passed, 1 when a check failed (the JSON is
still printed), 2 when the program to measure is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = (
    ("turns_per_s", "1/s"),
    ("request_p50_s", "s"),
    ("resume_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
)


def parse_args(argv=None) -> argparse.Namespace:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(args: argparse.Namespace) -> tuple[dict, list[str]]:
    """Run one workload; return the result object and its report lines."""
    import common
    import spans
    import workloads

    run = workloads.Run()
    work = common.Workdir(ROOT, args.workload)
    try:
        with common.PeakRss() as rss:
            t0 = time.perf_counter()
            spark = common.start_spark(ROOT, work, trace=bool(args.trace))
            session_s = time.perf_counter() - t0
            tracer = None
            if args.trace:
                tracer = spans.Tracer(spark.sparkContext)
                spans.instrument(tracer)
            try:
                ctx = workloads.Context(
                    spark, work, args.seed, args.seconds, tracer)
                workloads.WORKLOADS[args.workload](ctx, run, session_s)
            finally:
                if tracer is not None:
                    tracer.stop()
                common.stop_spark(spark)
        lines = [f"checks: {run.attempted - run.failed}/{run.attempted} "
                 f"passed, failed_ratio {run.failed / run.attempted:.4f}"]
        lines += [f"FAILED: {p}" for p in run.problems]
        if args.trace:
            metrics = traced_metrics(run, tracer, work)
            lines.append(spans.format_table(metrics))
            spans_file = work.path.parent / (
                f"spans-{args.workload}-seed{args.seed}.json")
            tracer.dump(spans_file)
            lines.append(f"spans: {spans_file}")
            units = {name: unit for name, unit, _ in spans.per_layer_spec()}
        else:
            metrics = run.end_to_end()
            metrics["setup_s"] = run.setup_s
            metrics["peak_rss_mb"] = rss.peak / 2**20
            units = dict(END_TO_END)
            lines.append(
                f"samples: {len(run.unit_s)} timed units "
                f"{[round(s, 3) for s in run.unit_s]}, "
                f"{len(run.resume_s)} resumes; JVM peak resident "
                f"{rss.jvm_peak / 2**20:.0f} MB (not a metric)")
    finally:
        work.close()
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": value, "unit": units[name]}
                    for name, value in metrics.items()},
    }
    return result, lines


def traced_metrics(run, tracer, work) -> dict[str, float]:
    """Per-layer metrics of the traced units, from spans and event log."""
    import common
    import spans

    (log,) = (work / "eventlog").iterdir()
    groups = spans.parse_event_log(log)
    metrics = spans.layer_metrics(
        tracer.spans, groups, run.traced_units, common.CORES)
    layer_wall = sum(metrics[f"{layer}.wall_s"] for layer in spans.LAYERS)
    jobs = sum(metrics[f"{layer}.jobs"] for layer in spans.LAYERS)
    metrics.update({
        "linking.candidates_per_mention": 0.0,
        "linking.rerank_kept_ratio": 0.0,
        "conflicts.dirty_conv_share": 0.0,
        "checkpoint.write_bytes": 0,
        "checkpoint.manifest_wall_s": 0.0,
        "serve.jobs_per_request": 0.0,
        **run.extra,
        "pass.wall_s": run.traced_wall_s,
        "pass.span_cover": layer_wall / run.traced_wall_s,
    })
    if metrics["serve.wall_s"] > 0:
        metrics["serve.jobs_per_request"] = jobs / len(run.unit_s)
    return metrics


def main(argv=None) -> int:
    if not (ROOT / "waka_spark").is_dir():
        print(f"kgbench: no waka_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    result, lines = measure(args)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
