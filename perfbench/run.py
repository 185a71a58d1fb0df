"""The engine's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload stream_jobs --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout of the repository.  It measures the
workload for `--seconds` seconds, checks the program's outputs outside
the timed region, prints every metric with its unit and sample count,
and prints as its last stdout line one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import PKG, Context, Metric, Outcome  # noqa: E402

WORKLOADS = ("stream_jobs", "batch_query_mix")
END_TO_END = ("setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s")
# The per-layer metrics each workload measures, by name prefix.  The JSON
# line of a traced run lists every per-layer metric of BENCHMARK.json;
# those of layers the workload never calls read 0.
RUNS_LAYERS = {
    "stream_jobs": (
        "peak_rss_mb", "session.", "json_events.", "jobs.", "pipeline.", "sinks.",
        "stateful.", "generator.",
    ),
    "batch_query_mix": ("peak_rss_mb", "session.", "catalog.", "registry.", "operators."),
}


def runs_layer(workload: str, name: str) -> bool:
    return name.startswith(RUNS_LAYERS[workload])


def layer_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run(ctx: Context) -> Outcome:
    import harness

    harness.pin_environment(ctx)
    outcome = Outcome()
    spark = harness.start_session(ctx, outcome)
    try:
        log = harness.make_progress_log(spark)
        if ctx.workload == "batch_query_mix":
            import batch

            batch.batch_query_mix(ctx, spark, outcome, T_PROCESS)
        else:
            import streams

            streams.stream_jobs(ctx, spark, log, outcome, T_PROCESS)
        outcome.layers["peak_rss_mb"] = Metric(harness.jvm_peak_rss_mb(spark), "MB")
    finally:
        harness.stop_spark(spark)
    return outcome


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ package in {root}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work_root = os.path.join(root, ".perfbench")
    ctx = Context(
        work=os.path.join(work_root, f"run-{os.getpid()}"),
        seed=a.seed,
        seconds=a.seconds,
        trace=bool(a.trace),
        workload=a.workload,
    )
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.work)
    try:
        outcome = run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)

    units = layer_units()
    missing = [m for m in END_TO_END if m not in outcome.end_to_end]
    if ctx.trace:
        missing += [n for n in units if runs_layer(a.workload, n) and n not in outcome.layers]
    if missing:
        print(f"perfbench: workload measured no {missing}", file=sys.stderr)
        return 1
    for p in outcome.problems:
        print(f"CHECK FAILED: {p}")
    ratio = outcome.failed / max(outcome.attempted, 1)
    shown = dict(outcome.end_to_end)
    shown.update({k: v for k, v in outcome.aliases.items() if v is not None})
    shown["failed_ratio"] = Metric(ratio, "ratio", outcome.attempted)
    shown.update({n: outcome.layers[n] for n in units if n in outcome.layers})
    for name, m in shown.items():
        print(f"{a.workload} {name} = {m.value:.6g} {m.unit} (n={m.samples})")
    if ctx.trace:
        metrics = {
            n: outcome.layers[n] if runs_layer(a.workload, n) else Metric(0, u)
            for n, u in units.items()
        }
    else:
        metrics = {n: outcome.end_to_end[n] for n in END_TO_END}
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": max(outcome.attempted, 1),
        "failed": outcome.failed,
        "metrics": {n: {"value": m.value, "unit": m.unit} for n, m in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
