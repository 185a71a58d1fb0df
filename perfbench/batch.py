"""batch_query_mix: registry queries stratified by operator family, run by
one closed-loop client, each built with `spec.fn(spark, sf_dir)` and
executed with the noop sink."""

from __future__ import annotations

import math
import random
import time
import traceback
from collections import defaultdict
from decimal import Decimal

from harness import SF_DIR, Context, Metric, Outcome, median, percentile

# One query per operator family: the 24 operator modules grouped by the
# module they were split from (events_* into events, analytics_* into
# analytics, similarity_ann into similarity, curation* into text, scd
# into relational, udf_ops and sources.pydatasource into python_boundary).
# Each was drawn once with random.Random(1) from its family's light
# queries (first execution <= 1.0 s and warm execution <= 0.5 s on 4
# cores; the lightest one where a family has none), so that a run fits
# the time budget; on the sf0.1 fixture tables each takes 0.2-0.8 s warm,
# build included.  The list is fixed: every run and every seed executes
# the same queries, and --seed only orders them within each timed pass.
SAMPLE = (
    ("analytics", "events_ab_srm_check"),
    ("cohorts", "events_audience_overlap"),
    ("dedup", "dedup_short_doc_coverage"),
    ("events", "events_gapfill_hourly"),
    ("multimodal", "multimodal_metadata"),
    ("pipeline_ops", "dataset_weighted_sample"),
    ("privacy", "privacy_pii_scan_documents"),
    ("python_boundary", "text_sentences_udtf"),
    ("relational", "q1_pricing_summary"),
    ("similarity", "embedding_dim_stats"),
    ("text", "text_token_stats"),
    ("windows", "lateral_top_order_per_customer"),
)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v + 0.0, 9)
    if isinstance(v, Decimal):
        return round(float(v), 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(_norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rowset(rows, cols) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


class JobCounter:
    """Exact job / stage / task counts per job group from Spark's
    status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.n = 0

    def group(self, label: str) -> str:
        self.n += 1
        g = f"perfbench-{self.n}-{label}"
        self.sc.setJobGroup(g, label)
        return g

    def count(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return len(jobs), stages, tasks


def batch_query_mix(ctx: Context, spark, outcome: Outcome, t_process: float) -> None:
    import duckdb

    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs
    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import (
        TABLES,
        load_table,
    )

    t = time.perf_counter()
    for name in TABLES:
        load_table(spark, SF_DIR, name)
    outcome.layers["catalog.warm_load_s"] = Metric(time.perf_counter() - t, "s", len(TABLES))

    specs = all_specs()
    for _, name in SAMPLE:
        outcome.check(name in specs, f"sampled query {name} is not registered")
    chosen = [(f, specs[n]) for f, n in SAMPLE if n in specs]
    jc = JobCounter(spark)
    results = {}
    # warm-up pass: every query once; its rows are kept for the oracle check
    for _, spec in chosen:
        jc.group(f"warm:{spec.name}")
        try:
            df = spec.fn(spark, SF_DIR)
            results[spec.name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception:  # a failing query is a failed operation, not a dead run
            outcome.check(False, f"{spec.name} failed:\n{traceback.format_exc()}")
    chosen = [(f, spec) for f, spec in chosen if spec.name in results]
    outcome.end_to_end["setup_s"] = Metric(time.perf_counter() - t_process, "s")

    rng = random.Random(ctx.seed)
    runs = []  # (family, spec, build_s, exec_s, build_group, exec_group)
    passes = 0
    t_open = time.perf_counter()
    while chosen and (passes == 0 or time.perf_counter() - t_open < ctx.seconds):
        passes += 1
        order = list(chosen)
        rng.shuffle(order)
        for family, spec in order:
            gb = jc.group(f"build:{spec.name}")
            t0 = time.perf_counter()
            try:
                df = spec.fn(spark, SF_DIR)
                gx = jc.group(f"exec:{spec.name}")
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception:
                outcome.check(False, f"{spec.name} failed:\n{traceback.format_exc()}")
                continue
            t2 = time.perf_counter()
            runs.append((family, spec, t1 - t0, t2 - t1, gb, gx))
            outcome.attempted += 1
    wall = time.perf_counter() - t_open
    if not runs:
        return

    lat = [(b + x) * 1000.0 for _, _, b, x, _, _ in runs]
    outcome.end_to_end["latency_p50_ms"] = Metric(median(lat), "ms", len(lat))
    outcome.end_to_end["latency_p90_ms"] = Metric(percentile(lat, 90), "ms", len(lat))
    outcome.end_to_end["throughput_per_s"] = Metric(len(runs) / wall, "1/s", len(runs))
    outcome.aliases["query_p50_s"] = Metric(median(lat) / 1000.0, "s", len(lat))
    outcome.aliases["query_p90_s"] = Metric(percentile(lat, 90) / 1000.0, "s", len(lat))
    outcome.aliases["queries_per_min"] = Metric(60.0 * len(runs) / wall, "1/min", len(runs))

    con = duckdb.connect()
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'")
    for _, spec in chosen:
        cols, rows = results[spec.name]
        rel = con.sql(spec.oracle)
        want = rel.fetchall()
        ok = sorted(cols) == sorted(rel.columns) and (
            _rowset(rows, cols) == _rowset(want, rel.columns)
        )
        outcome.check(ok, f"{spec.name} differs from its DuckDB oracle")
    con.close()

    if ctx.trace:
        _layers(outcome, jc, runs, passes)


def _layers(outcome: Outcome, jc: JobCounter, runs, passes: int) -> None:
    L = outcome.layers
    build_jobs = jobs = stages = tasks = 0
    per_family: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])
    for family, _, b, x, gb, gx in runs:
        bj, bs, bt = jc.count(gb)
        xj, xs, xt = jc.count(gx)
        build_jobs += bj
        jobs += bj + xj
        stages += bs + xs
        tasks += bt + xt
        f = per_family[family]
        f[0] += b + x
        f[1] += bj + xj
    L["registry.build_s"] = Metric(median([r[2] for r in runs]), "s", len(runs))
    L["operators.exec_s"] = Metric(median([r[3] for r in runs]), "s", len(runs))
    # counts per pass over the sample, so they do not scale with speed
    L["operators.build_jobs"] = Metric(build_jobs / passes, "count", len(runs))
    L["operators.jobs"] = Metric(jobs / passes, "count", len(runs))
    L["operators.stages"] = Metric(stages / passes, "count", len(runs))
    L["operators.tasks"] = Metric(tasks / passes, "count", len(runs))
    for family, (s, j) in per_family.items():
        L[f"operators.{family}.s"] = Metric(s / passes, "s", passes)
        L[f"operators.{family}.jobs"] = Metric(j / passes, "count", passes)
