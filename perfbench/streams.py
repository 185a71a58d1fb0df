"""stream_jobs: the reference product-view job under an open-loop feed,
then the corpus-ingest job draining a backlog, in one session."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from gen import PV_WINDOW_S
from harness import (
    Context,
    Metric,
    Outcome,
    batch_stats,
    dir_files,
    median,
    parse_spark_time,
    percentile,
    stop_queries,
    wait_until,
)

GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")

PV_WATERMARK_S = 5
# the first batches plan and compile the job, then catch up on the files
# that landed meanwhile
PV_WARM_BATCHES = 3
# the product-view phase gets most of the window: its freshness
# percentiles need the batches, while the corpus drain's throughput is a
# mean over whole segments
PV_SHARE = 0.75

# corpus phase: one segment is one micro-batch of the job.
DOC_SEGMENT = 5_000
DOC_KEEP_THRESHOLD = 0.5  # the job's quality gate; the check recomputes it
DOC_PEAK_RATE = 5_000  # docs/s, over twice today's drain rate: sizes the backlog


def _generator(args: list[str]) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, GEN, *args], stdin=subprocess.DEVNULL)


def _finish(proc: subprocess.Popen, report: str, timeout: float) -> dict:
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    if rc != 0:
        raise RuntimeError(f"generator exited with {rc}")
    with open(report) as f:
        return json.load(f)


def stream_jobs(ctx: Context, spark, log, outcome: Outcome, t_process: float) -> None:
    """Each job runs alone for its share of the window: freshness comes
    from the product-view job, throughput from the corpus drain.  Set-up
    is the session plus both jobs' warm-up."""
    t0 = time.perf_counter()
    corpus_s = ctx.seconds * (1 - PV_SHARE)
    backlog = []
    # the corpus backlog is written while the product-view job is being
    # drained and checked, after its feed has stopped
    try:
        warm = _pv_phase(
            ctx, spark, log, outcome, ctx.seconds * PV_SHARE,
            after_feed=lambda: backlog.append(_start_backlog(ctx, corpus_s)),
        )
        warm += _corpus_phase(ctx, spark, log, outcome, corpus_s, *backlog[0])
    finally:
        for gen, _ in backlog:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
    outcome.end_to_end["setup_s"] = Metric(t0 - t_process + warm, "s")


def _pv_phase(
    ctx: Context, spark, log, outcome: Outcome, seconds: float, after_feed
) -> float:
    """Run the product-view job on the open-loop feed for `seconds` after
    its warm-up, calling `after_feed()` once the feed has stopped; return
    the warm-up time."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_product_view_job,
    )

    t_start = time.perf_counter()

    base = os.path.join(ctx.work, "pv")
    src_dir, stage, out_dir = (os.path.join(base, d) for d in ("in", "stage", "out"))
    for d in (src_dir, stage):
        os.makedirs(d)
    emitted: list[list[tuple]] = []
    collect_ms: list[float] = []

    def collector(df, epoch_id: int) -> None:
        t = time.perf_counter()
        emitted.append([(r["start"], r["source"], r["source_number"]) for r in df.collect()])
        collect_ms.append((time.perf_counter() - t) * 1000.0)

    ranking, parquet = run_product_view_job(
        spark, src_dir, out_dir, os.path.join(base, "chk"),
        window_duration=f"{PV_WINDOW_S} seconds",
        watermark=f"{PV_WATERMARK_S} seconds",
        collector=collector,
    )
    stop_file, late_file = os.path.join(base, "stop"), os.path.join(base, "late")
    report = os.path.join(base, "gen.json")
    gen = _generator([
        "pv-steady", "--out-dir", src_dir, "--stage", stage, "--report", report,
        "--stop-file", stop_file, "--late-file", late_file, "--seed", str(ctx.seed),
    ])
    try:
        warm = wait_until(
            lambda: all(
                sum(p["numInputRows"] > 0 for p in log.of(q)) >= PV_WARM_BATCHES
                for q in (ranking, parquet)
            ),
            timeout=120,
        )
        outcome.check(warm, "pv job produced no batches during warm-up")
        t_open = time.time()
        warm_s = time.perf_counter() - t_start
        # late events start only once the watermark is established, so
        # each one is dropped by the watermark for certain
        with open(late_file, "w"):
            pass
        time.sleep(seconds)
        t_close = time.time()
        with open(stop_file, "w"):
            pass
        gen_report = _finish(gen, report, timeout=30)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    after_feed()
    for q in (ranking, parquet):
        q.processAllAvailable()
    # progress reaches the listener asynchronously; the parquet query
    # also runs one closing no-data batch that applies the final
    # watermark and appends the windows it closes
    n_in = gen_report["events"]
    for q in (ranking, parquet):
        wait_until(lambda: sum(p["numInputRows"] for p in log.of(q)) >= n_in, timeout=10)
    wm_target = _max_event_time(log.of(parquet)) - PV_WATERMARK_S
    wait_until(lambda: _last_watermark(log.of(parquet)) >= wm_target - 1e-3, timeout=5)
    final_wm = _last_watermark(log.of(parquet))
    stop_queries(outcome, ranking, parquet)

    def in_window(progress: list[dict]) -> list[dict]:
        return [
            p for p in progress
            if p["numInputRows"] > 0 and t_open <= parse_spark_time(p["timestamp"]) < t_close
        ]

    rank_prog, park_prog = log.of(ranking), log.of(parquet)
    rank_timed, park_timed = in_window(rank_prog), in_window(park_prog)
    # the job's two sinks are two queries over the same feed, and a user
    # waits on whichever serves them: freshness pools the micro-batches of
    # both, which also doubles the samples behind the p90
    fresh = [
        (_batch_end(p) - parse_spark_time(p["eventTime"]["max"])) * 1000.0
        for p in rank_timed + park_timed
    ]
    outcome.check(
        len(rank_timed) > 1 and len(park_timed) > 1,
        "fewer than two batches per sink inside the timed window",
    )
    if fresh:
        outcome.end_to_end["latency_p50_ms"] = Metric(median(fresh), "ms", len(fresh))
        outcome.end_to_end["latency_p90_ms"] = Metric(percentile(fresh, 90), "ms", len(fresh))
    if len(rank_timed) > 1:
        # a batch takes the files that landed since the previous batch
        # started, so the timed batches' events arrived between the start
        # of the batch before the first of them and the start of the last
        rank_live = [p for p in rank_prog if p["numInputRows"] > 0]
        first = rank_live.index(rank_timed[0])
        t_from = parse_spark_time(rank_live[first - 1]["timestamp"]) if first else t_open
        span = parse_spark_time(rank_timed[-1]["timestamp"]) - t_from
        committed = sum(p["numInputRows"] for p in rank_timed)
        outcome.aliases["pv_events_per_s"] = Metric(committed / span, "1/s", len(rank_timed))
    outcome.aliases["freshness_p50_ms"] = outcome.end_to_end.get("latency_p50_ms")
    outcome.aliases["freshness_p90_ms"] = outcome.end_to_end.get("latency_p90_ms")
    outcome.attempted += len(rank_prog) + len(park_prog)

    # late events are merged by the partial aggregation before the state
    # operator drops them, so the drop counter counts partial groups;
    # that no late event was counted is checked against the tally below
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in rank_prog for o in p.get("stateOperators", [])
    )
    outcome.check(dropped > 0 or gen_report["late"] == 0, "late events were never dropped")
    _check_pv(spark, outcome, gen_report, emitted, out_dir, final_wm)
    L = outcome.layers
    lags = gen_report["lag_ms"]
    L["generator.events"] = Metric(gen_report["events"], "count")
    L["generator.lag_p50_ms"] = Metric(median(lags), "ms", len(lags))
    L["generator.lag_max_ms"] = Metric(max(lags), "ms", len(lags))
    L["json_events.latest_offset_ms"] = Metric(
        median([float(p["durationMs"].get("latestOffset", 0)) for p in rank_timed]),
        "ms", len(rank_timed))
    L["json_events.rows_per_batch"] = Metric(
        median([float(p["numInputRows"]) for p in rank_timed]), "count", len(rank_timed))
    batch_stats(rank_timed, "jobs.ranking", L)
    batch_stats(park_timed, "jobs.parquet", L)
    ops = [p["stateOperators"][0] for p in rank_timed if p.get("stateOperators")]
    _state_stats(ops, "pipeline.state", L)
    L["pipeline.rows_dropped_by_watermark"] = Metric(
        sum(o.get("numRowsDroppedByWatermark", 0) for o in ops), "count", len(ops))
    L["sinks.topk_collector_ms"] = Metric(median(collect_ms), "ms", len(collect_ms))
    return warm_s


def _batch_end(p: dict) -> float:
    return parse_spark_time(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


def _state_stats(ops: list[dict], prefix: str, layers: dict[str, Metric]) -> None:
    """Medians over batches of the state operator's size and commit time
    as `<prefix>_rows`, `<prefix>_bytes` and `<prefix>_commit_ms`."""
    for key, name, unit in (
        ("numRowsTotal", "rows", "count"),
        ("memoryUsedBytes", "bytes", "B"),
        ("commitTimeMs", "commit_ms", "ms"),
    ):
        layers[f"{prefix}_{name}"] = Metric(median([o[key] for o in ops]), unit, len(ops))


def _last_watermark(progress: list[dict]) -> float:
    wm = progress[-1].get("eventTime", {}).get("watermark") if progress else None
    return parse_spark_time(wm) if wm else 0.0


def _max_event_time(progress: list[dict]) -> float:
    return max(
        parse_spark_time(p["eventTime"]["max"])
        for p in progress
        if p.get("eventTime", {}).get("max")
    )


def _check_pv(
    spark, outcome: Outcome, gen_report: dict, emitted, out_dir: str, watermark: float
) -> None:
    """Windowed counts against the generator's own tally of on-time
    events: the last ranking update of every (window, source), and the
    closed windows the parquet sink appended.  A counted late event
    would break both."""
    tally = {(w, s): c for w, s, c in gen_report["tally"]}
    last: dict[tuple[int, str], int] = {}
    for rows in emitted:
        for start, source, n in rows:
            last[(int(start.timestamp()), source)] = n
    for key, n in tally.items():
        outcome.check(last.get(key) == n, f"ranking count {key}: {last.get(key)} != {n}")
    unknown = set(last) - set(tally)
    outcome.check(not unknown, f"ranking emitted windows with no on-time events: {unknown}")
    closed = sorted(
        (s, c) for (w, s), c in tally.items() if w + PV_WINDOW_S <= watermark
    )
    written = sorted(
        (r["source"], r["source_number"]) for r in spark.read.parquet(out_dir).collect()
    ) if os.path.isdir(out_dir) else []
    outcome.check(written == closed, f"parquet windows: {len(written)} rows != {len(closed)}")


def _start_backlog(ctx: Context, seconds: float) -> tuple[subprocess.Popen, str]:
    """Start writing a corpus backlog that lasts `seconds` at
    DOC_PEAK_RATE; return the generator and its report file."""
    base = os.path.join(ctx.work, "corpus")
    n_seg = 1 + max(2, int(seconds * DOC_PEAK_RATE / DOC_SEGMENT) + 1)
    report = os.path.join(base, "gen.json")
    gen = _generator([
        "docs", "--stage", os.path.join(base, "stage"), "--report", report,
        "--seed", str(ctx.seed), "--segments", str(n_seg), "--segment-docs", str(DOC_SEGMENT),
    ])
    return gen, report


def _corpus_phase(
    ctx: Context, spark, log, outcome: Outcome, seconds: float,
    gen: subprocess.Popen, report: str,
) -> float:
    """Once `gen` has written the backlog, drain it segment by segment
    through the corpus-ingest job for `seconds` after one warm-up segment;
    return the warm-up time."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
    )

    base = os.path.join(ctx.work, "corpus")
    src_dir, stage, out_dir = (os.path.join(base, d) for d in ("in", "stage", "out"))
    os.makedirs(src_dir)
    gen_report = _finish(gen, report, timeout=120)
    segments = sorted(os.listdir(stage))

    t_start = time.perf_counter()
    query = run_corpus_ingest_job(
        spark, src_dir, out_dir, os.path.join(base, "chk"), keep_threshold=DOC_KEEP_THRESHOLD
    )

    def land(name: str) -> float:
        t = time.time()
        os.rename(os.path.join(stage, name), os.path.join(src_dir, name))
        return t

    def live() -> list[dict]:
        return [p for p in log.of(query) if p["numInputRows"] > 0]

    def drain(name: str) -> float:
        """Land one segment and wait until its batch is committed; the
        segment's latency runs from landing to the batch's end."""
        before = len(live())
        t_land = land(name)
        query.processAllAvailable()
        wait_until(lambda: len(live()) > before, timeout=30)
        p = live()[-1]
        return _batch_end(p) - t_land

    drain(segments[0])  # warm-up
    warm_s = time.perf_counter() - t_start
    n_warm = len(log.of(query))

    lat, docs_in = [], 0
    t_open = time.time()
    landed = 1
    while landed < len(segments) and time.time() - t_open < seconds:
        lat.append(drain(segments[landed]) * 1000.0)
        landed += 1
        docs_in += DOC_SEGMENT
    t_close = time.time()
    if landed == len(segments):
        print("stream_jobs: corpus backlog drained before the window ended", file=sys.stderr)
    stop_queries(outcome, query)
    prog = log.of(query)
    timed = [p for p in prog[n_warm:] if p["numInputRows"] > 0]
    outcome.check(
        sum(p["numInputRows"] for p in timed) == docs_in, "corpus batches missed input rows"
    )
    outcome.attempted += len(prog)
    outcome.aliases["segment_p50_ms"] = Metric(median(lat), "ms", len(lat))
    outcome.aliases["segment_p90_ms"] = Metric(percentile(lat, 90), "ms", len(lat))
    outcome.end_to_end["throughput_per_s"] = Metric(docs_in / (t_close - t_open), "1/s", len(lat))
    outcome.aliases["events_per_s"] = outcome.end_to_end["throughput_per_s"]

    _check_corpus(spark, outcome, [os.path.join(src_dir, s) for s in segments[:landed]], out_dir)
    L = outcome.layers
    L["generator.docs"] = Metric(gen_report["docs"], "count")
    batch_stats(timed, "jobs.corpus", L)
    ops = [p["stateOperators"][0] for p in timed if p.get("stateOperators")]
    _state_stats(ops, "stateful.dedup_state", L)
    L["stateful.dedup_dropped_rows"] = Metric(
        sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops),
        "count", len(ops))
    files, size = dir_files(out_dir, ".parquet")
    L["sinks.parquet_files"] = Metric(files, "count")
    L["sinks.parquet_bytes"] = Metric(size, "B")
    return warm_s


def _check_corpus(spark, outcome: Outcome, files: list[str], out_dir: str) -> None:
    """The kept corpus against a batch recomputation over the same files:
    same quality gate, exact dedup over everything landed."""
    from pyspark.sql import functions as F

    from spark_nifi_kafka_connected_device_stream_spark.functions.textfns import normalize_text
    from spark_nifi_kafka_connected_device_stream_spark.operators.text import (
        quality_features,
        quality_prob,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        DOC_TS_FMT,
        parse_doc_wire,
    )

    parsed = parse_doc_wire(spark.read.text(files)).filter(
        F.try_to_timestamp(F.col("ts"), F.lit(DOC_TS_FMT)).isNotNull()
    )
    n_tok, dratio = quality_features(F.col("text"))
    expected = (
        parsed.filter(quality_prob(dratio, n_tok) >= F.lit(DOC_KEEP_THRESHOLD))
        .select(F.md5(normalize_text(F.col("text"))))
        .distinct()
    )
    want = {r[0] for r in expected.collect()}
    kept = [r[0] for r in spark.read.parquet(out_dir).select("fingerprint").collect()]
    dupes = len(kept) - len(set(kept))
    outcome.check(dupes == 0, f"corpus kept {dupes} duplicates")
    outcome.check(
        set(kept) == want,
        f"corpus set differs: {len(want - set(kept))} missing, {len(set(kept) - want)} extra",
    )
