"""End-to-end job compositions — the reference's two entry points and
its Airflow control plane restated as single driver programs
(SURVEY.md §3, §2.6: the linear DAG `sensor → download → spark-submit
→ DDL → export → email` collapses into one SparkSession lifecycle).

`run_product_view_job` is v2 (`nifi_spark_kafka_product_view_platform_v2.py`)
complete: ONE aggregation lineage fanned out to TWO concurrent sinks
(foreachBatch ranking emit + parquet append), each with its own
checkpoint — the §2.7 "two concurrent queries on one lineage" pattern.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..sources.json_events import json_file_stream
from .pipeline import parse_product_views, windowed_source_counts
from .sinks import foreach_batch_topk, parquet_sink

# One state partition, for aggregates whose key space is a handful of
# groups (product views: ≤3 sources × ~2 open windows; seasonal: one
# count per open hour).  Every state partition commits its own delta
# and checksum files each batch, whatever it holds, so the session's
# core-sized default makes the state commit scale with the core count
# instead of the data.  The partial aggregation before the exchange
# keeps the scan's full parallelism.
_ONE_STATE_PARTITION = {"spark.sql.shuffle.partitions": "1"}


def _start_queries(
    spark: SparkSession,
    writers: Sequence[DataStreamWriter],
    confs: dict[str, str] | None = None,
) -> list[StreamingQuery]:
    """Start `writers` in order with the SQL `confs` set on `spark`'s
    session for the duration of the starts only.

    A query clones its session's SQL conf when it starts, so the values
    bind to these queries alone and the session is left as it was, also
    when a start raises.  Restarts honour the checkpoint: Spark records
    the shuffle-partition count (the state-partition count) in the
    offset log and a query resumed from it keeps the recorded count.
    If a later start fails, the queries already started are stopped
    before the error propagates, so none is orphaned advancing its
    checkpoint.  The session conf is shared, so starts from other
    threads during the call see `confs` too."""
    confs = confs or {}
    conf = spark.conf
    saved = {k: conf.get(k, None) for k in confs}
    started: list[StreamingQuery] = []
    try:
        for k, v in confs.items():
            conf.set(k, v)
        for w in writers:
            started.append(w.start())
    except BaseException:
        for q in started:
            q.stop()
        raise
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    return started


def run_product_view_job(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_duration: str = "5 minutes",
    watermark: str = "5 minutes",
    trigger: str | None = None,
    topk: int | None = 10,
    collector: Callable[[DataFrame, int], None] | None = None,
    block: bool = False,
):
    """The full v2 pipeline on the file source (Kafka-swappable: pass
    any raw DataFrame with a `value` column through the same chain).

    Both queries start with one state partition (_ONE_STATE_PARTITION);
    a checkpoint written with more keeps its own count.  Returns the
    two StreamingQuery handles (ranking, parquet).  With `block=True`
    behaves like the reference's awaitTermination (v2:91)."""
    raw = json_file_stream(spark, input_dir)
    agg = windowed_source_counts(
        parse_product_views(raw),
        window_duration=window_duration,
        watermark=watermark,
    )
    # sink A (v2:77-81): per-epoch ranking emit.  Update-mode
    # semantics, faithfully the reference's: each epoch ranks the
    # groups UPDATED in that trigger (the reference sorted each
    # console micro-batch the same way) — it is a delta ranking, not
    # a global standing; consumers needing the global top-k over all
    # open windows read sink B and rank there
    ranking_w = (
        foreach_batch_topk(agg, k=topk, collector=collector)
        .outputMode("update")
        .option("checkpointLocation", f"{checkpoint_dir}/ranking")
    )
    # sink B (v2:84-89): warehouse parquet, columns pruned to the
    # commerce schema (source, source_number) as at v2:74.  If ITS
    # start fails (bad trigger string, unwritable path), _start_queries
    # stops the already-running sink A so it cannot leak as an orphaned
    # query advancing its checkpoint forever
    pruned = agg.select("source", "source_number")
    parquet_w = parquet_sink(
        pruned, output_dir, f"{checkpoint_dir}/parquet", trigger=trigger
    )
    ranking_q, parquet_q = _start_queries(
        spark, [ranking_w, parquet_w], _ONE_STATE_PARTITION
    )
    if block:
        for q in (ranking_q, parquet_q):
            q.awaitTermination()
    return ranking_q, parquet_q


def http_ingest(url: str, dest_path: str, expected_substring: str | None = "event") -> str:
    """S3 + C1/C2 (dag_file.py:24-50): availability-checked download to
    a local staging path, then read with the normal batch chain.  The
    availability check IS the reference's HttpSensor (dag:36-43 pokes
    the URL before the download task runs); the copy is its
    PythonOperator download (dag:45-50).  Driver-side utility, not a
    distributed operator (at scale the download belongs in object
    storage, not the driver).

    Accepts `file://` URLs as a network-free source so the whole
    sensor→download→job→DDL control plane is exercisable offline (the
    http(s) path is identical beyond the fetch).  Gated import:
    `requests` may be absent in minimal containers."""
    from urllib.parse import urlparse

    parsed = urlparse(url)
    if parsed.scheme == "file":
        path = (parsed.netloc or "") + parsed.path
        if not os.path.exists(path):  # the sensor's "not available yet" poke
            raise FileNotFoundError(f"http_ingest sensor: {url} not available")
        with open(path) as f:
            body = f.read()
    elif parsed.scheme in ("http", "https"):
        try:
            import requests  # noqa: PLC0415
        except ImportError as exc:  # pragma: no cover
            raise RuntimeError("http_ingest requires the 'requests' package") from exc
        resp = requests.get(url, timeout=60)
        resp.raise_for_status()
        body = resp.text
    else:
        raise ValueError(f"http_ingest: unsupported URL scheme {parsed.scheme!r}")
    if expected_substring is not None and expected_substring not in body:
        raise ValueError(
            f"availability check failed: {expected_substring!r} not in response"
        )
    with open(dest_path, "w") as f:
        f.write(body)
    return dest_path


# wire schema for document ingestion (the curation twin of
# PRODUCT_VIEW_SCHEMA): JSON lines {doc_id, text, source, ts}
DOC_WIRE_SCHEMA = "doc_id long, text string, source string, ts string"
DOC_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def parse_doc_wire(raw: DataFrame) -> DataFrame:
    """The document-wire deserialization shared by every doc-stream job
    (ingest, PII gate): from_json against DOC_WIRE_SCHEMA + the
    validity filter.  ONE definition so the jobs cannot silently
    diverge on what counts as a valid document."""
    return (
        raw.select(F.from_json("value", DOC_WIRE_SCHEMA).alias("d"))
        .select("d.*")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )


def run_corpus_ingest_job(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    keep_threshold: float = 0.5,
    trigger: str | None = None,
):
    """Streaming corpus curation — the §2.8 training-data stages wired
    into the reference's streaming plane as ONE continuous job:

        file/Kafka JSON stream
          → schema parse (P2 shape, full schema declared)
          → quality-classifier gate (operators.text.quality_prob —
            the SAME scoring expression as the batch operator, so
            batch backfills and the live stream can never disagree)
          → watermark-bounded exact dedup at-the-door
            (dropDuplicatesWithinWatermark on the content fingerprint)
          → append-mode parquet corpus shards (K3 sink)

    Scale posture: every stage before the dedup is stateless map-only
    column math; the dedup's state is bounded by the watermark horizon
    and keeps the session's full shuffle width (it holds every
    fingerprint of the horizon); the sink partitions by source so
    downstream mix/split jobs partition-prune, and the kept rows are
    repartitioned by source first, so each micro-batch writes one file
    per `source=` directory instead of one per (task, source).

    The query runs with no-data micro-batches off: Spark would
    otherwise follow every batch that moves the watermark with a batch
    that reads nothing and only evicts dedup state.  Eviction then
    happens in the next data batch, which runs at the same watermark
    and checks its rows against the state BEFORE it evicts.  So a
    re-arrival whose original's horizon has just passed may be dropped
    instead of passed, where an eviction-only batch would have freed
    the key first.  That is within `dropDuplicatesWithinWatermark`'s
    contract: duplicates within the horizon are dropped, and whether a
    re-arrival beyond it passes is not guaranteed.  Returns the
    StreamingQuery handle.
    """
    from ..functions.textfns import normalize_text
    from ..operators.text import quality_features, quality_prob
    from .stateful import streaming_dedup_exact

    raw = json_file_stream(spark, input_dir)
    parsed = (
        parse_doc_wire(raw)
        # try_to_timestamp, NOT to_timestamp (the pipeline.py P7
        # doctrine): under ANSI mode one malformed ts string would
        # kill the stream in a checkpoint-replay crash loop; try_
        # yields NULL and the filter implements drop-malformed
        .withColumn("event_ts", F.try_to_timestamp(F.col("ts"), F.lit(DOC_TS_FMT)))
        .filter(F.col("event_ts").isNotNull())
    )
    n_tok, dratio = quality_features(F.col("text"))
    scored = parsed.select(
        "doc_id",
        "source",
        "text",
        "event_ts",
        F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
        n_tok.alias("n_tokens"),
        quality_prob(dratio, n_tok).alias("quality_prob"),
    ).filter(F.col("quality_prob") >= F.lit(keep_threshold))
    deduped = streaming_dedup_exact(
        scored, fingerprint_cols=("fingerprint",), ts_col="event_ts",
        watermark=watermark,
    )
    w = parquet_sink(
        deduped.repartition("source"), out_dir, f"{checkpoint_dir}/corpus",
        trigger=trigger,
    ).partitionBy("source")
    return _start_queries(
        spark, [w], {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}
    )[0]


def run_seasonal_anomaly_job(
    spark: SparkSession,
    input_dir: str,
    baseline: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    trigger: str | None = None,
):
    """Lambda-style seasonal anomaly monitor: LIVE hourly event counts
    scored against the BATCH-computed hour-of-day baseline
    (operators.events_timeseries.seasonal_baseline over history) — the streaming
    half of events_seasonal_hourly_anomaly, sharing its
    `seasonal_score` select verbatim so live flags and the batch
    backfill can never disagree on what "anomalous" means.

    Plan: stream → watermark → 1-hour tumbling count (append mode:
    only watermark-finalized hours are scored — a half-full hour would
    z-score as a false dip) → foreachBatch joins the tiny broadcast
    baseline and writes scored rows to parquet.  Streaming state is
    one count per open hour, held in one state partition
    (_ONE_STATE_PARTITION); no-data micro-batches stay on, because
    they close finished hours when no input arrives.  The baseline is
    |24| rows refreshed by re-running the batch job and restarting (or
    swapping a Delta table in production).  Returns the StreamingQuery
    handle.

    Sink layout (changed in round 11, with the exactly-once fix): the
    output is PARTITIONED as `out_dir/epoch=N/part-*.parquet` — each
    micro-batch owns one overwritable partition — not the flat
    append-only file pile earlier rounds wrote.  Consumers must read
    the whole dir with `spark.read.parquet(out_dir)` and treat the
    discovered `epoch` column as sink bookkeeping, not data: either
    `.drop("epoch")` or select the scored columns explicitly.  Readers
    that globbed flat part files directly will find none.
    """
    from ..operators.events_timeseries import seasonal_score

    views = parse_product_views(json_file_stream(spark, input_dir))
    hourly = (
        views.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.to_date("window.start").alias("day"),
            F.hour("window.start").cast("int").alias("hour_of_day"),
            "n_events",
        )
    )

    def score(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # epoch-partition overwrite, NOT append: a replayed epoch (crash
        # between the write and the checkpoint commit) must rewrite its
        # own partition instead of duplicating scored rows — the same
        # exactly-once idiom as every other foreachBatch sink here
        seasonal_score(batch_df, baseline).write.mode("overwrite").parquet(
            f"{out_dir}/epoch={epoch_id}"
        )

    w = (
        hourly.writeStream.outputMode("append")
        .foreachBatch(score)
        .option("checkpointLocation", f"{checkpoint_dir}/seasonal")
    )
    if trigger:
        w = w.trigger(processingTime=trigger)
    return _start_queries(spark, [w], _ONE_STATE_PARTITION)[0]


def run_pii_gate_job(
    spark: SparkSession,
    input_dir: str,
    corpus_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    trigger: str | None = None,
):
    """In-flight PII gate: ONE parsed document lineage fanned out to
    TWO sinks (the reference's dual-sink pattern, v2:77-89):

    - **corpus sink**: every document with the SAME redaction
      expression the batch audit uses (`operators.privacy.pii_redact`)
      applied before anything touches disk — raw spans never land in
      the training corpus;
    - **quarantine sink**: only documents where PII was detected, with
      per-class counts (`pii_counts`) and the ORIGINAL text retained
      under restricted storage — the audit trail compliance review
      needs (what was found, where, how much).

    Sharing the expressions with the batch operator means the live
    gate and the batch backfill cannot disagree about what counts as
    PII.  Both stages are map-only regex over the stream; each sink
    has its own checkpoint.  If the quarantine sink fails to start, the
    corpus query is stopped before the error propagates.  Returns
    (corpus_query, quarantine_query).
    """
    from ..operators.privacy import pii_counts, pii_redact

    raw = json_file_stream(spark, input_dir)
    parsed = parse_doc_wire(raw)
    n_em, n_ph, n_id = pii_counts(F.col("text"))
    scanned = parsed.select(
        "doc_id",
        "source",
        "text",
        n_em.cast("int").alias("n_emails"),
        n_ph.cast("int").alias("n_phones"),
        n_id.cast("int").alias("n_ids"),
    )
    clean_out = scanned.select(
        "doc_id", "source", pii_redact(F.col("text")).alias("text")
    )
    dirty = scanned.filter(
        (F.col("n_emails") > 0) | (F.col("n_phones") > 0) | (F.col("n_ids") > 0)
    )
    w1 = parquet_sink(clean_out, corpus_dir, f"{checkpoint_dir}/corpus", trigger=trigger)
    w2 = parquet_sink(
        dirty, quarantine_dir, f"{checkpoint_dir}/quarantine", trigger=trigger
    )
    corpus_q, quarantine_q = _start_queries(spark, [w1, w2])
    return corpus_q, quarantine_q
