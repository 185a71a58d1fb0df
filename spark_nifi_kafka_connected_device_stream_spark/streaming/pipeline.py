"""The streaming spine — the reference pipeline restated natively.

Reference dataflow (SURVEY.md §3.1-3.2):
  NiFi (file ingest → array-strip → 1-record split → timestamp stamp →
  Kafka publish)  →  Spark (Kafka source → from_json → nested projection
  → to_timestamp LEGACY → watermark 5m → 5m tumbling groupBy(source)
  count → console/foreachBatch/parquet sinks)

Here the NiFi half collapses into native operators (SURVEY.md §2.2
P9-P11 → `explode_event_array`, P10 → `stamp_processing_time`) and the
Spark half keeps the same logical plan with two deliberate semantic
fixes (SURVEY.md §6 "known inconsistencies"):

- the timestamp is parsed with the EXPLICIT full format
  `yyyy-MM-dd HH:mm:ss.SSSZ` instead of a prefix match under
  `spark.sql.legacy.timeParserPolicy=LEGACY`
  (`nifi_spark_kafka_product_view_platform.py:37-40`);
- the FULL wire schema is declared and projection happens in `select`
  — Catalyst prunes `from_json` to the used fields anyway
  (`OptimizeJsonExprs`), so declaring everything costs nothing and
  keeps the other fields reachable (the reference declared a partial
  schema, v1:15-20, silently dropping userid — which it then wished it
  had for distinct counts, v1:46).

Scale posture: the aggregation is watermark-bounded (state eviction),
keys are (source × window) — low cardinality, no skew concern; for
high-cardinality keys switch the state store to RocksDB
(`spark.sql.streaming.stateStore.providerClass`) — not needed for
this key space, but PROVEN in this build, not just noted: this exact
pipeline runs green under RocksDBStateStoreProvider
(tests/test_scale_primitives.py::test_rocksdb_state_store_runs), and
the high-cardinality-churn escape hatch it exists for is pinned by
tests/test_stateful_streaming.py::
test_streaming_heavy_hitters_bounded_under_rocksdb (needle survives
eviction pressure across RocksDB-serialized micro-batches).  The state
is sized to that key space too: `streaming/jobs.py` starts the
product-view queries with ONE state partition, not
`spark.sql.shuffle.partitions` of them, because every state partition
commits its own delta and checksum files each micro-batch whatever it
holds.  On a local disk each created file costs a forked `chmod`
(Hadoop 3.4's local file system without native libhadoop: 6-7 ms a
file on a 4-core VM, more under load), so a core-sized width makes
the state commit grow with the core count, not the data.  The partial aggregation before the exchange keeps the scan's
full parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Full wire record (FIXTURES.md §1; visible in reference data.JPG,
# produced by the NiFi pipeline Active_Users_Pipeline.xml:1654-1671)
PRODUCT_VIEW_SCHEMA = T.StructType(
    [
        T.StructField("event", T.StringType()),
        T.StructField("messageid", T.StringType()),
        T.StructField("userid", T.StringType()),
        T.StructField(
            "properties", T.StructType([T.StructField("productid", T.StringType())])
        ),
        T.StructField("context", T.StructType([T.StructField("source", T.StringType())])),
        T.StructField("timestamp", T.StringType()),
    ]
)

# explicit full format replacing the reference's LEGACY prefix-parse
# (v1:37,40 parsed 'yyyy-MM-dd HH:mm:ss' against '....SSS+0000' data)
TIMESTAMP_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSZ"


def parse_product_views(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka-payload deserialization chain (SURVEY.md §2.2 P1-P4, P7):
    binary→string cast, from_json with declared schema, nested
    projection, explicit timestamp parse.  Works identically on batch
    and streaming DataFrames.

    Malformed-row semantics, precisely: Spark 4's from_json returns an
    ALL-NULL struct for unparseable JSON (not a NULL struct — see
    observe_parse_quality below), so the isNotNull struct filter drops
    only NULL payloads; malformed-JSON rows are dropped by the
    timestamp-isNotNull filter at the end (their parsed timestamp is
    null).  Anyone relaxing the timestamp filter must add an explicit
    parse-validity gate or malformed rows flow through as all-null
    records.

    Output: (messageid, userid, productid, source, timestamp:Timestamp)
    """
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), PRODUCT_VIEW_SCHEMA).alias("value")
    )
    return _product_view_projection(parsed)


def _product_view_projection(parsed: DataFrame) -> DataFrame:
    """The ONE projection/filter chain from the parsed `value` struct
    to the output schema — shared by parse_product_views and
    observe_parse_quality (round-16 review: the DQ-observed variant
    duplicated these lines verbatim, and nothing enforced the
    docstring's 'identical output rows' promise)."""
    # try_to_timestamp, NOT to_timestamp: under ANSI mode (Spark 4
    # default) to_timestamp THROWS on a malformed value and one bad
    # record kills the stream — try_ yields NULL and the filter below
    # implements the documented drop-malformed semantics
    ts = F.try_to_timestamp(F.col("value.timestamp"), F.lit(TIMESTAMP_FORMAT))
    return (
        parsed.filter(F.col("value").isNotNull())
        .select(
            F.col("value.messageid").alias("messageid"),
            F.col("value.userid").alias("userid"),
            F.col("value.properties.productid").alias("productid"),
            F.col("value.context.source").alias("source"),
            ts.alias("timestamp"),
        )
        .filter(F.col("timestamp").isNotNull())
    )


def explode_event_array(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Native replacement for NiFi's regex array-strip + record split
    (`Active_Users_Pipeline.xml:1160-1164` ReplaceText `\\[(.*?)\\]`→`$1`;
    SplitRecord 100k→10k→1 at XML:1374-1451,1296-1373 — SURVEY.md P9/P11).

    A JSON *array* payload becomes one row per element via
    explode(from_json(ArrayType)) — no regex, no per-record flowfiles;
    record granularity is native to Spark."""
    arr = F.from_json(F.col(value_col).cast("string"), T.ArrayType(PRODUCT_VIEW_SCHEMA))
    return raw.select(F.explode(arr).alias("value")).select("value.*")


def stamp_processing_time(df: DataFrame, col_name: str = "timestamp") -> DataFrame:
    """NiFi UpdateRecord `/timestamp = now()` (XML:1654-1671, SURVEY.md
    P10): processing-time stamping at ingest.  Kept for parity; event
    pipelines should prefer true event time when the producer supplies
    it (the stamped value is treated as event time downstream, exactly
    as the reference does)."""
    return df.withColumn(
        col_name, F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss.SSSZ")
    )


def windowed_source_counts(
    events: DataFrame,
    ts_col: str = "timestamp",
    key_col: str = "source",
    window_duration: str = "5 minutes",
    watermark: str = "5 minutes",
    distinct_col: str | None = None,
    slide: str | None = None,
) -> DataFrame:
    """The analytical core (SURVEY.md §2.3 A1-A4; v1:48-55):
    watermark → tumbling window → grouped count → golden output shape
    (start, end, source, source_number) matching result1.JPG.

    `distinct_col='userid'` switches to the metric the reference
    *intended* ("count considering distinct users", v1:46):
    approx_count_distinct — sketch-mergeable, bounded state; the exact
    variant doesn't exist incrementally at scale.

    `slide` (round 13) generalizes the tumbling window to SLIDING
    (overlapping) windows — each event lands in duration/slide
    windows; watermark expiry per window is unchanged (a window closes
    once the watermark passes its end).  The batch twin is
    events_sliding_window_counts (operators/events.py); stream-batch
    equivalence is pinned in tests/test_streaming.py."""
    agg = (
        F.approx_count_distinct(distinct_col) if distinct_col else F.count(F.lit(1))
    ).alias("source_number")
    window = (
        F.window(F.col(ts_col), window_duration, slide)
        if slide
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(window, F.col(key_col))
        .agg(agg)
        .select(
            F.col("window.start").alias("start"),
            F.col("window.end").alias("end"),
            F.col(key_col),
            F.col("source_number"),
        )
    )


def observe_parse_quality(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """parse_product_views with an `observe()` data-quality counter
    attached BEFORE the drop-filters: per micro-batch (or per batch
    action) the observation reports rows seen, rows whose JSON failed
    the declared schema, and rows whose timestamp failed the explicit
    format — the silently-dropped rows the parse chain would otherwise
    hide.  `observe` is an accumulator piggybacked on the existing
    scan: NO second pass, no extra shuffle, identical output rows to
    parse_product_views.  Streaming: read the numbers from
    StreamingQueryProgress.observedMetrics['parse_dq']; batch: via
    the QueryExecutionListener.  The operational twin of the
    reference's silent PERMISSIVE drop (v1:29-33)."""
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), PRODUCT_VIEW_SCHEMA).alias("value")
    )
    ts = F.try_to_timestamp(F.col("value.timestamp"), F.lit(TIMESTAMP_FORMAT))
    # Spark 4 from_json yields an ALL-NULL struct (not a NULL struct)
    # for malformed input, so "bad json" is detected through the
    # required timestamp field being absent; "bad ts" is the field
    # present but unparseable under the declared format.  Sums are
    # coalesced to 0: F.sum over an EMPTY micro-batch is NULL, and a
    # monitor comparing `rows_bad_json > threshold` would crash on
    # None (round-16 review).
    bad_json = F.col("value").isNull() | F.col("value.timestamp").isNull()
    observed = parsed.observe(
        "parse_dq",
        F.count(F.lit(1)).alias("rows_seen"),
        F.coalesce(F.sum(bad_json.cast("bigint")), F.lit(0)).alias("rows_bad_json"),
        F.coalesce(
            F.sum((F.col("value.timestamp").isNotNull() & ts.isNull()).cast("bigint")),
            F.lit(0),
        ).alias("rows_bad_ts"),
    )
    return _product_view_projection(observed)
