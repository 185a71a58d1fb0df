"""End-to-end v2 job: ONE aggregation lineage fanned out to TWO
concurrent sinks (foreachBatch ranking + warehouse parquet), each with
its own checkpoint — SURVEY.md §2.7 / §3.2.  Plus the full Airflow
control plane (C1-C6 + K5) replayed offline through file:// URLs.
"""

from __future__ import annotations

import os

import pytest

from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
    http_ingest,
    run_product_view_job,
)

from .test_streaming import _event, _mk_events, _write_file


def test_product_view_job_dual_sink(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "warehouse")
    chk_dir = str(tmp_path / "chk")
    # two windows of data + flush markers so the watermark finalizes them
    events = _mk_events(0, 150) + _mk_events(5, 90, start_i=150)
    _write_file(in_dir, "b1.json", [e[2] for e in events])

    epochs = []

    def collector(df, epoch_id):
        rows = df.collect()
        if rows:
            epochs.append(rows)

    ranking_q, parquet_q = run_product_view_job(
        spark, in_dir, out_dir, chk_dir, topk=3, collector=collector
    )
    try:
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
        _write_file(in_dir, "b2.json", [e[2] for e in _mk_events(20, 6, start_i=999)])
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
    finally:
        ranking_q.stop()
        parquet_q.stop()

    # sink A: per-epoch ranking emitted, sorted desc, bounded at k=3
    assert epochs
    for rows in epochs:
        counts = [r["source_number"] for r in rows]
        assert counts == sorted(counts, reverse=True) and len(rows) <= 3

    # sink B: warehouse parquet holds the finalized windows with the
    # commerce schema (source, source_number) — v2:74/dag:72-75
    back = spark.read.parquet(out_dir)
    assert set(back.columns) == {"source", "source_number"}
    got = {(r["source"], r["source_number"]) for r in back.collect()}
    # 150 events window 1 (50/source) + 90 events window 2 (30/source)
    assert got == {(s, 50) for s in ("desktop", "mobile-web", "mobile-app")} | {
        (s, 30) for s in ("desktop", "mobile-web", "mobile-app")
    }


def test_full_control_plane_lifecycle_offline(spark, tmp_path):
    """The reference DAG's whole chain (dag_file.py:100-102:
    sensor >> download >> spark job >> DDL) as ONE offline run:

    - C1 sensor poke against a not-yet-available upstream fails fast,
    - C2 download stages the file once it exists (file:// — the
      network-free twin of the HTTP path),
    - the content availability check gates bad payloads,
    - C3/C4/C5 run the v2 dual-sink job over the staged dir,
    - K5 registers the warehouse DDL over the job's parquet output and
      the final SQL read-back returns the finalized window counts.
    """
    from spark_nifi_kafka_connected_device_stream_spark.sources.warehouse import (
        create_external_table,
    )

    remote_dir = tmp_path / "remote"
    remote = remote_dir / "events.json"

    # C1: the sensor's "not available yet" poke — upstream missing
    with pytest.raises(FileNotFoundError, match="not available"):
        http_ingest(f"file://{remote}", str(tmp_path / "never.json"))

    events = _mk_events(0, 60)
    _write_file(str(remote_dir), "events.json", [e[2] for e in events])

    # availability check on CONTENT must gate, not just existence
    with pytest.raises(ValueError, match="availability check failed"):
        http_ingest(f"file://{remote}", str(tmp_path / "bad.json"),
                    expected_substring="definitely-not-present")

    # C2: staged download into the job's input dir
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    staged = http_ingest(f"file://{remote}", str(in_dir / "b1.json"))
    assert os.path.getsize(staged) > 0

    # C3/C4/C5: the v2 job (dual sink) over the staged directory
    out_dir = str(tmp_path / "warehouse")
    chk_dir = str(tmp_path / "chk")
    epochs = []
    ranking_q, parquet_q = run_product_view_job(
        spark, str(in_dir), out_dir, chk_dir, topk=3,
        collector=lambda df, eid: epochs.append(df.collect()),
    )
    try:
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
        # a later "remote drop" advances the watermark so window 0
        # finalizes into the warehouse sink — same chain again
        _write_file(str(remote_dir), "events2.json",
                    [e[2] for e in _mk_events(20, 3, start_i=500)])
        http_ingest(f"file://{remote_dir / 'events2.json'}", str(in_dir / "b2.json"))
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
    finally:
        ranking_q.stop()
        parquet_q.stop()
    assert any(rows for rows in epochs)

    # K5: warehouse DDL over the job output (external table; view
    # fallback on a catalog-less session), then the dag's read-back
    create_external_table(spark, "commerce_lifecycle", out_dir)
    try:
        total = spark.sql(
            "SELECT sum(source_number) AS s FROM commerce_lifecycle"
        ).collect()[0]["s"]
        assert total == 60  # the finalized first window, 20 per source
    finally:
        spark.sql("DROP TABLE IF EXISTS commerce_lifecycle")
        if any(v.name == "commerce_lifecycle" for v in spark.catalog.listTables()):
            spark.catalog.dropTempView("commerce_lifecycle")


def test_corpus_ingest_job_filters_and_dedupes(spark, tmp_path):
    """Streaming curation capstone: the classifier gate and the
    watermark-bounded dedup act in-stream, and the surviving corpus
    equals the batch computation of the same stages (stream-batch
    equivalence for the whole job)."""
    import json

    from pyspark.sql import functions as F

    from spark_nifi_kafka_connected_device_stream_spark.functions.textfns import (
        normalize_text,
    )
    from spark_nifi_kafka_connected_device_stream_spark.operators.text import (
        quality_features,
        quality_prob,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
    )

    rich = " ".join(f"tok{i}" for i in range(60))          # high distinct ratio
    poor = "dup " * 60                                      # repetitive -> low prob
    docs = [
        {"doc_id": 0, "text": rich, "source": "a", "ts": "2024-01-01 00:00:01"},
        {"doc_id": 1, "text": poor.strip(), "source": "a", "ts": "2024-01-01 00:00:02"},
        {"doc_id": 2, "text": rich, "source": "b", "ts": "2024-01-01 00:00:03"},  # dup of 0
        {"doc_id": 3, "text": rich + " extra", "source": "b", "ts": "2024-01-01 00:00:04"},
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text("\n".join(json.dumps(d) for d in docs))
    out_dir = str(tmp_path / "corpus")
    q = run_corpus_ingest_job(
        spark, str(in_dir), out_dir, str(tmp_path / "chk")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    back = spark.read.parquet(out_dir)
    got = {r["doc_id"]: r for r in back.collect()}
    # doc 1 fails the quality gate; docs 0 and 2 share a fingerprint ->
    # exactly one survives (arrival order within a micro-batch is not
    # guaranteed, so accept either); doc 3 passes
    assert 1 not in got
    assert 3 in got
    assert len({0, 2} & set(got)) == 1
    assert len(got) == 2

    # stream-batch equivalence on the deterministic part: the batch
    # recomputation of gate+dedup keeps the same fingerprint set
    batch = spark.createDataFrame(
        [(d["doc_id"], d["text"], d["source"]) for d in docs],
        "doc_id long, text string, source string",
    )
    n_tok, dratio = quality_features(F.col("text"))
    surv = (
        batch.select(
            "doc_id",
            F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
            quality_prob(dratio, n_tok).alias("p"),
        )
        .filter(F.col("p") >= 0.5)
        .dropDuplicates(["fingerprint"])
    )
    assert {r["fingerprint"] for r in surv.collect()} == {
        r["fingerprint"] for r in back.collect()
    }


def test_corpus_ingest_job_recovers_across_restart(spark, tmp_path):
    """Kill the corpus-ingest job after batch 1, append new files, start
    a SECOND query from the same checkpoint: no doc is written twice,
    and the dedup store survives the restart (a duplicate arriving
    after the restart but within the watermark is still dropped)."""
    import json

    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
    )

    rich = " ".join(f"tok{i}" for i in range(60))
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "corpus")
    chk = str(tmp_path / "chk")

    batch1 = [
        {"doc_id": 0, "text": rich, "source": "a", "ts": "2024-01-01 00:00:01"},
        {"doc_id": 1, "text": rich + " one", "source": "a", "ts": "2024-01-01 00:00:02"},
    ]
    (in_dir / "b1.json").write_text("\n".join(json.dumps(d) for d in batch1))
    q = run_corpus_ingest_job(spark, str(in_dir), out_dir, chk)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch2 = [
        # duplicate of doc 0's text arriving post-restart within watermark
        {"doc_id": 2, "text": rich, "source": "b", "ts": "2024-01-01 00:00:03"},
        {"doc_id": 3, "text": rich + " three", "source": "b", "ts": "2024-01-01 00:00:04"},
    ]
    (in_dir / "b2.json").write_text("\n".join(json.dumps(d) for d in batch2))
    q2 = run_corpus_ingest_job(spark, str(in_dir), out_dir, chk)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    back = spark.read.parquet(out_dir).collect()
    ids = sorted(r["doc_id"] for r in back)
    # docs 0 and 1 exactly once (no reprocessing of b1 after restart);
    # doc 2 dropped (fingerprint state recovered from checkpoint);
    # doc 3 passes
    assert ids == [0, 1, 3], ids


def test_seasonal_anomaly_job_scores_finalized_hours(spark, tmp_path):
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_seasonal_anomaly_job,
    )

    d = str(tmp_path / "in")
    out = str(tmp_path / "out")
    # hour 10: three events (z = +1 vs baseline mu=2 sigma=1);
    # hour 11: one event (z = -1); next-day flush finalizes both
    _write_file(
        d,
        "b1.json",
        [
            _event("2021-03-06 10:05:00.000", 0, "desktop"),
            _event("2021-03-06 10:15:00.000", 1, "desktop"),
            _event("2021-03-06 10:25:00.000", 2, "desktop"),
            _event("2021-03-06 11:30:00.000", 3, "desktop"),
        ],
    )
    baseline = spark.createDataFrame(
        [(10, 2.0, 1.0), (11, 2.0, 1.0)],
        "hour_of_day int, mu double, sigma double",
    )
    q = run_seasonal_anomaly_job(
        spark, d, baseline, out, str(tmp_path / "chk"), watermark="2 hours"
    )
    try:
        q.processAllAvailable()
        _write_file(d, "b2.json", [_event("2021-03-07 10:00:00.000", 0, "desktop")])
        q.processAllAvailable()
        # emission happens on the cycle after the watermark update
        _write_file(d, "b3.json", [_event("2021-03-07 11:00:00.000", 0, "desktop")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r["day"], r["hour_of_day"]): r for r in spark.read.parquet(out).collect()
    }
    assert rows[("2021-03-06", 10)]["n_events"] == 3
    assert rows[("2021-03-06", 10)]["zscore"] == 1.0
    assert rows[("2021-03-06", 10)]["is_anomaly"] is False
    assert rows[("2021-03-06", 11)]["n_events"] == 1
    assert rows[("2021-03-06", 11)]["zscore"] == -1.0


def test_corpus_ingest_to_training_shards_end_to_end(spark, tmp_path):
    """The full lifecycle: JSON document stream → in-stream curation
    (classifier gate + dedup) → parquet corpus → sharded training
    export with a verifiable manifest.  The manifest's totals must
    equal the curated corpus — the artifact chain a training run
    actually consumes."""
    import json

    from spark_nifi_kafka_connected_device_stream_spark.sources.warehouse import (
        write_training_shards,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
    )

    rich = " ".join(f"tok{i}" for i in range(60))
    docs = [
        {"doc_id": i, "text": f"{rich} v{i}", "source": f"s{i % 3}",
         "ts": f"2024-01-01 00:00:{i:02d}"}
        for i in range(12)
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text("\n".join(json.dumps(d) for d in docs))
    corpus_dir = str(tmp_path / "corpus")
    q = run_corpus_ingest_job(spark, str(in_dir), corpus_dir, str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    corpus = spark.read.parquet(corpus_dir)
    n_curated = corpus.count()
    assert n_curated == 12  # all docs are rich and distinct

    shard_dir = str(tmp_path / "shards")
    manifest = write_training_shards(corpus, shard_dir, key_col="doc_id", n_shards=4)
    assert sum(s["n_rows"] for s in manifest) == n_curated
    back = spark.read.parquet(shard_dir)
    assert back.count() == n_curated
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == set(range(12))
    with open(f"{shard_dir}/_manifest.json") as f:
        assert json.load(f) == manifest


def test_pii_gate_job_redacts_and_quarantines(spark, tmp_path):
    import json

    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_pii_gate_job,
    )

    docs = [
        {"doc_id": 0, "text": "clean document body", "source": "a",
         "ts": "2024-01-01 00:00:01"},
        {"doc_id": 1, "text": "reach me at alice@corp.example.com today",
         "source": "a", "ts": "2024-01-01 00:00:02"},
        {"doc_id": 2, "text": "call +1-555-0199 ref ID-4821", "source": "b",
         "ts": "2024-01-01 00:00:03"},
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text("\n".join(json.dumps(d) for d in docs))
    corpus, quarantine = str(tmp_path / "corpus"), str(tmp_path / "quarantine")
    q1, q2 = run_pii_gate_job(spark, str(in_dir), corpus, quarantine, str(tmp_path / "chk"))
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
    finally:
        q1.stop()
        q2.stop()
    out = {r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()}
    assert out[0] == "clean document body"                      # untouched
    assert "[EMAIL]" in out[1] and "@" not in out[1]            # redacted
    assert "[PHONE]" in out[2] and "[ID]" in out[2]
    quar = {r["doc_id"]: r for r in spark.read.parquet(quarantine).collect()}
    assert set(quar) == {1, 2}                                  # clean doc excluded
    assert quar[1]["n_emails"] == 1 and "alice@corp.example.com" in quar[1]["text"]
    assert quar[2]["n_phones"] == 1 and quar[2]["n_ids"] == 1


def test_corpus_ingest_survives_malformed_timestamp(spark, tmp_path):
    """ANSI-safety (round-16 review): one document with an unparseable
    `ts` must be DROPPED, not crash the stream in a checkpoint-replay
    loop (to_timestamp throws under Spark 4's default ANSI mode;
    try_to_timestamp is the pipeline doctrine)."""
    import json

    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
    )

    rich = " ".join(f"tok{i}" for i in range(60))
    docs = [
        {"doc_id": 0, "text": rich, "source": "a", "ts": "2024-01-01 00:00:01"},
        {"doc_id": 1, "text": rich + " other", "source": "a", "ts": "not a time"},
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text("\n".join(json.dumps(d) for d in docs))
    out_dir = str(tmp_path / "corpus")
    q = run_corpus_ingest_job(spark, str(in_dir), out_dir, str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
    got = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert got == [0], got


def test_seasonal_job_survives_degenerate_sigma(spark, tmp_path):
    """ANSI-safety (round-16 review): a baseline hour with sigma = 0.0
    (identical counts every day) or NULL (single observed day) must
    not crash the scoring micro-batch with DIVIDE_BY_ZERO.  The
    degenerate rows report the 0.0 zscore sentinel, and is_anomaly
    carries the signal: any deviation from a zero-variance baseline
    flags."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_seasonal_anomaly_job,
    )

    d = str(tmp_path / "in")
    out = str(tmp_path / "out")
    _write_file(
        d,
        "b1.json",
        [
            _event("2021-03-06 10:05:00.000", 0, "desktop"),
            _event("2021-03-06 10:15:00.000", 1, "desktop"),
            _event("2021-03-06 11:30:00.000", 3, "desktop"),
        ],
    )
    baseline = spark.createDataFrame(
        [(10, 2.0, 0.0), (11, 1.0, None)],
        "hour_of_day int, mu double, sigma double",
    )
    q = run_seasonal_anomaly_job(
        spark, d, baseline, out, str(tmp_path / "chk"), watermark="2 hours"
    )
    try:
        q.processAllAvailable()
        _write_file(d, "b2.json", [_event("2021-03-07 10:00:00.000", 0, "desktop")])
        q.processAllAvailable()
        _write_file(d, "b3.json", [_event("2021-03-07 11:00:00.000", 0, "desktop")])
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
    rows = {
        (r["day"], r["hour_of_day"]): r for r in spark.read.parquet(out).collect()
    }
    # hour 10: n=2 vs mu=2, sigma=0 -> no deviation, no anomaly
    assert rows[("2021-03-06", 10)]["zscore"] == 0.0
    assert rows[("2021-03-06", 10)]["is_anomaly"] is False
    # hour 11: n=1 vs mu=1, sigma NULL -> treated as zero variance
    assert rows[("2021-03-06", 11)]["zscore"] == 0.0
    assert rows[("2021-03-06", 11)]["is_anomaly"] is False

    # and the flag side of the zero-variance semantics (batch call on
    # the same shared select): ANY deviation from sigma=0 flags
    from pyspark.sql import functions as F

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        seasonal_score,
    )

    hourly = spark.createDataFrame(
        [("2021-03-08", 10, 5)], "day string, hour_of_day int, n_events long"
    ).select(F.to_date("day").alias("day"), "hour_of_day", "n_events")
    r = seasonal_score(hourly, baseline).collect()[0]
    assert r["zscore"] == 0.0 and r["is_anomaly"] is True


# ---------------------------------------------------------------------------
# per-query start confs: state-partition sizing, no eviction-only batches
# ---------------------------------------------------------------------------

SHUFFLE = "spark.sql.shuffle.partitions"
NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"


def _offset_conf(query_chk: str, batch: int) -> dict:
    """The SQL confs Spark recorded in the offset log for `batch`."""
    import json

    with open(os.path.join(query_chk, "offsets", str(batch))) as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def _batches(query_chk: str) -> list[int]:
    return sorted(int(n) for n in os.listdir(os.path.join(query_chk, "offsets")) if n.isdigit())


def _state_partitions(query_chk: str) -> list[str]:
    """The state operator's partition directories."""
    return sorted(n for n in os.listdir(os.path.join(query_chk, "state", "0")) if n.isdigit())


def _run_pv(spark, in_dir, out_dir, chk, flush_name):
    """Run the product-view job over `in_dir`, then land a flush file
    that closes the earlier windows; return the last ranking count of
    every (window start, source)."""
    last = {}

    def collector(df, epoch_id):
        for r in df.collect():
            last[(r["start"], r["source"])] = r["source_number"]

    ranking_q, parquet_q = run_product_view_job(
        spark, in_dir, out_dir, chk, topk=None, collector=collector
    )
    try:
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
        _write_file(in_dir, flush_name, [e[2] for e in _mk_events(20, 6, start_i=999)])
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
    finally:
        ranking_q.stop()
        parquet_q.stop()
    return last


def test_product_view_job_checkpoint_records_one_state_partition(spark, tmp_path):
    """A new checkpoint is written with one state partition, and the
    session keeps its own shuffle width."""
    before = spark.conf.get(SHUFFLE)
    in_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    _write_file(in_dir, "b1.json", [e[2] for e in _mk_events(0, 30)])
    _run_pv(spark, in_dir, str(tmp_path / "out"), chk, "b2.json")
    for sink in ("ranking", "parquet"):
        assert _offset_conf(f"{chk}/{sink}", 0)[SHUFFLE] == "1"
        assert _state_partitions(f"{chk}/{sink}") == ["0"]
    assert spark.conf.get(SHUFFLE) == before != "1"


def test_product_view_job_restart_keeps_checkpoint_partition_count(spark, tmp_path):
    """A checkpoint written with the session's 4 state partitions keeps 4
    when the job resumes from it, and the resumed job emits the same
    windows as a fresh one."""
    from spark_nifi_kafka_connected_device_stream_spark.sources.json_events import (
        json_file_stream,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.pipeline import (
        parse_product_views,
        windowed_source_counts,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        foreach_batch_topk,
        parquet_sink,
    )

    assert spark.conf.get(SHUFFLE) == "4"
    first = [e[2] for e in _mk_events(0, 150) + _mk_events(5, 90, start_i=150)]

    # the job's two queries, started at the session's width
    old_in, old_out, old_chk = (str(tmp_path / d) for d in ("old_in", "old_out", "old_chk"))
    _write_file(old_in, "b1.json", first)
    agg = windowed_source_counts(parse_product_views(json_file_stream(spark, old_in)))
    old_last = {}

    def collector(df, epoch_id):
        for r in df.collect():
            old_last[(r["start"], r["source"])] = r["source_number"]

    ranking_q = (
        foreach_batch_topk(agg, k=None, collector=collector)
        .outputMode("update")
        .option("checkpointLocation", f"{old_chk}/ranking")
        .start()
    )
    try:
        parquet_q = parquet_sink(
            agg.select("source", "source_number"), old_out, f"{old_chk}/parquet"
        ).start()
        try:
            ranking_q.processAllAvailable()
            parquet_q.processAllAvailable()
        finally:
            parquet_q.stop()
    finally:
        ranking_q.stop()
    for sink in ("ranking", "parquet"):
        assert _offset_conf(f"{old_chk}/{sink}", 0)[SHUFFLE] == "4"

    # resume from it with the job
    resumed = _run_pv(spark, old_in, old_out, old_chk, "b2.json")
    old_last.update(resumed)
    for sink in ("ranking", "parquet"):
        batches = _batches(f"{old_chk}/{sink}")
        assert len(batches) > 1
        assert {_offset_conf(f"{old_chk}/{sink}", b)[SHUFFLE] for b in batches} == {"4"}
        assert _state_partitions(f"{old_chk}/{sink}") == ["0", "1", "2", "3"]

    # a fresh run of the job over the same files
    new_in, new_out = str(tmp_path / "new_in"), str(tmp_path / "new_out")
    _write_file(new_in, "b1.json", first)
    fresh = _run_pv(spark, new_in, new_out, str(tmp_path / "new_chk"), "b2.json")

    assert old_last == fresh
    windows = sorted(
        (r["source"], r["source_number"]) for r in spark.read.parquet(old_out).collect()
    )
    assert windows == sorted(
        (r["source"], r["source_number"]) for r in spark.read.parquet(new_out).collect()
    )
    assert windows == sorted(
        [(s, 50) for s in ("desktop", "mobile-app", "mobile-web")]
        + [(s, 30) for s in ("desktop", "mobile-app", "mobile-web")]
    )


def _start_job(spark, tmp_path, job: str):
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
        run_pii_gate_job,
        run_seasonal_anomaly_job,
    )

    in_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    os.makedirs(in_dir, exist_ok=True)
    if job == "product_view":
        return run_product_view_job(spark, in_dir, str(tmp_path / "out"), chk)
    if job == "corpus_ingest":
        return [run_corpus_ingest_job(spark, in_dir, str(tmp_path / "out"), chk)]
    if job == "seasonal_anomaly":
        baseline = spark.createDataFrame(
            [(10, 2.0, 1.0)], "hour_of_day int, mu double, sigma double"
        )
        return [run_seasonal_anomaly_job(spark, in_dir, baseline, str(tmp_path / "out"), chk)]
    return run_pii_gate_job(
        spark, in_dir, str(tmp_path / "corpus"), str(tmp_path / "quarantine"), chk
    )


@pytest.mark.parametrize(
    "job, failing_sink",
    [
        ("product_view", "parquet"),
        ("corpus_ingest", "corpus"),
        ("seasonal_anomaly", "seasonal"),
        ("pii_gate", "quarantine"),
    ],
)
def test_job_start_leaves_session_conf_and_leaks_no_query(spark, tmp_path, job, failing_sink):
    """Each job's start confs bind to its queries only: the session's SQL
    conf reads the same after the job starts and after a start raises.
    A failing start (the last sink's checkpoint path is a regular file)
    leaves no query running, including the sinks started before it."""
    conf = {k: spark.conf.get(k, None) for k in (SHUFFLE, NO_DATA)}
    active = {q.id for q in spark.streams.active}

    queries = _start_job(spark, tmp_path / "ok", job)
    try:
        assert {k: spark.conf.get(k, None) for k in conf} == conf
    finally:
        for q in queries:
            q.stop()

    chk = tmp_path / "bad" / "chk"
    chk.mkdir(parents=True)
    (chk / failing_sink).write_text("not a directory")
    with pytest.raises(Exception, match="not a directory"):
        _start_job(spark, tmp_path / "bad", job)
    assert {k: spark.conf.get(k, None) for k in conf} == conf
    assert {q.id for q in spark.streams.active} == active


def test_corpus_ingest_job_skips_eviction_only_batches(spark, tmp_path):
    """Three files whose later ones re-draw earlier texts, landed one at
    a time so the watermark moves after each: every batch reads input
    (no eviction-only batch), each batch writes at most one file per
    source, and the kept fingerprints equal a batch recomputation."""
    import json

    from pyspark.sql import functions as F

    from spark_nifi_kafka_connected_device_stream_spark.functions.textfns import (
        normalize_text,
    )
    from spark_nifi_kafka_connected_device_stream_spark.operators.text import (
        quality_features,
        quality_prob,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
    )

    def text(k, i):
        return " ".join(f"f{k}d{i}t{j}" for j in range(60))

    files = []
    for k in range(3):
        docs = [
            {"doc_id": 100 * k + i, "text": text(k, i), "source": f"s{i % 3}",
             "ts": f"2024-01-01 00:{5 * k + i // 6:02d}:{i:02d}"}
            for i in range(24)
        ]
        # exact re-draws of every earlier file's first docs, in the horizon
        docs += [
            {"doc_id": 100 * k + 50 + j, "text": text(e, j), "source": f"s{(j + 1) % 3}",
             "ts": f"2024-01-01 00:{5 * k + 4:02d}:{j:02d}"}
            for e in range(k) for j in range(4)
        ]
        docs.append({"doc_id": 100 * k + 99, "text": "dup " * 40, "source": "s0",
                     "ts": f"2024-01-01 00:{5 * k:02d}:59"})
        files.append(docs)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "corpus")
    q = run_corpus_ingest_job(spark, str(in_dir), out_dir, str(tmp_path / "chk"))
    try:
        for k, docs in enumerate(files):
            _write_file(str(in_dir), f"b{k}.json", [json.dumps(d) for d in docs])
            q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()

    assert [p["numInputRows"] for p in progress] == [len(d) for d in files]
    watermarks = [p["eventTime"].get("watermark") for p in progress]
    assert len(set(watermarks)) == len(files)  # it moved before each later batch

    for batch in range(len(files)):
        with open(os.path.join(out_dir, "_spark_metadata", str(batch))) as f:
            paths = [json.loads(line)["path"] for line in f.read().splitlines()[1:]]
        sources = [p.split("/source=")[1].split("/")[0] for p in paths]
        assert sources and len(sources) == len(set(sources)), paths

    docs = [d for batch in files for d in batch]
    raw = spark.createDataFrame(
        [(d["text"],) for d in docs], "text string"
    )
    n_tok, dratio = quality_features(F.col("text"))
    want = {
        r[0]
        for r in raw.filter(quality_prob(dratio, n_tok) >= F.lit(0.5))
        .select(F.md5(normalize_text(F.col("text"))))
        .distinct()
        .collect()
    }
    kept = [r["fingerprint"] for r in spark.read.parquet(out_dir).collect()]
    assert len(kept) == len(set(kept)) == len(want) == 3 * 24
    assert set(kept) == want
