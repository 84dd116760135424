"""Streaming semantics, validated by batch replay (SURVEY §7 M3):
the same input processed by the streaming plan and the batch plan must
agree — which is what makes the streaming path oracle-checkable."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import write_source_stream
from stream_ingestion_amazon_kinesis_spark.operators.enrichment import enrich_sessions
from stream_ingestion_amazon_kinesis_spark.sources import kinesis_sim
from stream_ingestion_amazon_kinesis_spark.sources.catalog import load_table
from stream_ingestion_amazon_kinesis_spark.sources.json_source import parse_json_records
from stream_ingestion_amazon_kinesis_spark.streaming import (
    dedup_event_stream,
    read_event_stream,
    run_to_memory_sink,
    windowed_event_counts,
)
from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import (
    run_kinesis_sim_pipeline,
)
from stream_ingestion_amazon_kinesis_spark.streaming.stateful import running_user_profiles

SESSIONS = [
    {
        "session_id": f"s{i}",
        "customer_number": i,
        "city": "X",
        "country": "USA" if i % 3 == 0 else "Peru",
        "credit_limit": 100 * i,
        "browse_history": [
            {"product_code": "p", "quantity": str(j + 1), "in_shopping_cart": j % 2 == 0}
            for j in range(i % 4)
        ],
    }
    for i in range(30)
]


BAD_PAYLOAD = "{definitely not json"


def _write_sessions(stream: str, sessions: list[dict]) -> None:
    """Two shards, the malformed payload last in shard 1."""
    write_source_stream(stream, {0: [sessions[0::2]], 1: [sessions[1::2] + [BAD_PAYLOAD]]})


@pytest.fixture()
def session_dir(tmp_path):
    d = str(tmp_path / "in")
    _write_sessions(d, SESSIONS)
    return d


def _run_pipeline(spark, tmp_path, session_dir) -> dict[str, list[str]]:
    """Run the reference topology over the kinesis_sim session stream to
    completion; return the `data` payloads of the USA, International and
    quarantine streams."""
    usa = str(tmp_path / "usa")
    dest = {"USA": usa, "International": str(tmp_path / "intl")}
    q = run_kinesis_sim_pipeline(
        spark, session_dir, dest, str(tmp_path / "ckpt"), await_all_available=True
    )
    q.stop()
    return _read_routes(spark, tmp_path)


def _read_routes(spark, tmp_path) -> dict[str, list[str]]:
    usa = str(tmp_path / "usa")
    kinesis_sim.register_format(spark)
    paths = {"USA": usa, "International": str(tmp_path / "intl"),
             "quarantine": os.path.join(usa, "_quarantine")}
    return {
        route: [
            r.data
            for r in spark.read.format("kinesis_sim").option("path", path).load().collect()
        ]
        for route, path in paths.items()
    }


def test_enrichment_pipeline_end_to_end(spark, tmp_path, session_dir):
    out = _run_pipeline(spark, tmp_path, session_dir)
    usa = [json.loads(d) for d in out["USA"]]
    intl = [json.loads(d) for d in out["International"]]
    errors = out["quarantine"]

    # batch replay of the identical logic over the identical stream
    raw = spark.read.format("kinesis_sim").option("path", session_dir).load()
    ok, quarantine = parse_json_records(raw, value_col="data")
    expected = enrich_sessions(ok, with_processing_ts=False)
    exp_usa = expected.filter(F.col("country") == "USA")
    exp_intl = expected.filter(F.col("country") != "USA")

    assert len(usa) == exp_usa.count()
    assert len(intl) == exp_intl.count()
    assert len(errors) == quarantine.count() == 1
    assert errors == [BAD_PAYLOAD]

    # spot-check enrichment values match the batch plan per session
    got = {
        r["session_id"]: (r["overall_product_quantity"], r["overall_in_shopping_cart"])
        for r in usa + intl
    }
    exp = {
        r["session_id"]: (r["overall_product_quantity"], r["overall_in_shopping_cart"])
        for r in expected.collect()
    }
    assert got == exp


def test_enrichment_pipeline_exactly_once_on_restart(spark, tmp_path, session_dir):
    n1 = {k: len(v) for k, v in _run_pipeline(spark, tmp_path, session_dir).items()}
    # restart with the same checkpoint: no re-processing (vs the
    # reference's TRIM_HORIZON full replay, consumer.py:76)
    n2 = {k: len(v) for k, v in _run_pipeline(spark, tmp_path, session_dir).items()}
    assert n1 == n2


def test_pipeline_refuses_checkpoint_of_regenerated_stream(spark, tmp_path, session_dir):
    """A source stream regenerated at the same path with as many records
    per shard passes the reader's offset-past-tail check, so resuming
    its old checkpoint would skip every new record. The pipeline refuses
    it before the query starts, and nothing is published."""
    import shutil

    first = _run_pipeline(spark, tmp_path, session_dir)
    shutil.rmtree(session_dir)
    _write_sessions(session_dir, [dict(s, session_id=f"regen-{s['session_id']}") for s in SESSIONS])
    with pytest.raises(RuntimeError, match="stale checkpoint"):
        _run_pipeline(spark, tmp_path, session_dir)
    assert _read_routes(spark, tmp_path) == first


def _events_json_dir(spark, sf_dir, tmp_path, with_dupes=False):
    events = load_table(spark, sf_dir, "events").limit(500)
    if with_dupes:
        events = events.union(events.limit(50))
    d = str(tmp_path / "events_json")
    events.select(F.to_json(F.struct(*events.columns)).alias("value")).coalesce(
        2
    ).write.text(d)
    return d


def test_windowed_counts_match_batch_replay(spark, sf_dir, tmp_path):
    d = _events_json_dir(spark, sf_dir, tmp_path)
    stream_out = windowed_event_counts(read_event_stream(spark, d))
    run_to_memory_sink(stream_out, "win_counts")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = (
        spark.read.schema(read_event_stream(spark, d).schema)
        .json(d)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("window.start").alias("ws"), "event_type", "n", "sum_value")
    )
    exp = {
        (r["ws"], r["event_type"]): (r["n"], r["sum_value"]) for r in batch.collect()
    }
    # append mode only emits windows the watermark has closed; every
    # emitted window must match batch replay, and most windows close.
    assert got
    for k, v in got.items():
        assert exp[k] == v
    assert len(got) >= len(exp) * 0.8


def test_stream_dedup_drops_duplicates(spark, sf_dir, tmp_path):
    d = _events_json_dir(spark, sf_dir, tmp_path, with_dupes=True)
    deduped = dedup_event_stream(read_event_stream(spark, d))
    run_to_memory_sink(deduped, "dedup_out")
    rows = spark.sql("SELECT event_id, COUNT(*) AS n FROM dedup_out GROUP BY event_id").collect()
    assert rows
    assert all(r["n"] == 1 for r in rows)


def test_stateful_running_profiles(spark, sf_dir, tmp_path):
    d = _events_json_dir(spark, sf_dir, tmp_path)
    profiles = running_user_profiles(read_event_stream(spark, d))
    run_to_memory_sink(profiles, "profiles")
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql(
            # one change-row per key per micro-batch; the final row per
            # key carries the cumulative profile
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY n_events DESC) AS rn FROM profiles)
               WHERE rn = 1"""
        ).collect()
    }
    batch = (
        spark.read.schema(read_event_stream(spark, d).schema)
        .json(d)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    )
    exp = {r["user_id"]: (r["n"], round(r["v"], 6)) for r in batch.collect()}
    assert got == exp


def test_stream_dedup_with_rocksdb_state_store(spark, sf_dir, tmp_path):
    """G14 at scale: the RocksDB state store keeps streaming state off
    the JVM heap — the configuration for billions of keys. Same dedup
    semantics, different state backend."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        d = _events_json_dir(spark, sf_dir, tmp_path, with_dupes=True)
        deduped = dedup_event_stream(read_event_stream(spark, d))
        run_to_memory_sink(deduped, "dedup_rocks")
        rows = spark.sql(
            "SELECT event_id, COUNT(*) AS n FROM dedup_rocks GROUP BY event_id"
        ).collect()
        assert rows and all(r["n"] == 1 for r in rows)
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import (
        purchase_click_interval_join,
    )

    d = _events_json_dir(spark, sf_dir, tmp_path)
    stream = read_event_stream(spark, d)
    joined = purchase_click_interval_join(
        stream.filter(F.col("event_type") == "purchase"),
        stream.filter(F.col("event_type") == "click"),
    )
    run_to_memory_sink(joined, "ss_join")
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }

    batch = spark.read.schema(stream.schema).json(d)
    p = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    c = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    exp = {
        (r["pid"], r["cid"])
        for r in p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    # inner stream-stream join with watermarks emits exactly the batch
    # pairs when the source is bounded (all state eventually closes)
    assert got == exp
    assert len(exp) > 0


def test_stream_stream_left_outer_join_emits_unmatched(spark, sf_dir, tmp_path):
    """Left-outer stream-stream join: purchases with no prior click in
    the interval still emit (click side null) once the watermark passes —
    semantics unreachable for the reference's record-at-a-time loop."""
    from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import (
        purchase_click_interval_join,
    )

    d = _events_json_dir(spark, sf_dir, tmp_path)
    stream = read_event_stream(spark, d)
    p = stream.filter(F.col("event_type") == "purchase")
    c = stream.filter(F.col("event_type") == "click")
    ps = p.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "2 hours")
    cs = c.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "2 hours")
    joined = ps.join(
        cs,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    run_to_memory_sink(joined, "ss_left")
    rows = spark.sql("SELECT purchase_id, click_id FROM ss_left").collect()
    matched = {r["purchase_id"] for r in rows if r["click_id"] is not None}
    unmatched = {r["purchase_id"] for r in rows if r["click_id"] is None}
    inner = purchase_click_interval_join(p, c)
    run_to_memory_sink(inner, "ss_inner_ref")
    inner_ids = {
        r["purchase_id"] for r in spark.sql("SELECT purchase_id FROM ss_inner_ref").collect()
    }
    assert matched == inner_ids
    # matched and unmatched partition the purchase set (late rows aside);
    # unmatched rows exist in this fixture and never overlap matched
    assert unmatched and not (unmatched & matched)

def test_transform_with_state_profiles(spark, sf_dir, tmp_path):
    """G14 on the Spark 4 transformWithState API: ValueState totals +
    MapState per-type counts, validated against batch replay. Skipped
    where google.protobuf (the TWS state-server wire protocol) is not
    installed — the operator itself is cluster-ready."""
    from stream_ingestion_amazon_kinesis_spark.streaming.transform_with_state import (
        PROTOBUF_AVAILABLE,
        ROCKSDB_PROVIDER,
        user_activity_profiles_tws,
    )
    from pyspark.sql.window import Window

    if not PROTOBUF_AVAILABLE:
        pytest.skip("google.protobuf absent: transformWithState driver worker cannot start")

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        d = _events_json_dir(spark, sf_dir, tmp_path)
        profiles = user_activity_profiles_tws(read_event_stream(spark, d))
        run_to_memory_sink(profiles, "tws_profiles", output_mode="update")
        got = {
            r["user_id"]: (
                r["n_events"],
                round(r["total_value"], 6),
                r["n_event_types"],
                r["top_event_type"],
            )
            for r in spark.sql(
                """SELECT * FROM (
                     SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY n_events DESC) AS rn FROM tws_profiles)
                   WHERE rn = 1"""
            ).collect()
        }
        per_type = (
            spark.read.schema(read_event_stream(spark, d).schema)
            .json(d)
            .groupBy("user_id", "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        )
        top = (
            per_type.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("n").desc(), F.col("event_type")
                    )
                ),
            )
            .filter("rn = 1")
            .select("user_id", F.col("event_type").alias("top_event_type"))
        )
        totals = per_type.groupBy("user_id").agg(
            F.sum("n").alias("n_events"),
            F.sum("v").alias("total_value"),
            F.count("*").alias("n_types"),
        )
        exp = {
            r["user_id"]: (
                r["n_events"],
                round(r["total_value"], 6),
                r["n_types"],
                r["top_event_type"],
            )
            for r in totals.join(top, "user_id").collect()
        }
        assert got == exp
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


# ---------------------------------------------------------------------------
# State-growth soak: the 100 TB streaming claim needs a BOUND on state,
# not just correctness. Replay the events corpus in event-time order as
# ~50 single-file micro-batches and assert the state store PLATEAUS
# under the advancing watermark instead of growing with cumulative input.
# ---------------------------------------------------------------------------


def _sliced_events_dir(spark, sf_dir, tmp_path, n_slices=50):
    """Write the events table as `n_slices` event-time-ordered JSON
    files with strictly increasing mtimes, so maxFilesPerTrigger=1
    replays them as a realistic in-order stream (the file source picks
    oldest-mtime first)."""
    events = load_table(spark, sf_dir, "events")
    rows = [
        r["value"]
        for r in events.sort("ts")
        .select(F.to_json(F.struct(*events.columns)).alias("value"))
        .collect()
    ]
    d = tmp_path / "events_sliced"
    d.mkdir()
    per = max(1, len(rows) // n_slices)
    base = 1_700_000_000
    for i in range(0, len(rows), per):
        p = d / f"slice_{i // per:04d}.json"
        p.write_text("\n".join(rows[i : i + per]) + "\n")
        os.utime(p, (base + i // per, base + i // per))
    return str(d)


def _soak_progress(query):
    """Feed every micro-batch progress through the engine's ProgressLog
    and return state rows per batch (batch order)."""
    from stream_ingestion_amazon_kinesis_spark.streaming.observability import (
        ProgressLog,
    )

    log = ProgressLog()
    for p in query.recentProgress:
        log.record(p if isinstance(p, dict) else json.loads(p.json))
    return log


def _run_soak(stream_df, name, tmp_path):
    query = (
        stream_df.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .outputMode("append")
        .start()
    )
    query.processAllAvailable()
    log = _soak_progress(query)
    query.stop()
    return log


def _assert_state_plateaus(log, n_batches_min=40):
    sr = [s for s in log.state_rows_by_batch if s is not None]
    # one progress per file-slice micro-batch (plus possibly an empty tail batch)
    assert len(sr) >= n_batches_min, f"only {len(sr)} micro-batches ran"
    total_in = log.total_rows
    assert total_in > 0
    # 0) the soak exercised real state (all-zero would pass vacuously)
    assert max(sr) > 0, "state operator reported zero rows throughout"
    # 1) eviction happened: state never approaches cumulative input
    assert max(sr) < total_in * 0.5, (
        f"state holds {max(sr)} of {total_in} cumulative rows - no eviction"
    )
    # 2) the tail is flat: the last 10 batches sit at (or below) the
    # plateau established mid-run - monotonic growth fails this
    mid_high = max(sr[len(sr) // 3 : 2 * len(sr) // 3])
    assert max(sr[-10:]) <= mid_high * 1.3 + 5, (
        f"state tail {sr[-10:]} exceeds mid-run plateau {mid_high}"
    )


def test_state_soak_stream_dedup(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark over ~50 in-order micro-batches:
    dedup keys older than the 2-day watermark horizon must be evicted,
    so state tracks the horizon (a constant fraction of the 30-day
    corpus), never the cumulative key count."""
    d = _sliced_events_dir(spark, sf_dir, tmp_path)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    log = _run_soak(dedup_event_stream(stream, watermark="2 days"), "dedup", tmp_path)
    _assert_state_plateaus(log)


def test_state_soak_windowed_counts(spark, sf_dir, tmp_path):
    """Watermarked tumbling-window aggregate over ~50 in-order
    micro-batches: closed windows must leave the store, so open-window
    state is bounded by (watermark horizon / window size) x event
    types regardless of how much history has streamed through."""
    d = _sliced_events_dir(spark, sf_dir, tmp_path)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    log = _run_soak(
        windowed_event_counts(stream, window_duration="6 hours", watermark="1 day"),
        "win",
        tmp_path,
    )
    _assert_state_plateaus(log)


def test_curation_pipeline_restart_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Kill the composed curation pipeline mid-stream, resume on the
    same checkpoint: the committed route-partitioned sink must hold
    exactly the single-copy census — no lost docs, no double-commits,
    regardless of where the first run stopped."""
    from pyspark.sql import functions as F

    from stream_ingestion_amazon_kinesis_spark.functions.text import tokens
    from stream_ingestion_amazon_kinesis_spark.operators.corpus_quality import (
        gopher_pass_flag,
    )
    from stream_ingestion_amazon_kinesis_spark.operators.streaming_live import (
        _double,
        _staged_json,
        curation_census,
        run_curation_pipeline,
    )
    from stream_ingestion_amazon_kinesis_spark.sources.catalog import load_table

    staging = _staged_json(spark, sf_dir, "docs_dup", "documents", transform=_double)
    out_dir = str(tmp_path / "curation")
    # Phase 1: one file per micro-batch, stop after >= 1 committed batch.
    run_curation_pipeline(
        spark, staging, out_dir, max_files_per_trigger=1, stop_mid_stream=True
    )
    # Phase 2: same checkpoint, drain to completion.
    run_curation_pipeline(spark, staging, out_dir)
    got = {
        r["route"]: (r["n_docs"], r["total_tokens"], r["id_checksum"])
        for r in curation_census(spark, out_dir + "/data").collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    want = {
        r["route"]: (r["n_docs"], r["total_tokens"], r["id_checksum"])
        for r in (
            docs.select(
                "doc_id",
                F.size(tokens("text")).cast("long").alias("n_tokens"),
                F.when(gopher_pass_flag(), "kept")
                .otherwise("quarantine")
                .alias("route"),
            )
            .groupBy("route")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                F.sum("doc_id").cast("bigint").alias("id_checksum"),
            )
            .collect()
        )
    }
    assert got == want


def test_curation_entry_cleans_its_tmp_dirs(spark, sf_dir):
    """ADVICE r9: the registry entry used to leak a uuid-named sink +
    checkpoint dir (doubled-corpus parquet) per invocation — and it
    rides the bench HEADLINE (repeats) and every multi-SF gate. The
    census is collected and the dir removed before the entry returns."""
    import glob
    import tempfile

    from stream_ingestion_amazon_kinesis_spark.operators.streaming_live import (
        streaming_curation_pipeline_live,
    )

    pat = tempfile.gettempdir() + "/spark_graft_curation_*"
    before = set(glob.glob(pat))
    rows = streaming_curation_pipeline_live(spark, sf_dir).collect()
    assert rows, "census must not be empty"
    leaked = set(glob.glob(pat)) - before
    assert not leaked, f"leaked sink dirs: {leaked}"
