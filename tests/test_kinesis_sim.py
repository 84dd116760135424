"""Tests for the kinesis_sim custom Python DataSource (sources/kinesis_sim.py).

Covers the reference protocol mapping: shard routing by partition key
(producer:40-47), one read task per shard (consumer.py:53-94), the
get_records(Limit=N) per-batch fetch cap and TRIM_HORIZON vs LATEST
starting positions (consumer.py:76,115), and two-phase write commit.
"""

from __future__ import annotations

import os
import time
import zlib

import pytest
from pyspark.sql import functions as F

from conftest import write_source_stream
from stream_ingestion_amazon_kinesis_spark.sources import kinesis_sim


@pytest.fixture()
def stream_dir(spark, tmp_path):
    kinesis_sim.register_format(spark)
    path = str(tmp_path / "stream")
    df = spark.range(900).select(
        F.concat(F.lit("sess-"), (F.col("id") % 53).cast("string")).alias(
            "partition_key"
        ),
        F.to_json(F.struct("id")).alias("data"),
    )
    (
        df.write.format("kinesis_sim")
        .option("path", path)
        .option("numShards", "4")
        .mode("overwrite")
        .save()
    )
    return path


def test_roundtrip_and_shard_routing(spark, stream_dir):
    back = spark.read.format("kinesis_sim").option("path", stream_dir).load()
    rows = back.collect()
    assert len(rows) == 900
    # One input partition per shard — the shard->task mapping.
    assert back.rdd.getNumPartitions() == 4
    # Every record landed on the shard its key hashes to (put_record
    # partition-key contract), so a key never straddles shards.
    for r in rows:
        expect = zlib.crc32(r.partition_key.encode()) % 4
        assert r.shard_id == f"shard-{expect:05d}"
    # Per-shard sequence numbers are dense from 0 (Kinesis monotone
    # sequence analog).
    seqs = (
        back.groupBy("shard_id")
        .agg(F.count("*").alias("n"), F.min("sequence_number").alias("lo"),
             F.max("sequence_number").alias("hi"))
        .collect()
    )
    for s in seqs:
        assert (s.lo, s.hi) == (0, s.n - 1)


def test_overwrite_replaces_stream(spark, stream_dir):
    df = spark.range(10).select(
        F.col("id").cast("string").alias("partition_key"),
        F.to_json(F.struct("id")).alias("data"),
    )
    (
        df.write.format("kinesis_sim")
        .option("path", stream_dir)
        .option("numShards", "4")
        .mode("overwrite")
        .save()
    )
    n = spark.read.format("kinesis_sim").option("path", stream_dir).load().count()
    assert n == 10


def _drain(spark, stream_dir, checkpoint, max_fetch, starting="TRIM_HORIZON"):
    """Run the micro-batch poll loop until the stream is drained, then
    return the query's progress history (the Spark analog of the
    reference's while-True poll with Limit=max_fetch)."""
    q = (
        spark.readStream.format("kinesis_sim")
        .option("path", stream_dir)
        .option("startingPosition", starting)
        .option("maxFetchRecordsPerShard", str(max_fetch))
        .load()
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("ksim_drain")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        target = 0 if starting == "LATEST" else 900
        while time.time() < deadline:
            got = spark.sql("select count from ksim_drain").collect()
            if got and got[0][0] == target:
                # one extra beat to confirm no further input arrives
                time.sleep(1.0)
                break
            time.sleep(0.2)
        progress = list(q.recentProgress)
    finally:
        q.stop()
    total = spark.sql("select count from ksim_drain").collect()
    return total[0][0] if total else 0, progress


def test_stream_fetch_cap_and_drain(spark, stream_dir, tmp_path):
    total, progress = _drain(spark, stream_dir, str(tmp_path / "ck"), max_fetch=100)
    assert total == 900
    per_batch = [p["numInputRows"] for p in progress]
    # Limit respected: no micro-batch exceeds shards * cap.
    assert per_batch and max(per_batch) <= 4 * 100
    # The cap forced pagination: more than one non-empty batch.
    assert sum(1 for n in per_batch if n > 0) >= 3


def test_stream_latest_starts_at_tail(spark, stream_dir, tmp_path):
    total, _ = _drain(
        spark, stream_dir, str(tmp_path / "ck2"), max_fetch=100, starting="LATEST"
    )
    assert total == 0


def test_stream_restart_resumes_from_checkpoint_exactly_once(spark, stream_dir, tmp_path):
    """Stop the stream mid-drain, restart with the same checkpoint: the
    custom source must resume from the committed per-shard offsets —
    every record delivered exactly once. This is the upgrade over the
    reference, whose iterator cursors live in process memory and whose
    restart re-reads everything from TRIM_HORIZON (consumer.py:76,
    187-190)."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt_resume")

    def start():
        return (
            spark.readStream.format("kinesis_sim")
            .option("path", stream_dir)
            .option("maxFetchRecordsPerShard", "60")
            .load()
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            got = spark.read.format("json").schema(
                "shard_id string, sequence_number long, partition_key string, data string"
            ).load(out).count() if os.path.isdir(out) else 0
            if got >= 200:  # mid-drain (total is 900)
                break
            time.sleep(0.2)
    finally:
        q.stop()

    q2 = start()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            n = spark.read.format("json").schema(
                "shard_id string, sequence_number long, partition_key string, data string"
            ).load(out).count()
            if n == 900:
                time.sleep(1.0)
                break
            time.sleep(0.2)
    finally:
        q2.stop()

    back = spark.read.format("json").schema(
        "shard_id string, sequence_number long, partition_key string, data string"
    ).load(out)
    # exactly once: 900 rows, and every (shard, seq) slot exactly once
    assert back.count() == 900
    assert back.select("shard_id", "sequence_number").distinct().count() == 900


def test_dest_stream_pipeline_routes_sessions(spark, tmp_path, sf_dir):
    """Reference topology end-to-end: kinesis_sim session stream ->
    enrichment -> USA/International demux, destination side through the
    kinesis_sim custom sink (consumer.py:160-171)."""
    import json

    from pyspark.sql import functions as F

    from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import (
        run_kinesis_sim_pipeline,
    )

    sessions = [
        {
            "session_id": f"s{i}",
            "country": "USA" if i % 3 == 0 else "DE",
            "browse_history": [
                {"product_code": "p1", "quantity": str(i % 5 + 1), "in_shopping_cart": i % 2 == 0}
            ],
        }
        for i in range(30)
    ]
    src = tmp_path / "sessions_in"
    write_source_stream(str(src), {0: [sessions]})

    dest = {
        "USA": str(tmp_path / "stream_usa"),
        "International": str(tmp_path / "stream_intl"),
    }
    q = run_kinesis_sim_pipeline(
        spark, str(src), dest, str(tmp_path / "ckpt"), await_all_available=True
    )
    q.stop()

    usa = spark.read.format("kinesis_sim").option("path", dest["USA"]).load()
    intl = spark.read.format("kinesis_sim").option("path", dest["International"]).load()
    assert usa.count() == sum(1 for s in sessions if s["country"] == "USA")
    assert intl.count() == sum(1 for s in sessions if s["country"] != "USA")
    # partition key is the session id (put_record contract) and the
    # enrichment columns survived the JSON encode
    row = json.loads(usa.limit(1).collect()[0].data)
    assert {"overall_product_quantity", "overall_in_shopping_cart",
            "total_different_products"} <= set(row)
    keys = {r.partition_key for r in usa.select("partition_key").collect()}
    assert keys == {s["session_id"] for s in sessions if s["country"] == "USA"}


def test_registered_roundtrip_query_matches_parquet(spark, sf_dir):
    from stream_ingestion_amazon_kinesis_spark.plans.registry import QUERIES, _load_all
    from stream_ingestion_amazon_kinesis_spark.sources.catalog import load_table

    _load_all()
    out = {
        r.event_type: (r.n_records, r.n_users, r.max_event_id)
        for r in QUERIES["kinesis_sim_roundtrip"].fn(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    exp = {
        r.event_type: (r.n_records, r.n_users, r.max_event_id)
        for r in events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_records"),
            F.count_distinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
        .collect()
    }
    assert out == exp


def test_append_preserves_sequence_numbers(spark, tmp_path):
    """Sequence numbers are file-name-ordered, so every appended part
    file must sort AFTER all existing ones (commit assigns zero-padded
    per-shard indices). Under the old uuid-only naming a second append
    could sort first and renumber already-consumed records — breaking
    checkpointed offsets (duplicate + skip)."""
    stream = str(tmp_path / "s")
    for i in range(3):
        df = spark.createDataFrame(
            [("samekey", f"payload-{i}")], "partition_key string, data string"
        )
        (
            df.write.format("kinesis_sim")
            .option("path", stream)
            .option("numShards", "1")
            .mode("append")
            .save()
        )
    rows = (
        spark.read.format("kinesis_sim")
        .option("path", stream)
        .load()
        .orderBy("sequence_number")
        .collect()
    )
    assert [(r["sequence_number"], r["data"]) for r in rows] == [
        (0, "payload-0"),
        (1, "payload-1"),
        (2, "payload-2"),
    ]


def test_append_to_legacy_uuid_stream_is_refused(spark, tmp_path):
    """A stream holding uuid-named part files (part-<taskid>.jsonl, the
    naming before the zero-padded per-shard index) cannot take an
    append: a new indexed name can sort before a uuid name and renumber
    records a checkpointed reader already consumed. The publish refuses,
    naming the file, and leaves every file as it was."""
    kinesis_sim.register_format(spark)
    stream = str(tmp_path / "legacy")
    shard = os.path.join(stream, "shard-00000")
    os.makedirs(shard)
    # Two legacy (pre-fix) uuid-named files; current sorted order aaaa
    # then ffff defines sequence numbers 0 and 1.
    with open(os.path.join(shard, "part-aaaa11112222.jsonl"), "w") as fh:
        fh.write('{"partitionKey": "k", "data": "legacy-0"}\n')
    with open(os.path.join(shard, "part-ffff33334444.jsonl"), "w") as fh:
        fh.write('{"partitionKey": "k", "data": "legacy-1"}\n')

    def snapshot():
        out = {}
        for name in sorted(os.listdir(shard)):
            with open(os.path.join(shard, name), encoding="utf-8") as fh:
                out[name] = fh.read()
        return out

    before = snapshot()
    df = spark.createDataFrame(
        [("k", "appended-2")], "partition_key string, data string"
    )
    with pytest.raises(Exception, match="part-aaaa11112222.jsonl"):
        (
            df.write.format("kinesis_sim")
            .option("path", stream)
            .option("numShards", "1")
            .mode("append")
            .save()
        )
    assert snapshot() == before
    rows = (
        spark.read.format("kinesis_sim")
        .option("path", stream)
        .load()
        .orderBy("sequence_number")
        .collect()
    )
    assert [(r["sequence_number"], r["data"]) for r in rows] == [
        (0, "legacy-0"),
        (1, "legacy-1"),
    ]


def test_stale_checkpoint_offsets_past_tail_fail_loudly(spark, tmp_path):
    """VERDICT r5: a checkpointed offset beyond a shard's tail means the
    stream was regenerated/truncated; the reader must refuse (silently
    skipping up to the stale offset breaks exactly-once)."""
    import shutil

    kinesis_sim.register_format(spark)
    stream = str(tmp_path / "s")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_stream(n):
        df = spark.range(n).select(
            F.lit("k").alias("partition_key"),
            F.col("id").cast("string").alias("data"),
        )
        (
            df.coalesce(1)
            .write.format("kinesis_sim")
            .option("path", stream)
            .option("numShards", "1")
            .mode("overwrite")
            .save()
        )

    write_stream(10)
    q = (
        spark.readStream.format("kinesis_sim")
        .option("path", stream)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Regenerate the stream SHORTER at the same path -> checkpointed
    # offset (10) now exceeds the tail (3).
    shutil.rmtree(stream)
    write_stream(3)
    q2 = (
        spark.readStream.format("kinesis_sim")
        .option("path", stream)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="exceeds the shard tail"):
        q2.awaitTermination(120)
        q2.processAllAvailable()


def test_commit_token_makes_appends_idempotent(tmp_path):
    """Exactly-once hardening: a publish carrying commit token T
    (the streaming sink's (checkpoint-scope, epoch) identity) converges
    to exactly one copy across retries — (a) a retry after the writer
    done-marker landed publishes nothing; (b) a retry after a TORN
    attempt (intent record present, marker missing, files published)
    rolls the files its intent record lists back before republishing at the same sequence numbers; (c) a
    different token appends normally."""
    import json as _json

    path = str(tmp_path / "stream")
    staging = str(tmp_path / "stream" / "_staging")
    os.makedirs(staging)

    def stage(token):
        """10 records staged as one file per shard, routed like the writer."""
        staged = {}
        for i in range(10):
            key = f"k-{i}"
            shard = kinesis_sim.shard_of(key, 4)
            if shard not in staged:
                rel = os.path.join(f"shard-{shard:05d}", "part-t.jsonl")
                staged[shard] = (rel, os.path.join(staging, f"{token}-{shard:05d}.jsonl"))
            with open(staged[shard][1], "a", encoding="utf-8") as fh:
                fh.write(_json.dumps({"partitionKey": key, "data": _json.dumps({"id": i})}) + "\n")
        return list(staged.values())

    def write(token):
        kinesis_sim.publish(path, stage(token), token)

    def records():
        return [
            (os.path.basename(d), line)
            for d in kinesis_sim._shard_dirs(path)
            for line in kinesis_sim._iter_shard_lines(d)
        ]

    write("scopeAe1")
    first = records()
    assert len(first) == 10
    marker = os.path.join(path, "_epochs", "w-scopeAe1")
    assert os.path.exists(marker)

    # (a) full retry with the marker present: publish skipped, and the
    # staged files it was handed are dropped
    write("scopeAe1")
    assert records() == first
    assert os.listdir(staging) == []

    # (b) torn attempt: the intent record listing the token's files is
    # there, the done-marker is not — the retry must roll the listed
    # files back and republish, not double-append
    intent = os.path.join(path, "_epochs", "i-scopeAe1")
    os.replace(marker, intent)
    with open(intent, encoding="utf-8") as fh:
        listed = _json.load(fh)
    assert sorted(listed) == sorted(
        os.path.relpath(f, path)
        for d in kinesis_sim._shard_dirs(path)
        for f in kinesis_sim._shard_files(d)
    )
    write("scopeAe1")
    assert records() == first
    assert os.path.exists(marker)
    assert not os.path.exists(intent)

    # (c) a new token appends
    write("scopeAe2")
    assert len(records()) == 20


def test_slice_reads_match_full_read_filtered(tmp_path):
    """A slice [start, end) read across part-file boundaries (and past a
    blank line, which holds no sequence number) returns exactly the rows
    of a full read filtered to the slice: the stream reader's live
    `read` (capped) and its replay `readBetweenOffsets` both match the
    batch reader's full shard scan."""
    stream = str(tmp_path / "stream")
    files = [[{"session_id": f"s{f}-{i}"} for i in range(n)] for f, n in enumerate((3, 1, 4))]
    write_source_stream(stream, {0: files})
    shard = kinesis_sim._shard_dirs(stream)[0]
    with open(os.path.join(shard, f"part-{3:020d}.jsonl"), "a", encoding="utf-8") as fh:
        fh.write("\n")

    def rows(batches):
        return [r for b in batches for r in b.to_pylist()]

    full = rows(
        kinesis_sim.KinesisSimBatchReader(stream).read(kinesis_sim.ShardPartition(shard))
    )
    assert [r["sequence_number"] for r in full] == list(range(8))
    for start, end in ((0, 0), (0, 3), (2, 5), (3, 4), (4, 8), (5, 8), (7, 8), (8, 8)):
        want = [r for r in full if start <= r["sequence_number"] < end]
        reader = kinesis_sim.KinesisSimStreamReader(stream, "TRIM_HORIZON", end - start)
        live, offset = reader.read({"shard-00000": start})
        assert rows(live) == want, (start, end)
        assert offset == {"shard-00000": end}
        replay = reader.readBetweenOffsets({"shard-00000": start}, {"shard-00000": end})
        assert rows(replay) == want, (start, end)


def test_guard_checkpoint_fingerprints_first_part_files(tmp_path):
    """`guard_checkpoint` records each shard's first part file (name,
    size, mtime_ns) in the checkpoint: appends and new shards pass (and
    new shards get recorded), while a first file rewritten in place with
    the same name and size, or a vanished shard, is refused."""
    import json
    import shutil

    stream, ckpt = str(tmp_path / "stream"), str(tmp_path / "ckpt")
    write_source_stream(stream, {0: [[{"session_id": "a"}]]})
    kinesis_sim.guard_checkpoint(stream, ckpt)
    write_source_stream(stream, {1: [[{"session_id": "b"}]]})
    with open(os.path.join(stream, "shard-00000", f"part-{1:020d}.jsonl"), "w") as fh:
        fh.write('{"partitionKey": "a", "data": "{}"}\n')
    kinesis_sim.guard_checkpoint(stream, ckpt)
    with open(os.path.join(ckpt, "_source_shards.json")) as fh:
        assert sorted(json.load(fh)) == ["shard-00000", "shard-00001"]

    first = os.path.join(stream, "shard-00001", f"part-{0:020d}.jsonl")
    st = os.stat(first)
    os.utime(first, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    with pytest.raises(kinesis_sim.StaleCheckpointError, match="stale checkpoint.*shard-00001"):
        kinesis_sim.guard_checkpoint(stream, ckpt)
    os.utime(first, ns=(st.st_atime_ns, st.st_mtime_ns))
    kinesis_sim.guard_checkpoint(stream, ckpt)
    shutil.rmtree(os.path.join(stream, "shard-00000"))
    with pytest.raises(RuntimeError, match="stale checkpoint.*shard-00000"):
        kinesis_sim.guard_checkpoint(stream, ckpt)


def test_routed_sink_rejects_streams_on_two_filesystems(tmp_path, monkeypatch):
    """Publishing moves staged files with os.replace, so the routed sink
    refuses destination streams on different filesystems when built."""
    from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import kinesis_sim_sink

    dest = {"USA": str(tmp_path / "usa"), "International": str(tmp_path / "intl")}
    real_stat = os.stat

    def stat(path, *args, **kwargs):
        st = real_stat(path, *args, **kwargs)
        if os.fspath(path) != dest["International"]:
            return st
        fields = list(st[:10])
        fields[2] += 1  # st_dev
        return os.stat_result(fields)

    monkeypatch.setattr(os, "stat", stat)
    with pytest.raises(ValueError, match="one filesystem") as err:
        kinesis_sim_sink(dest)
    assert dest["USA"] in str(err.value) and dest["International"] in str(err.value)


def _run_routed_pipeline(spark, tmp_path, shards, monkeypatch):
    """Run `run_kinesis_sim_pipeline` over a kinesis_sim source stream to
    completion, each micro-batch's Spark jobs in a job group of its own.
    Returns (dest streams, job ids per micro-batch, staging dirs left)."""
    import uuid

    from stream_ingestion_amazon_kinesis_spark.streaming import pipeline

    stream = str(tmp_path / "stream")
    write_source_stream(stream, shards)
    dest = {"USA": str(tmp_path / "usa"), "International": str(tmp_path / "intl")}
    groups = []
    build = pipeline.kinesis_sim_sink

    def traced_sink(*args, **kwargs):
        inner = build(*args, **kwargs)

        def write_batch(batch, epoch_id):
            sc = batch.sparkSession.sparkContext
            group = f"routed-sink-{uuid.uuid4().hex[:8]}-{epoch_id}"
            groups.append(group)
            sc.setJobGroup(group, group)
            try:
                inner(batch, epoch_id)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        return write_batch

    monkeypatch.setattr(pipeline, "kinesis_sim_sink", traced_sink)
    q = pipeline.run_kinesis_sim_pipeline(spark, stream, dest, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        staging = [d for d in dest.values() if os.path.exists(os.path.join(d, "_staging"))]
    finally:
        q.stop()
    tracker = spark.sparkContext.statusTracker()
    return dest, [tracker.getJobIdsForGroup(g) for g in groups], staging


def _session(sid: str, country, n: int) -> dict:
    return {
        "session_id": sid,
        "customer_number": n,
        "country": country,
        "browse_history": [{"product_code": "p", "quantity": "1", "in_shopping_cart": True}],
    }


def test_routed_sink_one_job_per_micro_batch(spark, tmp_path, monkeypatch):
    """Structure pin: each non-empty micro-batch stages both routes and
    the quarantine with ONE Spark job, and publishing leaves no staging
    directory behind. The malformed record lands once in the quarantine
    stream under the USA stream, and a read of the USA stream (which
    lists only its shard-* directories) does not see it."""
    import json

    bad = '{"session_id": "b-bad", "country": "US'
    shards = {
        0: [[_session(f"a{i}", "USA" if i % 2 else "Peru", i) for i in range(40)]],
        1: [[_session(f"b{i}", "USA" if i % 3 else "Chile", i) for i in range(40)] + [bad]],
    }
    dest, jobs, staging = _run_routed_pipeline(spark, tmp_path, shards, monkeypatch)
    assert jobs and [len(j) for j in jobs] == [1] * len(jobs)
    assert staging == []

    def payloads(path):
        return [
            r.data for r in spark.read.format("kinesis_sim").option("path", path).load().collect()
        ]

    assert payloads(os.path.join(dest["USA"], "_quarantine")) == [bad]
    usa = payloads(dest["USA"])
    assert bad not in usa
    assert sorted(json.loads(d)["session_id"] for d in usa) == sorted(
        [f"a{i}" for i in range(40) if i % 2] + [f"b{i}" for i in range(40) if i % 3]
    )


def test_routed_sink_null_country_and_per_key_order(spark, tmp_path, monkeypatch):
    """A null-country session lands exactly once in International (the
    reference's else-branch), and records sharing a session_id in one
    micro-batch keep their source order in their destination shard."""
    import json

    countries = {"u1": "USA", "u2": "USA", "x1": "Peru", "x2": "Chile", "n1": None}
    recs = []
    for n in range(150):  # sessions interleaved; customer_number = source order
        sid = list(countries)[n % len(countries)]
        recs.append(_session(sid, countries[sid], n))
    no_country = {k: v for k, v in _session("n2", None, 150).items() if k != "country"}
    dest, _jobs, _staging = _run_routed_pipeline(
        spark, tmp_path, {0: [recs[:70], recs[70:]], 1: [[no_country]]}, monkeypatch
    )
    recs.append(no_country)

    def routed(path):
        rows = (
            spark.read.format("kinesis_sim").option("path", path).load()
            .orderBy("shard_id", "sequence_number").collect()
        )
        return [(r.shard_id, r.partition_key, json.loads(r.data)) for r in rows]

    usa, intl = routed(dest["USA"]), routed(dest["International"])
    assert {sid for _s, sid, _d in usa} == {"u1", "u2"}
    assert {sid for _s, sid, _d in intl} == {"x1", "x2", "n1", "n2"}
    for rows in (usa, intl):
        by_key = {}
        for shard, sid, data in rows:
            assert shard == f"shard-{kinesis_sim.shard_of(sid, 4):05d}"
            by_key.setdefault(sid, []).append(data["customer_number"])
        for sid, seen in by_key.items():
            want = [r["customer_number"] for r in recs if r["session_id"] == sid]
            assert seen == want, sid


def test_batch_read_of_stream_without_shards_is_empty(spark, tmp_path):
    """A stream directory with no shard-* directory plans no partition;
    PySpark then calls read(None), which must yield nothing."""
    kinesis_sim.register_format(spark)
    empty = tmp_path / "empty"
    empty.mkdir()
    df = spark.read.format("kinesis_sim").option("path", str(empty)).load()
    assert df.collect() == []


def test_routed_sink_builds_its_projection_once(spark, tmp_path, monkeypatch):
    """The sink builds its (route, shard, envelope) Columns once per
    query and reuses them on every micro-batch; the reused
    current_timestamp() still stamps each batch with its own T1."""
    import json

    from stream_ingestion_amazon_kinesis_spark.streaming import pipeline

    calls = []
    build = pipeline.enrichment_columns

    def counted(*args, **kwargs):
        calls.append(args)
        return build(*args, **kwargs)

    monkeypatch.setattr(pipeline, "enrichment_columns", counted)
    stream = str(tmp_path / "stream")
    dest = {"USA": str(tmp_path / "usa"), "International": str(tmp_path / "intl")}
    batches = 3

    def append(b):  # customer_number = the micro-batch's index
        recs = [_session(f"s{b}-{i}", "USA" if i % 2 else "Peru", b) for i in range(10)]
        write_source_stream(stream, {0: [recs]})

    append(0)
    q = pipeline.run_kinesis_sim_pipeline(spark, stream, dest, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        for b in range(1, batches):
            append(b)
            q.processAllAvailable()
    finally:
        q.stop()
    assert len(calls) == 1
    stamps = {}
    for path in dest.values():
        for r in spark.read.format("kinesis_sim").option("path", path).load().collect():
            rec = json.loads(r.data)
            stamps.setdefault(rec["customer_number"], set()).add(rec["processing_timestamp"])
    assert sorted(stamps) == list(range(batches))
    assert all(len(s) == 1 for s in stamps.values())
    assert len(set.union(*stamps.values())) == batches


def test_checkpoint_written_by_file_context_manager_resumes(spark, tmp_path):
    """A checkpoint whose offset and commit logs were written by Spark's
    default FileContext manager resumes under the session's FileSystem
    manager: appended records land exactly once on each route, and the
    offset log keeps its .crc checksum sidecars."""
    import json

    from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import (
        run_kinesis_sim_pipeline,
    )

    key = "spark.sql.streaming.checkpointFileManagerClass"
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing."
    assert spark.conf.get(key) == pkg + "FileSystemBasedCheckpointFileManager"
    stream = str(tmp_path / "stream")
    dest = {"USA": str(tmp_path / "usa"), "International": str(tmp_path / "intl")}
    ckpt = str(tmp_path / "ckpt")

    def sessions(tag, n):
        return [_session(f"{tag}{i}", "USA" if i % 3 else "Peru", i) for i in range(n)]

    # 250 records per shard at the default cap of 200: two micro-batches.
    write_source_stream(stream, {0: [sessions("a", 250)], 1: [sessions("b", 250)]})
    spark.conf.set(key, pkg + "FileContextBasedCheckpointFileManager")
    try:
        run_kinesis_sim_pipeline(spark, stream, dest, ckpt, await_all_available=True).stop()
    finally:
        spark.conf.set(key, pkg + "FileSystemBasedCheckpointFileManager")
    write_source_stream(stream, {0: [sessions("c", 30)], 1: [sessions("d", 30)]})
    run_kinesis_sim_pipeline(spark, stream, dest, ckpt, await_all_available=True).stop()

    want = {"USA": [], "International": []}
    for tag, n in (("a", 250), ("b", 250), ("c", 30), ("d", 30)):
        for s in sessions(tag, n):
            want["USA" if s["country"] == "USA" else "International"].append(s["session_id"])
    for route, path in dest.items():
        got = [
            json.loads(r.data)["session_id"]
            for r in spark.read.format("kinesis_sim").option("path", path).load().collect()
        ]
        assert sorted(got) == sorted(want[route]), route
    offsets = os.listdir(os.path.join(ckpt, "offsets"))
    assert {"0", "1", "2"} <= set(offsets)
    assert {".0.crc", ".1.crc", ".2.crc"} <= set(offsets)


@pytest.mark.parametrize("zone", ["UTC", "Asia/Kolkata", "America/Los_Angeles"])
def test_driver_t1_text_equals_to_json(spark, zone):
    """The sink stamps T1 on the driver as text: for any instant it must
    be what `to_json` writes for that timestamp in the session time zone
    (milliseconds truncated, both sides of a DST change, a whole second,
    an instant before 1970)."""
    import json

    from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import t1_text

    instants = [
        1_792_468_800_123_456,  # 2026-10-19, summer time in Los Angeles
        1_797_811_200_999_999,  # 2026-12-20, winter time
        1_700_000_000_000_000,
        1_000,
        -86_400_000_001,
    ]
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, zone)
    try:
        rows = (
            spark.createDataFrame([(us,) for us in instants], "us long")
            .select(F.to_json(F.struct(F.timestamp_micros("us").alias("t"))).alias("j"))
            .collect()
        )
    finally:
        spark.conf.set(key, old)
    assert [json.loads(r.j)["t"] for r in rows] == [t1_text(us, zone) for us in instants]


def test_routed_sink_compiles_code_on_its_first_batch_only(spark, tmp_path):
    """Every micro-batch of the routed pipeline runs the same generated
    code: batches 2 and 3 compile nothing, so the T1 stamp must not be
    inlined into the code as a literal."""
    from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import run_kinesis_sim_pipeline

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME()
    stream = str(tmp_path / "stream")
    dest = {"USA": str(tmp_path / "usa"), "International": str(tmp_path / "intl")}

    def append(b):
        recs = [_session(f"s{b}-{i}", "USA" if i % 2 else "Peru", b) for i in range(10)]
        write_source_stream(stream, {0: [recs], 1: [recs[::-1]]})

    append(0)
    q = run_kinesis_sim_pipeline(spark, stream, dest, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        for b in (1, 2):
            before = compiled.getCount()
            append(b)
            q.processAllAvailable()
            assert compiled.getCount() == before, f"batch {b + 1} compiled code"
    finally:
        q.stop()
    batches = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
    assert len(batches) == 3


def test_session_keeps_a_whole_runs_progress(spark):
    """`query.recentProgress` keeps 1000 records, so a run of more than
    100 micro-batches (the default) is covered whole."""
    assert spark.conf.get("spark.sql.streaming.numRecentProgressUpdates") == "1000"
