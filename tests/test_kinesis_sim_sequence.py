"""Sequence numbers that never move and reads that cost O(batch), on the
kinesis_sim stream without a JVM.

Kinesis gives a record its per-shard sequence number when it is put and
resolves a shard iterator from it without scanning the shard. The
stand-in's part files are named by their first sequence number: a
publish claims its name exclusively, and a reader bisects the listing
for the files a slice overlaps.
"""

from __future__ import annotations

import json
import os

from stream_ingestion_amazon_kinesis_spark.sources import kinesis_sim

SHARD = "shard-00000"


def _stage(stream: str, tag: str, data: list[str]) -> tuple[str, str]:
    """One staged part file for shard 0, as `publish` takes it."""
    staging = os.path.join(stream, "_staging")
    os.makedirs(staging, exist_ok=True)
    tmp = os.path.join(staging, f"{tag}.jsonl")
    with open(tmp, "w", encoding="utf-8") as fh:
        for d in data:
            fh.write(json.dumps({"partitionKey": tag, "data": d}) + "\n")
    return os.path.join(SHARD, f"part-{tag}.jsonl"), tmp


def _records(batches) -> list[tuple[int, str]]:
    return [(r["sequence_number"], r["data"]) for b in batches for r in b.to_pylist()]


def test_concurrent_publishers_never_renumber_consumed_records(tmp_path, monkeypatch):
    """Publisher A looks up the shard's tail; before it claims, publisher
    B looks up the same tail, publishes, and a reader consumes B's
    records. A's claim must then land after B's records: every consumed
    record keeps its sequence number, and the two files land at
    distinct first sequence numbers."""
    stream = str(tmp_path / "stream")
    kinesis_sim.publish(stream, [_stage(stream, "seed", ["s0", "s1"])], None)
    reader = kinesis_sim.KinesisSimStreamReader(stream, "TRIM_HORIZON", 100)
    consumed = []
    real = kinesis_sim._shard_files
    armed = [True]

    def listing(shard_dir):
        files = real(shard_dir)
        if armed:
            armed.clear()
            kinesis_sim.publish(stream, [_stage(stream, "zzzz", ["b0", "b1"])], None)
            batches, _end = reader.read({SHARD: 2})
            consumed.extend(_records(batches))
        return files

    monkeypatch.setattr(kinesis_sim, "_shard_files", listing)
    kinesis_sim.publish(stream, [_stage(stream, "aaaa", ["a0", "a1"])], None)
    monkeypatch.setattr(kinesis_sim, "_shard_files", real)

    assert consumed == [(2, "b0"), (3, "b1")]
    batches, end = reader.read({SHARD: 0})
    records = _records(batches)
    assert end == {SHARD: 6}
    assert set(consumed) <= set(records), records
    assert sorted(d for _seq, d in records) == ["a0", "a1", "b0", "b1", "s0", "s1"]
    assert [s for s, _d in records] == list(range(6))


def _long_stream(path: str, shards: int, files: int, per_file: int) -> None:
    for s in range(shards):
        d = os.path.join(path, f"shard-{s:05d}")
        os.makedirs(d)
        for f in range(files):
            first = f * per_file
            with open(os.path.join(d, f"part-{first:020d}.jsonl"), "w", encoding="utf-8") as fh:
                for seq in range(first, first + per_file):
                    fh.write(json.dumps({"partitionKey": "k", "data": f"{s}-{seq}"}) + "\n")


def test_reads_of_a_long_shard_open_only_the_files_they_overlap(tmp_path, monkeypatch):
    """In shards of 2000 part files, a live read and a replay of the last
    60 records open at most 2 part files per shard, and a LATEST start
    opens 1: the cost of a micro-batch does not grow with the stream."""
    stream = str(tmp_path / "stream")
    shards, files, per_file = 2, 2000, 30
    _long_stream(stream, shards, files, per_file)
    tail = files * per_file
    opened = []
    real_open = open

    def counting_open(path, *args, **kwargs):
        opened.append(os.path.basename(os.path.dirname(path)))
        return real_open(path, *args, **kwargs)

    monkeypatch.setattr(kinesis_sim, "open", counting_open, raising=False)
    sids = [f"shard-{s:05d}" for s in range(shards)]
    start = {sid: tail - 60 for sid in sids}
    want = [(seq, f"{s}-{seq}") for s in range(shards) for seq in range(tail - 60, tail)]
    reader = kinesis_sim.KinesisSimStreamReader(stream, "TRIM_HORIZON", 200)

    batches, end = reader.read(start)
    assert end == {sid: tail for sid in sids}
    assert _records(batches) == want
    assert all(opened.count(sid) <= 2 for sid in sids), opened

    opened.clear()
    assert _records(reader.readBetweenOffsets(start, end)) == want
    assert all(opened.count(sid) <= 2 for sid in sids), opened

    opened.clear()
    latest = kinesis_sim.KinesisSimStreamReader(stream, "LATEST", 200).initialOffset()
    assert latest == {sid: tail for sid in sids}
    assert sorted(opened) == sids


def test_many_concurrent_publishers_append_every_record_once(tmp_path):
    """8 threads publish 5 files each to the same two shards at once:
    every record lands once, each file's records stay together and in
    order, and the sequence numbers are dense."""
    import sys
    import threading

    stream = str(tmp_path / "stream")
    os.makedirs(stream)
    writers, rounds = 8, 5
    errors = []

    def produce(w: int) -> None:
        try:
            for r in range(rounds):
                staged = []
                for shard in (0, 1):
                    tmp = os.path.join(stream, f"stage-{w}-{r}-{shard}.jsonl")
                    with open(tmp, "w", encoding="utf-8") as fh:
                        for i in range(3):
                            fh.write(json.dumps({"partitionKey": "k", "data": f"{w}/{r}/{i}"}) + "\n")
                    staged.append((f"shard-{shard:05d}/part-x.jsonl", tmp))
                kinesis_sim.publish(stream, staged, None)
        except BaseException as e:  # re-raised below, on the test's thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=produce, args=(w,)) for w in range(writers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    reader = kinesis_sim.KinesisSimStreamReader(stream, "TRIM_HORIZON", 10_000)
    batches, end = reader.read({})
    total = writers * rounds * 3
    assert end == {"shard-00000": total, "shard-00001": total}
    rows = [r for b in batches for r in b.to_pylist()]
    for shard in ("shard-00000", "shard-00001"):
        data = [r["data"] for r in rows if r["shard_id"] == shard]
        assert sorted(data) == sorted(f"{w}/{r}/{i}" for w in range(writers) for r in range(rounds) for i in range(3))
        for at in range(0, total, 3):
            file = data[at : at + 3]
            assert [d.rsplit("/", 1)[1] for d in file] == ["0", "1", "2"], file
            assert len({d.rsplit("/", 1)[0] for d in file}) == 1, file
