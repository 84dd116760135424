"""Contract of the kinesis_sim stream reader under PySpark's simple-reader
wrapper, without a JVM.

`KinesisSimDataSource` is a `simpleStreamReader` source, so the engine
drives `KinesisSimStreamReader` through
`pyspark.sql.datasource_internal._SimpleStreamReaderWrapper`: every
`latestOffset` reads the next capped slice and caches it, the batch's
partition ships that cache to the JVM, and a restart replays an
uncommitted batch through `readBetweenOffsets`. For any shard contents,
appends between calls and cap, the slice the engine gets live must be
the one a replay re-reads.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.datasource_internal import _SimpleStreamReaderWrapper

from stream_ingestion_amazon_kinesis_spark.sources import kinesis_sim

RECORD = st.tuples(st.text(max_size=6), st.text(max_size=12))
# One append: for some shards, a new part file of 1..5 records.
APPEND = st.dictionaries(
    st.integers(min_value=0, max_value=3), st.lists(RECORD, min_size=1, max_size=5), max_size=3
)


class _Stream:
    """A kinesis_sim stream written directly in its on-disk layout, with
    the records each shard holds, in sequence order."""

    def __init__(self, path: str):
        self.path = path
        self.shards: dict[str, list] = {}
        os.makedirs(path)

    def append(self, batch: dict) -> None:
        for shard, recs in sorted(batch.items()):
            sid = f"shard-{shard:05d}"
            d = os.path.join(self.path, sid)
            os.makedirs(d, exist_ok=True)
            held = self.shards.setdefault(sid, [])
            name = f"part-{len(held):020d}.jsonl"
            with open(os.path.join(d, name), "w", encoding="utf-8") as fh:
                for key, data in recs:
                    fh.write(json.dumps({"partitionKey": key, "data": data}) + "\n")
            held.extend(recs)

    def rows(self, start: dict, end: dict) -> list:
        return [
            (sid, seq, *self.shards[sid][seq])
            for sid in sorted(self.shards)
            for seq in range(start.get(sid, 0), end.get(sid, 0))
        ]


def _rows(batches) -> list:
    return [
        (r["shard_id"], r["sequence_number"], r["partition_key"], r["data"])
        for b in batches
        for r in b.to_pylist()
    ]


@given(
    initial=APPEND,
    appends=st.lists(APPEND, min_size=1, max_size=6),
    cap=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_wrapped_reader_serves_live_batches_from_prefetch(initial, appends, cap):
    with tempfile.TemporaryDirectory() as tmp:
        stream = _Stream(os.path.join(tmp, "stream"))
        stream.append(initial)
        reader = kinesis_sim.KinesisSimStreamReader(stream.path, "TRIM_HORIZON", cap)
        engine = _SimpleStreamReaderWrapper(reader)
        start = engine.initialOffset()
        # Each append is followed by polls until the stream is drained,
        # so micro-batches see both capped and short slices.
        for batch in appends + [{}]:
            stream.append(batch)
            while True:
                end = engine.latestOffset()
                for sid, held in stream.shards.items():
                    at = start.get(sid, 0)
                    assert end[sid] == min(len(held), at + cap)
                if end == start:
                    # Offsets compare as JSON text: an idle poll must
                    # hand back `start` in its own key order.
                    assert json.dumps(end) == json.dumps(start)
                    break
                (part,) = engine.partitions(start, end)
                live = engine.getCache(start, end)
                assert live is not None, "live batch not served from the prefetch"
                want = stream.rows(start, end)
                assert _rows(live) == want
                assert _rows(engine.read(part)) == want
                assert _rows(reader.readBetweenOffsets(start, end)) == want
                engine.commit(end)
                start = end
        assert start == {sid: len(held) for sid, held in stream.shards.items()}


def test_start_past_shard_tail_raises_from_read_and_replay(tmp_path):
    stream = _Stream(str(tmp_path / "stream"))
    stream.append({0: [("k", "a"), ("k", "b")], 1: [("j", "c")]})
    reader = kinesis_sim.KinesisSimStreamReader(stream.path, "TRIM_HORIZON", 10)
    stale = {"shard-00000": 1, "shard-00001": 2}
    with pytest.raises(RuntimeError, match="exceeds the shard tail"):
        reader.read(stale)
    with pytest.raises(RuntimeError, match="exceeds the shard tail"):
        reader.readBetweenOffsets(stale, {"shard-00000": 2, "shard-00001": 3})
    # A replayed batch whose end lies past the tail lost records too.
    with pytest.raises(RuntimeError, match="exceeds the shard tail"):
        reader.readBetweenOffsets({"shard-00000": 0}, {"shard-00000": 3})
    _, end = reader.read({"shard-00000": 2, "shard-00001": 1})
    assert end == {"shard-00000": 2, "shard-00001": 1}
