"""Seeded inputs for the benchmark, and the checks on what comes out.

- `session_records` makes reference-shaped session records: skewed
  `country`, heavy-tailed `browse_history`, `quantity` as a string on the
  wire, and a fixed share of malformed JSON payloads. `country` is never
  null: the shipped sink routes with `country != 'USA'`, which drops
  null-country rows that the reference consumer would route International.
- `produce` appends records to a kinesis_sim stream through
  `KinesisSimWriter.write`/`commit` (standard library only, no Spark job).
- `python3 perfbench/corpus.py ...` is the open-loop generator
  process: it publishes one tick of records per interval on a fixed
  schedule and logs each tick's due time, send time and the per-shard
  sequence number of every record.
- `expected_output` / `check_routed` recompute the reference consumer's
  enrichment in pure Python and compare it with the destination streams.
- `permuted_fixture` writes the batch fixture with a seeded row order.
"""

from __future__ import annotations

import argparse
import functools
import glob
import json
import os
import random
import sys
import time
import zlib

COUNTRIES = (
    ("USA", 45),
    ("Canada", 14),
    ("Mexico", 10),
    ("UK", 8),
    ("Germany", 7),
    ("France", 5),
    ("Brazil", 4),
    ("Japan", 3),
    ("India", 2),
    ("Australia", 2),
)
CITIES = ("Springfield", "Riverside", "Franklin", "Greenville", "Bristol",
          "Clinton", "Fairview", "Salem", "Madison", "Georgetown")
MALFORMED_EVERY = 97  # about 1 % of payloads are truncated JSON
MAX_ITEMS = 60
NUM_SHARDS = 4


CHUNK = 256


def session_records(seed: int, tag: str, start: int, count: int) -> list[dict]:
    """Records `start .. start+count-1` of the stream named `tag`.

    Each record is `{"session_id", "payload", "valid"}`; `payload` is the
    JSON text put on the wire. Records are drawn in chunks of CHUNK from
    an RNG seeded by (seed, tag, chunk), so any slice of a stream can be
    regenerated on its own.
    """
    out = []
    first_chunk, last_chunk = start // CHUNK, (start + count - 1) // CHUNK
    for chunk in range(first_chunk, last_chunk + 1):
        out.extend(_chunk(seed, tag, chunk))
    skip = start - first_chunk * CHUNK
    return out[skip : skip + count]


@functools.lru_cache(maxsize=4)
def _chunk(seed: int, tag: str, chunk: int) -> list[dict]:
    names = [c for c, _ in COUNTRIES]
    weights = [w for _, w in COUNTRIES]
    rng = random.Random(f"{seed}:{tag}:{chunk}")
    out = []
    for i in range(chunk * CHUNK, (chunk + 1) * CHUNK):
        sid = f"{tag}-{seed}-{i:08d}"
        if rng.random() < 0.05:
            n_items = 0
        else:
            n_items = min(int(rng.paretovariate(1.3)), MAX_ITEMS)
        rec = {
            "session_id": sid,
            "customer_number": rng.randrange(1, 1_000_000),
            "city": rng.choice(CITIES),
            "country": rng.choices(names, weights)[0],
            "credit_limit": rng.randrange(1_000, 50_000, 100),
            "browse_history": [
                {
                    "product_code": f"P{rng.randrange(10_000):05d}",
                    "quantity": str(rng.randrange(1, 10)),
                    "in_shopping_cart": rng.random() < 0.3,
                }
                for _ in range(n_items)
            ],
        }
        payload = json.dumps(rec)
        valid = i % MALFORMED_EVERY != MALFORMED_EVERY - 1
        if not valid:
            payload = payload[: len(payload) // 2]
        out.append({"session_id": sid, "payload": payload, "valid": valid})
    return out


def shard_of(key: str, num_shards: int = NUM_SHARDS) -> int:
    """The shard `KinesisSimWriter` routes a partition key to."""
    return zlib.crc32(key.encode("utf-8")) % num_shards


def produce(stream_dir: str, records: list[dict], num_shards: int = NUM_SHARDS) -> None:
    """Append `records` to a kinesis_sim stream as one committed write."""
    from stream_ingestion_amazon_kinesis_spark.sources.kinesis_sim import (
        KinesisSimWriter,
    )

    os.makedirs(stream_dir, exist_ok=True)
    writer = KinesisSimWriter(stream_dir, num_shards, "partition_key", "data")
    msg = writer.write(
        {"partition_key": r["session_id"], "data": r["payload"]} for r in records
    )
    writer.commit([msg])


def shard_tails(stream_dir: str, num_shards: int = NUM_SHARDS) -> dict[str, int]:
    """Records per shard, keyed like the source's offsets."""
    tails = {}
    for s in range(num_shards):
        n = 0
        for f in glob.glob(os.path.join(stream_dir, f"shard-{s:05d}", "*.jsonl")):
            with open(f, encoding="utf-8") as fh:
                n += sum(1 for line in fh if line.strip())
        tails[f"shard-{s:05d}"] = n
    return tails


def read_stream(stream_dir: str) -> list[tuple[str, dict]]:
    """(partition_key, decoded data) for every record of a stream."""
    out = []
    for f in sorted(glob.glob(os.path.join(stream_dir, "shard-*", "*.jsonl"))):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    env = json.loads(line)
                    out.append((env["partitionKey"], json.loads(env["data"])))
    return out


def expected_output(records: list[dict]) -> dict[str, dict]:
    """The reference consumer's enrichment (consumer.py T2-T4) and route
    for every valid record, recomputed in pure Python."""
    out = {}
    for r in records:
        if not r["valid"]:
            continue
        rec = json.loads(r["payload"])
        bh = rec["browse_history"]
        rec["overall_product_quantity"] = sum(int(p["quantity"]) for p in bh)
        rec["overall_in_shopping_cart"] = sum(
            int(p["quantity"]) for p in bh if p["in_shopping_cart"]
        )
        rec["total_different_products"] = len(bh)
        rec["route"] = "USA" if rec["country"] == "USA" else "International"
        out[rec["session_id"]] = rec
    return out


CHECKED_FIELDS = (
    "customer_number",
    "city",
    "country",
    "credit_limit",
    "overall_product_quantity",
    "overall_in_shopping_cart",
    "total_different_products",
)


def check_routed(expected: dict[str, dict], routed: dict[str, list]) -> dict[str, int]:
    """Compare destination streams with `expected_output`.

    `routed` maps route name to `read_stream` output. Every expected
    record must land exactly once, on its route, keyed by its session id,
    with the recomputed enrichment. Returns the count of each kind of
    failure; `failed` is their sum.
    """
    seen: dict[str, int] = {}
    c = {"duplicated": 0, "misrouted": 0, "mismatched": 0, "unexpected": 0}
    for route, rows in routed.items():
        for key, data in rows:
            sid = data.get("session_id")
            want = expected.get(sid)
            if want is None:
                c["unexpected"] += 1
                continue
            seen[sid] = seen.get(sid, 0) + 1
            if seen[sid] > 1:
                c["duplicated"] += 1
            if route != want["route"]:
                c["misrouted"] += 1
            if key != sid or any(data.get(f) != want[f] for f in CHECKED_FIELDS):
                c["mismatched"] += 1
    c["missing"] = sum(1 for sid in expected if sid not in seen)
    c["failed"] = sum(c.values())
    return c


def permuted_fixture(src_dir: str, dst_dir: str, seed: int) -> None:
    """Copy every parquet table with its rows in a seeded order. Query
    answers do not depend on row order, so the oracles still hold."""
    import pyarrow.parquet as pq

    os.makedirs(dst_dir, exist_ok=True)
    for path in sorted(glob.glob(os.path.join(src_dir, "*.parquet"))):
        table = pq.read_table(path)
        order = list(range(table.num_rows))
        random.Random(f"{seed}:{os.path.basename(path)}").shuffle(order)
        pq.write_table(table.take(order), os.path.join(dst_dir, os.path.basename(path)))


def run_trickle(args) -> None:
    """Open-loop generator: tick i is due at start + i * tick; it is
    published late rather than skipped if the writer falls behind."""
    per_tick = max(1, round(args.rate * args.tick_ms / 1000))
    n_ticks = int(args.seconds * 1000 / args.tick_ms)
    seq = shard_tails(args.stream)
    log = []
    index = 0
    for i in range(n_ticks):
        due = args.start_at + i * args.tick_ms / 1000
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        records = session_records(args.seed, args.tag, index, per_tick)
        index += per_tick
        produce(args.stream, records)
        sent = time.time()
        placed = []
        for r in records:
            sid = f"shard-{shard_of(r['session_id']):05d}"
            placed.append([r["session_id"], sid, seq[sid]])
            seq[sid] += 1
        log.append({"due": due, "sent": sent, "records": placed})
    with open(args.log, "w", encoding="utf-8") as fh:
        json.dump({"count": index, "ticks": log}, fh)


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(description="open-loop generator: "
                                "append session records to a kinesis_sim stream")
    p.add_argument("--stream", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--tag", required=True, help="names the record stream")
    p.add_argument("--rate", type=float, required=True, help="records per second")
    p.add_argument("--tick-ms", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--start-at", type=float, required=True, help="epoch seconds")
    p.add_argument("--log", required=True)
    run_trickle(p.parse_args(argv))


if __name__ == "__main__":
    main(sys.argv[1:])
