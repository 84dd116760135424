"""Command-line surface — the reference's three CLI entry points
re-expressed over the engine (SURVEY §2.1 S9, §3.1-3.3).

The reference ships as CLIs: a producer (`producer_from_cli...py:27-31`
-- `--stream`/`--json_string`), a plain consumer
(`consumer_from_cli...py:111-112` -- `--stream`, decode + log) and the
ETL consumer (`consumer.py:20-28` -- `--source_stream`/`--dest_streams`
JSON dict). This module maps each onto the engine:

    python -m stream_ingestion_amazon_kinesis_spark list [--grep PAT]
    python -m stream_ingestion_amazon_kinesis_spark run NAME [NAME...]
        [--sf-dir D] [--limit N] [--explain]
    python -m stream_ingestion_amazon_kinesis_spark entry [--sf-dir D]
    python -m stream_ingestion_amazon_kinesis_spark produce
        --stream DIR --json-string JSON
    python -m stream_ingestion_amazon_kinesis_spark consume
        --stream DIR [--limit N]
    python -m stream_ingestion_amazon_kinesis_spark etl
        --source-stream DIR --dest-streams '{"USA": DIR, "International": DIR}'

`produce`/`consume`/`etl` run against the kinesis_sim stream protocol
(sharded local directories), the same DataSource the streaming queries
use — swap `format("kinesis_sim")` for the real connector to target
actual Kinesis.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile


def _get_spark(app: str):
    from .session import get_spark

    return get_spark(app)


def cmd_list(args: argparse.Namespace) -> int:
    from .plans.registry import QUERIES, _load_all

    _load_all()
    for name in sorted(QUERIES):
        if args.grep and args.grep.lower() not in name.lower():
            continue
        spec = QUERIES[name]
        if spec.oracle:
            kind = "oracle"
        elif spec.twin_test:
            kind = f"rows-only, see {spec.twin_test}"
        else:
            kind = "rows-only"
        print(f"{name}  [{kind}]")
        if args.verbose and spec.description:
            print(f"    {spec.description}")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    from .plans.registry import QUERIES, _load_all

    _load_all()
    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = _get_spark("cli-run")
    for name in args.names:
        df = QUERIES[name].fn(spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        df.show(args.limit, truncate=False)
    return 0


def cmd_entry(args: argparse.Namespace) -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod

    spark = _get_spark("cli-entry")
    entry_mod.entry(spark).show(50, truncate=False)
    return 0


def cmd_produce(args: argparse.Namespace) -> int:
    """One record -> the stream, keyed like the reference producer
    (PartitionKey=session_id, producer_from_cli...py:48)."""
    from .sources.kinesis_sim import register_format

    record = json.loads(args.json_string)
    if args.partition_key not in record:
        # The reference producer fails loudly on a missing key
        # (producer_from_cli...py:48 indexes data_record["session_id"]);
        # a silent "" key would degrade shard routing.
        print(
            f"error: record is missing partition-key field "
            f"{args.partition_key!r}",
            file=sys.stderr,
        )
        return 2
    key = str(record[args.partition_key])
    spark = _get_spark("cli-produce")
    register_format(spark)
    df = spark.createDataFrame(
        [(key, json.dumps(record))], "partition_key string, data string"
    )
    (
        df.write.format("kinesis_sim")
        .option("path", args.stream)
        .option("numShards", str(args.num_shards))
        .mode("append")
        .save()
    )
    print(f"put 1 record into {args.stream} (partition_key={key!r})")
    return 0


def cmd_consume(args: argparse.Namespace) -> int:
    """Decode + log every record, the plain-consumer loop
    (consumer_from_cli...py:93-97) as one batch read."""
    from .sources.kinesis_sim import register_format

    spark = _get_spark("cli-consume")
    register_format(spark)
    df = (
        spark.read.format("kinesis_sim")
        .option("path", args.stream)
        .load()
        .orderBy("shard_id", "sequence_number")
    )
    # toLocalIterator: one partition at a time through the driver, so
    # logging a huge stream never materializes it driver-side.
    rows = df.take(args.limit) if args.limit else df.toLocalIterator()
    n = 0
    for r in rows:
        print(
            f"shard={r['shard_id']} seq={r['sequence_number']} "
            f"pk={r['partition_key']} data={r['data']}"
        )
        n += 1
    print(f"{n} records")
    return 0


def cmd_etl(args: argparse.Namespace) -> int:
    """The flagship topology (consumer.py:108-195): source stream ->
    enrichment -> country demux -> two destination streams, exactly-once
    via checkpoint."""
    from .sources.kinesis_sim import StaleCheckpointError
    from .streaming.pipeline import run_kinesis_sim_pipeline

    dest = json.loads(args.dest_streams)
    # Exactly-once across re-runs holds only when the SAME checkpoint is
    # reused, so the default is derived deterministically from the
    # source+dest paths (not a fresh mkdtemp, which would reprocess the
    # whole stream and append duplicates on every invocation).
    if args.checkpoint:
        checkpoint = args.checkpoint
    else:
        topo = hashlib.sha256(
            json.dumps([args.source_stream, dest], sort_keys=True).encode()
        ).hexdigest()[:16]
        checkpoint = os.path.join(
            tempfile.gettempdir(), f"etl-ckpt-{topo}"
        )
    spark = _get_spark("cli-etl")
    try:
        query = run_kinesis_sim_pipeline(
            spark, args.source_stream, dest, checkpoint, await_all_available=True
        )
    except StaleCheckpointError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    query.stop()
    print(f"drained {args.source_stream} -> {dest} (checkpoint {checkpoint})")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="stream_ingestion_amazon_kinesis_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    lp = sub.add_parser("list", help="list registered queries")
    lp.add_argument("--grep", default=None)
    lp.add_argument("-v", "--verbose", action="store_true")
    lp.set_defaults(fn=cmd_list)

    rp = sub.add_parser("run", help="run registered queries")
    rp.add_argument("names", nargs="+")
    rp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    rp.add_argument("--limit", type=int, default=20)
    rp.add_argument("--explain", action="store_true")
    rp.set_defaults(fn=cmd_run)

    ep = sub.add_parser("entry", help="run the flagship entry query (sf0.001)")
    ep.set_defaults(fn=cmd_entry)

    pp = sub.add_parser("produce", help="put one JSON record into a stream")
    pp.add_argument("--stream", required=True)
    pp.add_argument("--json-string", required=True)
    pp.add_argument("--partition-key", default="session_id")
    pp.add_argument("--num-shards", type=int, default=2)
    pp.set_defaults(fn=cmd_produce)

    cp = sub.add_parser("consume", help="read + log a stream's records")
    cp.add_argument("--stream", required=True)
    cp.add_argument("--limit", type=int, default=0)
    cp.set_defaults(fn=cmd_consume)

    tp = sub.add_parser("etl", help="run the routing ETL over a stream")
    tp.add_argument("--source-stream", required=True)
    tp.add_argument("--dest-streams", required=True)
    tp.add_argument("--checkpoint", default=None)
    tp.set_defaults(fn=cmd_etl)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
