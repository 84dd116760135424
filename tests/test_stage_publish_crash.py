"""Exactly-once of the routed sink's driver half under a crash at every
filesystem call, with no JVM.

`streaming.pipeline.stage_and_publish` stages one micro-batch of three
routes x two shards (USA and International each already hold a part
file) and publishes it with one commit token. A crash-free run counts
the filesystem calls it makes. Then, for every call k, a forked child
runs the same epoch and crashes just before call k, once by SIGKILL and
once by exception, and the parent retries the epoch with no crash. After
each retry the streams must equal the crash-free run's file for file
(names carry each file's index, so sequence numbers are equal too),
every route must hold its rows once, and no staging may be left.

The test runs this file as a script in one fresh interpreter, which
forks once per crash; the pytest process holds py4j threads and never
forks. The script prints one JSON report line.
"""

from __future__ import annotations

import collections
import json
import os
import signal
import subprocess
import sys

ROUTES = ("USA", "International", "_quarantine")
TOKEN = "scopee00000000000000000007"


def _rows() -> list[tuple[str, int, str]]:
    """(route, shard, envelope) rows, routes and shards interleaved."""
    rows = []
    for i in range(12):
        route, shard = ROUTES[i % 3], i // 3 % 2
        rows.append((route, shard, json.dumps({"partitionKey": f"k{i}", "data": f"{route}-{i}"})))
    return rows


def _routes(base: str) -> list[tuple[str, str]]:
    """The sink's routes under `base`, USA and International seeded with
    one part file each in shard 0."""
    usa, intl = os.path.join(base, "usa"), os.path.join(base, "intl")
    for stream in (usa, intl):
        os.makedirs(os.path.join(stream, "shard-00000"))
        part = os.path.join(stream, "shard-00000", "part-00000000-src.jsonl")
        with open(part, "w", encoding="utf-8") as fh:
            fh.write(json.dumps({"partitionKey": "old", "data": "old"}) + "\n")
    return [("USA", usa), ("International", intl), ("_quarantine", os.path.join(usa, "_quarantine"))]


def _snapshot(base: str) -> dict[str, str | None]:
    """Every directory (None) and file (its text) under `base`."""
    out = {}
    for root, dirs, files in os.walk(base):
        rel = os.path.relpath(root, base)
        out.update({os.path.join(rel, d): None for d in dirs})
        for f in files:
            with open(os.path.join(root, f), encoding="utf-8") as fh:
                out[os.path.join(rel, f)] = fh.read()
    return out


def _problems(base: str, routes, want: dict[str, str | None]) -> list[str]:
    from stream_ingestion_amazon_kinesis_spark.sources.kinesis_sim import (
        _iter_shard_lines,
        _shard_dirs,
    )

    problems = []
    rows = collections.Counter(_rows())
    for route, path in routes:
        got = collections.Counter(
            (route, int(os.path.basename(d)[len("shard-"):]), line)
            for d in (_shard_dirs(path) if os.path.isdir(path) else [])
            for line in _iter_shard_lines(d)
            if json.loads(line)["partitionKey"] != "old"
        )
        if got != collections.Counter({r: n for r, n in rows.items() if r[0] == route}):
            problems.append(f"{route}: not one copy of each row: {sorted(got.items())}")
    if os.path.exists(os.path.join(routes[0][1], "_staging")):
        problems.append("_staging left")
    have = _snapshot(base)
    if have != want:
        diff = sorted(k for k in have.keys() | want.keys() if have.get(k, 0) != want.get(k, 0))
        problems.append(f"differs from the crash-free run at {diff}")
    return problems


def crash_at_every_call(workdir: str) -> dict:
    """Run the crash-free epoch, then crash and retry it at every
    filesystem call k, killed and raised. Returns the report."""
    from crash_injector import CrashInjector, InjectedCrash

    from stream_ingestion_amazon_kinesis_spark.streaming import pipeline

    injector = CrashInjector(at=None)
    injector.install()

    def run(routes) -> int:
        """One retry-free attempt; returns how many times it collected."""
        collected = []
        pipeline.stage_and_publish(routes, TOKEN, lambda: collected.append(1) or _rows())
        return len(collected)

    free = os.path.join(workdir, "free")
    free_routes = _routes(free)
    run(free_routes)
    want = _snapshot(free)
    report = {"calls": injector.calls, "killed": [], "raised": [], "failures": []}
    report["failures"] += [f"crash-free: {p}" for p in _problems(free, free_routes, want)]
    if run(free_routes):
        report["failures"].append("a retry of a published epoch collected again")

    for kill, outcome in ((True, "killed"), (False, "raised")):
        for k in range(1, report["calls"] + 1):
            base = os.path.join(workdir, f"{outcome}-{k}")
            routes = _routes(base)
            pid = os.fork()
            if pid == 0:
                injector.arm(k, kill)
                try:
                    run(routes)
                except InjectedCrash:
                    os._exit(0)
                except BaseException:
                    os._exit(2)
                os._exit(1)
            _, status = os.waitpid(pid, 0)
            if kill and os.WIFSIGNALED(status) and os.WTERMSIG(status) == signal.SIGKILL:
                report[outcome].append(k)
            elif not kill and os.WIFEXITED(status) and os.WEXITSTATUS(status) == 0:
                report[outcome].append(k)
            run(routes)
            report["failures"] += [f"{outcome} at {k}: {p}" for p in _problems(base, routes, want)]
    return report


def test_stage_and_publish_converges_after_a_crash_at_every_filesystem_call(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    report = json.loads(proc.stdout.splitlines()[-1])
    every = list(range(1, report["calls"] + 1))
    assert report["calls"] >= 25, report
    assert report["killed"] == every, report
    assert report["raised"] == every, report
    assert report["failures"] == [], "\n".join(report["failures"])


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(crash_at_every_call(sys.argv[1])))
