"""Tests for the benchmark's helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
from measure import Window, percentile, summarize, tree_usage  # noqa: E402


def test_generator_is_deterministic_for_a_seed():
    a = corpus.session_records(7, "t", 0, 600)
    corpus._chunk.cache_clear()
    b = corpus.session_records(7, "t", 0, 600)
    assert a == b
    assert corpus.session_records(7, "t", 300, 50) == a[300:350]
    assert corpus.session_records(8, "t", 0, 600) != a


def test_generator_shape():
    recs = corpus.session_records(1, "shape", 0, 5000)
    bad = [r for r in recs if not r["valid"]]
    assert 0.005 < len(bad) / len(recs) < 0.02
    for r in bad:
        with pytest.raises(json.JSONDecodeError):
            json.loads(r["payload"])
    good = [json.loads(r["payload"]) for r in recs if r["valid"]]
    assert all(g["country"] for g in good)
    assert all(isinstance(p["quantity"], str) for g in good for p in g["browse_history"])
    lengths = sorted(len(g["browse_history"]) for g in good)
    assert lengths[0] == 0 and lengths[-1] > 5 * lengths[len(lengths) // 2]
    usa = sum(g["country"] == "USA" for g in good) / len(good)
    assert 0.35 < usa < 0.55


def test_percentile_helper_reports_sample_count():
    s = summarize([5, 1, 3, 2, 4])
    assert s["n"] == 5
    assert s["p50"] == 3 and s["max"] == 5
    assert s["p90"] == pytest.approx(4.6)
    assert summarize([]) == {"n": 0}
    assert percentile([10], 90) == 10


def _routed(expected):
    out = {"USA": [], "International": []}
    for sid, rec in expected.items():
        data = {k: v for k, v in rec.items() if k != "route"}
        out[rec["route"]].append((sid, data))
    return out


def test_checker_flags_duplicated_missing_and_misrouted():
    recs = corpus.session_records(3, "chk", 0, 300)
    expected = corpus.expected_output(recs)
    assert len(expected) == sum(r["valid"] for r in recs)
    clean = corpus.check_routed(expected, _routed(expected))
    assert clean["failed"] == 0

    routed = _routed(expected)
    usa, intl = routed["USA"], routed["International"]
    routed["USA"] = usa[:1] + usa[2:] + usa[:1]  # usa[0] twice, usa[1] moved
    routed["International"] = intl[1:] + usa[1:2]  # intl[0] missing
    c = corpus.check_routed(expected, routed)
    assert (c["duplicated"], c["missing"], c["misrouted"]) == (1, 1, 1)
    assert c["failed"] == 3


def test_checker_flags_wrong_enrichment_and_key():
    expected = corpus.expected_output(corpus.session_records(3, "chk2", 0, 50))
    routed = _routed(expected)
    sid, data = routed["USA"][0]
    routed["USA"][0] = (sid, {**data, "overall_product_quantity": -1})
    sid, data = routed["USA"][1]
    routed["USA"][1] = ("other-key", data)
    assert corpus.check_routed(expected, routed)["mismatched"] == 2


def test_trickle_generator_logs_where_records_landed(tmp_path):
    stream = str(tmp_path / "s")
    corpus.produce(stream, corpus.session_records(1, "warm", 0, 10))
    log = tmp_path / "log.json"
    subprocess.run(
        [sys.executable, os.path.join(BENCH, "corpus.py"),
         "--stream", stream, "--seed", "1", "--tag", "g", "--rate", "100",
         "--tick-ms", "100", "--seconds", "0.5", "--start-at", repr(time.time()),
         "--log", str(log)],
        check=True, env={**os.environ, "PYTHONPATH": ROOT},
    )
    glog = json.loads(log.read_text())
    assert glog["count"] == 50 and len(glog["ticks"]) == 5
    on_disk = {}
    for f in sorted((tmp_path / "s").glob("shard-*/*.jsonl")):
        for line in f.read_text().splitlines():
            on_disk.setdefault(f.parent.name, []).append(json.loads(line)["partitionKey"])
    for tick in glog["ticks"]:
        assert tick["sent"] >= tick["due"]
        for sid, shard, seq in tick["records"]:
            assert on_disk[shard][seq] == sid
    assert corpus.shard_tails(stream) == {k: len(v) for k, v in on_disk.items()}


def test_tree_usage_sees_this_process():
    cpu, rss, pids = tree_usage(os.getpid())
    assert os.getpid() in pids and cpu > 0 and rss > 0
    _, _, none = tree_usage(os.getpid(), frozenset({os.getpid()}))
    assert none == set()


def test_window_counts_reaped_and_orphaned_processes_once():
    # pid 1 is the root; at the window's start it has child 2 (5 ticks so
    # far) and grandchild 3 (7 ticks so far).
    w = Window({1: (0, 10, 1), 2: (1, 5, 1), 3: (2, 7, 1)}, {1, 2, 3})
    # 2 used 4 more ticks, then 3 used 2 more, then 3 was orphaned by 2's
    # death (2 was reaped by 1, whose ticks now include 2's 9); 4 was born
    # and used 6 ticks; 3 left the tree while alive.
    w.observe({1: (0, 10, 1), 2: (1, 9, 1), 3: (2, 9, 1), 4: (1, 6, 1)}, {1, 2, 3, 4})
    end = {1: (0, 10 + 9, 1), 3: (99, 30, 1), 4: (1, 8, 1)}
    w.observe(end, {1, 4})
    assert w.ticks(end) == 4 + 2 + 8
    assert w.peak == 4
