"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Pins the program's
environment, runs the workload in a fresh process (`workloads.py`),
samples CPU and resident memory of that process tree from /proc, checks
the outputs, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer metrics (and the tracing overhead as `overhead.*`).
Everything it writes stays under `.perfbench_work/` in the checkout; a
run's scratch directory is removed at the end, its spans and notes are
kept under `.perfbench_work/traces/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import TreeSampler  # noqa: E402

WORKLOADS = ("etl_trickle", "batch_headline")
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
}
REQUIRED = (
    "stream_ingestion_amazon_kinesis_spark/__init__.py",
    "bench.py",
    "scripts/check_oracle.py",
)
TIMEOUT_S = 170
DRIVER_MEM = "3g"


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, read from its name."""
    if name.startswith("overhead."):
        return E2E_UNITS[name.removeprefix("overhead.")]
    words = name.rsplit(".", 1)[-1].split("_")
    if "ms" in words:
        return "ms"
    if name.endswith("_per_s"):
        return "1/s"
    if "s" in words:
        return "s"
    if "mb" in words:
        return "MB"
    return "count"


def pinned_env(root: str, work: str) -> dict:
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            # Python DataSource workers import the package by name.
            "PYTHONPATH": root,
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "PYTHONHASHSEED": "0",
        }
    )
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return env


def _pgid_alive(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", "rb") as fh:
                    raw = fh.read().decode()
            except OSError:
                continue
            f = raw[raw.rindex(")") + 2 :].split()
            if int(f[2]) == pgid and f[0] != "Z":
                out.append(int(name))
    return out


def stop_group(pgid: int) -> None:
    """Kill whatever is left of the run's process group and wait until
    every member has exited."""
    deadline = time.time() + 30
    while _pgid_alive(pgid) and time.time() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(root, f))]
    if missing:
        print(f"perfbench: run from a checkout of the repository; missing {missing}",
              file=sys.stderr)
        return 2

    work_root = os.path.join(root, ".perfbench_work")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(work_root, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pinned_env(root, work)
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ]
    t_spawn = time.perf_counter()
    child = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                             text=True, start_new_session=True)
    sampler = TreeSampler(child.pid)
    timer = threading.Timer(TIMEOUT_S, lambda: os.killpg(child.pid, signal.SIGKILL))
    timer.start()
    first_begin = None
    try:
        for line in child.stdout:
            kind, _, arg = line.rstrip("\n").partition(" ")
            if kind == "@@begin":
                sampler.begin(arg)
                if first_begin is None:
                    first_begin = time.perf_counter()
            elif kind == "@@end":
                sampler.end(arg)
            elif kind == "@@exclude":
                sampler.exclude.add(int(arg))
            else:
                sys.stderr.write(line)
        rc = child.wait()
    finally:
        timer.cancel()
        sampler.stop()
        stop_group(child.pid)

    if rc != 0 or not os.path.exists(result_path):
        print(f"perfbench: workload process failed (exit {rc})", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(result_path, encoding="utf-8") as fh:
        res = json.load(fh)

    def e2e(section: str) -> dict:
        s = res["sections"][section]
        return {
            **s["e2e"],
            "cpu_ms_per_op": sampler.cpu[section] * 1e3 / s["ops"],
            "peak_rss_mb": sampler.peak[section] / 1e6,
        }

    if args.trace == 0:
        values = {"setup_s": first_begin - t_spawn, **e2e("timed")}
    else:
        traced, untraced = e2e("traced"), e2e("untraced")
        values = dict(res["layer"])
        values.update({f"overhead.{k}": traced[k] - untraced[k] for k in traced})
    metrics = {k: {"value": v, "unit": unit_of(k) if args.trace else E2E_UNITS[k]}
               for k, v in values.items()}

    traces = os.path.join(work_root, "traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, f"{tag}.json"), "w", encoding="utf-8") as fh:
        json.dump({"env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                                             "PYTHONPATH", "SPARK_LOCAL_DIRS")},
                   "args": vars(args), "notes": res["notes"], "metrics": metrics}, fh)
    if os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(traces, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    correct = res["failed"] == 0 and res["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
