"""The benchmark's workloads, run in a fresh process by `perfbench/run.py`.

Talks to its parent over stdout: `@@begin <section>` / `@@end <section>`
delimit a timed section (the parent samples CPU and memory of this
process tree in between), `@@exclude <pid>` names the load-generator
process, which is not part of the system under test. The result goes
to the JSON file named by `--result`.

Workloads (`--workload`):
  etl_trickle     open loop: a generator process appends records to a
                  4-shard kinesis_sim stream at a fixed rate; the shipped
                  `run_kinesis_sim_pipeline` consumes them. The timed
                  window follows a few untimed seconds of the same load.
  batch_headline  headline registry queries, each timed as `fn()` build
                  plus a noop-sink execute.
A third kind of section, etl_drain (closed loop: a pre-produced backlog
drained with a large per-shard fetch cap), runs only in traced runs.

With `--trace 1` the given workload runs untraced and then traced for
half the time each (the difference is the tracing overhead), the other
two kinds run a short traced section, and isolated probes time the
read, decode, enrich and write layers on a static stream. Spans go to
`<work>/spans.jsonl`.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
from measure import Tracer, percentile, summarize  # noqa: E402

WORKLOADS = ("etl_trickle", "batch_headline")
KINDS = ("etl_trickle", "etl_drain", "batch_headline")

# Open-loop offered load: about half the pipeline's small-batch capacity
# (~430 rows/s at the reference's Limit=200 per shard on 4 cores).
TRICKLE_RATE = 200
TRICKLE_TICK_MS = 100
# The generator runs this long before each timed window (untimed), so the
# window starts in steady state: no batch starting from an idle stream,
# and the JIT warmed by several micro-batches rather than one. The short
# sections of a traced run warm up less, to keep the run under its limit.
TRICKLE_WARM_S = 6
SHORT_WARM_S = 2
# Drain: corpus of 10 000 records per run second, fetched 8 000 records
# per shard (32 000 per micro-batch), so a run drains 3-4 micro-batches.
DRAIN_ROWS_PER_S = 10_000
DRAIN_MAX_FETCH = 8_000
DRAIN_COMMIT_ROWS = 4_000  # records per producer commit (one file per shard)
WARM_ROWS = 2_000
PROBE_ROWS = 40_000
# Seconds of the other kinds' sections in a traced run.
SHORT_SECONDS = {"etl_trickle": 4, "etl_drain": 5, "batch_headline": 4}
BATCH_PASS_S = 6.5  # one pass over QUERY_SET on 4 cores, warm

# A fixed subset of bench.HEADLINE that fits a run (one pass takes about
# 6 s on 4 cores): relational core, the flagship enrichment, an as-of
# join, dedup and quality scoring, and the two queries whose build runs
# jobs: the graph fixpoint and the eager-checkpoint triangle join.
QUERY_SET = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "flagship_session_enrichment",
    "asof_join_purchase_last_click",
    "exact_dedup_documents",
    "document_quality_scores",
    "neardup_components",
    "triangle_count_parts",
)
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")


def say(kind: str, arg) -> None:
    print(f"@@{kind} {arg}", flush=True)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _offsets(value) -> dict:
    return (json.loads(value) if isinstance(value, str) else value) or {}


def _progress(query) -> list[dict]:
    """The query's recent progress records: batch id, input rows, source
    offsets, wall-clock end of the trigger, and its durations (ms)."""
    out = []
    for p in query.recentProgress:
        p = json.loads(p.json) if hasattr(p, "json") else p
        src = p["sources"][0]
        t0 = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        t0 = t0.replace(tzinfo=dt.timezone.utc).timestamp()
        d = p["durationMs"]
        out.append(
            {
                "batch": p["batchId"],
                "rows": p["numInputRows"],
                "start": _offsets(src.get("startOffset")),
                "end": _offsets(src.get("endOffset")),
                "t_end": t0 + d.get("triggerExecution", 0) / 1000,
                "ms": d,
            }
        )
    return out


class Ctx:
    def __init__(self, args):
        self.seed = args.seed
        self.work = args.work
        self.tracer = Tracer(args.trace == 1)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}
        self.sink_state: dict = {}

    def session(self):
        if self.spark is None:
            from stream_ingestion_amazon_kinesis_spark.session import get_spark

            self.spark = get_spark("perfbench")
            log("session started")
        return self.spark

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


# ---------------------------------------------------------------------------
# Spark status store: jobs and stages by job group
# ---------------------------------------------------------------------------


def group_jobs(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_stages(spark, jobs) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    out = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            out.extend(info.stageIds)
    return out


def stage_totals(spark, stage_ids) -> dict:
    """Executor run/CPU time, shuffle and spill bytes summed over stages,
    and the wall time covered by at least one running stage."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    tot = {"run_s": 0.0, "cpu_s": 0.0, "shuffle_read_mb": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    spans = []
    for sid in set(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stage: it never ran
            continue
        tot["run_s"] += sd.executorRunTime() / 1e3
        tot["cpu_s"] += sd.executorCpuTime() / 1e9
        tot["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
        tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        tot["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        sub, done = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and done.isDefined():
            spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
    covered, reach = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > reach:
            covered += b - max(a, reach)
            reach = b
    tot["stage_wall_s"] = covered
    return tot


# ---------------------------------------------------------------------------
# Streaming topology
# ---------------------------------------------------------------------------


def install_sink_tracer(ctx) -> None:
    """Wrap the callable `kinesis_sim_sink` returns so each foreachBatch
    body is one span and its Spark jobs share a job group. The shipped
    `run_kinesis_sim_pipeline` looks the factory up at call time, so the
    pipeline under test is unchanged."""
    from stream_ingestion_amazon_kinesis_spark.streaming import pipeline

    original = pipeline.kinesis_sim_sink

    def factory(*args, **kwargs):
        inner = original(*args, **kwargs)

        def write_batch(batch, epoch_id):
            section = ctx.sink_state.get("section")
            if section is None:
                return inner(batch, epoch_id)
            sc = batch.sparkSession.sparkContext
            group = f"{section}:epoch-{epoch_id}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                inner(batch, epoch_id)
            finally:
                ctx.tracer.record("sink.foreach_batch", group, t0,
                                  time.perf_counter() - t0, section=section)
                sc.setLocalProperty("spark.jobGroup.id", None)

        return write_batch

    pipeline.kinesis_sim_sink = factory


def start_pipeline(spark, src: str, dests: dict, ckpt: str, max_fetch: int | None = None):
    """The reference topology on a kinesis_sim source. Without
    `max_fetch` it is `run_kinesis_sim_pipeline` as shipped; with it, the
    same public parts (`read_session_stream_kinesis_sim`'s decode plus
    `kinesis_sim_sink`) with a larger per-shard fetch cap."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from stream_ingestion_amazon_kinesis_spark.sources.json_source import (
        CORRUPT_COL,
        SESSION_SCHEMA,
    )
    from stream_ingestion_amazon_kinesis_spark.sources.kinesis_sim import register_format
    from stream_ingestion_amazon_kinesis_spark.streaming import pipeline

    if max_fetch is None:
        return pipeline.run_kinesis_sim_pipeline(
            spark, src, dests, ckpt, source_format="kinesis_sim"
        )
    register_format(spark)
    for path in dests.values():
        os.makedirs(path, exist_ok=True)
    schema = T.StructType(
        list(SESSION_SCHEMA.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    raw = (
        spark.readStream.format("kinesis_sim")
        .option("path", src)
        .option("maxFetchRecordsPerShard", str(max_fetch))
        .load()
    )
    stream = raw.select(
        F.from_json("data", schema,
                    {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
                    ).alias("r")
    ).select("r.*")
    scope = hashlib.sha256(os.path.abspath(ckpt).encode()).hexdigest()[:12]
    return (
        stream.writeStream.foreachBatch(pipeline.kinesis_sim_sink(dests, run_scope=scope))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )


def dest_streams(base: str) -> dict:
    return {"USA": os.path.join(base, "USA"),
            "International": os.path.join(base, "International")}


def check_etl(ctx, name: str, records: list[dict], dests: dict) -> dict:
    """Check the destination streams against the pure-Python enrichment.
    Malformed payloads are expected drops: `kinesis_sim_sink` filters
    corrupt records out without writing any quarantine output."""
    expected = corpus.expected_output(records)
    routed = {route: corpus.read_stream(path) for route, path in dests.items()}
    c = corpus.check_routed(expected, routed)
    c["expected_drops"] = sum(1 for r in records if not r["valid"])
    c["records"] = len(expected)
    ctx.count(len(expected), c["failed"])
    ctx.notes[f"{name}.check"] = c
    log(f"{name} check: {c}")
    return c


def batch_timings(batches: list[dict]) -> dict:
    """Per-micro-batch engine durations (ms) of batches that read rows."""
    keys = ("triggerExecution", "latestOffset", "getBatch", "queryPlanning",
            "addBatch", "walCommit", "commitOffsets")
    out = {k: [b["ms"].get(k, 0) for b in batches] for k in keys}
    out["residual"] = [
        b["ms"].get("triggerExecution", 0) - sum(b["ms"].get(k, 0) for k in keys[1:])
        for b in batches
    ]
    return out


def sink_layer(ctx, spark, section: str, batches: list[dict]) -> dict:
    """foreachBatch body spans of one section, and the Spark jobs and
    stages each epoch's job group ran."""
    spans = ctx.tracer.seconds("sink.foreach_batch")
    groups = [k for k in spans if k.startswith(section + ":")]
    per = [spans[k] for k in groups]
    jobs = [group_jobs(spark, k) for k in groups]
    return {
        "sink.foreach_batch_ms_p50": percentile(per, 50) * 1e3,
        "sink.foreach_batch_ms_p90": percentile(per, 90) * 1e3,
        "sink.jobs_per_batch": statistics.median(len(j) for j in jobs),
        "sink.stages_per_batch": statistics.median(len(job_stages(spark, j)) for j in jobs),
        "sink.rows_per_batch": statistics.median(b["rows"] for b in batches),
    }


class Trickle:
    name = "etl_trickle"

    def __init__(self, warm_s: float = TRICKLE_WARM_S):
        self.warm_s = warm_s

    def setup(self, ctx) -> None:
        spark = ctx.session()
        self.src = ctx.path("trickle", "source")
        self.dests = dest_streams(ctx.path("trickle", "dest"))
        self.records = corpus.session_records(ctx.seed, "trickle-warm", 0, WARM_ROWS // 4)
        corpus.produce(self.src, self.records)
        self.query = start_pipeline(spark, self.src, self.dests, ctx.path("trickle", "ckpt"))
        self.query.processAllAvailable()  # warm-up micro-batch, untimed
        ctx.notes["etl_trickle.warmup_ms"] = [b["ms"] for b in _progress(self.query)]
        self.sections = []

    def run(self, ctx, section: str, seconds: float, traced: bool) -> None:
        """One open-loop window after `warm_s` seconds of the same load;
        its metrics are computed in `finish`."""
        ctx.sink_state["section"] = section if traced else None
        gen_log = ctx.path("trickle", f"{section}.gen.json")
        # The generator's first writes run late (the first one imports
        # pyspark); they fall in the untimed warm-up.
        start_at = time.time() + 1.5
        begin = start_at + self.warm_s
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "corpus.py"),
             "--stream", self.src, "--seed", str(ctx.seed), "--tag", f"trickle-{section}",
             "--rate", str(TRICKLE_RATE), "--tick-ms", str(TRICKLE_TICK_MS),
             "--seconds", str(self.warm_s + seconds), "--start-at", repr(start_at),
             "--log", gen_log],
            stdout=subprocess.DEVNULL,
        )
        say("exclude", gen.pid)
        time.sleep(max(0.0, begin - time.time()))
        say("begin", section)
        time.sleep(max(0.0, begin + seconds - time.time()))
        say("end", section)
        last = _progress(self.query)
        committed = last[-1]["end"] if last else {}
        if gen.wait() != 0:
            raise RuntimeError(f"trickle generator exited with {gen.returncode}")
        ctx.sink_state["section"] = None
        with open(gen_log, encoding="utf-8") as fh:
            glog = json.load(fh)
        self.records += corpus.session_records(ctx.seed, f"trickle-{section}", 0, glog["count"])
        tail = corpus.shard_tails(self.src)
        self.sections.append({"name": section, "log": glog, "traced": traced, "begin": begin,
                              "lag": sum(tail.values()) - sum(committed.values())})

    def finish(self, ctx) -> dict:
        """Drain what is left (untimed), stop, check, and compute every
        section's metrics from the engine's progress records."""
        self.query.processAllAvailable()
        batches = [b for b in _progress(self.query) if b["rows"] > 0]
        error = self.query.exception()
        self.query.stop()
        if error is not None:
            raise RuntimeError(f"trickle query failed: {error}")
        check_etl(ctx, self.name, self.records, self.dests)
        out = {}
        for sec in self.sections:
            lat, late, done = [], [], 0.0
            window_batches = set()
            ticks = [t for t in sec["log"]["ticks"] if t["due"] >= sec["begin"]]
            for tick in ticks:
                late.append((tick["sent"] - tick["due"]) * 1e3)
                for _sid, shard, seq in tick["records"]:
                    b = next((b for b in batches if b["end"].get(shard, 0) > seq), None)
                    if b is None:
                        raise RuntimeError(f"record {shard}/{seq} never committed")
                    lat.append((b["t_end"] - tick["due"]) * 1e3)
                    done = max(done, b["t_end"])
                    window_batches.add(b["batch"])
            mine = [b for b in batches if b["batch"] in window_batches]
            s = summarize(lat)
            ctx.notes[f"{sec['name']}.latency_samples"] = s["n"]
            ctx.notes[f"{sec['name']}.batches"] = [
                (b["rows"], b["ms"]["triggerExecution"]) for b in mine]
            first_due = ticks[0]["due"]
            res = {
                "ops": s["n"],
                "e2e": {
                    # records offered in the window, over the time from the
                    # first one's due time to the commit of the last one
                    "ops_per_s": s["n"] / (done - first_due),
                    "latency_p50_ms": s["p50"],
                    "latency_p90_ms": s["p90"],
                },
                "layer": {},
            }
            if sec["traced"]:
                t = batch_timings(mine)
                res["layer"] = {
                    "kinesis_sim.latest_offset_ms": percentile(t["latestOffset"], 50),
                    "kinesis_sim.lag_rows": sec["lag"],
                    "engine.trigger_ms_p50": percentile(t["triggerExecution"], 50),
                    "engine.trigger_ms_p90": percentile(t["triggerExecution"], 90),
                    "engine.add_batch_ms": percentile(t["addBatch"], 50),
                    "engine.query_planning_ms": percentile(t["queryPlanning"], 50),
                    "engine.wal_commit_ms": percentile(t["walCommit"], 50),
                    "engine.commit_offsets_ms": percentile(t["commitOffsets"], 50),
                    "engine.residual_ms": percentile(t["residual"], 50),
                    "engine.batches": len(mine),
                    "generator.late_ms_p50": percentile(late, 50),
                    "generator.late_ms_max": max(late),
                    **sink_layer(ctx, ctx.spark, sec["name"], mine),
                }
            ctx.notes[f"{sec['name']}.generator_late_ms"] = summarize(late)
            log(f"{sec['name']}: generator late ms {summarize(late)}")
            out[sec["name"]] = res
        return out


class Drain:
    name = "etl_drain"

    def __init__(self):
        self.jobs = {}

    def setup(self, ctx) -> None:
        spark = ctx.session()
        warm = self._corpus(ctx, "warm", WARM_ROWS)
        q = start_pipeline(spark, warm["src"], warm["dests"], warm["ckpt"], DRAIN_MAX_FETCH)
        q.processAllAvailable()  # warm-up, untimed
        q.stop()
        check_etl(ctx, f"{self.name}-warm", warm["records"], warm["dests"])

    def prepare(self, ctx, section: str, seconds: float) -> None:
        self.jobs[section] = self._corpus(ctx, section, int(DRAIN_ROWS_PER_S * seconds))

    def _corpus(self, ctx, tag: str, n: int) -> dict:
        base = ctx.path("drain", tag)
        records = corpus.session_records(ctx.seed, f"drain-{tag}", 0, n)
        src = os.path.join(base, "source")
        for i in range(0, n, DRAIN_COMMIT_ROWS):
            corpus.produce(src, records[i : i + DRAIN_COMMIT_ROWS])
        return {"records": records, "src": src, "dests": dest_streams(os.path.join(base, "dest")),
                "ckpt": os.path.join(base, "ckpt")}

    def run(self, ctx, section: str, seconds: float, traced: bool) -> dict:
        job = self.jobs.pop(section)
        ctx.sink_state["section"] = section if traced else None
        say("begin", section)
        t0 = time.perf_counter()
        q = start_pipeline(ctx.spark, job["src"], job["dests"], job["ckpt"], DRAIN_MAX_FETCH)
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        say("end", section)
        ctx.sink_state["section"] = None
        batches = [b for b in _progress(q) if b["rows"] > 0]
        error = q.exception()
        q.stop()
        if error is not None:
            raise RuntimeError(f"drain query failed: {error}")
        c = check_etl(ctx, section, job["records"], job["dests"])
        rows = c["records"] - c["missing"]
        trig = [b["ms"]["triggerExecution"] for b in batches]
        res = {"ops": rows, "e2e": {"ops_per_s": rows / wall}, "layer": {}}
        ctx.notes[f"{section}.batches"] = len(batches)
        if traced:
            res["layer"] = {
                "drain.rows_per_s": rows / wall,
                "kinesis_sim.files_per_batch": statistics.median(
                    files_touched(job["src"], b["start"], b["end"]) for b in batches
                ),
                "drain.sink.foreach_batch_ms_p50": sink_layer(
                    ctx, ctx.spark, section, batches)["sink.foreach_batch_ms_p50"],
                "drain.engine.trigger_ms_p50": percentile(trig, 50),
            }
        return res


def files_touched(src: str, start: dict, end: dict) -> int:
    """Source part files holding at least one record of [start, end)."""
    n = 0
    for shard, hi in end.items():
        lo = start.get(shard, 0)
        first = 0
        d = os.path.join(src, shard)
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                size = sum(1 for line in fh if line.strip())
            if first < hi and first + size > lo:
                n += 1
            first += size
    return n


class Batch:
    name = "batch_headline"

    def setup(self, ctx) -> None:
        import duckdb

        import bench
        from scripts.check_oracle import df_to_rows
        from stream_ingestion_amazon_kinesis_spark import TABLES
        from stream_ingestion_amazon_kinesis_spark.plans.registry import (
            QUERIES,
            _load_all,
            release_cached,
        )

        missing = [q for q in QUERY_SET if q not in bench.HEADLINE]
        if missing:
            raise RuntimeError(f"not headline queries: {missing}")
        _load_all()
        spark = ctx.session()
        self.QUERIES, self.release = QUERIES, release_cached
        self.sf = ctx.path("fixture")
        corpus.permuted_fixture(FIXTURE, self.sf, ctx.seed)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        # Untimed warm-up pass that is also the oracle check.
        self.bad = set()
        for q in QUERY_SET:
            try:
                got = df_to_rows(QUERIES[q].fn(spark, self.sf).toPandas())
                want = df_to_rows(con.execute(QUERIES[q].oracle).fetchdf())
                if got != want:
                    self.bad.add(q)
                    log(f"oracle mismatch: {q}")
            except Exception as e:  # counted as failed below
                self.bad.add(q)
                log(f"oracle check error: {q}: {e!r}")
            release_cached(spark)
        con.close()
        ctx.notes["batch.oracle_mismatches"] = sorted(self.bad)

    def run(self, ctx, section: str, seconds: float, traced: bool) -> dict:
        spark = ctx.spark
        sc = spark.sparkContext
        rng = random.Random(f"{ctx.seed}:{section}")
        build, execute, release, mat = ({q: [] for q in QUERY_SET} for _ in range(4))
        groups = {"build": [], "exec": []}
        errors = n = 0
        say("begin", section)
        # A fixed number of whole passes: about `seconds` of work.
        passes = max(1, round(seconds / BATCH_PASS_S))
        pass_s = [0.0] * passes
        for p in range(passes):
            order = list(QUERY_SET)
            rng.shuffle(order)
            for q in order:
                gid = f"{section}:p{p}:{q}"
                n += 1
                try:
                    if traced:
                        sc.setJobGroup(f"{gid}:build", q)
                    with ctx.tracer.span("registry.build", gid, query=q):
                        a = time.perf_counter()
                        df = self.QUERIES[q].fn(spark, self.sf)
                        b = time.perf_counter()
                    if traced:
                        sc.setJobGroup(f"{gid}:exec", q)
                    with ctx.tracer.span("engine.execute", gid, query=q):
                        df.write.format("noop").mode("overwrite").save()
                        c = time.perf_counter()
                    build[q].append(b - a)
                    execute[q].append(c - b)
                    pass_s[p] += c - a
                    if traced:
                        groups["build"].append(f"{gid}:build")
                        groups["exec"].append(f"{gid}:exec")
                        info = sc._jsc.sc().getRDDStorageInfo()
                        mat[q].append(sum(r.memSize() + r.diskSize() for r in info) / 1e6)
                    del df
                except Exception as e:  # counted as failed
                    errors += 1
                    log(f"{q} failed: {e!r}")
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                with ctx.tracer.span("registry.release_cached", gid, query=q):
                    r0 = time.perf_counter()
                    self.release(spark)
                    release[q].append(time.perf_counter() - r0)
        say("end", section)
        failed = errors + sum(len(build[q]) for q in self.bad)
        ctx.count(n, failed)
        # The caller waits for the whole query set: one latency sample is
        # one pass's build + execute time summed over QUERY_SET. Single
        # queries are too few and too unlike each other for percentiles.
        ctx.notes[f"{section}.latency_samples"] = passes
        ctx.notes[f"{section}.pass_s"] = pass_s
        res = {
            "ops": n,
            "e2e": {
                "ops_per_s": n / sum(pass_s),
                "latency_p50_ms": percentile(pass_s, 50) * 1e3,
                "latency_p90_ms": percentile(pass_s, 90) * 1e3,
            },
            "layer": {},
        }
        if traced:
            med = statistics.median
            layer = {}
            for q in QUERY_SET:
                layer[f"{q}.build_s"] = med(build[q])
                layer[f"{q}.exec_s"] = med(execute[q])
            build_jobs = [j for g in groups["build"] for j in group_jobs(spark, g)]
            exec_jobs = [j for g in groups["exec"] for j in group_jobs(spark, g)]
            st = stage_totals(spark, job_stages(spark, build_jobs + exec_jobs))
            wall = sum(sum(build[q]) + sum(execute[q]) for q in QUERY_SET)
            layer.update({
                "registry.query_set_s": sum(med(build[q]) + med(execute[q]) for q in QUERY_SET),
                "registry.build_s_total": sum(med(build[q]) for q in QUERY_SET),
                "registry.exec_s_total": sum(med(execute[q]) for q in QUERY_SET),
                "registry.build_jobs": len(build_jobs) / passes,
                "registry.exec_jobs": len(exec_jobs) / passes,
                "registry.release_cached_s": sum(med(release[q]) for q in QUERY_SET),
                "materialize.mb": sum(max(mat[q]) for q in QUERY_SET),
                "stages.run_s": st["run_s"] / passes,
                "stages.cpu_s": st["cpu_s"] / passes,
                "stages.shuffle_read_mb": st["shuffle_read_mb"] / passes,
                "stages.shuffle_write_mb": st["shuffle_write_mb"] / passes,
                "stages.spill_mb": st["spill_mb"] / passes,
                "driver_gap_s": (wall - st["stage_wall_s"]) / passes,
            })
            res["layer"] = layer
        return res


def run_probes(ctx) -> dict:
    """Isolated static-DataFrame probes: each layer timed alone on input
    that is already cached, median of three noop writes."""
    from pyspark.sql import functions as F

    from stream_ingestion_amazon_kinesis_spark.operators.enrichment import enrich_sessions
    from stream_ingestion_amazon_kinesis_spark.sources.json_source import parse_json_records
    from stream_ingestion_amazon_kinesis_spark.sources.kinesis_sim import register_format

    spark = ctx.session()
    register_format(spark)
    src = ctx.path("probe", "source")
    records = corpus.session_records(ctx.seed, "probe", 0, PROBE_ROWS)
    for i in range(0, PROBE_ROWS, DRAIN_COMMIT_ROWS):
        corpus.produce(src, records[i : i + DRAIN_COMMIT_ROWS])

    def timed(layer, action):
        out = []
        for i in range(3):
            with ctx.tracer.span(layer, f"probe:{layer}:{i}"):
                t0 = time.perf_counter()
                action(i)
                out.append(time.perf_counter() - t0)
        return statistics.median(out)

    def noop(df):
        return lambda _i: df.write.format("noop").mode("overwrite").save()

    raw = spark.read.format("kinesis_sim").option("path", src).load()
    t_read = timed("kinesis_sim.read", noop(raw))
    raw = raw.cache()
    n_raw = raw.count()
    ok, quarantine = parse_json_records(raw, value_col="data")
    t_decode = timed("json_source.decode", noop(ok))
    ok = ok.cache()
    n_ok = ok.count()
    n_bad = quarantine.count()
    enriched = enrich_sessions(ok)
    t_enrich = timed("enrichment.enrich", noop(enriched))
    env = enriched.select(
        F.col("session_id").alias("partition_key"),
        F.to_json(F.struct(*enriched.columns)).alias("data"),
    ).cache()
    env.count()

    def write(i):
        env.write.format("kinesis_sim").option("path", ctx.path("probe", f"out{i}")).mode(
            "append").save()

    t_write = timed("kinesis_sim.write", write)
    for df in (raw, ok, env):
        df.unpersist()
    if n_ok + n_bad != n_raw or n_ok != sum(r["valid"] for r in records):
        ctx.count(1, 1)
        log(f"probe row counts off: raw={n_raw} ok={n_ok} quarantined={n_bad}")
    else:
        ctx.count(1, 0)
    return {
        "kinesis_sim.read_rows_per_s": n_raw / t_read,
        "decode.rows_per_s": n_raw / t_decode,
        "decode.quarantined_rows": n_bad,
        "enrich.rows_per_s": n_ok / t_enrich,
        "kinesis_sim.write_rows_per_s": n_ok / t_write,
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()
    ctx = Ctx(args)
    main_w = {"etl_trickle": Trickle, "batch_headline": Batch}[args.workload]()
    short = {"etl_trickle": lambda: Trickle(SHORT_WARM_S), "etl_drain": Drain,
             "batch_headline": Batch}
    sections: dict[str, dict] = {}
    layer: dict = {}

    def do(w, plan):
        """Set up `w`, run its (section, seconds, traced) plan, collect."""
        if isinstance(w, Drain):
            for name, secs, _ in plan:
                w.prepare(ctx, name, secs)
        log(f"{w.name}: inputs ready")
        w.setup(ctx)
        log(f"{w.name}: set up")
        for name, secs, traced in plan:
            res = w.run(ctx, name, secs, traced)
            if res is not None:
                sections[name] = res
        if isinstance(w, Trickle):
            sections.update(w.finish(ctx))
        for name, _, _ in plan:
            layer.update(sections[name]["layer"])

    if args.trace == 0:
        do(main_w, [("timed", args.seconds, False)])
    else:
        install_sink_tracer(ctx)
        half = args.seconds / 2
        do(main_w, [("untraced", half, False), ("traced", half, True)])
        for kind in KINDS:
            if kind != args.workload:
                do(short[kind](), [(f"{kind}.short", SHORT_SECONDS[kind], True)])
        layer.update(run_probes(ctx))
        ctx.tracer.dump(ctx.path("spans.jsonl"))
    result = {
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "sections": {k: {"ops": v["ops"], "e2e": v["e2e"]} for k, v in sections.items()},
        "layer": layer,
        "notes": ctx.notes,
    }
    with open(args.result, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    # No graceful Spark shutdown: the parent kills what is left of the
    # process group, which is faster than stopping the JVM.
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
