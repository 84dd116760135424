"""Central query registry — the contract surface the driver consumes.

Every implemented operator from SURVEY.md §2 registers here with
(a) a (spark, sf_dir) -> DataFrame callable built on the DataFrame API,
and (b) where SQL-expressible, an equivalent ANSI-SQL oracle string that
DuckDB runs on the same parquet fixtures. Column names are aligned on
both sides because the harness sorts columns by name before hashing.

Determinism rules enforced across the registry:
- no processing-time/now() columns in compared output;
- float aggregates go through exact DECIMAL math (functions.numeric)
  and are cast to DOUBLE at the end, so partial-aggregation order can
  never change a value;
- rank/top-k queries always carry a total tiebreak key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str
    # For rows-only queries (oracle=None — approximate or randomized by
    # nature): the pytest node that carries the hard signal instead
    # (recall / accuracy-band / determinism), so a correctness report
    # can say `no_oracle (see tests/...)` rather than a bare no_oracle.
    twin_test: str | None = None


QUERIES: dict[str, QuerySpec] = {}

# Names in @register() call order — stable per code version, unlike
# QUERIES' dict order (which _reorder_priority mutates).
REGISTRATION_ORDER: list[str] = []

# Fast-track queue for the driver window: the newest operators, named
# EXPLICITLY (registration order is module-import order, so it cannot
# tell a brand-new op from an old one in a late-imported module). Each
# round appends its new query names; entries fall out of the window
# automatically once a committed CORRECTNESS record stamps them, so the
# list only ever fronts still-unproven ops and stale entries are
# harmless. Maintained at round close alongside the ROUND file.
ROTATION_FRONT: list[str] = [
    # round-10 post-gate operators (r10 verdict ask #6)
    "canonical_dedup_selection",
    "hll_custom_exact_distinct",
    "cms_custom_exact_frequencies",
    "bpe_encode_token_stats",
    # round-11 additions
    "token_budget_selection",
    "curriculum_token_phases",
    "kmv_distinct_setops",
    "bloom_membership_audit",
    "priority_sample_weighted",
    "ann_matryoshka_truncation_recall",
    "streaming_hll_distinct_live",
    "bfs_reach_layers_parts",
    # r11/r12 semantics-rewritten queries still unstamped (ADVICE r11:
    # rewrites must reach an independent driver correctness sample in
    # the round that ships them — these front the window until stamped)
    "fulfillment_latency_histogram",
    "null_profile_all_tables",
    "tpcds_channel_union_rollup",
    "weighted_median_price_by_flag",
    "interval_overlap_session_pairs",
    "order_backlog_aging",
]

# Already-STAMPED queries whose result-producing logic was rewritten in
# a given round: pinned into that ONE round's rotation slots regardless
# of their stamp (ADVICE r11 — a stamp from an older implementation
# does not cover a rewrite; unstamped rewrites ride ROTATION_FRONT
# instead). Keyed by round so the pin expires by itself.
REVALIDATE: dict[int, list[str]] = {
    12: ["prefix_filter_jaccard_pairs", "q18_large_volume_customers"],
}

# Pre-checkpoint intermediate plans for the pin/guard machinery
# (verdict r9 #2): operators whose registry entry eagerly
# localCheckpoints (lineage-truncating their real join/agg shapes out
# of plan inspection) register their intermediate stages here, keyed
# `query::stage`, with the same (spark, sf_dir) -> DataFrame builder
# signature. scripts/gen_plan_pins.py and tests/test_plan_shapes.py
# pick these up alongside the bench HEADLINE queries.
EXTRA_PLAN_BUILDERS: dict[
    str, Callable[[SparkSession, str], DataFrame]
] = {}

# Invalidators release_cached() runs BEFORE unpersisting: operator
# modules that memoize localCheckpointed relations across queries
# (e.g. the BPE training loop shared by two registry entries) register
# a clear-function here — the memoized DataFrames' blocks are about to
# be dropped and their lineage is checkpoint-truncated, so a stale memo
# entry would fail (not recompute) on next use.
RELEASE_HOOKS: list[Callable[[], None]] = []


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    twin_test: str | None = None,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name, fn, oracle, description, twin_test)
        REGISTRATION_ORDER.append(name)
        return fn

    return deco


# The first 50 names in QUERIES iteration order are the external
# correctness harness's per-round sample window. Module import order
# used to decide that order, which left the window all-relational —
# so the engine's north-star operator families never appeared in a
# driver-stamped correctness record; rounds 8-9 fixed that with an
# explicit 50-name head, and round 9's window went 50/50 exact. But a
# STATIC head means the other ~310 oracle-backed queries never
# accumulate a driver-stamped record (verdict r9 #4). The window is
# now ANCHORS + ROTATION: ~26 flagship/family anchors stay pinned
# (every operator family keeps a driver-checked representative every
# round), and the remaining 24 slots rotate deterministically by round
# number — derived from the committed CORRECTNESS_r*.json artifacts,
# so each driver round automatically samples a fresh slice of the
# registry and successive rounds cycle through the whole oracle-backed
# surface (~13 rounds per full cycle). All rotated entries carry exact
# DuckDB oracles by construction (rows-only queries are excluded from
# the pool; their hard signals are their pytest twins).
PRIORITY_ANCHORS: list[str] = [
    # flagship ETL (reference consumer.py semantics)
    "flagship_session_enrichment",
    "session_routing_split",
    "json_props_extract",
    # TPC-H / relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "topk_orders_by_price",
    "salted_join_hot_keys",
    "range_join_price_bands",
    # event-time windows + as-of
    "tumbling_window_events",
    "session_window_events",
    "asof_join_purchase_last_click",
    # structured streaming (live micro-batch runs) + composed topology
    "streaming_tumbling_counts_live",
    "streaming_dedup_live",
    "kinesis_sim_roundtrip",
    "streaming_curation_pipeline_live",
    # dedup family
    "exact_dedup_documents",
    "minhash_lsh_neardup",
    "simhash_fingerprints",
    # embedding similarity / ANN / semantic dedup
    "ann_topk_cosine",
    "ann_ivf_topk",
    "semdedup_cluster_prune",
    # retrieval + text analysis + tokenizer training
    "bm25_retrieval_topk",
    "document_quality_scores",
    "bpe_merge_training",
    # graph + multimodal
    "pagerank_supplier_cooccurrence",
    "multimodal_real_decode_stats",
]

WINDOW_SIZE = 50


def _repo_root() -> str:
    import os

    return os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def _latest_correctness_round() -> int:
    """Highest N among committed CORRECTNESS_r{N}.json artifacts at the
    repo root (0 if none — fresh checkout). The driver commits each
    round's record, so maxN+1 IS the current round: the rotation
    self-advances with no per-round code edit."""
    import os
    import re

    best = 0
    try:
        for f in os.listdir(_repo_root()):
            m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f)
            if m:
                best = max(best, int(m.group(1)))
    except OSError:
        pass
    return best


def _round_floor() -> int:
    """Round number in the committed ROUND file at the repo root (0 if
    absent/unreadable). A FLOOR, not a pin: it protects checkouts that
    lack the CORRECTNESS_r*.json artifacts (fresh clone of a shallow
    export, an installed package) from silently running round 1's
    window, while the artifact scan still self-advances past it on the
    driver's own tree."""
    import os

    try:
        with open(os.path.join(_repo_root(), "ROUND")) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return 0


def resolve_round() -> int:
    """The driver round whose 50-query window is in effect (ADVICE r10:
    the pure filesystem scan let two checkouts of the same commit run
    different windows). Resolution order:

    1. SPARK_GRAFT_ROUND env var — explicit pin, wins outright;
    2. max(artifact scan + 1, committed ROUND floor) otherwise.

    The resolved round and its source are logged at import so a window
    shift is visible in harness output.
    """
    import logging
    import os

    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        rnd, src = int(env), "SPARK_GRAFT_ROUND env pin"
    else:
        scan = _latest_correctness_round() + 1
        floor = _round_floor()
        rnd = max(scan, floor)
        src = (
            f"artifact scan (CORRECTNESS_r* max + 1 = {scan}, "
            f"ROUND floor = {floor})"
        )
    logging.getLogger(__name__).info(
        "driver window round resolved: %d via %s", rnd, src
    )
    return rnd


def rotation_pool() -> list[str]:
    """Oracle-backed, non-anchor queries in sorted-name order — the
    deterministic ring the rotating window slots walk through."""
    anchors = set(PRIORITY_ANCHORS)
    return [
        n
        for n in sorted(QUERIES)
        if n not in anchors and QUERIES[n].oracle is not None
    ]


def stamped_names() -> set[str]:
    """Every query name that already carries a driver-stamped
    correctness record — the union of keys across the committed
    CORRECTNESS_r*.json artifacts at the repo root."""
    import json
    import os
    import re

    seen: set[str] = set()
    root = _repo_root()
    try:
        files = os.listdir(root)
    except OSError:
        return seen
    for f in files:
        if re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f):
            try:
                with open(os.path.join(root, f)) as fh:
                    seen.update(json.load(fh))
            except (OSError, ValueError):
                pass
    return seen


def priority_head(
    round_no: int, stamped: set[str] | None = None
) -> list[str]:
    """The 50-name driver window for a given round: pinned anchors +
    a rotation slice, NEVER-STAMPED queries first.

    Rotation slots draw from the pool names that have no driver-stamped
    correctness record yet (stamped = union of committed
    CORRECTNESS_r*.json keys — deterministic), ROTATION_FRONT names
    first (the explicitly fast-tracked newest operators), then
    sorted-name order — so every round maximizes cumulative
    driver-checked coverage and the least-proven, freshest operators
    land in front of the driver the very next round. Freshness across
    rounds comes from stamping itself: this round's window lands in
    CORRECTNESS_r{N}.json, which removes it from the next round's
    unstamped set. Only when the unstamped set no longer fills the
    slots does the walk fall back to the classic offset ring over
    already-stamped names ((round-1)*slots mod |ring|), re-cycling the
    whole surface."""
    pool = rotation_pool()
    slots = WINDOW_SIZE - len(PRIORITY_ANCHORS)
    assert 0 < slots <= len(pool), (len(PRIORITY_ANCHORS), len(pool))
    if stamped is None:
        stamped = stamped_names()
    pool_set = set(pool)
    # This round's revalidation pins lead the slots (stamped rewrites
    # whose old stamp predates the rewrite — see REVALIDATE).
    reval = [n for n in REVALIDATE.get(round_no, []) if n in pool_set]
    front = [
        n
        for n in ROTATION_FRONT
        if n in pool_set and n not in stamped and n not in set(reval)
    ]
    unstamped = reval + front + [
        n
        for n in pool
        if n not in stamped and n not in set(front) and n not in set(reval)
    ]
    rot = unstamped[:slots]
    if len(rot) < slots:
        ring = [n for n in pool if n in stamped and n not in set(rot)]
        fill = slots - len(rot)
        off = ((round_no - 1) * slots) % len(ring) if ring else 0
        rot += [ring[(off + i) % len(ring)] for i in range(fill)]
    return PRIORITY_ANCHORS + rot


# Populated by _reorder_priority() once QUERIES is loaded — the window
# actually in effect this round (introspection + tests).
PRIORITY_HEAD: list[str] = []


def _reorder_priority() -> None:
    """Reorder QUERIES so this round's priority_head leads (idempotent)."""
    PRIORITY_HEAD[:] = priority_head(resolve_round())
    head = [n for n in PRIORITY_HEAD if n in QUERIES]
    if list(QUERIES)[: len(head)] == head:
        return
    head_set = set(head)
    ordered = {n: QUERIES[n] for n in head}
    ordered.update((n, s) for n, s in QUERIES.items() if n not in head_set)
    QUERIES.clear()
    QUERIES.update(ordered)


def _load_all() -> None:
    # Importing the operator modules populates QUERIES via @register.
    from ..operators import enrichment  # noqa: F401
    from ..operators import relational  # noqa: F401
    from ..operators import tpch_extra  # noqa: F401
    from ..operators import udfs  # noqa: F401
    from ..operators import streaming_live  # noqa: F401
    from ..operators import windows  # noqa: F401
    from ..operators import event_time  # noqa: F401
    from ..operators import curation  # noqa: F401
    from ..operators import dedup  # noqa: F401
    from ..operators import similarity  # noqa: F401
    from ..operators import text_analysis  # noqa: F401
    from ..operators import multimodal  # noqa: F401
    from ..operators import semistructured  # noqa: F401
    from ..operators import sketches  # noqa: F401
    from ..operators import subqueries  # noqa: F401
    from ..operators import agg_extra  # noqa: F401
    from ..operators import analytics  # noqa: F401
    from ..operators import layout  # noqa: F401
    from ..operators import linkage  # noqa: F401
    from ..operators import graph  # noqa: F401
    from ..operators import tpcds_shapes  # noqa: F401
    from ..operators import cdc  # noqa: F401
    from ..operators import corpus_extra  # noqa: F401
    from ..operators import timeseries  # noqa: F401
    from ..operators import corpus_quality  # noqa: F401
    from ..operators import profiler  # noqa: F401
    from ..streaming import state_reader  # noqa: F401
    from ..sources import file_formats  # noqa: F401
    from ..sources import kinesis_sim  # noqa: F401
    from ..sources import rest_page_sim  # noqa: F401

    _reorder_priority()


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in QUERIES.items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}


def release_cached(spark: SparkSession) -> int:
    """Release engine-cached state between independent queries.

    Several operators localCheckpoint bounded intermediates (iterative
    graph edge relations, reused adjacency/similarity relations). Those
    blocks sit in the session's block manager until their RDD is
    garbage-collected, and PySpark only triggers that cleanup
    when Python's GC drops the py4j handle — so a long-lived session
    running hundreds of independent queries (the correctness gate, a
    full-registry sweep) accumulates them. Measured: a bare 1 GiB
    local[32] driver OOMs ~316 queries into the sf0.1 value gate even
    though every individual query passes alone. Harnesses should call
    this between queries; it is a no-op for memory the queries still
    need (every registry call builds its lineage from scratch).

    Returns the number of RDDs unpersisted.
    """
    import gc

    for hook in RELEASE_HOOKS:
        hook()  # drop cross-query memos of soon-to-be-dropped blocks
    gc.collect()  # drop py4j handles so nothing here is still referenced
    n = 0
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        # blocking=True: the non-blocking form returns before the block
        # manager actually drops the blocks, so under the exact 1 GiB
        # heap pressure this function exists to relieve, the next query
        # can start allocating against the previous query's residue.
        rdd.unpersist(True)
        n += 1
    spark.catalog.clearCache()
    # Stopped streaming queries leave their state-store providers (and
    # each provider's in-memory version maps) in the executor-side
    # loadedProviders cache — ~200 providers per stateful query at the
    # default shuffle partitioning, never unloaded in local mode.
    # StateStore.stop() unloads them all and re-initializes lazily on
    # the next stateful query.
    try:
        pkg = spark.sparkContext._jvm.org.apache.spark.sql.execution.streaming.state
        getattr(getattr(pkg, "StateStore$"), "MODULE$").stop()
    except Exception:
        pass  # no JVM access (connect mode) — nothing cached there anyway
    return n
