"""Property-based checks for the round-8 Lloyd/MMR primitives.

- `_km_assign` / `_km_update` against a pure-Python reference with
  C-style truncating division on adversarial integer vectors (negative
  coordinates, tie distances, empty clusters, n < k).
- `_mmr_greedy_py` against an independent per-step argmax re-check
  (every pick must maximize the MMR objective given the previous picks,
  with the smallest-id tiebreak) on random integer rel/sim tables,
  including heavy score ties.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stream_ingestion_amazon_kinesis_spark.operators.similarity import (
    MMR_DIV_NUM,
    MMR_LAMBDA_NUM,
    _km_assign,
    _km_update,
    _mmr_greedy_py,
)

DIM = 4
K = 3


def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b > 0) else -q


def _ref_assign(vecs, cents):
    out = {}
    for vid, v in vecs.items():
        best = None
        for cid in sorted(cents):
            d = sum((a - b) * (a - b) for a, b in zip(v, cents[cid]))
            if best is None or (d, cid) < best[:2]:
                best = (d, cid)
        out[vid] = best
    return out


def _ref_update(vecs, assign, prev):
    nxt = {}
    for cid, cv in prev.items():
        members = [vecs[vid] for vid, (_, c) in assign.items() if c == cid]
        if not members:
            nxt[cid] = list(cv)
        else:
            nxt[cid] = [
                _trunc_div(sum(m[d] for m in members), len(members))
                for d in range(DIM)
            ]
    return nxt


vec_strategy = st.lists(
    st.lists(st.integers(-5, 5), min_size=DIM, max_size=DIM),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=vec_strategy)
def test_lloyd_step_matches_python_reference(spark, raw):
    vecs = {i: v for i, v in enumerate(raw)}
    cents = {i: v for i, v in list(vecs.items())[:K]}
    q = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, qv array<long>"
    )
    c0 = spark.createDataFrame(
        [(i, v) for i, v in cents.items()], "cluster long, cv array<long>"
    )
    got_assign = {
        r["vec_id"]: (r["dist"], r["cluster"])
        for r in _km_assign(q, c0, dims=list(range(1, DIM + 1))).collect()
    }
    want_assign = _ref_assign(vecs, cents)
    assert got_assign == want_assign

    a1 = _km_assign(q, c0, dims=list(range(1, DIM + 1)))
    got_cents = {
        r["cluster"]: list(r["cv"])
        for r in _km_update(a1, c0, dims=list(range(1, DIM + 1))).collect()
    }
    want_cents = _ref_update(vecs, want_assign, cents)
    assert got_cents == want_cents


mmr_strategy = st.integers(2, 8).flatmap(
    lambda n: st.tuples(
        st.lists(
            st.integers(-1000000, 1000000), min_size=n, max_size=n
        ),
        st.lists(
            st.integers(-1000000, 1000000),
            min_size=n * (n - 1),
            max_size=n * (n - 1),
        ),
    )
)


@settings(max_examples=200, deadline=None)
@given(data=mmr_strategy)
def test_mmr_greedy_each_pick_is_argmax(data):
    rels, sims = data
    n = len(rels)
    rel_of = {i: rels[i] for i in range(n)}
    sim_of = {}
    it = iter(sims)
    for a in range(n):
        for b in range(n):
            if a != b:
                sim_of[(a, b)] = next(it)
    k = min(5, n)
    picks = _mmr_greedy_py(rel_of, sim_of, k)
    assert [p[0] for p in picks] == list(range(1, k + 1))
    selected = []
    for _, cand, score in picks:
        # Independent re-derivation of this step's argmax.
        def objective(c):
            if not selected:
                return MMR_LAMBDA_NUM * rel_of[c]
            return MMR_LAMBDA_NUM * rel_of[c] - MMR_DIV_NUM * max(
                sim_of[(c, s)] for s in selected
            )

        remaining = [c for c in rel_of if c not in selected]
        best = min(remaining, key=lambda c: (-objective(c), c))
        assert cand == best
        assert score == objective(cand)
        selected.append(cand)
    assert len(set(p[1] for p in picks)) == k


def test_mmr_single_candidate_pool_still_emits_pick_one(spark, tmp_path):
    """Degenerate 2-vector corpus (ADVICE r8): each query's candidate
    pool has exactly one member, so the pairwise sim relation would be
    empty under an a != b filter — the engine must still emit pick_rank
    1 per query, exactly like the SQL oracle whose sel1 reads cands."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stream_ingestion_amazon_kinesis_spark.operators.similarity import (
        _mmr_oracle,
        mmr_diversified_topk,
    )

    emb = pa.table(
        {
            "vec_id": pa.array([0, 1], pa.int64()),
            "embedding": pa.array(
                [[1.0, 0.0, 0.5, 0.25], [0.5, 1.0, 0.0, 0.75]],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 1], pa.int32()),
        }
    )
    pq.write_table(emb, str(tmp_path / "embeddings.parquet"))
    got = mmr_diversified_topk(spark, str(tmp_path)).collect()
    assert [(r["query_id"], r["pick_rank"], r["neighbor_id"]) for r in got] == [
        (0, 1, 1),
        (1, 1, 0),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    want = con.execute(_mmr_oracle()).fetchall()
    con.close()
    assert [
        (r["query_id"], r["pick_rank"], r["neighbor_id"], r["mmr_score10"])
        for r in got
    ] == [tuple(w) for w in want]


@settings(max_examples=50, deadline=None)
@given(
    rel=st.integers(-1000, 1000),
    n=st.integers(1, 6),
)
def test_mmr_tie_break_prefers_smallest_id(rel, n):
    # All candidates identical: every step must pick the smallest
    # remaining id.
    rel_of = {i: rel for i in range(n)}
    sim_of = {(a, b): 0 for a in range(n) for b in range(n) if a != b}
    picks = _mmr_greedy_py(rel_of, sim_of, n)
    assert [p[1] for p in picks] == list(range(n))


def test_km_quantized_refuses_short_embeddings(spark, tmp_path):
    """`_km_assign`'s unrolled distance is NULL past the end of a vector
    shorter than EMB_DIM, and min_by would then pick an arbitrary
    cluster: the quantized projection must refuse such an embedding by
    name instead of letting it through."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from stream_ingestion_amazon_kinesis_spark.operators.similarity import (
        EMB_DIM,
        KMEANS_SCALE,
        _km_quantized,
    )

    def write(vectors):
        d = tmp_path / f"sf{len(vectors)}"
        d.mkdir()
        emb = pa.table(
            {
                "vec_id": pa.array(range(len(vectors)), pa.int64()),
                "embedding": pa.array(vectors, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vectors), pa.int32()),
            }
        )
        pq.write_table(emb, str(d / "embeddings.parquet"))
        return str(d)

    full = [0.25] * EMB_DIM
    ok = _km_quantized(spark, write([full, full])).collect()
    assert [len(r["qv"]) for r in ok] == [EMB_DIM, EMB_DIM]
    assert set(ok[0]["qv"]) == {int(0.25 * KMEANS_SCALE + 0.5)}
    with pytest.raises(Exception, match=f"vec_id 1 has {EMB_DIM - 1} elements"):
        _km_quantized(spark, write([full, full[1:], full])).collect()
