"""Property-based losslessness proof for the PPJoin filter chain.

`prefix_filtered_pairs` layers three candidate pruners — rarity-prefix
filter, length filter (5*min >= 4*max), and the positional suffix
upper bound (min(n_a-rn_a, n_b-rn_b)+1 >= ceil(4(n_a+n_b)/9)) — on top
of the token self-join. Each is argued lossless for Jaccard >= 0.8 in
the docstrings; this test PROVES it on hypothesis-random corpora by
comparing the full Spark pipeline against a brute-force Python Jaccard
over every pair. Small alphabets + small docs make boundary cases
(equal sizes, prefix length exactly 1, ties in the global rarity
order, cross-source isolation) common in a way the fixtures never are.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Docs over a 8-token alphabet, 1-10 distinct tokens each, spread over
# 2 sources (pairs must never cross sources). Token sets, not lists —
# the pipeline's token relation is per-doc distinct by contract.
corpus = st.lists(
    st.tuples(
        st.integers(0, 1),  # source
        st.sets(st.sampled_from("abcdefgh"), min_size=1, max_size=8),
    ),
    min_size=2,
    max_size=12,
)


def _brute_force_pairs(docs):
    out = set()
    for i, (src_a, ta) in enumerate(docs):
        for j in range(i + 1, len(docs)):
            src_b, tb = docs[j]
            if src_a != src_b:
                continue
            jac = len(ta & tb) / len(ta | tb)
            if jac >= 0.8:
                out.add((i, j, round(jac, 9)))
    return out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=corpus)
def test_prefix_filter_chain_equals_brute_force(spark, docs):
    from stream_ingestion_amazon_kinesis_spark.operators.dedup import (
        prefix_filtered_pairs,
    )

    rows = [
        (doc_id, f"s{src}", tok)
        for doc_id, (src, toks) in enumerate(docs)
        for tok in sorted(toks)
    ]
    tok = spark.createDataFrame(
        rows, "doc_id long, source string, token string"
    )
    got = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in prefix_filtered_pairs(tok).collect()
    }
    assert got == _brute_force_pairs(docs)


def test_prefix_relation_source_is_deterministic_for_two_source_doc(spark):
    """A doc whose tokens carry two sources gets ONE source in the prefix
    relation, the least of them, whatever order the rows arrive in —
    so the pairs `prefix_filtered_pairs` emits for it cannot change
    from run to run."""
    import random

    from stream_ingestion_amazon_kinesis_spark.operators.dedup import (
        _prefix_relation,
        prefix_filtered_pairs,
    )

    rows = [(0, "s1", t) for t in "abcd"] + [(0, "s0", "e")]
    rows += [(1, "s0", t) for t in "abcde"] + [(2, "s1", t) for t in "abcde"]
    results = set()
    for seed in range(4):
        shuffled = random.Random(seed).sample(rows, len(rows))
        tok = spark.createDataFrame(
            shuffled, "doc_id long, source string, token string"
        ).repartition(3)
        sources = {
            r["source"] for r in _prefix_relation(tok).collect() if r["doc_id"] == 0
        }
        assert sources == {"s0"}
        results.add(
            tuple(sorted(tuple(r) for r in prefix_filtered_pairs(tok).collect()))
        )
    assert len(results) == 1
