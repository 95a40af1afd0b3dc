"""Connected components + near-dup canonicalization tests, including a
property check against a pure-Python union-find oracle."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from terrorblade_spark.operators import finisher
from terrorblade_spark.operators.components import (
    connected_components,
    near_dup_components,
)

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min of component
    comp = {}
    for n in parent:
        root = find(n)
        comp.setdefault(root, []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df, "id_a", "id_b").collect()
    }


def test_two_cliques_and_a_chain(spark):
    pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
    got = _cc(spark, pairs)
    assert got == _union_find(pairs)
    assert got[3] == 1 and got[11] == 10 and got[23] == 20


def test_long_path_converges(spark):
    # a 40-node path is the adversarial case for min-propagation; the
    # star algorithm must still collapse it to component 0
    pairs = [(i, i + 1) for i in range(40)]
    got = _cc(spark, pairs)
    assert set(got.values()) == {0}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
@_slow
def test_components_match_union_find(spark, edges):
    assert _cc(spark, edges) == _union_find(edges)


def test_local_finisher_matches_distributed_loop(spark, monkeypatch):
    # the size-gated driver finisher and the large/small-star loop must
    # label identically: cliques + a long path (adversarial for min
    # propagation) + an out-of-order chain
    pairs = (
        [(1, 2), (2, 3), (1, 3), (10, 11)]
        + [(i, i + 1) for i in range(100, 140)]
        + [(205, 203), (201, 205), (203, 209)]
    )
    df = spark.createDataFrame(pairs, "id_a long, id_b long")

    def run():
        return {
            r["node"]: r["component"]
            for r in connected_components(df, "id_a", "id_b").collect()
        }

    local = run()
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    assert local == run() == _union_find(pairs)


def test_finisher_logs_one_decision_per_gate(spark, monkeypatch, caplog):
    # one record per gate — operator, size, bound, path — on the
    # finisher logger, for the default bound and the forced-distributed one
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 2)], "id_a long, id_b long")
    caplog.set_level("INFO", logger=finisher.__name__)
    connected_components(df, "id_a", "id_b").collect()
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    connected_components(df, "id_a", "id_b").collect()
    msgs = [r.getMessage() for r in caplog.records if r.name == finisher.__name__]
    assert msgs == [
        "finisher op=connected_components size=3 bound=2000000 path=local",
        "finisher op=connected_components size=3 bound=0 path=distributed",
    ]


def test_near_dup_components_on_duplicated_corpus(spark):
    # duplicate every doc under offset ids: each (i, i+100) must share a
    # component, canonical = the small id, and no cross-doc merges occur
    # (distinct shingle sets)
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "how vexingly quick daft zebras jump today",
        "sphinx of black quartz judge my vow now",
    ]
    data = [(i, t) for i, t in enumerate(texts)]
    data += [(100 + i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["canonical_id"], r["is_duplicate"])
        for r in near_dup_components(
            df, "doc_id", "text", num_hashes=8, bands=4, shingle_n=2
        ).collect()
    }
    assert len(got) == 8
    for i in range(len(texts)):
        assert got[i] == (i, False)
        assert got[100 + i] == (i, True)


def test_near_dup_components_with_jaccard_gate(spark):
    # the jaccard gate must drop an LSH candidate pair whose true
    # similarity is below the threshold while keeping exact dups
    a = "alpha beta gamma delta epsilon zeta"
    data = [(0, a), (1, a), (2, "totally different words entirely here now")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in near_dup_components(
            df, "doc_id", "text", num_hashes=8, bands=4, shingle_n=2,
            jaccard_threshold=0.9,
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 2}


def test_isolated_nodes_self_canonical(spark):
    df = spark.createDataFrame([(5, 7)], "id_a long, id_b long")
    got = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    assert got == {5: 5, 7: 5}


def test_canonicalize_by_score_keeps_best_member(spark):
    from terrorblade_spark.operators.components import canonicalize_by_score

    # components: {1,2,3} and {7,8}; 5 is a singleton (absent)
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], "node long, component long"
    )
    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.1), (8, 0.4), (5, 0.7)],
        "doc_id long, quality double",
    )
    rows = {
        r["doc_id"]: (r["canonical_id"], r["is_duplicate"])
        for r in canonicalize_by_score(docs, comp, "doc_id", "quality").collect()
    }
    # cluster 1: best score 0.9 tie between 2 and 3 -> smaller id 2
    assert rows[1] == (2, True)
    assert rows[2] == (2, False)
    assert rows[3] == (2, True)
    # cluster 7: 8 wins on score
    assert rows[7] == (8, True)
    assert rows[8] == (8, False)
    # singleton keeps itself
    assert rows[5] == (5, False)


def test_canonicalize_by_score_null_scores_fall_back_to_min_id(spark):
    # a component whose scores are ALL NULL must not vanish from the
    # output (max(score) is NULL; the eqNullSafe best-pick falls back
    # to min-id canonicalization); mixed NULL/non-NULL picks among the
    # non-NULL members, and a NULL-scored singleton keeps itself.
    from terrorblade_spark.operators.components import canonicalize_by_score

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (7, 7), (8, 7)], "node long, component long"
    )
    docs = spark.createDataFrame(
        [(1, None), (2, None), (7, None), (8, 0.4), (5, None)],
        "doc_id long, quality double",
    )
    rows = {
        r["doc_id"]: (r["canonical_id"], r["is_duplicate"])
        for r in canonicalize_by_score(docs, comp, "doc_id", "quality").collect()
    }
    # every input row comes back
    assert set(rows) == {1, 2, 5, 7, 8}
    # all-NULL component -> min id canonical
    assert rows[1] == (1, False)
    assert rows[2] == (1, True)
    # mixed component -> the non-NULL scored member wins
    assert rows[7] == (8, True)
    assert rows[8] == (8, False)
    # NULL-scored singleton keeps itself
    assert rows[5] == (5, False)


def test_resolve_roots_forest_roots_and_depths(spark):
    from terrorblade_spark.operators.components import resolve_roots

    # forest: 1<-2<-3<-4 (chain), 10<-11, 10<-12 (branch)
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (11, 10), (12, 10)], "child long, parent long"
    )
    got = {
        r["node"]: (r["root"], r["depth"])
        for r in resolve_roots(edges, "child", "parent").collect()
    }
    assert got == {
        1: (1, 0), 2: (1, 1), 3: (1, 2), 4: (1, 3),
        10: (10, 0), 11: (10, 1), 12: (10, 1),
    }


def test_resolve_roots_long_chain_logarithmic_rounds(spark):
    """A 300-node chain must resolve within the default 20 doubling
    rounds (2^20 >> 300) — the O(log chain) claim, not O(chain)."""
    from terrorblade_spark.operators.components import resolve_roots

    n = 300
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(1, n)], "child long, parent long"
    )
    got = {r["node"]: (r["root"], r["depth"]) for r in resolve_roots(edges).collect()}
    assert got[n - 1] == (0, n - 1) and got[0] == (0, 0)
    assert len(got) == n


def test_resolve_roots_raises_on_cycle(spark):
    import pytest as _pytest

    from terrorblade_spark.operators.components import resolve_roots

    # the local finisher must refuse the non-forest input and fall
    # through to the distributed loop, which owns the error contract
    edges = spark.createDataFrame([(1, 2), (2, 1)], "child long, parent long")
    with _pytest.raises(ValueError, match="not a forest"):
        resolve_roots(edges, max_rounds=6)


def test_resolve_roots_null_edges_local_matches_distributed(spark, monkeypatch):
    """ADVICE r10 (high): a null child/parent must NOT become a
    fabricated INT64_MIN node in the local finisher — it falls through
    to the distributed loop, whose null-drop semantics are the
    contract. Local (default gate) and forced-distributed outputs must
    agree row for row on a null-bearing edge list."""
    from terrorblade_spark.operators.components import resolve_roots

    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (None, 7), (8, None), (11, 10)],
        "child long, parent long",
    )
    def run():
        return {
            r["node"]: (r["root"], r["depth"]) for r in resolve_roots(edges).collect()
        }

    local = run()
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    assert local == run()
    # no fabricated node ids: INT64_MIN never appears (a None node is
    # the distributed loop's own null handling, kept as-is)
    assert all(n is None or n > -(2**62) for n in local)
    assert local[3] == (1, 2) and local[11] == (10, 1)
    # and the local finisher itself refuses null-bearing input outright
    from terrorblade_spark.operators.components import _resolve_roots_local

    ptr = edges.selectExpr("child as node", "parent as anc")
    assert _resolve_roots_local(ptr) is None


def test_resolve_roots_local_matches_distributed(spark, monkeypatch):
    # chains + branches + isolated subtrees, ids deliberately sparse
    # and out of order; the size-gated driver finisher and the pointer-
    # doubling loop must agree row for row (integer algorithm)
    pairs = (
        [(i, i - 1) for i in range(1, 60)]  # 60-node chain from 0
        + [(111, 100), (112, 100), (113, 112), (114, 113)]
        + [(905, 903), (901, 905), (903, 909)]
    )
    edges = spark.createDataFrame(pairs, "child long, parent long")
    from terrorblade_spark.operators.components import resolve_roots

    def run():
        return {
            r["node"]: (r["root"], r["depth"])
            for r in resolve_roots(edges).collect()
        }

    local = run()
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    assert local == run()
    assert local[59] == (0, 59) and local[114] == (100, 3)
    assert local[901] == (909, 3) and local[909] == (909, 0)


def test_resolve_roots_local_fallthrough_on_duplicate_child(spark, monkeypatch):
    # a node with two parents is not a clean forest: the local path
    # must decline and the distributed loop's (convergent) multi-root
    # output must come back unchanged
    from terrorblade_spark.operators.components import resolve_roots

    edges = spark.createDataFrame(
        [(1, 2), (1, 3)], "child long, parent long"
    )
    def run():
        return sorted(
            (r["node"], r["root"], r["depth"])
            for r in resolve_roots(edges).collect()
        )

    rows = run()
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    assert rows == run()
