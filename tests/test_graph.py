"""PageRank + degree profile (operators/graph.py)."""

from __future__ import annotations

import numpy as np
import pytest

from terrorblade_spark.operators import finisher
from terrorblade_spark.operators.graph import indegree_profile, pagerank


def _np_pagerank(edges, n_iter=10, d=0.85):
    """Dense power-iteration reference with the identical update."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for u, v in set(edges):
        out.setdefault(u, []).append(v)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        nxt = np.full(n, (1.0 - d) / n)
        dangling = sum(r[idx[u]] for u in nodes if u not in out)
        nxt += d * dangling / n
        for u, vs in out.items():
            share = d * r[idx[u]] / len(vs)
            for v in vs:
                nxt[idx[v]] += share
        r = nxt
    return {v: r[idx[v]] for v in nodes}


def _ranks(df, node="node", rank="pagerank"):
    return {r[node]: r[rank] for r in df.collect()}


def test_pagerank_cycle_is_uniform(spark):
    """A 4-cycle is perfectly symmetric: every node gets 1/4 exactly
    (the update maps the uniform vector to itself, no float drift)."""
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long")
    got = _ranks(pagerank(e, n_iter=7))
    assert got == pytest.approx({1: 0.25, 2: 0.25, 3: 0.25, 4: 0.25}, abs=1e-12)


def test_pagerank_matches_numpy_reference(spark):
    """Seeded sparse digraph with a dangling node and a hub — ranks
    match a dense numpy power iteration to float-sum precision."""
    rng = np.random.RandomState(7)
    edges = {(int(rng.randint(0, 30)), int(rng.randint(0, 30))) for _ in range(120)}
    edges |= {(i, 5) for i in range(10)}          # hub
    edges = {(u, v) for (u, v) in edges if u != 29}  # 29 dangling (if present)
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = _ranks(pagerank(e, n_iter=10))
    want = _np_pagerank(sorted(edges), n_iter=10)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_dangling_mass_conserved(spark):
    """All mass flows into a sink with no out-edges; total stays 1.0
    and the sink outranks its feeders."""
    e = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    got = _ranks(pagerank(e, n_iter=12))
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got[3] > got[1] and got[3] > got[2]
    assert got[1] == pytest.approx(got[2], abs=1e-12)


def test_pagerank_multi_edges_collapse_and_tol_stops(spark):
    """Duplicate (src,dst) rows don't double an edge's weight, and the
    tol early stop returns the converged fixed point."""
    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 2), (1, 3), (2, 1), (3, 1)], "src long, dst long"
    )
    simple = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (3, 1)], "src long, dst long"
    )
    r_dup = _ranks(pagerank(dup, n_iter=8))
    r_simple = _ranks(pagerank(simple, n_iter=8))
    for v in r_simple:
        assert r_dup[v] == pytest.approx(r_simple[v], abs=1e-12)
    # tol early-stop lands on the true fixed point (deep numpy power
    # iteration), far past what a fixed short run reaches (0.85^k rate)
    r_tol = _ranks(pagerank(simple, n_iter=500, tol=1e-12))
    want = _np_pagerank([(1, 2), (1, 3), (2, 1), (3, 1)], n_iter=400)
    for v in want:
        assert r_tol[v] == pytest.approx(want[v], abs=1e-9)


def test_pagerank_rejects_bad_damping(spark):
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="damping"):
        pagerank(e, damping=1.0)
    with pytest.raises(ValueError, match="check_every"):
        pagerank(e, tol=1e-6, check_every=0)


def test_pagerank_tol_on_converged_graph_equals_fixed_iter(spark):
    """A 2-cycle is at its fixed point from superstep one (uniform in,
    uniform out): the amortized early stop fires at the first check
    and returns bit-identical ranks to the fixed-budget run."""
    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    fixed = _ranks(pagerank(e, n_iter=10))
    early = _ranks(pagerank(e, n_iter=10, tol=1e-9, check_every=3))
    assert early == fixed == {1: 0.5, 2: 0.5}


def test_pagerank_tol_driver_barrier_amortized(spark, monkeypatch):
    """tol=None runs ZERO convergence-probe driver actions inside the
    loop; with tol set, exactly one probe job fires per check_every
    supersteps — counted via job groups against the tol=None floor."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    sc = spark.sparkContext
    # the probe-count contract under test is a property of the
    # DISTRIBUTED superstep loop (the local finisher runs zero probe
    # jobs by construction)
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)

    def jobs_for(group, **kw):
        sc.setJobGroup(group, group)
        try:
            pagerank(e, n_iter=4, **kw).count()
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("", "")

    base = jobs_for("pr-none")                      # no probes at all
    every1 = jobs_for("pr-ce1", tol=1e-30, check_every=1)   # 4 probes
    every4 = jobs_for("pr-ce4", tol=1e-30, check_every=4)   # 1 probe
    # a probe costs a few AQE stage-jobs (count not perfectly stable
    # across runs), so assert the amortization ORDER, not exact ratios:
    # tol=None is the job floor, and one check per 4 supersteps costs
    # at most half of checking every superstep
    assert base < every4 < every1
    assert (every4 - base) * 2 <= (every1 - base)


def test_pagerank_local_finisher_matches_distributed(spark, monkeypatch):
    """Local finisher: under the finisher bound the power iteration
    runs driver-side; ranks must match the distributed superstep loop
    to float-summation precision on the same graph — plain AND
    weighted — and a bound of 0 must force the distributed path."""
    rng = np.random.RandomState(11)
    edges = {(int(rng.randint(0, 40)), int(rng.randint(0, 40))) for _ in range(150)}
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    we = spark.createDataFrame(
        [(u, v, 1.0 + ((u * 7 + v) % 5)) for u, v in sorted(edges)],
        "src long, dst long, w double",
    )
    local = _ranks(pagerank(e, n_iter=10))                      # default: local
    local_w = _ranks(pagerank(we, n_iter=8, weight_col="w"))
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    dist = _ranks(pagerank(e, n_iter=10))                       # forced distributed
    dist_w = _ranks(pagerank(we, n_iter=8, weight_col="w"))
    assert set(local) == set(dist)
    for v in dist:
        assert local[v] == pytest.approx(dist[v], abs=1e-12)
    assert sum(local.values()) == pytest.approx(1.0, abs=1e-9)
    for v in dist_w:
        assert local_w[v] == pytest.approx(dist_w[v], abs=1e-12)


def test_pagerank_local_finisher_skipped_for_tol_and_reset(spark):
    """tol keeps its exact driver-barrier semantics and reset its
    Spark-side normalization: both opt out of the local finisher (the
    distributed loop's probe jobs are observable via job groups)."""
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    sc = spark.sparkContext
    sc.setJobGroup("pr-tol-path", "pr-tol-path")
    try:
        got = _ranks(pagerank(e, n_iter=3, tol=1e-30, check_every=1))
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("pr-tol-path"))
    finally:
        sc.setJobGroup("", "")
    # the local finisher runs ~2 jobs (collect + count); the
    # distributed loop with 3 probe barriers runs far more
    assert n_jobs > 6
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_indegree_profile(spark):
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 3)], "src long, dst long"
    )
    got = {r["node"]: r for r in indegree_profile(e).collect()}
    assert got[3]["in_degree"] == 3 and got[3]["out_degree"] == 1
    assert got[4]["out_degree"] == 1 and got[4]["in_degree"] == 0
    assert got[4]["in_bucket"] == -1          # no in-edges
    assert got[3]["in_bucket"] == 1           # floor(log2(3))
    assert got[1]["in_bucket"] == 0


def _np_pagerank_general(wedges, n_iter=10, d=0.85, reset=None):
    """Weighted/personalized dense reference: wedges = {(u,v): w}."""
    nodes = sorted({u for u, _ in wedges} | {v for _, v in wedges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_w = {}
    for (u, v), w in wedges.items():
        out_w.setdefault(u, {})[v] = out_w.get(u, {}).get(v, 0.0) + w
    if reset is None:
        t = np.full(n, 1.0 / n)
    else:
        t = np.zeros(n)
        for v, w in reset.items():
            if v in idx:
                t[idx[v]] = w
        t = t / t.sum()
    r = t.copy()
    for _ in range(n_iter):
        dangling = sum(r[idx[u]] for u in nodes if u not in out_w)
        nxt = (1.0 - d) * t + d * dangling * t
        for u, vs in out_w.items():
            tot = sum(vs.values())
            for v, w in vs.items():
                nxt[idx[v]] += d * r[idx[u]] * w / tot
        r = nxt
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_weighted_follows_weights(spark):
    """A 9:1 weighted split sends ~9x the mass along the heavy edge;
    duplicate weighted rows sum. Matches the dense reference."""
    wedges = {(1, 2): 9.0, (1, 3): 1.0, (2, 1): 1.0, (3, 1): 1.0}
    rows = [(u, v, w / 2) for (u, v), w in wedges.items()] * 2  # dup rows sum
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    got = _ranks(pagerank(e, n_iter=10, weight_col="w"))
    want = _np_pagerank_general(wedges, n_iter=10)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert got[2] > got[3] * 2  # heavy edge dominates


def test_pagerank_personalized_biases_to_seed(spark):
    """Teleport to node 1 only: mass concentrates in 1's neighborhood;
    off-graph seeds are ignored in normalization; mass sums to 1."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1, 1.0), (999, 5.0)], "node long, weight double")
    got = _ranks(pagerank(e, n_iter=20, reset=seeds))
    want = _np_pagerank_general(
        {(1, 2): 1, (2, 3): 1, (3, 1): 1, (4, 5): 1, (5, 4): 1},
        n_iter=20,
        reset={1: 1.0},
    )
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the disconnected 4<->5 cycle gets no teleport and decays to ~0
    assert got[4] < 1e-6 and got[1] > 0.3


def test_pagerank_rejects_off_graph_only_seeds(spark):
    """A reset with zero in-graph positive weight must raise at build,
    not silently return all-NaN ranks (0/0 teleport)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    seeds = spark.createDataFrame([(999, 1.0)], "node long, weight double")
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="in-graph seed"):
        pagerank(e, n_iter=3, reset=seeds)


def _py_walks(edges, walk_length, walks_per_node, seed):
    """Exact Python mirror of random_walks' md5 step arithmetic."""
    import hashlib

    out = {}
    for u, v in sorted(set(edges)):
        out.setdefault(u, []).append(v)
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    rows = []
    for node in nodes:
        for r in range(walks_per_node):
            wid = node * walks_per_node + r
            cur = node
            rows.append((wid, 0, cur))
            for t in range(1, walk_length + 1):
                if cur not in out:
                    break
                h = int(hashlib.md5(f"{seed}/{wid}/{t}".encode()).hexdigest()[:15], 16)
                cur = out[cur][h % len(out[cur])]
                rows.append((wid, t, cur))
    return sorted(rows)


def test_random_walks_match_python_mirror(spark):
    """Every (walk_id, step, node) row equals the hashlib mirror —
    the determinism contract that makes the walks oracle-able."""
    from terrorblade_spark.operators.graph import random_walks

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (4, 1), (2, 5)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["walk_id"], r["step"], r["node"])
        for r in random_walks(e, walk_length=6, walks_per_node=2, seed="w1").collect()
    )
    assert got == _py_walks(edges, 6, 2, "w1")


def test_random_walks_stop_at_dangling(spark):
    """Node 3 has no out-edges: every walk reaching it emits no
    further steps; start rows exist for ALL nodes including 3."""
    from terrorblade_spark.operators.graph import random_walks

    e = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    rows = random_walks(e, walk_length=4, seed="w2").collect()
    by_wid = {}
    for r in rows:
        by_wid.setdefault(r["walk_id"], []).append((r["step"], r["node"]))
    assert sorted(by_wid[3]) == [(0, 3)]                      # dangling start
    assert sorted(by_wid[1]) == [(0, 1), (1, 3)]              # one hop, then stop
    assert sorted(by_wid[2]) == [(0, 2), (1, 3)]


def test_random_walks_reproducible_and_seed_sensitive(spark):
    from terrorblade_spark.operators.graph import random_walks

    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 20) for i in range(20)] + [(i, (i + 7) % 20) for i in range(20)],
        "src long, dst long",
    )
    a = sorted(map(tuple, random_walks(e, walk_length=5, seed="s").collect()))
    b = sorted(map(tuple, random_walks(e, walk_length=5, seed="s").collect()))
    c = sorted(map(tuple, random_walks(e, walk_length=5, seed="OTHER").collect()))
    assert a == b
    assert a != c


def test_triangle_count_known_graphs(spark):
    from terrorblade_spark.operators.graph import triangle_count

    # K4: every node is in C(3,2)=3 triangles
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = {r["node"]: r["n_triangles"] for r in
           triangle_count(spark.createDataFrame(k4, "src long, dst long")).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # triangle + pendant; direction/self-loops/multi-edges ignored
    e2 = [(1, 2), (2, 1), (2, 3), (3, 1), (3, 4), (4, 4)]
    got2 = {r["node"]: r["n_triangles"] for r in
            triangle_count(spark.createDataFrame(e2, "src long, dst long")).collect()}
    assert got2 == {1: 1, 2: 1, 3: 1, 4: 0}
    # star: no triangles anywhere
    star = [(0, i) for i in range(1, 6)]
    got3 = {r["node"]: r["n_triangles"] for r in
            triangle_count(spark.createDataFrame(star, "src long, dst long")).collect()}
    assert set(got3.values()) == {0}


def test_triangle_count_matches_bruteforce(spark):
    from itertools import combinations

    from terrorblade_spark.operators.graph import triangle_count

    rng = np.random.RandomState(11)
    und = {tuple(sorted((int(rng.randint(0, 25)), int(rng.randint(0, 25)))))
           for _ in range(140)}
    und = {(u, v) for u, v in und if u != v}
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = dict.fromkeys(adj, 0)
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            want[a] += 1
            want[b] += 1
            want[c] += 1
    e = spark.createDataFrame(sorted(und), "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(e).collect()}
    assert got == want


def test_walk_context_pairs_mirror(spark):
    """Pairs match a Python skip-gram window over the mirrored walks,
    symmetric and multiplicity-weighted."""
    from terrorblade_spark.operators.graph import random_walks, walk_context_pairs

    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    walks = random_walks(e, walk_length=5, walks_per_node=2, seed="cp")
    got = {(r["center"], r["context"]): r["n_pairs"]
           for r in walk_context_pairs(walks, window=2).collect()}
    rows = _py_walks(edges, 5, 2, "cp")
    by_wid = {}
    for wid, step, node in rows:
        by_wid.setdefault(wid, []).append((step, node))
    want = {}
    for seq in by_wid.values():
        for (sa, na) in seq:
            for (sb, nb) in seq:
                if 1 <= abs(sa - sb) <= 2:
                    want[(na, nb)] = want.get((na, nb), 0) + 1
    assert got == want
    # symmetric by construction
    assert all(got[(b, a)] == n for (a, b), n in got.items())


def test_random_walks_rejects_bad_walks_per_node(spark):
    from terrorblade_spark.operators.graph import random_walks

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="walks_per_node"):
        random_walks(e, walks_per_node=0)


def _py_kcore(und, k):
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return {n: len(vs) for n, vs in adj.items()}


def test_kcore_known_graphs(spark):
    from terrorblade_spark.operators.graph import kcore

    # triangle + pendant chain: 2-core = the triangle only
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r["node"]: r["core_degree"] for r in kcore(e, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # K4: the 3-core is everything; the 4-core is empty
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    assert {r["node"] for r in kcore(k4, 3).collect()} == {0, 1, 2, 3}
    assert kcore(k4, 4).count() == 0
    # a pure path has no 2-core (cascading peel, multiple rounds)
    path = spark.createDataFrame([(i, i + 1) for i in range(8)], "src long, dst long")
    assert kcore(path, 2).count() == 0


def test_kcore_matches_bruteforce(spark):
    from terrorblade_spark.operators.graph import kcore

    rng = np.random.RandomState(13)
    und = {tuple(sorted((int(rng.randint(0, 30)), int(rng.randint(0, 30)))))
           for _ in range(120)}
    und = {(u, v) for u, v in und if u != v}
    e = spark.createDataFrame(sorted(und), "src long, dst long")
    for k in (2, 3, 4):
        got = {r["node"]: r["core_degree"] for r in kcore(e, k).collect()}
        assert got == _py_kcore(und, k), k


def test_kcore_path_graph_converges(spark):
    """The round-7 design RAISED on deep peel cascades (max_rounds=64;
    a path graph's peel depth is O(n)). The local finisher bounds round
    count: a 1k-node path (999 edges, under the finisher bound) never runs a
    distributed step and fully peels to the empty 2-core."""
    from terrorblade_spark.operators.graph import kcore

    n = 1000
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    assert kcore(e, 2).count() == 0


def test_kcore_distributed_cascade_matches_local(spark, monkeypatch):
    """A finisher bound of 0 forces the distributed frontier-cascade on a
    graph with both a surviving core (K5) and a deep-ish peel tail;
    results are identical to the default local path, and a pure path
    converges to empty instead of raising (the pre-round-8 behavior
    at depth > max_rounds)."""
    from terrorblade_spark.operators.graph import kcore

    edges = [(i, j) for i in range(5) for j in range(i + 1, 5)] + [
        (4, 10), (10, 11), (11, 12), (12, 13), (13, 14),
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    dflt = sorted(map(tuple, kcore(e, 3).collect()))
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    dist = sorted(map(tuple, kcore(e, 3).collect()))
    assert dflt == dist == [(0, 4), (1, 4), (2, 4), (3, 4), (4, 4)]

    p = spark.createDataFrame([(i, i + 1) for i in range(12)], "src long, dst long")
    assert kcore(p, 2).count() == 0


def test_kcore_distributed_fold_every_identical(spark, monkeypatch):
    """fold_every only changes when pending decrements fold into the
    degree relation — never the result (gated across the cascade's
    fold boundary)."""
    from terrorblade_spark.operators.graph import kcore

    e = spark.createDataFrame(
        [((i * 5 + 1) % 97, (i * 11 + 3) % 97) for i in range(300)],
        "src long, dst long",
    )
    base = sorted(map(tuple, kcore(e, k=4).collect()))
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    for fe in (1, 3):
        got = sorted(map(tuple, kcore(e, k=4, fold_every=fe).collect()))
        assert got == base, fe


def test_kcore_delta_branch_cycle_with_tail(spark, monkeypatch):
    """Exercises the BETWEEN-FOLD recovery branch, which every other
    fixture skips: their first pend trips the size trigger (pend*8 >=
    deg rows) and folds immediately, so the pend-join + recents
    anti-join path would be dead code under test. Here a 2,000-node
    cycle (surviving 2-core) carries a 12-node pendant path whose peel
    wave advances one node per step — pend is 1-2 rows against a
    ~2,012-row degree relation, so with fold_every=64 the cascade runs
    ~12 consecutive delta steps before any fold."""
    from terrorblade_spark.operators.graph import kcore

    n = 2000
    cyc = [(i, (i + 1) % n) for i in range(n)]
    tail = [(0, n), (n, n + 1)] + [(n + i, n + i + 1) for i in range(1, 11)]
    und = {tuple(sorted(p)) for p in cyc + tail}
    e = spark.createDataFrame(sorted(und), "src long, dst long")
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    got = {r["node"]: r["core_degree"] for r in kcore(e, 2, fold_every=64).collect()}
    assert got == _py_kcore(und, 2)
    assert len(got) == n  # the cycle survives, the whole tail peels


def test_kcore_rejects_bad_k(spark):
    from terrorblade_spark.operators.graph import kcore

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="k must be"):
        kcore(e, 0)


# --- bfs_distances -----------------------------------------------------------

from terrorblade_spark.operators.graph import bfs_distances, label_propagation


def _dist(df):
    return {r["node"]: r["distance"] for r in df.collect()}


def _seeds(spark, *nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node long")


def test_bfs_chain_hop_bound(spark):
    """Chain 1->2->3->4->5 from seed 1 with max_hops=2: exactly the
    first three nodes, at their hop counts — the bound is semantic."""
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long")
    got = _dist(bfs_distances(e, _seeds(spark, 1), max_hops=2))
    assert got == {1: 0, 2: 1, 3: 2}


def test_bfs_multi_seed_min_distance(spark):
    """Two seeds: every node gets the MIN distance over seeds; a node
    that is itself a seed stays at 0 even with in-edges."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 4), (4, 1)], "src long, dst long"
    )
    got = _dist(bfs_distances(e, _seeds(spark, 1, 10), max_hops=3))
    assert got == {1: 0, 10: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_directed_and_unreachable(spark):
    """Direction matters (no back-traversal) and unreachable nodes are
    absent, not infinite."""
    e = spark.createDataFrame([(2, 1), (3, 2), (9, 8)], "src long, dst long")
    got = _dist(bfs_distances(e, _seeds(spark, 1), max_hops=5))
    assert got == {1: 0}


def test_bfs_off_graph_seed_and_zero_hops(spark):
    """Seeds outside the edge relation still report distance 0; and
    max_hops=0 returns exactly the seed set."""
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert _dist(bfs_distances(e, _seeds(spark, 77), max_hops=3)) == {77: 0}
    assert _dist(bfs_distances(e, _seeds(spark, 1), max_hops=0)) == {1: 0}


def test_bfs_cycle_terminates_early(spark):
    """A cycle exhausts its frontier before the hop budget — distances
    stay minimal and no node repeats."""
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    got = _dist(bfs_distances(e, _seeds(spark, 1), max_hops=50))
    assert got == {1: 0, 2: 1, 3: 2}


# --- label_propagation -------------------------------------------------------


def _labels(df):
    return {r["node"]: r["community"] for r in df.collect()}


def test_lpa_two_cliques_weak_bridge(spark):
    """Two triangles joined by one bridge edge: after a few synchronous
    rounds each triangle converges to its own min-id label."""
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    e = spark.createDataFrame(tri1 + tri2 + [(3, 4)], "src long, dst long")
    got = _labels(label_propagation(e, n_iter=6))
    # the exact label ids are deterministic but not "the clique min":
    # min-tie-break lets the bridge node's label seep into the second
    # clique (here it converges to 3). What the operator promises is
    # the PARTITION: each triangle one community, bridge not merged.
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]


def test_lpa_tie_breaks_smallest_label(spark):
    """A node pulled equally by two labels adopts the smaller one —
    the determinism contract the gate oracle mirrors."""
    # node 3 has one edge to 1 and one to 2 (equal unit weights);
    # after round 1 every node keeps/propagates its initial id
    e = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    got = _labels(label_propagation(e, n_iter=1))
    assert got[3] == 1


def test_lpa_weight_beats_count(spark):
    """Weighted pull: one heavy edge outweighs two unit edges."""
    e = spark.createDataFrame(
        [(1, 4, 1.0), (2, 4, 1.0), (9, 4, 5.0)], "src long, dst long, w double"
    )
    got = _labels(label_propagation(e, n_iter=1, weight_col="w"))
    assert got[4] == 9


def test_lpa_zero_iters_identity_and_parallel_edges(spark):
    """n_iter=0 returns initial self-labels; parallel edges sum their
    weights (2x unit edge == weight-2 edge)."""
    e = spark.createDataFrame([(1, 2), (1, 2), (3, 2)], "src long, dst long")
    assert _labels(label_propagation(e, n_iter=0)) == {1: 1, 2: 2, 3: 3}
    # parallel 1-2 edges (total pull 2) beat the single 3-2 edge
    assert _labels(label_propagation(e, n_iter=1))[2] == 1


def test_lpa_stop_when_stable_exact_and_early(spark, monkeypatch):
    """Two triangles + bridge converge in a few rounds; with
    stop_when_stable a 20-round budget returns the SAME labels as the
    fixed 20-round run while running far fewer jobs (counted via job
    groups) — the early stop is exact because synchronous LPA is
    memoryless at a fixpoint."""
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    e = spark.createDataFrame(tri1 + tri2 + [(3, 4)], "src long, dst long")
    sc = spark.sparkContext

    def run(group, **kw):
        sc.setJobGroup(group, group)
        try:
            got = _labels(label_propagation(e, n_iter=20, **kw))
            return got, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("", "")

    # the early-stop contract is a property of the DISTRIBUTED round
    # loop (the local finisher computes the same labels with no
    # per-round jobs to save — gated separately by
    # test_lpa_local_matches_distributed)
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    fixed, fixed_jobs = run("lpa-fixed")
    early, early_jobs = run("lpa-early", stop_when_stable=True)
    assert early == fixed
    # converged by ~round 3; 20 fixed rounds must cost well over the
    # early-stopped run even counting the probe jobs
    assert early_jobs < fixed_jobs


def test_lpa_stop_when_stable_check_every_amortized(spark, monkeypatch):
    """The convergence probe fires every check_every rounds: on a
    graph that does NOT converge within the budget, check_every=5 runs
    fewer probe jobs than check_every=1, and both return the exact
    fixed-round labels (probing never changes results)."""
    # a 6-cycle oscillates/rotates labels for many rounds
    cyc = [(i, (i % 6) + 1) for i in range(1, 7)]
    e = spark.createDataFrame(cyc, "src long, dst long")
    sc = spark.sparkContext

    def run(group, **kw):
        sc.setJobGroup(group, group)
        try:
            got = _labels(label_propagation(e, n_iter=5, **kw))
            return got, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("", "")

    # probe amortization is distributed-loop machinery (see
    # test_lpa_stop_when_stable_exact_and_early)
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    fixed, _ = run("lpa-ce-fixed")
    g1, j1 = run("lpa-ce1", stop_when_stable=True, check_every=1)
    g5, j5 = run("lpa-ce5", stop_when_stable=True, check_every=5)
    assert g1 == fixed and g5 == fixed
    assert j5 < j1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="check_every"):
        label_propagation(e, n_iter=2, stop_when_stable=True, check_every=0)


def test_kcore_checkpoint_every_identical_results(spark):
    """checkpoint_every is retained-for-compat and inert under the
    round-7 delta-peel design (the adjacency is never rewritten, so
    there is nothing to amortize): any value must be accepted,
    validated, and return row-identical results."""
    from terrorblade_spark.operators.graph import kcore

    e = spark.createDataFrame(
        [(i, j) for i in range(12) for j in range(12) if i < j and (i + j) % 3]
        + [(100, 101), (101, 102)],  # a chain that peels over 2 rounds
        "src long, dst long",
    )
    base = sorted(map(tuple, kcore(e, k=4).collect()))
    for ce in (2, 3, 7):
        got = sorted(map(tuple, kcore(e, k=4, checkpoint_every=ce).collect()))
        assert got == base, ce
    with pytest.raises(ValueError, match="checkpoint_every"):
        kcore(e, k=4, checkpoint_every=0)


# --- round-10 local finishers: local == distributed --------------------------


def test_walks_local_matches_distributed(spark, monkeypatch):
    """The size-gated driver finisher must emit the identical row set
    as the superstep loop (same md5 draw contract) — including
    dangling stops and multi-rep walk ids."""
    from terrorblade_spark.operators.graph import random_walks

    edges = (
        [(i, (i * 3 + 1) % 20) for i in range(20)]
        + [(i, (i + 7) % 20) for i in range(20)]
        + [(50, 51)]  # 51 dangles
    )
    e = spark.createDataFrame(edges, "src long, dst long")
    kw = dict(walk_length=5, walks_per_node=2, seed="ab")

    def run():
        return sorted(
            (r["walk_id"], r["step"], r["node"]) for r in random_walks(e, **kw).collect()
        )

    local = run()
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    assert local == run()


def test_bfs_local_matches_distributed(spark, monkeypatch):
    from terrorblade_spark.operators.graph import bfs_distances

    edges = [(1, 2), (2, 3), (3, 4), (10, 4), (4, 1), (5, 6), (77, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (10,), (99,)], "node long")

    def run():
        return {
            r["node"]: r["distance"]
            for r in bfs_distances(e, seeds, max_hops=3).collect()
        }

    local = run()
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    assert local == run()


def test_bfs_empty_edges_local_matches_distributed(spark, monkeypatch):
    # no edges at all: both branches return the seeds at distance 0
    from terrorblade_spark.operators.graph import bfs_distances

    e = spark.createDataFrame([], "src long, dst long")

    def run():
        return _dist(bfs_distances(e, _seeds(spark, 1, 2), max_hops=3))

    local = run()
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    assert local == run() == {1: 0, 2: 0}


def test_lpa_local_matches_distributed(spark, monkeypatch):
    from terrorblade_spark.operators.graph import label_propagation

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    bridge = [(3, 4)]
    weights = [(a, b, float((a * 7 + b) % 5 + 1)) for a, b in tri1 + tri2 + bridge]
    e = spark.createDataFrame(weights, "src long, dst long, w double")

    def run():
        return {
            r["node"]: r["community"]
            for r in label_propagation(e, n_iter=4, weight_col="w").collect()
        }

    local = run()
    monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)
    assert local == run()
