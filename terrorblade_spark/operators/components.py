"""Connected components over candidate-pair graphs, and the near-dup
canonicalization pipeline built on it.

The dedup operators (operators.dedup) end at candidate PAIRS; a real
corpus dedup needs per-document cluster assignment — "which canonical
doc does each duplicate collapse into". That is connected components
over the pair graph.

Scale design: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). Each round is
two groupBy+join passes over the EDGE relation only — two narrow
shuffles of (long, long) pairs, never document payloads — and the edge
set converges to stars (child -> component-min) in O(log^2 n) rounds;
for dedup graphs (near-cliques from LSH bands) it converges in 2-3.
Per-round ``localCheckpoint`` truncates the lineage so the plan does
not grow with iterations (on a cluster, lineage-truncation via
checkpoint/localCheckpoint is what keeps iterative DataFrame jobs
re-plannable; without it round k replays rounds 1..k-1).

A driver-side loop over ROUNDS (a dozen scalar count/checksum actions)
is not a driver-side loop over DATA: per-round work is fully
distributed and the loop count is logarithmic, the standard shape for
iterative graph algorithms on Spark (GraphFrames does the same).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ckpt import flat_local_checkpoint as _ckpt
from .finisher import arrow_collect, arrow_frame, fits_driver


def _large_star(sym: DataFrame) -> DataFrame:
    # for each node u: m = min(neighbors + self); every strictly-larger
    # neighbor v links to m
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient high -> low, then each node and its smaller neighbors all
    # link to the smallest of them
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        oriented.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_link = mins.select(F.col("u"), F.col("m").alias("v"))
    return relink.unionByName(self_link).where(F.col("u") != F.col("v")).distinct()


def _components_local(edges: DataFrame) -> DataFrame:
    """Driver-side min-label components over the collected edge
    relation — each pass is two vectorized ``minimum.at`` scatters
    plus one pointer-jump, converging in O(log n) passes. Exact, not
    approximate: at the fixpoint every edge's endpoints share a label,
    labels only ever copy indices of same-component nodes, and a
    label can only decrease from self — so the shared label is the
    component's minimum node id, the distributed loop's contract."""
    import numpy as np

    spark = edges.sparkSession
    pdf = arrow_collect(edges.select("u", "v"))
    schema = "node long, component long"
    if len(pdf) == 0:
        return arrow_frame(spark, {}, schema)
    ea = pdf["u"].to_numpy(dtype=np.int64)
    eb = pdf["v"].to_numpy(dtype=np.int64)
    nodes_arr, inv = np.unique(np.concatenate([ea, eb]), return_inverse=True)
    si, di = inv[: len(ea)], inv[len(ea):]
    lab = np.arange(len(nodes_arr))
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, si, lab[di])
        np.minimum.at(nxt, di, lab[si])
        nxt = np.minimum(nxt, nxt[nxt])
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    return arrow_frame(spark, {"node": nodes_arr, "component": nodes_arr[lab]}, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 16,
) -> DataFrame:
    """Component assignment for every node of the pair graph.

    Returns (node long, component long) with component = the minimum
    node id in the node's connected component (so the component id is
    itself a member — the natural canonical-document choice).

    Reference analog: the reference engine never ships this (its dedup
    stops at pairwise cluster labels); large-scale corpus dedup needs
    it, so it is part of the engine's beyond-reference surface.

    LOCAL FINISHER (operators/finisher.py): each star round costs
    several shuffles + an eager checkpoint + a signature action —
    ~1.2 s of fixed overhead per round regardless of edge count, i.e.
    ~5 s for a 2,000-edge dedup graph. A small DEDUPLICATED edge
    relation gets its component labels driver-side instead
    (:func:`_components_local`); output is identical (integer
    min-label algorithm, no float paths). The count that gates the
    choice is read off the already-materialized checkpoint.
    """
    edges = (
        pairs.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(_ckpt)
    )
    if fits_driver("connected_components", edges.count()):
        return _components_local(edges)
    nodes = edges.select(F.col("u").alias("node")).unionByName(
        edges.select(F.col("v").alias("node"))
    ).distinct()

    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        edges = _small_star(_large_star(sym)).transform(_ckpt)
        # convergence = edge multiset fixed point; (count, xor-free sum
        # of a 64-bit pair hash) is an order-independent signature and
        # two cheap scalar actions on the checkpointed relation
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes overflows
            # under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).first()
        if prev_sig == (sig["n"], sig["s"]):
            converged = True
            break
        prev_sig = (sig["n"], sig["s"])
    if not converged:
        # pre-fixpoint edges are not yet stars: a node could carry
        # MULTIPLE (node, component) labels and near_dup_components'
        # join would then duplicate doc rows with conflicting canonical
        # ids — silently corrupt dedup output. Star contraction needs
        # ~O(log^2 n) rounds; a long-chain graph can exceed the default.
        raise ValueError(
            f"connected_components did not converge in {max_rounds} rounds "
            "(long-chain component?); raise max_rounds"
        )

    # converged edges are (child, root) stars; roots label themselves
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def near_dup_components(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float | None = None,
    exact_verify: bool = False,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidates ->
    (optional) Jaccard verification -> connected components ->
    (id, canonical_id, is_duplicate).

    Verification default is the MinHash ESTIMATE (fraction of agreeing
    signature positions): the signatures already exist for banding, so
    it adds two pair-bounded joins on a k-long relation and one
    row-local fold — measured 7.2x cheaper end-to-end at a 64x probe
    (320k docs, 11.1M pairs, threshold 0.8: 26.7 s vs 193.4 s, canonical
    counts 4,759 vs 4,757). ``exact_verify=True`` recomputes true
    shingle-set Jaccard per candidate pair (O(pairs x shingles/doc)
    join rows) for when the threshold must be exact rather than
    quantized to 1/num_hashes steps.

    Every document appears in the output; docs in no cluster are their
    own canonical. The join back to the full id set is on a long key —
    text never shuffles after the signature stage.
    """
    from pyspark import StorageLevel

    from terrorblade_spark.operators.dedup import (
        _minhash_core,
        estimated_jaccard_for_pairs,
        jaccard_for_pairs,
        lsh_candidates_from_signatures,
    )

    sig = _minhash_core(df, id_col, text_col, num_hashes, shingle_n).select(
        F.col(id_col).alias("doc"), F.col("signature").alias("sig")
    )
    if jaccard_threshold is not None and not exact_verify:
        # signatures are reused by banding AND verification: persist once
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    cand = lsh_candidates_from_signatures(sig, bands, num_hashes // bands)
    if jaccard_threshold is not None:
        if exact_verify:
            cand = (
                jaccard_for_pairs(df, cand, id_col, text_col, shingle_n)
                .where(F.col("jaccard") >= jaccard_threshold)
                .select("id_a", "id_b")
            )
        else:
            cand = (
                estimated_jaccard_for_pairs(sig, cand)
                .where(F.col("jaccard_est") >= jaccard_threshold)
                .select("id_a", "id_b")
            )
    comp = connected_components(cand, "id_a", "id_b")
    if jaccard_threshold is not None and not exact_verify:
        # components are materialized (eager localCheckpoints inside
        # connected_components), so the cached signatures are no longer
        # reachable — unpersist here rather than leaking one cached
        # relation per call for the session lifetime
        sig.unpersist()
    return (
        df.select(F.col(id_col).cast("long").alias(id_col))
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("canonical_id"),
            (F.coalesce("component", F.col(id_col)) != F.col(id_col)).alias(
                "is_duplicate"
            ),
        )
    )


def canonicalize_by_score(
    df: DataFrame,
    components: DataFrame,
    id_col: str,
    score_col: str,
    node_col: str = "node",
    component_col: str = "component",
) -> DataFrame:
    """Pick each near-dup cluster's canonical row by QUALITY instead of
    min-id: the kept representative is the member with the highest
    ``score_col`` (ties by smallest id — deterministic).

    Min-id canonicals (the ``connected_components`` default) are right
    for idempotent ingest; a curation pass usually wants to keep the
    BEST member (longest, most fluent by LM score, least boilerplate)
    and drop the rest. One broadcast-or-shuffle join to attach
    component ids + one max_by aggregate per component — never a
    window over the full corpus.

    Returns (id, component, canonical_id, is_duplicate) for every row
    of ``df`` — rows absent from ``components`` are their own
    singleton canonical.
    """
    labeled = df.select(F.col(id_col), F.col(score_col)).join(
        components.select(
            F.col(node_col).alias(id_col), F.col(component_col).alias("component")
        ),
        id_col,
        "left",
    )
    # singletons: component = own id
    labeled = labeled.withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
    # type-safe two-step best-member pick: SQL `-id` tiebreaks only
    # for numeric ids (ANSI mode errors on strings). Max score per
    # component, then the smallest id among the max-scored members.
    # Null-safe best pick: max() ignores NULLs, so a component whose
    # scores are ALL NULL gets __best = NULL — eqNullSafe then matches
    # every member and the min-id tiebreak canonicalizes it (instead of
    # the plain `==` silently dropping the whole component). Mixed
    # NULL/non-NULL components still pick among the non-NULL max.
    max_score = labeled.groupBy("component").agg(F.max(score_col).alias("__best"))
    best = (
        labeled.join(max_score, "component")
        .where(F.col(score_col).eqNullSafe(F.col("__best")))
        .groupBy("component")
        .agg(F.min(id_col).alias("canonical_id"))
    )
    return (
        labeled.join(best, "component")
        .select(
            F.col(id_col),
            "component",
            "canonical_id",
            (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def _resolve_roots_local(ptr: DataFrame) -> DataFrame | None:
    """Driver-side root+depth over the collected child->parent relation
    — the directed-forest twin of :func:`_components_local`: pointer
    doubling runs as O(log chain) vectorized gather passes. Exact, not
    approximate: integer algorithm, same doubling recurrence as the
    distributed loop, so (node, root, depth) match row for row.

    Returns ``None`` — caller falls through to the distributed loop —
    when the collected edges are not a CLEAN forest (a duplicated
    child id, a cycle, a self-loop): those inputs are the distributed
    path's documented error/edge behavior and it stays authoritative
    for them.
    """
    import numpy as np

    spark = ptr.sparkSession
    schema = "node long, root long, depth int"
    pdf = arrow_collect(ptr.select("node", "anc"))
    if len(pdf) == 0:
        return arrow_frame(spark, {}, schema)
    if pdf["node"].isna().any() or pdf["anc"].isna().any():
        # A null child/parent would become NaN here and wrap to
        # INT64_MIN under to_numpy(int64) — a fabricated node id.
        # The distributed loop DROPS null-anc rows; nulls therefore
        # fall through so its semantics stay authoritative.
        return None
    ca = pdf["node"].to_numpy(dtype=np.int64)
    pa = pdf["anc"].to_numpy(dtype=np.int64)
    if np.unique(ca).size != len(ca):
        return None  # duplicated child id: not a clean forest
    ids, inv = np.unique(np.concatenate([ca, pa]), return_inverse=True)
    ci, pi = inv[: len(ca)], inv[len(ca):]
    n = len(ids)
    anc = np.arange(n)
    dep = np.zeros(n, dtype=np.int64)
    anc[ci] = pi
    dep[ci] = 1  # a self-loop edge keeps d=1 and never reaches a fixpoint
    converged = False
    for _ in range(64):  # depth < n <= 2M << 2^64; cycles never fix
        na = anc[anc]
        nd = dep + dep[anc]
        if np.array_equal(na, anc) and np.array_equal(nd, dep):
            converged = True
            break
        anc, dep = na, nd
    if not converged:
        return None  # cycle / self-loop: distributed loop adjudicates
    return arrow_frame(
        spark, {"node": ids, "root": ids[anc], "depth": dep.astype(np.int32)}, schema
    )


def resolve_roots(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_rounds: int = 20,
) -> DataFrame:
    """Root + depth for every node of a directed FOREST (each node has
    at most one parent): returns (node long, root long, depth int).

    The reply-chain / thread-reconstruction primitive for the message
    data model (reference dtypes: ``reply_to_message_id`` — the
    reference never resolves chains; per-row parent pointers are as far
    as it goes). Distinct from ``connected_components``: edges are
    DIRECTED, and the answer carries per-node DEPTH, which the
    undirected star contraction cannot produce.

    Scale design — pointer doubling: maintain (node, anc, d) = "anc is
    node's ancestor at distance d, or its root". Each round self-joins
    the relation on ``anc = node`` to jump ancestor pointers, DOUBLING
    the resolved path length — O(log longest-chain) rounds, each one
    equi-join + localCheckpoint (lineage truncation), edges-only
    shuffles. A per-key recursive walk (the SQL-oracle formulation)
    is O(longest-chain) sequential steps; doubling is why 10^9-message
    forests resolve in ~30 rounds.

    LOCAL FINISHER (operators/finisher.py): each doubling round costs
    an equi-join + eager checkpoint + a signature action — fixed
    scheduling cost per round regardless of edge count. A small
    checkpointed edge relation gets its roots and depths driver-side
    instead (:func:`_resolve_roots_local`); output is identical
    (integer doubling, no float paths). Non-forest inputs (duplicate
    children, cycles) fall through to the distributed loop, which
    keeps its documented behavior for them. The edge relation is
    checkpointed BEFORE the root derivation either way, so the
    upstream plan (often a window + filter) executes once, not three
    times.
    """
    ptr = edges.select(
        F.col(child_col).cast("long").alias("node"),
        F.col(parent_col).cast("long").alias("anc"),
        F.lit(1).alias("d"),
    ).transform(_ckpt)
    if fits_driver("resolve_roots", ptr.count()):
        local = _resolve_roots_local(ptr)
        if local is not None:
            return local
    # roots: parents that are nobody's child, plus isolated self-roots
    # are the caller's concern (children define the node set here; a
    # root node appears once its children resolve to it)
    roots = (
        ptr.select(F.col("anc").alias("node"))
        .distinct()
        .join(ptr.select("node").distinct(), "node", "left_anti")
        .select("node", F.col("node").alias("anc"), F.lit(0).alias("d"))
    )
    ptr = ptr.unionByName(roots).transform(_ckpt)

    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        hop = ptr.alias("a").join(
            ptr.alias("b"), F.col("a.anc") == F.col("b.node")
        ).select(
            F.col("a.node").alias("node"),
            F.col("b.anc").alias("anc"),
            (F.col("a.d") + F.col("b.d")).alias("d"),
        )
        ptr = hop.transform(_ckpt)
        sig = ptr.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("node", "anc", "d").cast("decimal(38,0)")).alias("s"),
        ).first()
        if prev_sig == (sig["n"], sig["s"]):
            converged = True
            break
        prev_sig = (sig["n"], sig["s"])
    if not converged:
        # a forest ALWAYS converges within log2(longest chain) rounds;
        # a moving signature after max_rounds means the precondition is
        # violated (a cycle, or a node with two parents — e.g. ids only
        # unique per chat). Returning the partial pointers would be
        # silently-wrong roots/depths downstream.
        raise ValueError(
            f"resolve_roots did not converge in {max_rounds} rounds: the "
            "edge set is not a forest (cycle or duplicate child rows?), "
            "or chains exceed 2^max_rounds"
        )

    return ptr.select("node", F.col("anc").alias("root"), F.col("d").cast("int").alias("depth"))
