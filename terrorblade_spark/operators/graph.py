"""Link-graph analysis: PageRank (uniform / weighted / personalized),
seeded deterministic random walks + skip-gram context pairs, hub-safe
triangle counting, k-core decomposition, degree profiles.

Why it's here: large-scale corpus curation weights web documents by
the link graph (the CommonCrawl/RefinedWeb quality signal — PageRank
for authority, k-core for embeddedness, triangles for community
density, walks for graph embeddings) — a core LLM-data-pipeline
capability with no reference twin (the reference's graph surface
stops at pairwise near-dup clusters; see operators/components.py for
that half).

Execution shape (the Pregel superstep recipe expressed as DataFrames):

* The EDGE relation — the 100 TB side — is prepared ONCE: distinct,
  joined with out-degrees, hash-repartitioned on ``src`` and persisted.
  Every iteration's contribution join keys on ``src``, and the cached
  relation's output partitioning satisfies it, so edges never pass
  through another Exchange; only the NODE-sized rank relation shuffles
  per superstep.
* Dangling nodes (no out-edges) are precomputed once; their mass is
  folded back each iteration through a 1-row broadcast scalar — never
  a driver-side ``collect`` of ranks.
* Each superstep ends in an eager ``localCheckpoint``: ranks are
  node-sized, and truncating lineage every iteration is what keeps the
  plan from growing O(iterations) deep (the connected-components
  lesson, operators/components.py:83).

Determinism: with a fixed ``n_iter`` the result is a pure function of
the graph up to float summation order (~1e-16 per superstep); gate
queries round to 6 dp on both engines (the q81 rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import finisher
from .ckpt import flat_local_checkpoint as _ckpt
from .finisher import arrow_collect, arrow_frame, fits_driver


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
    node_col: str = "node",
    rank_col: str = "pagerank",
    tol: float | None = None,
    weight_col: str | None = None,
    reset: DataFrame | None = None,
    check_every: int = 1,
    on_superstep=None,
) -> DataFrame:
    """PageRank over the directed graph ``edges``. Returns
    ``(node_col, rank_col)`` for every node appearing as a source or
    destination, summing to 1.0 up to float error.

    Unweighted (``weight_col=None``): multi-edges are collapsed and
    the walk follows DISTINCT (src, dst) links uniformly. Weighted:
    duplicate (src, dst) weights are summed and the walk follows
    out-edges proportionally to weight (non-positive/NULL weights
    dropped). Self-loops are kept as given.

    ``reset`` personalizes the teleport: a small (``node_col``,
    ``weight``) seed relation (normalized internally over the nodes
    actually in the graph; off-graph seeds are ignored) — the random
    surfer restarts at seeds instead of uniformly, biasing rank mass
    toward the seeds' neighborhoods (crawl-frontier prioritization,
    topic-conditioned quality). Default is uniform 1/n.

    Fixed ``n_iter`` supersteps of the damped update
    ``r' = (1-d)*t + d * (sum_{u->v} r_u * w_uv / W_u + dangling_mass * t)``
    with teleport vector ``t`` — dangling mass is redistributed by
    ``t``, so total mass is conserved. ``tol`` optionally early-stops
    when the L1 delta between supersteps falls below it (early stop
    trades the fixed iteration count for a data-dependent one — leave
    it None when a bit-stable result matters more than saved
    supersteps).

    COST of ``tol``: each convergence check is a SYNCHRONOUS driver
    barrier (an extra node-sized join + aggregate + ``.first()``)
    that serializes the superstep pipeline — at cluster scale a
    per-superstep check turns N async supersteps into N barriers.
    ``check_every`` amortizes it to one barrier per that many
    supersteps, at worst ``check_every - 1`` extra supersteps past
    convergence (which also means slightly different ranks at
    identical arguments vs check_every=1). The default is 1 —
    exact tol semantics; OPT IN to amortization at scale by raising
    it. ``tol=None`` (the default) runs zero driver-side convergence
    actions — prefer it for fixed-budget production runs.

    LOCAL FINISHER (operators/finisher.py; the link relation's
    materializing count is the gate, and ``tol``/``reset`` stay on the
    distributed path): the ``n_iter`` power iterations run driver-side
    over numpy arrays. A superstep's FIXED cost (scheduling, the eager
    lineage-truncating checkpoint, the dangling-mass broadcast) is
    ~0.2 s per iteration regardless of size — on a 625-edge nation
    graph the 10-superstep loop was pure overhead (measured 3.2 s →
    0.9 s at sf0.1, identical ranks). Ranks differ from the
    distributed path only in float summation order (~1e-16; both
    paths are inside the documented determinism contract, and the
    equality is unit-gated).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if check_every < 1:
        raise ValueError(f"check_every must be >= 1, got {check_every}")
    return _pagerank_impl(
        edges, src, dst, n_iter, damping, node_col, rank_col, tol, weight_col,
        reset, check_every, on_superstep,
    )


def _prepare_links(e: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """The one-time edge materialization every superstep reuses: the
    normalized-weight link relation, hash-repartitioned on ``__src``
    and persisted so the iteration joins read its cached partitioning
    with no further Exchange (plan-gated in tests/test_plans.py against
    THIS function). Returns (links, out-degree relation)."""
    deg = e.groupBy("__src").agg(F.sum("__ew").alias("__deg"))
    links = (
        e.join(deg, "__src")
        .withColumn("__w", F.col("__ew") / F.col("__deg"))
        .drop("__deg", "__ew")
        .repartition(k, "__src")
        .persist()
    )
    return links, deg


def _superstep_contrib(
    links: DataFrame, ranks: DataFrame, node_col: str, rank_col: str
) -> DataFrame:
    """One superstep's contribution sum — the join the plan gate
    checks: cached links on ``__src``, node-sized ranks shuffled in."""
    return (
        links.join(
            ranks.select(F.col(node_col).alias("__src"), F.col(rank_col)), "__src"
        )
        .groupBy("__dst")
        .agg(F.sum(F.col(rank_col) * F.col("__w")).alias("__contrib"))
    )


def _pagerank_local(
    spark,
    links: DataFrame,
    n_iter: int,
    damping: float,
    node_col: str,
    rank_col: str,
    on_superstep,
) -> DataFrame:
    """Driver-side power iteration over the collected link relation —
    each iteration is one ``bincount`` contribution sum + the damped
    update, microseconds at the finisher bound."""
    import numpy as np

    pdf = arrow_collect(links.select("__src", "__dst", "__w"))
    schema = f"{node_col} long, {rank_col} double"
    if len(pdf) == 0:
        return arrow_frame(spark, {}, schema)
    ea = pdf["__src"].to_numpy(dtype=np.int64)
    eb = pdf["__dst"].to_numpy(dtype=np.int64)
    w = pdf["__w"].to_numpy(dtype=np.float64)
    nodes_arr, inv = np.unique(np.concatenate([ea, eb]), return_inverse=True)
    n = len(nodes_arr)
    si, di = inv[: len(ea)], inv[len(ea):]
    has_out = np.zeros(n, dtype=bool)
    has_out[si] = True
    dangling = ~has_out
    t = np.full(n, 1.0 / n)
    rank = t.copy()
    for it in range(n_iter):
        contrib = np.bincount(di, weights=rank[si] * w, minlength=n)
        dm = float(rank[dangling].sum())
        rank = (1.0 - damping) * t + damping * (contrib + dm * t)
        if on_superstep is not None:
            on_superstep(it)
    return arrow_frame(spark, {node_col: nodes_arr, rank_col: rank}, schema)


def _pagerank_impl(
    edges: DataFrame,
    src: str,
    dst: str,
    n_iter: int,
    damping: float,
    node_col: str,
    rank_col: str,
    tol: float | None,
    weight_col: str | None,
    reset: DataFrame | None,
    check_every: int = 5,
    on_superstep=None,
) -> DataFrame:
    if weight_col is None:
        e = (
            edges.select(
                F.col(src).cast("long").alias("__src"), F.col(dst).cast("long").alias("__dst")
            )
            .where(F.col("__src").isNotNull() & F.col("__dst").isNotNull())
            .distinct()
            .withColumn("__ew", F.lit(1.0))
        )
    else:
        e = (
            edges.select(
                F.col(src).cast("long").alias("__src"),
                F.col(dst).cast("long").alias("__dst"),
                F.col(weight_col).cast("double").alias("__ew"),
            )
            .where(
                F.col("__src").isNotNull()
                & F.col("__dst").isNotNull()
                & (F.col("__ew") > 0)
            )
            .groupBy("__src", "__dst")
            .agg(F.sum("__ew").alias("__ew"))
        )
    spark = edges.sparkSession
    k = int(spark.conf.get("spark.sql.shuffle.partitions"))
    links, deg = _prepare_links(e, k)
    try:
        # materialize: iterations must hit the cache, not the lineage.
        # The count doubles as the local-finisher gate; tol keeps its
        # exact barrier semantics and reset its Spark-side
        # normalization by staying on the distributed path.
        n_links = links.count()
        if tol is None and reset is None and fits_driver("pagerank", n_links):
            return _pagerank_local(
                spark, links, n_iter, damping, node_col, rank_col, on_superstep
            )

        # node set from the PERSISTED links, not from e: links keeps
        # every edge (inner join with deg matches all sources), and
        # deriving from e would recompute the whole upstream edge
        # pipeline twice more (the edge relation is often a multi-table
        # join — q104's is 4-way)
        bare_nodes = (
            links.select(F.col("__src").alias(node_col))
            .unionByName(links.select(F.col("__dst").alias(node_col)))
            .distinct()
        )
        # teleport vector as a node column: uniform 1/n, or the normalized
        # seed weights (computed over in-graph seeds so mass still sums to 1)
        if reset is None:
            n_df = bare_nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
            teleport = bare_nodes.crossJoin(F.broadcast(n_df)).select(
                node_col, (F.lit(1.0) / F.col("__n")).alias("__t")
            )
        else:
            seeded = bare_nodes.join(
                F.broadcast(
                    reset.select(
                        F.col(node_col).cast("long").alias(node_col),
                        F.col("weight").cast("double").alias("__rw"),
                    )
                ),
                node_col,
                "left",
            ).withColumn("__rw", F.coalesce(F.col("__rw"), F.lit(0.0)))
            tot = seeded.agg(F.sum("__rw").alias("__tot"))
            teleport = seeded.crossJoin(F.broadcast(tot)).select(
                node_col,
                # fail fast instead of 0/0 -> all-NaN ranks: no in-graph
                # seed means the teleport vector doesn't exist. The
                # raise fires at the eager init checkpoint below, not
                # mid-iteration.
                F.when(F.col("__tot") > 0, F.col("__rw") / F.col("__tot"))
                .otherwise(
                    F.raise_error(
                        F.lit(
                            "pagerank reset has no in-graph seed with positive weight"
                        )
                    ).cast("double")
                )
                .alias("__t"),
            )
        # the superstep STATE carries teleport + dangling flag next to
        # the rank, so each superstep is exactly one join with the
        # cached links plus one filter-scan for the dangling mass — the
        # old per-superstep (dangling anti-join relation) JOIN (ranks)
        # is gone, and no node-sized persists outlive the call (the
        # checkpointed state is ContextCleaner-reclaimed)
        srcs = links.select(F.col("__src").alias(node_col)).distinct()
        state = (
            teleport.join(srcs.withColumn("__out", F.lit(True)), node_col, "left")
            .select(
                node_col,
                "__t",
                F.coalesce("__out", F.lit(False)).alias("__out"),
                F.col("__t").alias(rank_col),
            )
            .transform(_ckpt)
        )
        for it in range(n_iter):
            contrib = _superstep_contrib(links, state, node_col, rank_col)
            dm = state.where(~F.col("__out")).agg(
                F.coalesce(F.sum(rank_col), F.lit(0.0)).alias("__dm")
            )
            new_state = (
                state.select(node_col, "__t", "__out")
                .join(contrib, F.col(node_col) == F.col("__dst"), "left")
                .crossJoin(F.broadcast(dm))
                .select(
                    node_col,
                    "__t",
                    "__out",
                    (
                        F.lit(1.0 - damping) * F.col("__t")
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("__contrib"), F.lit(0.0))
                            + F.col("__dm") * F.col("__t")
                        )
                    ).alias(rank_col),
                )
                .transform(_ckpt)
            )
            # the convergence probe is a synchronous driver barrier —
            # amortize it to one check per check_every supersteps
            if tol is not None and (it + 1) % check_every == 0:
                delta = (
                    new_state.select(node_col, F.col(rank_col).alias("__new"))
                    .join(state.select(node_col, rank_col), node_col)
                    .agg(F.sum(F.abs(F.col("__new") - F.col(rank_col))).alias("d"))
                    .first()["d"]
                )
                state = new_state
                if delta is not None and delta < tol:
                    if on_superstep is not None:
                        on_superstep(it)
                    break
            else:
                state = new_state
            if on_superstep is not None:
                on_superstep(it)
    finally:
        # release the edge cache on EVERY path — including the designed
        # raise_error for an all-off-graph reset and tol-loop errors;
        # a retry loop must not accumulate pinned edge-sized caches
        links.unpersist()
    return state.select(node_col, rank_col)


def indegree_profile(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree profile of the directed graph: per node, distinct
    in/out-degree and a log2 in-degree bucket — the cheap first look
    at link-graph shape (hub detection, skew diagnosis before a
    pagerank / components run). One exploded union, one aggregate."""
    e = edges.select(
        F.col(src).cast("long").alias("__src"), F.col(dst).cast("long").alias("__dst")
    ).distinct()
    both = e.select(
        F.col("__src").alias("node"), F.lit(1).alias("out_e"), F.lit(0).alias("in_e")
    ).unionByName(
        e.select(F.col("__dst").alias("node"), F.lit(0).alias("out_e"), F.lit(1).alias("in_e"))
    )
    return both.groupBy("node").agg(
        F.sum("out_e").cast("long").alias("out_degree"),
        F.sum("in_e").cast("long").alias("in_degree"),
    ).withColumn(
        "in_bucket",
        F.when(F.col("in_degree") == 0, F.lit(-1)).otherwise(
            F.floor(F.log2(F.col("in_degree").cast("double"))).cast("int")
        ),
    )


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_length: int = 5,
    walks_per_node: int = 1,
    seed: str = "walk",
    node_col: str = "node",
) -> DataFrame:
    """Seeded DETERMINISTIC random walks over the directed graph — the
    node2vec/DeepWalk context sampler: every node starts
    ``walks_per_node`` walks, each step follows the out-edge whose
    rank (row_number over dst within src) equals
    ``hash64(seed/walk_id/step) % out_degree`` — pure md5 arithmetic,
    so the same walk is reproduced on any partitioning, any cluster
    size, and by the SQL oracle twin. A walk that reaches a dangling
    node simply stops.

    Returns the exploded relation ``(walk_id, step, node_col)`` with
    step 0 = the start node — the shape skip-gram pair extraction
    consumes directly (self-join on walk_id with a step-window
    predicate).

    Execution shape (same recipe as :func:`pagerank`): the indexed
    edge relation (src, dst, rank-within-src, out-degree) is built
    ONCE, src-partitioned and persisted; each step is one equi-join of
    the walk frontier (|nodes| x walks_per_node rows) against the
    cache plus an eager localCheckpoint — the corpus-sized edge
    relation never re-shuffles, lineage stays flat.
    """
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1, got {walk_length}")
    if walks_per_node < 1:
        raise ValueError(f"walks_per_node must be >= 1, got {walks_per_node}")
    e = (
        edges.select(
            F.col(src).cast("long").alias("__src"), F.col(dst).cast("long").alias("__dst")
        )
        .where(F.col("__src").isNotNull() & F.col("__dst").isNotNull())
        .distinct()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__src").orderBy("__dst")
    deg = e.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
    spark = edges.sparkSession
    k = int(spark.conf.get("spark.sql.shuffle.partitions"))
    links = (
        e.withColumn("__idx", F.row_number().over(w))
        .join(deg, "__src")
        .repartition(k, "__src")
        .persist()
    )
    try:
        return _walk_steps(links, walks_per_node, walk_length, seed, node_col, spark)
    finally:
        links.unpersist()


def _walks_local(links, walks_per_node, walk_length, seed, node_col, spark):
    """Driver-side walk expansion over the collected link relation —
    each step is a vectorized gather over a lexsorted adjacency. The
    draw is the EXACT contract the distributed loop evaluates —
    ``hash64(seed/walk_id/step) % out_degree`` — via the same
    15-hex-chars-of-md5 parse (60 bits, no overflow on either side;
    the q71 ``spark_hash_string`` / ``_plane_sign`` twin precedent),
    so the emitted walks are identical row sets (unit-gated). The draw
    is vectorized (``md5vec.md5_hash60_draws``: single-block MD5 as
    batched uint32 numpy arithmetic, parity-tested against hashlib);
    the hashlib loop remains only as the fallback for a seed so long
    the message would need a second MD5 block."""
    import numpy as np

    from terrorblade_spark.operators.md5vec import md5_hash60_draws

    pdf = arrow_collect(links.select("__src", "__dst"))
    schema = f"walk_id long, step int, {node_col} long"
    if len(pdf) == 0:
        return arrow_frame(spark, {}, schema)
    src = pdf["__src"].to_numpy(dtype=np.int64)
    dst = pdf["__dst"].to_numpy(dtype=np.int64)
    order = np.lexsort((dst, src))  # rank within src = ascending dst,
    src, dst = src[order], dst[order]  # matching row_number(orderBy dst)
    usrc, starts, degs = np.unique(src, return_index=True, return_counts=True)
    nodes = np.unique(np.concatenate([src, dst]))
    reps = np.arange(walks_per_node, dtype=np.int64)
    cur = np.repeat(nodes, walks_per_node)
    wid = cur * walks_per_node + np.tile(reps, len(nodes))
    out_w, out_s, out_n = [wid], [np.zeros(len(wid), np.int64)], [cur]
    for t in range(1, walk_length + 1):
        pos = np.searchsorted(usrc, cur)
        pos_c = np.minimum(pos, len(usrc) - 1)
        alive = usrc[pos_c] == cur  # dangling nodes stop the walk
        if not alive.any():
            break
        wid, cur, pos = wid[alive], cur[alive], pos_c[alive]
        try:
            draws = md5_hash60_draws(f"{seed}/", wid, f"/{t}")
        except (ValueError, UnicodeEncodeError):  # >=56-byte message / exotic seed
            import hashlib

            draws = np.fromiter(
                (
                    int(hashlib.md5(f"{seed}/{w}/{t}".encode()).hexdigest()[:15], 16)
                    for w in wid
                ),
                dtype=np.int64,
                count=len(wid),
            )
        cur = dst[starts[pos] + draws % degs[pos]]
        out_w.append(wid)
        out_s.append(np.full(len(wid), t, np.int64))
        out_n.append(cur)
    return arrow_frame(
        spark,
        {
            "walk_id": np.concatenate(out_w),
            "step": np.concatenate(out_s).astype(np.int32),
            node_col: np.concatenate(out_n),
        },
        schema,
    )


def _walk_steps(links, walks_per_node, walk_length, seed, node_col, spark):
    from terrorblade_spark.functions.exprs import hash64

    n_links = links.count()
    # LOCAL FINISHER (operators/finisher.py): each distributed step is
    # a frontier join + eager checkpoint (~0.25 s of fixed cost); a
    # bounded link relation walks driver-side instead — identical
    # output by the gated md5-draw twin. The materializing count above
    # already existed as the cache-warm action, so the gate is free.
    if fits_driver("random_walks", n_links):
        return _walks_local(
            links, walks_per_node, walk_length, seed, node_col, spark
        )

    # node set read from the already-materialized cache, not the lineage
    nodes = (
        links.select(F.col("__src").alias("__cur"))
        .unionByName(links.select(F.col("__dst").alias("__cur")))
        .distinct()
    )
    reps = spark.range(walks_per_node).withColumnRenamed("id", "__r")
    frontier = (
        nodes.crossJoin(F.broadcast(reps))
        .select(
            (F.col("__cur") * walks_per_node + F.col("__r")).alias("walk_id"), "__cur"
        )
        .transform(_ckpt)
    )
    steps = [
        frontier.select(
            "walk_id", F.lit(0).alias("step"), F.col("__cur").alias(node_col)
        )
    ]
    for t in range(1, walk_length + 1):
        draw = hash64(
            F.concat(
                F.lit(f"{seed}/"), F.col("walk_id").cast("string"), F.lit(f"/{t}")
            )
        )
        nxt = (
            frontier.join(links, frontier["__cur"] == links["__src"])
            .where(F.col("__idx") == draw % F.col("__deg") + 1)
            .select("walk_id", F.col("__dst").alias("__cur"))
            .transform(_ckpt)
        )
        steps.append(
            nxt.select("walk_id", F.lit(t).alias("step"), F.col("__cur").alias(node_col))
        )
        frontier = nxt
    out = steps[0]
    for s_df in steps[1:]:
        out = out.unionByName(s_df)
    return out


def walk_context_pairs(
    walks: DataFrame,
    window: int = 2,
    node_col: str = "node",
) -> DataFrame:
    """Skip-gram (center, context) pairs from a :func:`random_walks`
    relation: within each walk, every ordered pair of nodes at step
    distance 1..window, symmetric (both directions emitted), weighted
    by corpus multiplicity. Returns ``(center, context, n_pairs)`` —
    the co-occurrence relation a graph-embedding trainer consumes.

    Plan: ONE self-equi-join on walk_id (walk relations are
    |nodes| x walks_per_node x length — node-sized, not corpus-sized)
    with the step-distance band as a residual predicate, then a
    map-side-combined count aggregate.
    """
    a = walks.select(
        "walk_id", F.col("step").alias("__sa"), F.col(node_col).alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("__sb"), F.col(node_col).alias("context")
    )
    band = F.abs(F.col("__sa") - F.col("__sb"))
    return (
        a.join(b, "walk_id")
        .where((band >= 1) & (band <= window))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _bfs_local(e, seeds_pdf, max_hops, node_col, spark):
    """Driver-side hop-bounded BFS over the collected edge relation —
    identical output to the frontier-Pregel loop by construction (an
    integer frontier algorithm; no float paths). Arrow-collected two
    int64 columns, lexsorted adjacency, one vectorized gather per
    hop."""
    import numpy as np

    pdf = arrow_collect(e.select("__src", "__dst"))
    schema = f"{node_col} long, distance int"
    seeds_arr = np.unique(seeds_pdf[node_col].to_numpy(dtype=np.int64))
    if len(seeds_arr) == 0:
        return arrow_frame(spark, {}, schema)
    src = pdf["__src"].to_numpy(dtype=np.int64)
    dst = pdf["__dst"].to_numpy(dtype=np.int64)
    order = np.lexsort((dst, src))
    src, dst = src[order], dst[order]
    usrc, starts, degs = np.unique(src, return_index=True, return_counts=True)
    dist = {int(s): 0 for s in seeds_arr}
    frontier = seeds_arr
    for hop in range(1, max_hops + 1):
        if len(frontier) == 0 or len(usrc) == 0:  # no edges: seeds only
            break
        pos = np.searchsorted(usrc, frontier)
        pos_c = np.minimum(pos, len(usrc) - 1)
        has = usrc[pos_c] == frontier
        pos, f = pos_c[has], frontier[has]
        if len(f) == 0:
            break
        # gather all out-neighbors of the frontier in one shot:
        # slice i contributes starts[i] + (0..counts[i]-1)
        counts = degs[pos]
        cum = np.concatenate(([0], np.cumsum(counts[:-1])))
        idx = np.repeat(starts[pos] - cum, counts) + np.arange(
            counts.sum(), dtype=np.int64
        )
        reached = np.unique(dst[idx])
        new = [int(n) for n in reached if int(n) not in dist]
        for n in new:
            dist[n] = hop
        frontier = np.array(new, dtype=np.int64)
    return arrow_frame(
        spark,
        {
            node_col: np.fromiter(dist.keys(), np.int64, len(dist)),
            "distance": np.fromiter(dist.values(), np.int32, len(dist)),
        },
        schema,
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Hop-bounded multi-source BFS over the DIRECTED graph ``edges``:
    for every node reachable from the ``seeds`` relation (``node_col``)
    in at most ``max_hops`` edge traversals, the minimum hop count
    (seeds themselves at 0). Returns ``(node_col, distance int)``.

    The hop bound is part of the SEMANTICS, not a convergence budget:
    "distance within <= H hops" is a total function of the graph for
    any H, so a fixed unroll (the gate oracle) is exact by definition —
    no fixpoint argument needed, unlike connected components.

    Why it's here: seed-distance is the crawl-frontier/quality signal
    of link-graph curation (pages k hops from a trusted seed set — the
    TrustRank recipe) and the reachability half of graph embeddings;
    the reference has no graph surface at all (see module docstring).

    Plan (frontier Pregel): the edge relation is deduped, repartitioned
    on ``src`` and persisted ONCE; each hop joins only the FRONTIER
    (nodes first reached last hop, node-sized, monotonically shrinking
    toward the fringe) against that cached partitioning — the 100 TB
    edge side never re-shuffles. New nodes are frontier-join minus
    already-visited (anti-join on the visited relation, also
    node-sized). Per-hop ``localCheckpoint`` keeps lineage flat; the
    one scalar action per hop is an early-exit count of the frontier.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    spark = edges.sparkSession
    k = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select(
            F.col(src).cast("long").alias("__src"), F.col(dst).cast("long").alias("__dst")
        )
        .where(F.col("__src").isNotNull() & F.col("__dst").isNotNull())
        .distinct()
        .repartition(k, "__src")
        .persist()
    )
    try:
        n_edges = e.count()  # materialize: every hop must hit the cache
        # LOCAL FINISHER (operators/finisher.py): each hop is a
        # frontier join + anti-join + two checkpoints + an emptiness
        # action (~0.5 s fixed). A bounded edge relation runs the
        # textbook BFS driver-side — identical output (integer frontier
        # algorithm, unit-gated local == distributed). The seed side
        # must be bounded too: seeds are collected whole, and a seed
        # set larger than the edge bound would blow the driver budget
        # the gate exists to protect. The edge count was already the
        # cache-warm action; the seed count is one node-sized job.
        if fits_driver("bfs_distances", n_edges):
            seeds_small = (
                seeds.select(F.col(node_col).cast("long").alias(node_col))
                .where(F.col(node_col).isNotNull())
                .distinct()
            )
            seeds_pdf = arrow_collect(seeds_small.limit(finisher.LOCAL_MAX_EDGES + 1))
            if fits_driver("bfs_distances.seeds", len(seeds_pdf)):
                return _bfs_local(e, seeds_pdf, max_hops, node_col, spark)
            # seed set over the bound: fall through to the Pregel loop
        frontier = (
            seeds.select(F.col(node_col).cast("long").alias(node_col))
            .where(F.col(node_col).isNotNull())
            .distinct()
            .transform(_ckpt)
        )
        visited = frontier.select(node_col, F.lit(0).alias("distance"))
        for hop in range(1, max_hops + 1):
            if frontier.isEmpty():
                break
            reached = (
                e.join(frontier.withColumnRenamed(node_col, "__src"), "__src")
                .select(F.col("__dst").alias(node_col))
                .distinct()
            )
            frontier = reached.join(visited, node_col, "left_anti").transform(_ckpt)
            visited = visited.unionByName(
                frontier.select(node_col, F.lit(hop).alias("distance"))
            ).transform(_ckpt)
    finally:
        e.unpersist()
    return visited


def _lpa_local(sym, n_iter, node_col, label_col, spark):
    """Driver-side synchronous LPA over the collected symmetric edge
    relation. Exact twin of ``_lpa_round``'s update: per node, adopt
    the neighbor label with the largest total incident weight, ties to
    the smallest label. With integer-valued weights (the gate-query
    class; see :func:`label_propagation`'s portability note) the
    per-label sums are exact in double on BOTH paths, so the argmax —
    and hence the output — is identical (unit-gated). A fixpoint round
    is the identity (synchronous LPA is memoryless), so breaking early
    on stability is exact regardless of ``stop_when_stable``."""
    import numpy as np

    pdf = arrow_collect(sym.select("a", "b", "__w"))
    schema = f"{node_col} long, {label_col} long"
    if len(pdf) == 0:
        return arrow_frame(spark, {}, schema)
    a = pdf["a"].to_numpy(dtype=np.int64)
    b = pdf["b"].to_numpy(dtype=np.int64)
    w = pdf["__w"].to_numpy(dtype=np.float64)
    nodes = np.unique(a)  # sym is symmetric: a covers every node
    ai = np.searchsorted(nodes, a)
    bi = np.searchsorted(nodes, b)
    n = len(nodes)
    lab = nodes.copy()
    for _ in range(n_iter):
        labb = lab[bi]  # neighbor labels (labels are node ids)
        key = ai * n + np.searchsorted(nodes, labb)
        order = np.argsort(key, kind="stable")
        ks, ws = key[order], w[order]
        bounds = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        pulls = np.add.reduceat(ws, bounds)
        ku = ks[bounds]
        au, labu = ku // n, nodes[ku % n]
        # per node: max pull, ties to the smallest label
        sel = np.lexsort((labu, -pulls, au))
        a_sorted = au[sel]
        first = np.r_[True, a_sorted[1:] != a_sorted[:-1]]
        nxt = lab.copy()
        nxt[a_sorted[first]] = labu[sel][first]
        if np.array_equal(nxt, lab):
            break  # fixpoint: every later round is the identity
        lab = nxt
    return arrow_frame(spark, {node_col: nodes, label_col: lab}, schema)


def label_propagation(
    edges: DataFrame,
    n_iter: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    node_col: str = "node",
    label_col: str = "community",
    stop_when_stable: bool = False,
    check_every: int = 1,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    UNDIRECTED graph induced by ``edges`` (direction dropped, parallel
    edge weights summed, self-loops ignored). Returns
    ``(node_col, label_col)`` after exactly ``n_iter`` rounds.

    Each round, every node simultaneously adopts the label carrying the
    largest total incident edge weight among its neighbors' CURRENT
    labels, ties broken by the SMALLEST label — so with a fixed round
    count the result is a pure function of the graph (the gate oracle
    unrolls the identical update; the usual async/randomized LPA is
    irreproducible by design, which is exactly what a correctness-gated
    engine cannot ship). Labels start as node ids, so the final label
    is always some member's id — the same canonical-id convention as
    connected_components. Isolated direction-only nodes cannot occur
    (every node of the induced graph has degree >= 1).

    Weighted: community pull follows trade VOLUME (or any affinity),
    not mere adjacency — pass ``weight_col``. With integer-valued
    weights the per-label sums are exact in double on both engines, so
    the argmax is engine-portable (the gate query uses lineitem counts;
    same rule as q110's weighted PageRank).

    Plan: one symmetric weighted edge relation, repartitioned on ``b``
    (the per-round join key) + sorted + persisted once; each round is
    join(labels) -> groupBy(node, label) weight sum -> per-node
    ``max_by`` argmax (see :func:`_lpa_round`). Both aggregates are
    map-side combined, so the per-round SHUFFLE is bounded by distinct
    (node, label) pairs per partition — min(E, N x partitions), never
    edge-sized — and the cached edge relation never re-shuffles or
    re-sorts (plan-gated). ``localCheckpoint`` per round keeps the
    plan flat. No driver-side data access at all.

    ``stop_when_stable`` (opt-in; default off preserves the exact
    fixed-round gate semantics): synchronous LPA is memoryless — a
    round whose output equals its input is a fixpoint, so every later
    round is the identity and stopping early is EXACT, not an
    approximation. The probe is one node-sized join + emptiness check
    of two checkpointed label relations, amortized to every
    ``check_every``-th round (the pagerank ``tol``/``check_every``
    pattern — converged graphs asked for n_iter=20 stop paying
    per-round barriers at the first clean probe).
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    if check_every < 1:
        raise ValueError(f"check_every must be >= 1, got {check_every}")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    half = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
            w.alias("__w"),
        )
        .where(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
            & (F.col("__w") > 0)
        )
    )
    spark = edges.sparkSession
    k = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # partitioned on "b" — the PER-ROUND JOIN KEY (labels attach to the
    # neighbor side), and sorted within partitions so the iteration's
    # sort-merge join never re-sorts the edge side: edges shuffle and
    # sort exactly once, here
    sym = (
        half.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e"),
            "__w",
        )
        .select("e.a", "e.b", "__w")
        .groupBy("a", "b")
        .agg(F.sum("__w").alias("__w"))
        .repartition(k, "b")
        .sortWithinPartitions("b")
        .persist()
    )
    try:
        n_sym = sym.count()  # materialize before iterating
        # LOCAL FINISHER (operators/finisher.py): each round is an edge
        # join + two aggregates + a checkpoint (~0.4 s fixed); a
        # bounded symmetric relation runs the identical synchronous
        # update driver-side (see _lpa_local — exact for the
        # integer-weight class the portability contract already
        # requires). The count above already existed as the cache-warm
        # action.
        if fits_driver("label_propagation", n_sym):
            return _lpa_local(sym, n_iter, node_col, label_col, spark)
        labels = sym.select(F.col("a").alias(node_col)).distinct().select(
            node_col, F.col(node_col).alias(label_col)
        ).transform(_ckpt)
        for i in range(n_iter):
            nxt = _lpa_round(sym, labels, node_col, label_col).transform(_ckpt)
            if stop_when_stable and (i + 1) % check_every == 0:
                changed = nxt.join(
                    labels.select(
                        F.col(node_col), F.col(label_col).alias("__prev")
                    ),
                    node_col,
                ).where(F.col(label_col) != F.col("__prev"))
                if changed.isEmpty():
                    return nxt  # fixpoint: remaining rounds are identity
            labels = nxt
    finally:
        sym.unpersist()
    return labels


def _lpa_round(
    sym: DataFrame, labels: DataFrame, node_col: str, label_col: str
) -> DataFrame:
    """One synchronous LPA round — the join+aggregate the plan gate
    checks. The label join keys on ``b`` and must read the cached
    ``sym`` partitioning with no Exchange (only node-sized labels
    shuffle); both aggregates are hash aggregates with MAP-SIDE partial
    combine, so the per-round shuffle is bounded by the distinct
    (node, label) pairs per input partition — min(E, N x partitions),
    the same bound pagerank's contribution aggregate exploits — never
    the raw edge relation. The argmax is ``max_by`` over
    ``struct(pull, -label)`` (largest pull, ties to the SMALLEST
    label), not a window: no per-round sort of the pull relation."""
    return (
        sym.join(labels.select(F.col(node_col).alias("b"), F.col(label_col)), "b")
        .groupBy("a", label_col)
        .agg(F.sum("__w").alias("__pull"))
        .groupBy("a")
        .agg(
            F.max_by(
                F.col(label_col),
                F.struct(F.col("__pull"), (-F.col(label_col)).alias("__nl")),
            ).alias(label_col)
        )
        .select(F.col("a").alias(node_col), label_col)
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Per-node triangle counts of the UNDIRECTED simple graph induced
    by ``edges`` (direction and self-loops dropped). Returns
    ``(node_col, n_triangles)`` for every node of the graph (0 for
    triangle-free nodes).

    Plan — the degree-ordered edge-iterator recipe (the public
    MapReduce triangle-counting design): orient each undirected edge
    from its lower-(degree, id) endpoint to the higher one. Every
    vertex's oriented out-degree is then bounded by O(sqrt(|E|))
    regardless of raw degree, so the wedge join under a web-scale hub
    stays bounded — the naive neighbor join on a 10M-degree hub would
    build 10^14 wedges; oriented, the hub is almost always the wedge
    TIP, never the pivot. Wedges (u->v, u->w) close into triangles via
    one semi-ish join against the oriented edges themselves; each
    triangle materializes exactly once (u < v < w in degree order) and
    is exploded to its three corners for the per-node counts.
    """
    und = (
        edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    deg = (
        und.select(
            F.explode(F.array(F.col("u"), F.col("v"))).alias(node_col)
        )
        .groupBy(node_col)
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    # every graph node has degree >= 1, so the degree relation IS the
    # node set — no second union+distinct scan of the edges
    nodes = deg.select(node_col)
    du = deg.select(F.col(node_col).alias("u"), F.col("__deg").alias("__du"))
    dv = deg.select(F.col(node_col).alias("v"), F.col("__deg").alias("__dv"))
    lower_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    # eager localCheckpoint, not persist: three consumers (two wedge
    # sides + closure) read one materialization, and the blocks are
    # ContextCleaner-reclaimed when the result is dropped — an internal
    # persist here would pin an edge-sized cache per call forever
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    w1 = oriented.select(F.col("s"), F.col("t").alias("x"))
    w2 = oriented.select(F.col("s"), F.col("t").alias("y"))
    wedges = w1.join(w2, "s").where(F.col("x") < F.col("y"))
    closing = oriented.select(F.col("s").alias("x"), F.col("t").alias("y")).unionByName(
        oriented.select(F.col("t").alias("x"), F.col("s").alias("y"))
    )
    tris = wedges.join(closing, ["x", "y"])
    # one corner row per triangle vertex, exploded row-locally: the
    # three-branch union re-ran the wedge-closing join per branch
    corners = (
        tris.select(
            F.explode(F.array(F.col("s"), F.col("x"), F.col("y"))).alias(node_col)
        )
        .groupBy(node_col)
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = nodes.join(corners, node_col, "left").select(
        node_col, F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles")
    )
    return out


# kcore delta path: largest pend/recents relation the frontier-recovery
# join may BROADCAST (rows; ~24 B/row -> ~50 MB at the cap). Larger
# deltas fold instead — their recovery join would shuffle the
# node-sized degree relation, the cost the delta path exists to avoid.
_KCORE_BROADCAST_ROWS = 2_000_000


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_rounds: int = 100_000,
    checkpoint_every: int = 1,
    fold_every: int = 16,
    delta_max_pend: int = 65_536,
) -> DataFrame:
    """Members of the k-core of the UNDIRECTED simple graph induced by
    ``edges`` (direction/self-loops dropped): the maximal subgraph in
    which every node has degree >= k — the classic link-graph quality
    filter (spam farms and orphan pages peel away; densely embedded
    pages survive). Returns ``(node_col, core_degree)`` where
    core_degree is the node's degree WITHIN the core.

    DELTA-CASCADE peel (round 8; the round-7 delta design rebuilt and
    checkpointed the FULL node-sized degree relation every round and
    hard-capped rounds at 64 — a pathological path graph, whose peel
    depth is O(n), would raise): the symmetric adjacency is built ONCE
    — neighbor-key partitioned, sorted, persisted, NEVER rewritten —
    and the cascade advances one FRONTIER (the nodes newly below k)
    per step. Between folds the full degree relation is immutable;
    each step touches only frontier-sized state:

    - decrements from the current frontier join the cached adjacency
      on its own partitioning (only the frontier shuffles, map-side
      combined — plan-gated via :func:`_kcore_decrements`) and fold
      into a small pending-decrement relation;
    - the next frontier is recovered from PENDING alone: between
      folds, every un-peeled node outside the pending set still has
      its folded degree >= k, so only pending-touched nodes can have
      dropped below k (one small-side broadcast probe of the degree
      relation — the big side streams, nothing node-sized shuffles);
    - the pending decrements and peeled frontiers fold into the degree
      relation (the only node-sized checkpoint) every ``fold_every``
      steps — OR as soon as the pending relation passes
      ``delta_max_pend`` rows (round 10; 1/8 of the degree relation
      remains as a backstop for small graphs, both measured from the
      two already-checkpointed row counts). The size trigger is what
      keeps BOTH graph regimes fast: each DELTA step broadcasts pend
      and streams the node-sized deg under it, so once pend is past
      ~64k rows the step costs about what the fold it defers costs —
      a bulk wave (the first peel rounds of any real graph, where
      most below-k nodes die at once) therefore folds immediately,
      degenerating to the fold-per-round design bulk waves want,
      while a tiny-frontier cascade (path graphs, long peel tails)
      never trips the threshold and keeps the cheap delta path,
      folding 1/fold_every. The r8/r9 100M-edge A/Bs where a static
      fold_every=1 beat the adaptive default 2x were bulk-wave pends
      of 10^5..10^6 rows riding the delta path for up to 16 steps —
      exactly what this threshold now folds away (interleaved A/B on
      both regimes: probes/kcore_ab_r10.log).

    Per-step driver cost is two small checkpoints and one emptiness
    probe; per-step cluster cost is one map-side scan of the cached
    adjacency — each adjacency join can advance the peel wave exactly
    one hop, the information-theoretic floor, so a deep cascade costs
    one cheap step per hop. ``max_rounds`` remains as a runaway
    safety valve only.

    LOCAL FINISHER (operators/finisher.py; what actually bounds round
    COUNT): a tiny-frontier cascade is inherently sequential — a path
    graph peels two nodes per hop, and no bulk-synchronous engine can
    shortcut that wave. So whenever the SURVIVING subgraph fits the
    finisher bound (checked from the degree relation at every fold
    boundary — its edge count is sum(deg)/2, no extra scan of the
    adjacency), the remaining edges are collected and the cascade
    finishes driver-side with the textbook O(E) queue peel — the same
    peel, so the same members and core degrees. Distributed rounds
    therefore run only while the remainder is genuinely large: a
    1M-node path never runs a distributed step at all, while a
    web-scale graph peels distributed until its dense core region —
    which no driver could hold — is decided, and typically converges
    to empty-frontier long before the remainder fits.

    Why removal needs no edge rewrite: frontiers are DISJOINT across
    steps, so an edge contributes a decrement exactly once per
    endpoint-peel, and decrements aimed at already-peeled nodes are
    discarded (anti-join against the recent frontiers between folds,
    the fold's anti-join after) — spurious but harmless.

    ``checkpoint_every`` is retained for API compatibility and ignored
    (its surviving-edge rewrite was removed in round 7; results are
    identical for any value, unit-gated).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    if fold_every < 1:
        raise ValueError(f"fold_every must be >= 1, got {fold_every}")
    spark = edges.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = (
        edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )
    # symmetric adjacency (a = self, b = neighbor), partitioned on "b"
    # — the per-step peel-join key — and sorted so the step's
    # sort-merge join never re-sorts the edge side; shuffled ONCE here
    sym = (
        und.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                    F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .repartition(nparts, "b")
        .sortWithinPartitions("b")
        .persist()
    )

    def _deg_stats(deg: DataFrame) -> tuple[int, int]:
        """(surviving edges, surviving nodes) from the degree relation
        alone — every applied decrement removed both endpoints' counts,
        so sum(deg)/2 is exact; no adjacency scan."""
        row = deg.agg(
            F.sum("__deg").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        return int(row["s"] or 0) // 2, int(row["n"])

    def _local_finish(deg: DataFrame) -> DataFrame:
        """Collect the surviving subgraph and run the textbook O(E)
        queue peel driver-side over a CSR adjacency; Python Row
        objects / dict-of-list adjacency would cost 1-2 orders of
        magnitude more driver memory at the finisher bound."""
        from collections import deque

        import numpy as np

        surv_a = deg.select(F.col(node_col).alias("a"))
        surv_b = deg.select(F.col(node_col).alias("b"))
        plan = (
            sym.join(surv_b, "b")  # cached b-partitioning, frontier-style probe
            .join(surv_a, "a")
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
        )
        pdf = arrow_collect(plan)
        schema = f"{node_col} long, core_degree long"
        if len(pdf) == 0:
            return arrow_frame(spark, {}, schema)
        ea = pdf["a"].to_numpy(dtype=np.int64)
        eb = pdf["b"].to_numpy(dtype=np.int64)
        # dense-relabel nodes -> 0..n-1, then CSR over both directions
        nodes_arr, idx = np.unique(np.concatenate([ea, eb]), return_inverse=True)
        n_nodes = len(nodes_arr)
        src = np.concatenate([idx[: len(ea)], idx[len(ea) :]])
        dst = np.concatenate([idx[len(ea) :], idx[: len(ea)]])
        order = np.argsort(src, kind="stable")
        dst = dst[order]
        degc = np.bincount(src, minlength=n_nodes)
        starts = np.zeros(n_nodes + 1, dtype=np.int64)
        np.cumsum(degc, out=starts[1:])
        degs = degc.copy()
        removed = np.zeros(n_nodes, dtype=bool)
        queue = deque(np.flatnonzero(degs < k).tolist())
        while queue:
            u = queue.popleft()
            if removed[u]:
                continue
            removed[u] = True
            for v in dst[starts[u] : starts[u + 1]]:
                if not removed[v]:
                    degs[v] -= 1
                    if degs[v] == k - 1:  # just dropped below k: enqueue once
                        queue.append(int(v))
        alive = ~removed
        return arrow_frame(
            spark,
            {node_col: nodes_arr[alive], "core_degree": degs[alive].astype(np.int64)},
            schema,
        )

    def _union_all(dfs: list[DataFrame]) -> DataFrame:
        """The 'peeled since last fold' relation: union of the recent
        frontiers (disjoint by construction)."""
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _fold(deg: DataFrame, recents: list[DataFrame], pend: DataFrame | None) -> DataFrame:
        """Apply the peeled frontiers + pending decrements to the
        degree relation — the only node-sized checkpoint, amortized."""
        out = deg
        if recents:
            out = out.join(_union_all(recents), node_col, "left_anti")
        if pend is not None:
            out = out.join(pend, node_col, "left").select(
                node_col,
                (F.col("__deg") - F.coalesce("__dec", F.lit(0))).alias("__deg"),
            )
        return out.transform(_ckpt)

    try:
        sym.count()  # materialize: every step must hit the cache
        # initial degrees, computed ONCE (map-side-combined: the
        # shuffle is bounded by distinct nodes per partition)
        deg = (
            sym.groupBy("a")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .select(F.col("a").alias(node_col), "__deg")
            .transform(_ckpt)
        )
        surv_edges, deg_n = _deg_stats(deg)
        if fits_driver("kcore", surv_edges):
            return _local_finish(deg)
        frontier = deg.where(F.col("__deg") < k).select(node_col).transform(_ckpt)
        pend: DataFrame | None = None
        recents: list[DataFrame] = []
        rec_n = 0  # total rows across recents (each frontier counted once)
        since_fold = 0  # steps since the LAST fold (size-triggered folds
        # reset it too — a global step modulo would fire a redundant
        # node-sized fold right after a size-triggered one)
        for step in range(max_rounds):
            fn = frontier.count()
            if fn == 0:
                if recents:
                    deg = _fold(deg, recents, pend)
                return deg.select(
                    node_col, F.col("__deg").cast("long").alias("core_degree")
                )
            rec_n += fn
            dec = _kcore_decrements(sym, frontier, node_col)
            pend = (
                dec
                if pend is None
                else pend.unionByName(dec)
                .groupBy(node_col)
                .agg(F.sum("__dec").alias("__dec"))
            ).transform(_ckpt)
            recents.append(frontier)
            # size-triggered fold: once pend rivals the degree relation
            # (1/8 by rows — both are checkpointed, the count is a
            # cache scan), carrying it another step costs more than the
            # fold it defers; bulk peel waves fold per-round (the r7
            # design they want), tiny cascades never trip this. A pend
            # too large to BROADCAST (below) also folds: its recovery
            # join would shuffle the node-sized deg, the very cost the
            # delta path exists to avoid.
            pn = pend.count()
            since_fold += 1
            # cadence is the GLOBAL step modulo with a since_fold >= 2
            # guard: the guard alone closes the flagged redundancy (a
            # size-triggered fold at step S no longer lets the modulo
            # fire a near-empty node-sized fold at S+1), while the
            # global modulo keeps the periodic fold — which is also
            # when _deg_stats runs and the local finisher can take
            # over — on a fixed schedule. A pure steps-since-last-fold
            # cadence was also measured at 100M edges: identical
            # members, wall within run noise of this form (warm legs
            # 72-117 s both ways on a shared box), so the fixed
            # schedule is kept for its deterministic handoff timing.
            if (
                ((step + 1) % fold_every == 0 and since_fold >= 2)
                or pn * 8 >= deg_n
                # delta_max_pend (round 10): each DELTA step broadcasts
                # pend and streams the node-sized deg under it, so a
                # pend past ~64k rows costs about what the fold it
                # defers costs — the r8/r9 100M-edge A/Bs where
                # fold_every=1 beat the old adaptive default 2x were
                # exactly this regime (bulk-wave pends of 10^5..10^6
                # rows riding the delta path for up to 16 steps). The
                # tiny-frontier cascade the delta path exists for never
                # gets near 64k, so it keeps the cheap path; interleaved
                # A/B in probes/kcore_ab_r10.log
                or pn > delta_max_pend
                or pn > _KCORE_BROADCAST_ROWS
                # a huge frontier can emit a tiny pend (star graph: 3M
                # leaves decrement one hub row) — the recents union
                # must be broadcastable too
                or rec_n > _KCORE_BROADCAST_ROWS
            ):
                deg = _fold(deg, recents, pend)
                pend = None
                recents = []
                rec_n = 0
                since_fold = 0
                surv_edges, deg_n = _deg_stats(deg)
                if fits_driver("kcore", surv_edges):
                    return _local_finish(deg)
                # the folded relation holds every un-peeled node at its
                # true degree, so the next frontier is a plain filter —
                # no join, the bulk-wave fast path
                frontier = (
                    deg.where(F.col("__deg") < k)
                    .select(node_col)
                    .transform(_ckpt)
                )
            else:
                # between folds only pending-touched nodes can be newly
                # below k; already-peeled ones are anti'd out (pre-fold
                # peels are gone from deg itself, so the inner join
                # drops them). pend/recent are explicitly BROADCAST:
                # checkpointed relations carry no size statistics, so
                # the static planner would otherwise sort-merge-shuffle
                # the node-sized deg every delta step — the hint makes
                # the documented "deg streams, nothing node-sized
                # shuffles" plan guaranteed (pn is broadcast-bounded by
                # the fold trigger above)
                frontier = (
                    F.broadcast(pend)
                    .join(deg, node_col)
                    .where(F.col("__deg") - F.col("__dec") < k)
                    .join(F.broadcast(_union_all(recents)), node_col, "left_anti")
                    .select(node_col)
                    .transform(_ckpt)
                )
    finally:
        sym.unpersist()
    raise ValueError(
        f"kcore did not converge in {max_rounds} cascade steps; raise max_rounds"
    )


def _kcore_decrements(sym: DataFrame, peel: DataFrame, node_col: str) -> DataFrame:
    """One peel round's degree decrements — the join+aggregate the plan
    gate checks: each surviving node's count of edges whose NEIGHBOR is
    being peeled. Joins the node-sized peel set against the cached
    symmetric adjacency on its own ``b`` partitioning (no Exchange above
    the cache scan — only peel shuffles) and map-side-combines the
    counts, so the shuffled decrement relation is bounded by distinct
    touched nodes per partition, never edge-sized."""
    return (
        sym.join(peel.select(F.col(node_col).alias("b")), "b")
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("__dec"))
        .select(F.col("a").alias(node_col), "__dec")
    )
