"""Distributed graph operators: connected components over pair tables.

The near-dup detectors (``operators.dedup``, ``operators.similarity``)
emit PAIRS; a dedup pipeline needs CLUSTERS — every document labeled
with a canonical representative so one keep-decision covers the whole
duplicate group. At 100 TB the pair graph does not fit on the driver,
so this is the alternating large-star / small-star contraction of
Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC 2014): each round is two shuffles (a groupBy-min and a join),
and the edge set converges to a forest of stars rooted at each
component's minimum id in O(log² n) rounds — independent of component
diameter, so boilerplate chains (A≈B≈C≈…) don't degrade it the way
naive label propagation's O(diameter) rounds would.

Per-round ``localCheckpoint`` truncates lineage (iterative plans
otherwise grow exponentially and overwhelm Catalyst), and each round
releases the checkpoint it superseded, so the loop pins one round's
edges at a time; on a real
cluster with a configured checkpoint dir, ``spark.sparkContext.
setCheckpointDir`` + ``.checkpoint()`` is the fault-tolerant variant
of the same move.

No reference analogue (the reference has no graph ops); this extends
its spanID ``drop_duplicates`` (reference ``traceframe/traceframe.py:
629-630``) to transitive near-duplicate groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set as distinct (u, v) with u < v; drops self-loops."""
    return (
        pairs.select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u}).

    One exchange: the per-u minimum is a whole-partition window min over
    the same shuffle that the old groupBy+self-join form paid twice
    (guide §2.4 — an aggregation and a join keyed the same way share one
    exchange; the window form IS that sharing). No trailing distinct:
    the row count is exactly |input| (each undirected edge passes the
    v > u filter once), _small_star's window min is duplicate-
    insensitive, and its trailing distinct collapses whatever
    multiplicity flows through — set-identical round output.
    """
    from pyspark.sql import Window

    nbrs = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    # v > u ≥ m, so (m, v) is already canonical
    return (
        nbrs.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), F.col("v").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller neighbor of v (and v itself) to min(Γ_<(v) ∪ {v}).

    Same one-exchange window-min shape as :func:`_large_star`; the
    center edge (m, v) is emitted once per INPUT edge rather than once
    per v (the old aggregate gave it deduplicated for free) — the
    trailing distinct collapses that multiplicity at no extra exchange.
    """
    from pyspark.sql import Window

    withm = edges.withColumn(
        "m", F.min("u").over(Window.partitionBy("v"))  # all u < v
    )
    to_nbrs = withm.filter(F.col("u") != F.col("m")).select(
        F.col("m").alias("u"), F.col("u").alias("v")
    )
    to_center = withm.select(F.col("m").alias("u"), F.col("v").alias("v"))
    return to_nbrs.unionByName(to_center).distinct()


def _checkpointed_rdd(df: DataFrame):
    """The JVM RDD holding a ``localCheckpoint`` frame's blocks."""
    return df._jdf.queryExecution().logical().rdd()


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every id that appears in ``pairs``; component
    is the minimum id of the connected component.

    Eager: runs the contraction loop to convergence when called (one
    tiny fingerprint action per round), then returns the final mapping
    as a normal lazy DataFrame. Ids may be any orderable type (long,
    string); the label is the component's min under that ordering.
    """
    edges = _canonical_edges(pairs, src, dst).localCheckpoint(eager=False)
    prev: tuple | None = None
    for _ in range(max_iter):
        superseded = edges
        # lazy checkpoint: the convergence fingerprint below is the
        # round's ONLY action — it computes every partition, so the
        # checkpoint materializes as a side effect of the same job
        # (eager=True would run a separate materialization job per
        # round, doubling the loop's job count for nothing)
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        # convergence fingerprint: edge count + order-independent hash
        # (bit_xor, not sum: ANSI mode overflows long on summed hashes)
        cur = tuple(
            edges.agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ).first()
        )
        # once the fingerprint has materialized this round's checkpoint
        # (and cut its lineage), the previous round's blocks are garbage:
        # release them, or executor storage grows with the round count.
        # The returned frame keeps the last round's checkpoint.
        if _checkpointed_rdd(edges).isCheckpointed():
            _checkpointed_rdd(superseded).unpersist(False)
        if cur == prev:
            break
        prev = cur
    members = edges.select(F.col("v").alias("id"), F.col("u").alias("component"))
    roots = edges.select(F.col("u").alias("id"), F.col("u").alias("component")).distinct()
    # groupBy-min defends against a non-converged edge set at max_iter
    return (
        members.unionByName(roots)
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


def keep_canonical(
    df: DataFrame, id_col: str, components: DataFrame
) -> DataFrame:
    """Keep-one-per-cluster: drop every row whose id appears in
    ``components`` with ``component != id``. Rows absent from the pair
    graph (singletons) are kept as-is. One broadcast-able anti-join when
    the duplicate set is small relative to the corpus."""
    drop = components.filter(F.col("id") != F.col("component")).select("id")
    return df.join(drop, df[id_col] == drop["id"], "left_anti")


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Distributed PageRank with a FIXED iteration count — the
    link-graph quality prior used to weight web-crawl training data
    (the original CommonCrawl-style curation signal).

    Each iteration is the standard two-shuffle shape: join ranks onto
    edges by source (contribution = rank / out_degree), then sum
    contributions per destination; nodes with no in-links keep the
    teleport term. Dangling mass (rank parked on nodes without
    out-links) is redistributed uniformly through a one-row aggregate
    that joins back as a broadcast — no driver collect inside the loop,
    every scalar stays in the plan. ``localCheckpoint`` truncates
    lineage per iteration, same as :func:`connected_components`.

    A fixed ``n_iter`` (vs convergence polling) keeps the whole
    computation a deterministic function of the edge set, so results
    verify against an unrolled SQL oracle. Returns (node, rank) with
    raw double ranks summing to ~1; quantize before comparing engines.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    ).localCheckpoint(eager=False)
    n_nodes = nodes.agg(F.count("*").cast("double").alias("n"))  # one row
    out_deg = e.groupBy("src").agg(F.count("*").cast("double").alias("deg"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(n_iter):
        with_deg = ranks.join(out_deg, ranks["node"] == out_deg["src"], "left")
        # mass sitting on dangling nodes (no out-edges) this iteration
        dangling = with_deg.agg(
            F.coalesce(
                F.sum(F.when(F.col("deg").isNull(), F.col("rank"))), F.lit(0.0)
            ).alias("dangling")
        )  # one row
        contribs = (
            e.join(
                ranks.join(out_deg, ranks["node"] == out_deg["src"]).select(
                    F.col("node").alias("c_src"),
                    (F.col("rank") / F.col("deg")).alias("contrib"),
                ),
                F.col("src") == F.col("c_src"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("in_mass"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(n_nodes))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (
                        F.coalesce(F.col("in_mass"), F.lit(0.0))
                        + F.col("dangling") / F.col("n")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """All triangles of the undirected graph, one row per triangle
    ``(a, b, c)`` with ``rank(a) < rank(b) < rank(c)``.

    Degree-oriented enumeration (the MapReduce-classic shape, Suri &
    Vassilvitskii 2011): orient every undirected edge from the
    lower-``(degree, id)`` endpoint to the higher, enumerate wedges at
    each vertex's OUT-neighbors, and close them with a third equi-join.
    The orientation is what survives 100 TB graphs: a hub of degree d
    contributes wedges only among its higher-rank neighbors, bounding
    per-vertex wedge fan-out by O(sqrt(m)) instead of O(d^2) — without
    it, one celebrity node explodes the wedge join. Three shuffles
    total (degree agg + two equi-joins), all on vertex keys."""
    ue = _canonical_edges(edges, src, dst).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )  # a < b, distinct
    deg = (
        ue.select(F.col("a").alias("v"))
        .unionAll(ue.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    # orient by (deg, id): lo -> hi
    with_deg = (
        ue.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    )
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oe = with_deg.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    # wedges at the common low-rank vertex, ordered to avoid double counting
    e1 = oe.select(F.col("lo").alias("u"), F.col("hi").alias("v1"))
    e2 = oe.select(F.col("lo").alias("u"), F.col("hi").alias("v2"))
    wedges = e1.join(e2, "u").filter(F.col("v1") < F.col("v2"))
    # close the wedge with an (undirected) edge between v1 and v2
    closed = wedges.join(
        ue.select(F.col("a").alias("v1"), F.col("b").alias("v2")),
        ["v1", "v2"],
        "inner",
    )
    return closed.select(
        F.least("u", "v1", "v2").alias("a"),
        F.array_sort(F.array("u", "v1", "v2"))[1].alias("b"),
        F.greatest("u", "v1", "v2").alias("c"),
    )


def triangle_participation(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle counts (the clustering-coefficient numerator
    and a standard spam/community signal): each triangle credited to
    all three corners, one aggregation on top of :func:`triangles`."""
    t = triangles(edges, src, dst)
    corners = (
        t.select(F.col("a").alias("v"))
        .unionAll(t.select(F.col("b").alias("v")))
        .unionAll(t.select(F.col("c").alias("v")))
    )
    return corners.groupBy("v").agg(F.count("*").alias("n_triangles"))
