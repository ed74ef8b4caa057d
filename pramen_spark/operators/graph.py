"""Distributed graph clustering: connected components over an edge list.

This is the step a training-data pipeline runs AFTER pairwise near-dup
detection (minhash_dedup / ngram_jaccard_pairs / embedding near-dup): the
pair list is a graph, and "keep one document per duplicate group" needs
each document's component id, not just the pairs. The reference engine has
no graph operator — this is part of the LLM-data-pipeline surface built on
top of the dedup operators (see operators/dedup.py).

Algorithm: iterative min-label propagation. Every vertex starts labeled
with its own id; each round every vertex takes the min of its own label
and its neighbors' labels. Converges in `diameter(component)` rounds —
duplicate clusters are near-cliques (diameter 1-3), so in practice a
handful of rounds. Each round is ONE shuffle: the edge list is
pre-partitioned on the join key once and reused, and the per-round
aggregate reuses that partitioning. Lineage is truncated every round
(checkpoint if a checkpoint dir is configured, else localCheckpoint) so
the plan does not grow with the iteration count — without this, Catalyst
re-analyzes an exponentially nested plan and the job dies long before the
data does.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pramen_spark.session import local_frame


@contextmanager
def _iteration_conf(spark, enabled: bool = True):
    """AQE off for the duration of a SMALL-graph iteration loop, restored
    on exit. Measured r14 (guide §1.2 order-of-operations, §7.2): the
    loop's per-round tables are KB–MB with explicitly hinted broadcast
    joins, and AQE's stage-by-stage materialization barriers + replans
    more than doubled the loop wall-clock (pagerank 18.6 s -> 7.5 s at
    sf0.1). Above the broadcast envelope (``enabled=False``) the joins
    shuffle real volumes and AQE's skew handling earns its keep, so the
    conf is left alone."""
    if not enabled:
        yield
        return
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _truncate(df: DataFrame) -> DataFrame:
    """Cut lineage between iterations. Reliable checkpoint when the
    session has a checkpoint dir (cluster deployments — survives executor
    loss); lazy localCheckpoint otherwise (local runs): the plan is
    truncated immediately either way (both return a LogicalRDD-backed
    frame), but the lazy variant materializes as part of the NEXT action —
    which lets each propagation round run as ONE job (checkpoint + the
    convergence-sum collect together) instead of two. The reliable path
    stays eager: a lazy reliable checkpoint recomputes its plan in the
    separate checkpoint-write job."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


#: Session-conf key overriding the driver union-find edge cap; settable
#: from workflow config via ``pramen { spark.conf { ... } }``.
DRIVER_MAX_EDGES_CONF = "spark.pramen.dedup.driverMaxEdges"
_DRIVER_MAX_EDGES_DEFAULT = 1_000_000

#: Same escape hatch for the iterative score loops (pagerank / hits):
#: below the cap the edge list collects once and the power iterations run
#: driver-side in numpy — a KB-scale graph pays per-round scheduler
#: latency (one job + broadcast per iteration) that dwarfs the arithmetic.
#: Sized for the same driver envelope a broadcast-join build side uses.
GRAPH_DRIVER_MAX_EDGES_CONF = "spark.pramen.graph.driverMaxEdges"


def _graph_driver_cap(spark, explicit: Optional[int]) -> int:
    if explicit is not None:
        return explicit
    return int(
        spark.conf.get(GRAPH_DRIVER_MAX_EDGES_CONF, str(_DRIVER_MAX_EDGES_DEFAULT))
    )


def _edge_indices(e: DataFrame):
    """Collect an (a, b) edge frame and index it for numpy iteration:
    returns (vs, ai, bi) where ``vs`` is the SORTED distinct vertex array
    and ai/bi the per-edge vertex indices, with edges canonically ordered
    by (dst, src) so every accumulation below sums in one deterministic
    order regardless of scan partitioning."""
    import numpy as np

    pdf = e.toPandas()
    a = pdf["a"].to_numpy()
    b = pdf["b"].to_numpy()
    vs, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    order = np.lexsort((ai, bi))
    return vs, ai[order], bi[order]


def _driver_frame(spark, vertex_type: T.DataType, vs, scores: dict) -> DataFrame:
    """(vertex, *scores) from the driver path's numpy arrays, built through
    ``local_frame``: vertices in ``vertex_type``, each score a double."""
    import pandas as pd

    schema = T.StructType(
        [T.StructField("vertex", vertex_type)]
        + [T.StructField(name, T.DoubleType()) for name in scores]
    )
    # pandas turns numpy scalars (datetime64 included) into Python values
    columns = [pd.Series(vs).tolist()] + [v.tolist() for v in scores.values()]
    return local_frame(spark, list(zip(*columns)), schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_max_edges: Optional[int] = None,
) -> DataFrame:
    """Return (vertex, component) for every vertex in `edges`, where
    `component` is the minimum vertex id reachable from it.

    Vertices are whatever appears in the edge list (isolated documents
    never enter the pair graph — they are their own trivial cluster and
    are left to the caller). Raises RuntimeError if `max_iter` rounds do
    not converge — for near-dup graphs that means the pair generator
    produced a pathological chain and the result would be silently wrong.

    Two execution strategies, picked by measured edge count — the same
    size-gated escape hatch a broadcast join is:

    - ``<= driver_max_edges`` distinct edges: union-find on the driver.
      Near-dup pair graphs are typically orders of magnitude smaller than
      the corpus that produced them (pairs at a high threshold are rare),
      and iterative min-label propagation pays several scheduler
      round-trips PER ROUND — seconds of fixed latency for a graph
      union-find finishes in microseconds. 1M edges is ~tens of MB on the
      driver: comfortably under the same envelope a broadcast-hash-join
      build side uses.
    - larger: distributed min-label propagation (one shuffle per round on
      a pre-partitioned persisted edge list, lazily checkpoint-truncated
      lineage, one job per round). This is the 100 TB path: nothing ever
      collects more than a 1-row convergence scalar.

    Both paths implement the same deterministic semantics (component =
    min reachable id); ``driver_max_edges=0`` forces the distributed path.
    The edge list is counted once (persisted first — the count also warms
    the downstream read) to choose the strategy.

    The cap defaults to 1M edges and is overridable per deployment via
    the session conf ``spark.pramen.dedup.driverMaxEdges`` (settable from
    workflow config: ``pramen { spark.conf { ... } }``) — the explicit
    argument wins when given. Size it for the AGGREGATE envelope: the cap
    is per call, so a runner executing K dedup tasks in parallel can hold
    K such edge lists on the driver at once (K x ~tens of MB at 1M edges)
    alongside broadcast build sides; on a shared driver, lower the conf
    rather than relying on each caller's default.
    """
    if driver_max_edges is None:
        driver_max_edges = int(
            edges.sparkSession.conf.get(
                DRIVER_MAX_EDGES_CONF, str(_DRIVER_MAX_EDGES_DEFAULT)
            )
        )
    e = (
        edges.select(F.col(src).alias("ea"), F.col(dst).alias("eb"))
        .filter(F.col("ea").isNotNull() & F.col("eb").isNotNull())
        .distinct()
    ).persist()
    n_edges = e.count()
    if n_edges <= driver_max_edges:
        rows = e.collect()
        e.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            a, b = r["ea"], r["eb"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # min-id root wins -> component label = min reachable id,
                # identical to the propagation fixed point
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        vertex_type = e.schema["ea"].dataType
        out_schema = T.StructType(
            [
                T.StructField("vertex", vertex_type, False),
                T.StructField("component", vertex_type, False),
            ]
        )
        return local_frame(edges.sparkSession, [(v, find(v)) for v in parent], out_schema)
    # undirected: propagate along both directions of every edge
    und = e.union(e.select(F.col("eb").alias("ea"), F.col("ea").alias("eb")))
    # partitioned once on the join key and persisted: every round's join
    # reads this, so the edge shuffle happens once, not per iteration
    und = und.repartition("eb").persist()

    labels = (
        und.select(F.col("ea").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
    )
    labels = _truncate(labels)
    # monotone convergence witness: labels only ever decrease, so the
    # exact decimal sum strictly decreases until the fixed point
    prev_sum = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]

    for _ in range(max_iter):
        msgs = und.join(
            labels, und.eb == labels.vertex
        ).select(F.col("ea").alias("vertex"), "component")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("vertex")
            .agg(F.min("component").alias("component"))
        )
        new_labels = _truncate(new_labels)
        new_sum = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        converged = new_sum == prev_sum
        labels, prev_sum = new_labels, new_sum
        if converged:
            und.unpersist()
            e.unpersist()
            return labels
    und.unpersist()
    e.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the edge graph has a component with diameter > max_iter"
    )


def dedup_representatives(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize the "keep one document per duplicate group" decision:
    (id, component, keep) for EVERY document — the step that turns cluster
    ids into a curation verdict. The representative of a cluster is its
    min-id member (= the component label); documents outside any pair
    cluster are their own representative and are kept.

    Scale: `components` holds only documents that appeared in near-dup
    pairs — orders of magnitude smaller than the corpus — so the left join
    is broadcast-able; no hint is forced (the planner/AQE picks, same
    policy as line_dedup's boilerplate join)."""
    comp = components.select(
        F.col("vertex").alias(id_col), F.col("component").alias("_comp")
    )
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_comp"), F.col(id_col)).alias("component"),
            (F.coalesce(F.col("_comp"), F.col(id_col)) == F.col(id_col)).alias(
                "keep"
            ),
        )
    )


def dedup_cluster_sizes(components: DataFrame) -> DataFrame:
    """(component, n_members) — the cluster-size histogram input used to
    audit how aggressive a near-dup threshold is before dropping data."""
    return components.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    driver_max_edges: Optional[int] = None,
) -> DataFrame:
    """PageRank over a directed edge list: (vertex, rank) after exactly
    ``n_iter`` synchronous power iterations from the uniform start —
    deterministic, so the result is oracle-checkable against an unrolled
    SQL replay. Dangling vertices (no out-edges) redistribute their mass
    uniformly each round, the standard formulation:

        r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/deg(u) + dangling_mass/N)

    Ranks sum to 1 every iteration (a convergence audit the caller can
    assert). Duplicate edges count as parallel edges (each contributes).

    Scale (100 TB graph): the degree-annotated edge list and the
    dangling vertex set are built ONCE; per iteration the current ranks
    join the edges on the SOURCE key and contributions aggregate
    map-side on the DESTINATION key — the Pregel message pattern on
    DataFrames. When the vertex set fits the broadcast envelope
    (<= 1M vertices, 16 B each) the rank table broadcasts into both
    joins, so the edge list is NEVER reshuffled after its initial
    co-keyed degree join; above it the joins shuffle co-keyed and the
    dangling mass is a 1-row aggregate broadcast into the update.

    Small-graph iteration posture (measured r14, guide §1.2/§7): each
    round's tables are KB–MB scale with explicitly hinted joins, so
    AQE's per-query-stage barriers and replans dominated the loop
    (18.6 s -> 7.5 s at sf0.1 with AQE off); AQE is disabled for the
    loop ONLY in the broadcast-envelope branch and restored after. In
    that branch the dangling mass folds into the update join as an
    unpartitioned window sum (the rank table fits one task by the
    branch's own premise), removing a per-round aggregate job +
    broadcast, and lineage truncates EVERY round so the rank table is
    never re-evaluated by its two consumers."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .persist()
    )
    cap = _graph_driver_cap(edges.sparkSession, driver_max_edges)
    n_edges = e.count()  # also materializes the persisted edge list
    if 0 < n_edges <= cap:
        # driver path: the whole loop is numpy power iterations over the
        # collected edge list — identical recurrence, one job total
        # instead of one-plus per round (``driver_max_edges=0`` forces
        # the distributed path). Deterministic: accumulation order is
        # canonicalized by _edge_indices, and the float64 arithmetic is
        # the same IEEE sequence every run.
        import numpy as np

        vs, ai, bi = _edge_indices(e)
        e.unpersist()
        n = len(vs)
        deg = np.bincount(ai, minlength=n).astype(np.float64)
        dangling = deg == 0.0
        r = np.full(n, 1.0 / n)
        base = (1.0 - damping) / n
        for _ in range(n_iter):
            contrib = np.bincount(bi, weights=r[ai] / deg[ai], minlength=n)
            m = float(r[dangling].sum())
            r = base + damping * (contrib + m / n)
        # the vertex column takes the src/dst coercion the distributed
        # path's unionByName produces, so both paths return one schema no
        # matter what dtype pandas inferred for the collected ids
        # (ADVICE r14)
        vertex_type = (
            e.select(F.col("a").alias("v"))
            .unionByName(e.select(F.col("b").alias("v")))
            .schema["v"]
            .dataType
        )
        return _driver_frame(
            edges.sparkSession, vertex_type, vs, {"rank": r}
        )
    verts = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .distinct()
        .persist()
    )
    n = verts.count()  # also materializes the persisted vertex set
    if n == 0:
        e.unpersist()
        verts.unpersist()
        return verts.select(
            F.col("v").alias("vertex"), F.lit(0.0).alias("rank")
        )
    small = n <= 1_000_000
    with _iteration_conf(edges.sparkSession, enabled=small):
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        # static per-iteration inputs, computed ONCE: the degree-annotated
        # edge list (the old shape re-joined deg every round) and the
        # dangling vertex set (no out-edges)
        e_deg = e.join(deg, "a").select("a", "b", "d").persist()
        dangling_vs = verts.join(
            deg.withColumnRenamed("a", "v"), "v", "left_anti"
        ).persist()
        dangling_vs.count()
        # the rank table is (vertex, double) — 16 bytes/vertex; under the
        # envelope it broadcasts into both per-iteration joins, so the big
        # edge list is never reshuffled after its one e⋈deg co-keyed join
        ranks = verts.select("v", (F.lit(1.0) / F.lit(float(n))).alias("r"))
        base = (1.0 - damping) / n
        dang_flag = dangling_vs.withColumn("_dg", F.lit(1))
        w_all = Window.partitionBy()
        for i in range(n_iter):
            r_in = F.broadcast(ranks) if small else ranks
            contribs = (
                e_deg.join(r_in, e_deg["a"] == r_in["v"])
                .select(F.col("b").alias("v"), (F.col("r") / F.col("d")).alias("c"))
                .groupBy("v")
                .agg(F.sum("c").alias("contrib"))
            )
            if small:
                # dangling mass folded into the update join: a window
                # sum over the rank table, which fits one task by the
                # branch premise — no per-round aggregate job/broadcast
                m = F.coalesce(
                    F.sum(F.when(F.col("_dg") == 1, F.col("r"))).over(w_all),
                    F.lit(0.0),
                )
                ranks = (
                    ranks.join(contribs, "v", "left")
                    .join(F.broadcast(dang_flag), "v", "left")
                    .select(
                        "v",
                        (
                            F.lit(base)
                            + F.lit(damping)
                            * (
                                F.coalesce(F.col("contrib"), F.lit(0.0))
                                + m / F.lit(float(n))
                            )
                        ).alias("r"),
                    )
                )
                # truncate EVERY round: the rank table has two consumers
                # (broadcast + update join), so an un-materialized round
                # would be evaluated twice by the next one
                ranks = ranks.localCheckpoint(eager=True)
            else:
                dangling = (
                    ranks.join(dangling_vs, "v", "left_semi")
                    .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("m"))
                )
                ranks = (
                    verts.join(contribs, "v", "left")
                    .crossJoin(F.broadcast(dangling))
                    .select(
                        "v",
                        (
                            F.lit(base)
                            + F.lit(damping)
                            * (
                                F.coalesce(F.col("contrib"), F.lit(0.0))
                                + F.col("m") / F.lit(float(n))
                            )
                        ).alias("r"),
                    )
                )
                if (i + 1) % 3 == 0 and i + 1 < n_iter:
                    ranks = ranks.localCheckpoint(eager=True)
        # materialize before dropping the cached inputs the plan references
        out = ranks.select(
            F.col("v").alias("vertex"), F.col("r").alias("rank")
        ).localCheckpoint(eager=True)
    e.unpersist()
    e_deg.unpersist()
    dangling_vs.unpersist()
    verts.unpersist()
    return out


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 8,
    driver_max_edges: Optional[int] = None,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) over a directed edge list:
    (vertex, hub, authority) after exactly ``n_iter`` synchronous
    iterations from the all-ones start, each score vector max-normalized
    per iteration (deterministic, division-only — replayable in an
    unrolled SQL oracle like :func:`pagerank`). On a bipartite graph
    (e.g. customer->supplier purchases) hubs rank the left side by how
    much weight they send to strong authorities and vice versa — the
    mutual-reinforcement ranking PageRank's single score cannot express.

        a_i(v) = sum over u->v of h_{i-1}(u),  then a_i /= max(a_i)
        h_i(v) = sum over v->w of a_i(w),      then h_i /= max(h_i)

    Vertices with no in-edges keep authority 0; no out-edges, hub 0.

    Scale (100 TB): the edge list is static; per iteration one
    source-keyed join + destination-keyed aggregate for authorities and
    the mirror for hubs, each normalization a 1-row max broadcast. Under
    the same <= 1M-vertex envelope as pagerank the score tables
    broadcast into the joins, so edges never reshuffle; lineage
    truncates every other round."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .persist()
    )
    cap = _graph_driver_cap(edges.sparkSession, driver_max_edges)
    n_edges = e.count()
    if 0 < n_edges <= cap:
        # driver path, same gate and determinism posture as pagerank's:
        # numpy power iterations over the collected edge list, with the
        # hub accumulation re-sorted source-major so both sums run in a
        # canonical order.
        import numpy as np

        vs, ai, bi = _edge_indices(e)
        e.unpersist()
        n = len(vs)
        out_order = np.lexsort((bi, ai))
        ai_o, bi_o = ai[out_order], bi[out_order]
        h = np.ones(n)
        a_s = np.zeros(n)
        for _ in range(n_iter):
            a_raw = np.bincount(bi, weights=h[ai], minlength=n)
            a_s = a_raw / a_raw.max()
            h_raw = np.bincount(ai_o, weights=a_s[bi_o], minlength=n)
            h = h_raw / h_raw.max()
        # same schema pinning as pagerank's driver path (ADVICE r14)
        vertex_type = (
            e.select(F.col("a").alias("v"))
            .unionByName(e.select(F.col("b").alias("v")))
            .schema["v"]
            .dataType
        )
        return _driver_frame(
            edges.sparkSession, vertex_type, vs, {"hub": h, "authority": a_s}
        )
    verts = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .distinct()
        .persist()
    )
    n = verts.count()
    if n == 0:
        e.unpersist()
        verts.unpersist()
        return verts.select(
            F.col("v").alias("vertex"),
            F.lit(0.0).alias("hub"),
            F.lit(0.0).alias("authority"),
        )
    small = n <= 1_000_000
    h = verts.select("v", F.lit(1.0).alias("s"))
    a = None
    w_all = Window.partitionBy()
    with _iteration_conf(edges.sparkSession, enabled=small):
        for i in range(n_iter):
            h_in = F.broadcast(h) if small else h
            a_raw = (
                e.join(h_in, e["a"] == h_in["v"])
                .groupBy(e["b"].alias("v"))
                .agg(F.sum("s").alias("raw"))
            )
            if small:
                # max-normalization folded into the update join as an
                # unpartitioned window max (exact regardless of order;
                # the score table fits one task by the branch premise):
                # no separate max aggregate job, no 1-row broadcast, and
                # a_raw/h_raw are consumed exactly once
                a = (
                    verts.join(a_raw, "v", "left")
                    .select(
                        "v",
                        (
                            F.coalesce(F.col("raw"), F.lit(0.0))
                            / F.max("raw").over(w_all)
                        ).alias("s"),
                    )
                )
            else:
                a_max = a_raw.agg(F.max("raw").alias("mx"))
                a = (
                    verts.join(a_raw, "v", "left")
                    .crossJoin(F.broadcast(a_max))
                    .select(
                        "v",
                        (F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("mx")).alias("s"),
                    )
                )
            a = a.localCheckpoint(eager=True)
            a_in = F.broadcast(a) if small else a
            h_raw = (
                e.join(a_in, e["b"] == a_in["v"])
                .groupBy(e["a"].alias("v"))
                .agg(F.sum("s").alias("raw"))
            )
            if small:
                h = (
                    verts.join(h_raw, "v", "left")
                    .select(
                        "v",
                        (
                            F.coalesce(F.col("raw"), F.lit(0.0))
                            / F.max("raw").over(w_all)
                        ).alias("s"),
                    )
                )
            else:
                h_max = h_raw.agg(F.max("raw").alias("mx"))
                h = (
                    verts.join(h_raw, "v", "left")
                    .crossJoin(F.broadcast(h_max))
                    .select(
                        "v",
                        (F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("mx")).alias("s"),
                    )
                )
            # materialize BOTH score tables every round: each is consumed
            # twice (the next join + the final output), so a lazy plan
            # re-evaluates the whole round chain multiplicatively — eager
            # truncation keeps every round O(1) jobs over KB-scale tables
            h = h.localCheckpoint(eager=True)
        out = (
            h.withColumnRenamed("s", "hub")
            .join(a.withColumnRenamed("s", "authority"), "v")
            .select("v", "hub", "authority")
            .withColumnRenamed("v", "vertex")
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    verts.unpersist()
    return out


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count over an undirected simple graph
    (self-loops and duplicate/reverse edges are normalized away) — the
    classic cohesion statistic behind clustering coefficients and
    community density monitoring.

    Algorithm: degree-ordered edge orientation (Schank/Wagner; the
    MapReduce form in Suri & Vassilvitskii's "Counting Triangles and the
    Curse of the Last Reducer" — the title is literally about the skew
    this avoids). Orienting every edge from the (degree, id)-smaller to
    the (degree, id)-larger endpoint makes each triangle countable
    exactly once as a directed path u->v->w closed by edge u->w, and —
    the scale property — bounds every out-neighborhood by O(sqrt(E)),
    so the path-join stage cannot explode on a hub vertex even in a
    power-law graph: the "last reducer" holds sqrt-bounded work instead
    of deg(hub)^2.

    Returns one row: (n_vertices, n_edges, n_triangles). Plan: one
    normalization aggregate, one degree aggregate joined onto the edges
    (AQE-broadcast for small vertex sets), the wedge self-join on the
    oriented middle vertex, and a semi-join-shaped count against the
    oriented edge set. Everything keys on vertex ids; no driver-side
    materialization.

    The three reused tables (normalized edges, degrees, oriented edges)
    are cached: und feeds degrees + orientation + the edge count, deg
    feeds both orientation legs + the vertex count, and oriented feeds
    both wedge legs + the closing semi-join — without the caches the
    whole upstream edge construction re-executes once per consumer
    (5-10 full passes) and the physical plan grows multiplicatively
    (measured r14: 118 Exchanges -> ~15 on the supplier co-occurrence
    graph). At 100 TB these would be persisted intermediates; the reuse
    argument is identical."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .cache()
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    # orient from (degree, id)-smaller -> larger endpoint
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("e")
        )
        .select(F.col("e.u").alias("u"), F.col("e.w").alias("w"))
        .cache()
    )
    e1 = oriented.select(F.col("u").alias("x"), F.col("w").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("w").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    closing = oriented.select(F.col("u").alias("x"), F.col("w").alias("z"))
    tri = wedges.join(closing, ["x", "z"], "left_semi")
    n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_v = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    n_e = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        n_v.crossJoin(n_e)
        .crossJoin(n_tri)
        .select("n_vertices", "n_edges", "n_triangles")
    )
