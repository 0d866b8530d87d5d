"""Distributed connected components for dedup clustering.

Near-dup pair generation (s02/s03/s09) emits *edges*; an actual dedup
pass needs *clusters*: the transitive closure of "is a near-dup of",
one canonical document per component. The reference has nothing like
this (its dedup surface is zero); this is the beyond-reference
training-data mandate.

Algorithm: two regimes, picked by ONE observed-size gate. The
symmetric edge list is materialized first (``tables.pin_keyed``); if
its cached size fits ``spark.sql.autoBroadcastJoinThreshold``
(``tables.fits_broadcast``, a block-manager lookup, zero jobs) the
components are solved on the driver, otherwise by the distributed loop.
Both return the same labels (property-tested), and both raise when no
fixpoint is confirmed within ``max_iter`` rounds.

- Driver solve: one Arrow collect of the edge list, dense ids via
  ``np.unique``, then a vectorised min-label union-find — each round
  hooks every tree root under its smallest adjacent root
  (``np.minimum.at``) and pointer-jumps every node to its root. The
  labels return as one Arrow-built LocalRelation. Two jobs in all
  (materialize + collect) where the loop pays ~8 AQE sub-jobs per
  round: c06 went from 95 jobs to 21 at the benchmark input.
- Distributed loop: the same min-label hooking, one round at a time.
  Each round every node takes the minimum label over itself and its
  neighbors AND hooks the node its label points at under that minimum
  (one shuffle: edge-join + groupBy, then one groupBy over both
  candidates), then compresses paths by replacing its label with its
  label's label (one self-join). Propagation and path compression
  alone still need O(diameter) rounds — a 37-edge chain in shuffled
  id order took 29 — because a minimum only ever moves one edge per
  round; hooking moves it to the whole tree under the label at once,
  and the same chain converges in 7 (a 20 000-node chain in ~19).
  Near-dup components are dense and shallow in practice, so
  convergence is typically 2-3 rounds.

Scale notes (100 TB):
- The gate bounds the driver collect by the broadcast threshold: the
  driver never holds more edge bytes than it would already accept as
  a broadcast table. Past the gate nothing special happens — the loop
  below is the 100 TB path (forced locally in tests with a 1-byte
  threshold).
- The edge list is localCheckpoint-ed once up front: every round joins
  it, and without materialization the (expensive) pair-generation
  subtree would re-run per round. On a cluster, persist(MEMORY_AND_DISK)
  or a checkpoint to the shuffle service plays the same role.
- Labels are localCheckpoint-ed each round to cut lineage — an
  iterative plan otherwise grows by two joins per round and chokes the
  optimizer (same pattern as the k-means loop in operators/vector.py).
  The checkpoint is then re-hosted without the plan statistics it
  inherits: a round joins the label table three times, the estimate
  of a join without column statistics is the product of its sides,
  so the inherited size estimate gains ~3x digits per round and the
  optimizer ran out of heap multiplying them (a 1 GB driver, on the
  37-edge chain above).
- Convergence is detected by the sum of labels: min-label updates are
  monotone non-increasing, so an unchanged sum (one lightweight agg
  action per round) proves a fixpoint. No row-level diff join needed.
- Each round is three shuffles on the node id; AQE handles the skew of
  popular labels. Component count and sizes are unbounded in general,
  but label state is exactly one row per node — never per edge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "orient_by_degree",
           "symmetrize_edges"]


def symmetrize_edges(pairs: DataFrame, src_in: str, dst_in: str,
                     src: str = "src", dst: str = "dst",
                     carry: tuple[str, ...] = ()) -> DataFrame:
    """Both directions of an undirected edge list from ONE pass over
    ``pairs`` — explode of a two-struct array, the idiom
    ``connected_components`` uses for its own ``und``.

    A union of two selects reads the pair subtree once per branch, and
    when the symmetric list is the thing being materialized (the
    eager-checkpoint-then-iterate pattern of s40/s43/t37) the branches
    evaluate inside ONE job, where neither lazy checkpoints nor
    exchange reuse fence the second branch — controlled A/B at 30x
    replication (SCALING.md round-7 section): s40 end-to-end 554 s
    (union) vs 293 s (explode), of which materializing the same
    10.4 M-row edge list is 282 s.  ``carry`` columns ride along
    unchanged in both directions.
    """
    extras = [F.col(c) for c in carry]
    return (pairs.select(F.explode(F.array(
                F.struct(F.col(src_in).alias(src),
                         F.col(dst_in).alias(dst), *extras),
                F.struct(F.col(dst_in).alias(src),
                         F.col(src_in).alias(dst), *extras)))
            .alias("e"))
            .select("e.*"))


def orient_by_degree(edges: DataFrame, src: str = "d1",
                     dst: str = "d2",
                     degrees: DataFrame | None = None) -> DataFrame:
    """Re-orient undirected edges by the (degree, id) total order.

    Returns one row per input edge with columns ``(src, dst)`` such
    that (degree(src), src) < (degree(dst), dst). Under this
    orientation every vertex's OUT-degree is O(sqrt(m)) — a vertex
    with out-degree d has d neighbors of rank >= its own, so
    rank-order out-degree is bounded by the count of vertices of
    degree >= d, and d * d <= sum(degrees) = 2m — which caps the
    fan-out of a wedge join (the Ortmann/Brandes "degree ordering"
    used by every scalable triangle counter). Plain id orientation
    lacks this bound: a low-id hub keeps its full fan-out.

    Cost: one degree aggregate over the edge list + two equi-joins to
    attach endpoint degrees — both shuffles on the vertex id, skew
    handled by AQE. Pass ``degrees`` (columns ``v, deg``) to reuse an
    already-computed undirected degree table; it MUST cover every
    endpoint of ``edges`` — a stale/filtered table would otherwise
    silently drop edges, so the join is left + assert_true (fails the
    job loudly on the first uncovered endpoint instead of
    undercounting triangles downstream). The triangle SET is
    orientation-invariant, so results of downstream wedge counting do
    not change.
    """
    deg = degrees if degrees is not None else (
        edges.select(F.explode(F.array(src, dst)).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg")))
    d1 = deg.select(F.col("v").alias(src), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("v").alias(dst), F.col("deg").alias("deg2"))
    # The coverage check lives INSIDE the consumed expressions (a
    # dropped side-column would be pruned away with its assertion).
    msg = ("orient_by_degree: degrees table does not cover every "
           "edge endpoint")

    def checked(c: Column) -> Column:
        return F.when(c.isNotNull(), c).otherwise(
            F.raise_error(F.lit(msg)).cast("long"))

    ranked = (edges.join(d1, src, "left").join(d2, dst, "left")
              .withColumn("deg1", checked(F.col("deg1")))
              .withColumn("deg2", checked(F.col("deg2"))))
    fwd = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col(src) < F.col(dst)))
    return ranked.select(
        F.when(fwd, F.col(src)).otherwise(F.col(dst)).alias(src),
        F.when(fwd, F.col(dst)).otherwise(F.col(src)).alias(dst))


def connected_components(nodes: DataFrame, edges: DataFrame,
                         node_col: str, src: str, dst: str,
                         max_iter: int = 25) -> DataFrame:
    """Label every node with the minimum node id of its component.

    ``nodes`` must contain every vertex (isolated nodes become their
    own singleton component); ``edges`` is undirected input given in
    one direction. Returns ``(node_col, component_id)``. Raises
    ``RuntimeError`` when no fixpoint is confirmed within ``max_iter``
    rounds, in either regime.
    """
    from mousedatapipeline_spark.tables import fits_broadcast, pin_keyed

    # Both edge directions from ONE pass over the (possibly expensive)
    # edge subtree: a union of two selects would evaluate the pair-
    # generation plan twice — Spark does not share non-materialized
    # subtrees between union branches. The materializing checkpoint
    # runs under the normal (AQE) planner; past broadcast scale the
    # layout is then re-pinned BY THE PER-ROUND JOIN KEY (v), so each
    # round's |E|-row join side needs no Exchange and no Sort — an
    # unpinned checkpoint (UnknownPartitioning) would re-shuffle the
    # edges once per round, O(rounds x |E|) bytes (guide §2.2/§2.4;
    # see pin_keyed for the broadcast-threshold gate that keeps this
    # an identity at label-table-broadcastable scale).
    und = pin_keyed(
        edges.select(F.explode(F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v"))))
            .alias("e"))
        .select("e.u", "e.v"),
        ["v"])
    # The same zero-job observed-size gate picks the regime: a
    # materialized edge list under the broadcast threshold is solved
    # on the driver (one collect instead of ~8 AQE sub-jobs per
    # round); past it the distributed loop runs.
    if fits_broadcast(und):
        labels = _driver_labels(und, max_iter)
    else:
        labels = _loop_labels(und, max_iter)
    looped = labels.select(F.col("id").alias(node_col),
                           F.col("lbl").alias("component_id"))
    singletons = (nodes.join(labels, nodes[node_col] == labels.id,
                             "left_anti")
                  .select(F.col(node_col),
                          F.col(node_col).alias("component_id")))
    return looped.union(singletons)


def _driver_labels(und: DataFrame, max_iter: int) -> DataFrame:
    """``(id, lbl)`` for every endpoint of the symmetric edge list
    ``und``, solved in driver memory: one Arrow collect, then a
    vectorised min-label union-find over dense ids.

    Each round hooks every tree root under the smallest root adjacent
    to it (``np.minimum.at``; parents are always smaller ids, so the
    forest stays acyclic) and then pointer-jumps every node to its
    root. Rounds are counted like the loop's: the round that confirms
    the fixpoint counts. The labels come back as an Arrow-built frame
    typed like ``und``'s columns: a LocalRelation under
    ``spark.sql.execution.arrow.localRelationThreshold``, so consumers
    plan it with its exact size and never start a Python worker for
    it (pickled-row ``parallelize`` would, on every job)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    # An edge with a null endpoint connects nothing (it matches no
    # join in the loop either).
    tbl = und.toArrow().drop_null()
    m = tbl.num_rows
    ids, dense = np.unique(
        np.concatenate([tbl.column("u").to_numpy(),
                        tbl.column("v").to_numpy()]),
        return_inverse=True)
    eu, ev = dense[:m], dense[m:]
    lbl = np.arange(len(ids))
    for _ in range(max_iter):
        prev = lbl.copy()
        np.minimum.at(lbl, lbl[eu], lbl[ev])
        while True:
            jumped = lbl[lbl]
            if np.array_equal(jumped, lbl):
                break
            lbl = jumped
        if np.array_equal(lbl, prev):
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    arrow_type = tbl.schema.field("u").type
    spark_type = und.schema["u"].dataType
    return und.sparkSession.createDataFrame(
        pa.table({"id": pa.array(ids, type=arrow_type),
                  "lbl": pa.array(ids[lbl], type=arrow_type)}),
        StructType([StructField("id", spark_type),
                    StructField("lbl", spark_type)]))


def _loop_labels(und: DataFrame, max_iter: int) -> DataFrame:
    """``(id, lbl)`` for every endpoint of the symmetric edge list
    ``und`` by distributed min-label hooking with pointer jumping (the
    scale path; see the module docstring)."""
    # Only nodes with at least one edge enter the loop: isolated nodes
    # (the vast majority of a deduped corpus) are their own component
    # by definition and would just pad every per-round shuffle. At
    # 100 TB this shrinks the iterated state from |corpus| to |docs
    # with a near-dup|.
    # Initialization doubles as round one: lbl = min(self, neighbors)
    # comes out of the same shuffle that dedups the active-node set.
    labels = _without_stats(
        und.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("lbl"))
        .withColumnRenamed("u", "id")
        .localCheckpoint(eager=False))
    prev_sum = None
    for _ in range(max_iter):
        neigh = (und.join(labels, und.v == labels.id)
                 .groupBy("u").agg(F.min("lbl").alias("nlbl")))
        # Two candidates per node from ONE pass over the join (explode,
        # as for the symmetric edge list): the node itself takes the
        # smallest neighbor label, and the node its label points at is
        # hooked under it too. Every candidate is a member id of the
        # node's component and no larger than the label it replaces,
        # so labels only decrease and always point at a smaller id:
        # the label forest stays acyclic. A node without a neighbor row
        # (its only edges have a null endpoint) keeps its label.
        nlbl = F.coalesce("nlbl", labels.lbl)
        stepped = (labels.join(neigh, labels.id == neigh.u, "left")
                   .select(F.explode(F.array(
                       F.struct(labels.id.alias("id"),
                                F.least(labels.lbl, nlbl).alias("lbl")),
                       F.struct(labels.lbl.alias("id"),
                                nlbl.alias("lbl")))).alias("c"))
                   .groupBy("c.id").agg(F.min("c.lbl").alias("lbl")))
        # Pointer jump against the PREVIOUS (checkpointed) label table,
        # not against `stepped`: a stepped-vs-stepped self-join would
        # recompute the whole candidate subtree on both sides (Spark
        # does not share non-materialized subtrees between join
        # branches). prev(x) <= x for every node id x, so the jump is
        # still a monotone improvement. At the fixpoint every label is
        # its own label (a root), and propagation makes both endpoints
        # of every edge agree: the common label is a member id <= the
        # member min, i.e. the min itself.
        parent = labels.select(F.col("id").alias("pid"),
                               F.col("lbl").alias("plbl"))
        jumped = (stepped.join(parent, stepped.lbl == parent.pid)
                  .select(stepped.id,
                          F.least(stepped.lbl, F.col("plbl"))
                          .alias("lbl")))
        # Lazy checkpoint + the convergence agg as its materializing
        # action: one job per round, and the lineage is still cut.
        labels = _without_stats(jumped.localCheckpoint(eager=False))
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    return labels


def _without_stats(checkpointed: DataFrame) -> DataFrame:
    """``checkpointed`` (a localCheckpoint-ed frame) re-hosted over the
    same RDD, without the size estimate its LogicalRDD inherited from
    the plan that built it (see the module docstring). The new leaf
    estimates the session default size, as any RDD-backed frame does;
    the adaptive planner still picks joins on the observed sizes. The
    RDD is the checkpoint-marked one, so a lazy checkpoint still
    materializes on the first job over either frame."""
    spark = checkpointed.sparkSession
    jdf = checkpointed._jdf
    jout = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().analyzed().rdd(), jdf.schema(), False)
    return checkpointed.__class__(jout, spark)
