"""Connected components over near-dup pairs → dedup cluster resolution.

Pair generators (minhash/simhash/ngram_jaccard/embedding near-dup) emit
EDGES; an actual deduplication must turn those into clusters and keep one
representative per cluster — near-duplicates chain (A~B, B~C but A!~C), so
pair-local "drop id_b" under-dedups exactly where boilerplate is worst.

Every component is labeled with its minimum member id. The size of the
edge table (rows × the default size of the two id columns) picks one of
two paths:

- **At most** ``session.driver_bound`` (the least of
  ``spark.sql.autoBroadcastJoinThreshold`` and
  ``spark.driver.maxResultSize``): the edges are resolved on the driver
  by a vectorised union-find — min-label hooking plus pointer jumping,
  whole-array numpy passes — and the ``(node, cluster_id)`` result goes
  back through ``createDataFrame`` from Arrow: a JVM-side local relation
  (a parallelized JVM RDD past Arrow's local-relation threshold), so no
  Python worker runs when it executes. An edge plan that optimizes to a
  ``LocalRelation`` (a driver-side pair front's output) is already on
  the driver: its row count is read off the plan and its rows are
  collected with no job. Any other edge table is checkpointed, counted
  and collected once as Arrow, whatever the diameter.
- **Above** the bound, or when the threshold is ``-1``: iterative
  min-label propagation, the only path for an edge table the driver must
  not hold. Every node starts labeled with its own id; each round every
  node takes the min label over itself and its neighbors. Per round: one
  sort-merge join (labels onto symmetrized edges; hinted, so neither
  side is ever broadcast) + one min-aggregation — two keyed shuffles,
  both algebraic with map-side partial agg. Rounds = graph
  diameter; near-dup graphs are dense little cliques with tiny diameters
  (2-4 rounds in practice). `localCheckpoint` truncates the plan each
  round so lineage doesn't grow O(iterations) — the standard Spark
  iterative-algorithm discipline (GraphX/GraphFrames do the same).
  Diameter is the knob to watch, not data volume: an adversarially long
  path graph needs one round per hop and hits ``max_iter``. Convergence
  is detected with a count() on changed labels (a scalar per round, not
  data).

A pair with a null id on either side names no document and is dropped
before the size is measured, on both paths.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from pydatalake_spark.session import _ckpt, _reap, driver_bound


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in a non-null pair of
    ``pairs``; cluster_id is the component's minimum node id
    (deterministic, engine-portable).

    The path follows the size of the edge table (module docstring): an
    edge table within ``session.driver_bound`` is resolved on the driver
    in one union-find pass, a larger one by the distributed min-label
    loop. ``max_iter`` applies only to the loop, which raises after
    ``max_iter`` rounds without convergence — near-dup graphs converge
    in a handful; hitting the cap means the edge set is not the
    clique-soup this is meant for.
    """
    edges = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    spark = edges.sparkSession
    plan = edges._jdf.queryExecution().optimizedPlan()
    local = plan.getClass().getSimpleName() == "LocalRelation"
    if local:
        n_edges, edge_ids = plan.data().length(), []
    else:
        edges, edge_ids = _ckpt(edges, eager=False)
        # the full count computes every partition of the lazy checkpoint
        # — persisting its blocks — and returns the row count the size
        # test reads, in the action that builds the edges
        n_edges = edges.count()
    bound = driver_bound(spark)
    if bound >= 0 and n_edges * edges._jdf.schema().defaultSize() <= bound:
        # collect() of a LocalRelation fires no job; toArrow() fires one
        table = (
            pa.Table.from_pylist(
                [r.asDict() for r in edges.collect()],
                schema=to_arrow_schema(edges.schema),
            )
            if local
            else edges.toArrow()
        )
        _reap(edges, edge_ids)
        return _union_find(spark, table)
    return _min_label_loop(edges, edge_ids, max_iter)


def _union_find(spark: SparkSession, edges) -> DataFrame:
    """Components of the Arrow ``(src, dst)`` table ``edges``, resolved on
    the driver. Ids are ranked by ``np.unique`` (the engine's ordering
    for integer and string ids), so the smallest rank of a component is
    its minimum id. Each round hooks the larger root of every edge whose
    endpoints still have different roots onto the smallest root it
    meets — parents only ever point to smaller ranks, so no cycle can
    form and every unsatisfied round removes a root — then pointer
    jumping flattens every tree to its root."""
    import numpy as np

    id_type = edges.schema.field("src").type
    src = edges.column("src").to_numpy()
    ids, rank = np.unique(
        np.concatenate([src, edges.column("dst").to_numpy()]),
        return_inverse=True,
    )
    u, v = rank[: len(src)], rank[len(src) :]
    parent = np.arange(len(ids))
    while True:
        pu, pv = parent[u], parent[v]
        open_ = pu != pv
        if not open_.any():
            break
        pu, pv = pu[open_], pv[open_]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return spark.createDataFrame(
        pa.table(
            {
                "node": pa.array(ids, type=id_type),
                "cluster_id": pa.array(ids[parent], type=id_type),
            }
        )
    )


def _min_label_loop(
    pairs: DataFrame, pair_ids: list[int], max_iter: int
) -> DataFrame:
    """Distributed min-label propagation over the checkpointed ``(src,
    dst)`` pairs (reaped here once the symmetrized edges replace them)."""
    edges, edge_ids = _ckpt(_symmetric_edges(pairs, "src", "dst"))
    _reap(pairs, pair_ids)
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    label_ids: list[int] = []
    for it in range(max_iter):
        # min over (own label, neighbors' labels). The self rows are
        # tagged so the SAME aggregation also emits each node's previous
        # label (every node has exactly one self row): convergence then
        # reads a `_changed` flag off the checkpointed result — a
        # shuffle-free scan of cached blocks — instead of re-joining the
        # new generation against the old one (a second keyed exchange
        # pair per round). The loop only runs on edge tables above
        # session.driver_bound, so broadcasting either side is never
        # right here: the merge hint keeps Spark (and AQE) from picking a
        # broadcast from the threshold alone, which would collect the
        # edges past spark.driver.maxResultSize.
        neighbor = (
            edges.hint("merge")
            .join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "cluster_id")
        )
        new_labels, new_ids = _ckpt(
            labels.withColumn("_self", F.lit(True))
            .unionByName(neighbor.withColumn("_self", F.lit(False)))
            .groupBy("node")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min(F.when(F.col("_self"), F.col("cluster_id"))).alias(
                    "_old"
                ),
            )
            .withColumn(
                "_changed", F.col("cluster_id") != F.col("_old")
            )
            .drop("_old"),
            eager=False,
        )
        # the convergence scan IS the materializing action: the full
        # (un-limited) count computes EVERY partition of the lazily
        # checkpointed RDD — persisting its blocks and finalizing the
        # lineage truncation — and returns the changed count off the
        # same pass, one job per round. The flag is computed every
        # round, so max_iter=1 on an already-converged (e.g. empty-edge)
        # input returns instead of raising.
        changed = new_labels.filter("_changed").count()
        # the changed-count was the last reader of the PREVIOUS label
        # generation — reap its blocks before the next round allocates
        _reap(new_labels, label_ids)
        labels, label_ids = new_labels.drop("_changed"), new_ids
        if changed == 0:
            _reap(labels, edge_ids)
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "graph diameter exceeds the near-dup assumption"
    )


def dedup_by_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Keep one representative (minimum id) per near-dup cluster.

    Rows never mentioned in ``pairs`` pass through untouched; clustered
    rows survive only if they ARE their cluster's minimum. One broadcast-
    friendly join: the drop-list is (clustered nodes minus representatives),
    typically a small fraction of the corpus.
    """
    cc = connected_components(pairs, src_col, dst_col)
    drop = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


def _symmetric_edges(
    pairs: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Both orientations of every pair, deduplicated, via ONE pass over
    ``pairs`` (explode of a 2-struct array).  The union-of-two-selects
    form references the ``pairs`` plan twice, and when that plan is an
    expensive un-cached build (the near-dup inverted-index join) Spark
    executes the whole subtree twice in the same job — at the 1000x
    probe that doubled a ~60 GB live shuffle and filled the disk before
    the edge checkpoint could truncate the lineage."""
    s, d = F.col(src_col), F.col(dst_col)
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(s.alias("src"), d.alias("dst")),
                    F.struct(d.alias("src"), s.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """(node, rank): PageRank over the UNDIRECTED pair graph (Page et al.
    1999) — each near-dup edge walks both ways.

    Use case: canonical-representative selection. min-id dedup keeps an
    arbitrary cluster member; keeping the highest-rank member keeps the
    most CENTRAL one (the version most other duplicates derive from),
    which is the better canonical document for training corpora.

    Scale shape: per iteration, one sort-merge join of ranks onto the
    edge list (keyed by node — ids and doubles only; hinted, so the
    edges are never broadcast) and one keyed aggregation; no
    node ever holds its neighborhood in memory, so hub nodes spread over
    the cluster. Lineage is truncated every few rounds exactly like
    connected_components above. Every node in the pair graph has degree
    >= 1, so there is no dangling-mass term.
    """
    bidir, _bidir_ids = _ckpt(_symmetric_edges(edges, src_col, dst_col))
    deg = bidir.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    base = (1.0 - damping) / n_nodes
    rank_ids: list[int] = []
    for it in range(iters):
        # hinted like the CC loop's label join: broadcasting the edges
        # from the threshold alone would collect them past
        # spark.driver.maxResultSize
        contrib = (
            bidir.hint("merge")
            .join(
                ranks.join(deg, ranks.node == deg.src)
                .select("node", (F.col("rank") / F.col("deg")).alias("share")),
                bidir.src == F.col("node"),
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("in_share"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("in_share", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (it + 1) % 4 == 0:
            # eager + reap of the previous generation: the new checkpoint
            # folds everything the old blocks held (see _ckpt docstring)
            ranks, new_ids = _ckpt(ranks)
            _reap(ranks, rank_ids)
            rank_ids = new_ids
    return ranks


def canonical_by_rank(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Near-dup dedup keeping each cluster's highest-PageRank member
    (ties broken by min id). Rows with no near-dup edge survive as-is."""
    comps = connected_components(pairs)  # (node, cluster_id)
    pr = pagerank(pairs, damping=damping, iters=iters)
    ranked = comps.join(pr, "node")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("rank").desc(), F.col("node").asc()
    )
    keep = (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("node").alias(id_col))
    )
    drop = comps.select(F.col("node").alias(id_col)).join(
        keep, id_col, "left_anti"
    )
    return df.join(drop, id_col, "left_anti")


def dedup_by_clusters_best(
    df: DataFrame,
    pairs: DataFrame,
    priority_col: str,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Keep the BEST row per near-dup cluster instead of the min-id one:
    the survivor maximizes ``priority_col`` (ties -> min id). Pair with a
    quality score so dedup removes the low-quality copies — the min-id
    rule throws away a clean original whenever a truncated mirror happens
    to carry a smaller id.

    Same shape as dedup_by_clusters plus one narrow join to fetch the
    priority of clustered rows (ids + one numeric move, never payloads).
    """
    cc = connected_components(pairs, src_col, dst_col)
    pri = df.select(F.col(id_col).alias("node"), F.col(priority_col))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(priority_col).desc(), F.col("node").asc()
    )
    drop = (
        cc.join(pri, "node")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select(F.col("node").alias(id_col))
    )
    return df.join(drop, on=id_col, how="left_anti")


def label_propagation(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    num_iters: int = 3,
) -> DataFrame:
    """(node, community) after ``num_iters`` SYNCHRONOUS label-propagation
    rounds (Raghavan et al. 2007) over the undirected pair graph: each
    round every node adopts its neighbors' most frequent label, ties
    broken by the SMALLEST label — fully deterministic, unlike classic
    async LPA, and therefore oracle-checkable with a fixed iteration
    count. Labels start as node ids; isolated rounds keep a node's label
    when it has no neighbors.

    Where connected components merges everything reachable (one bridge
    edge fuses two boilerplate families), LPA keeps densely-linked
    near-dup groups separate across weak bridges — the finer-grained
    community readout for dedup planning.

    Scale: per round ONE sort-merge label join keyed on dst (hinted,
    so the edges are never broadcast) + one (node, label)
    count aggregation + one argmax — all hash exchanges on node ids;
    labels table is node-sized, lineage truncated per round via
    localCheckpoint like the CC loop. num_iters is a fixed small constant
    (LPA converges in a few rounds on near-dup graphs).
    """
    edges, edge_ids = _ckpt(_symmetric_edges(pairs, src_col, dst_col))
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("community", F.col("node"))
    )
    label_ids: list[int] = []
    for _ in range(num_iters):
        # hinted like the CC loop's label join: the edges are never
        # broadcast
        neighbor = (
            edges.hint("merge")
            .join(labels.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), F.col("community").alias("nl"))
        )
        counted = neighbor.groupBy("node", "nl").agg(
            F.count(F.lit(1)).alias("c")
        )
        # most frequent neighbor label, smallest label on ties:
        # min(struct(-c, nl)) — the count is always numeric so negating
        # it is safe for ANY orderable label type (the label itself is
        # never negated), and struct comparison is field-lexicographic,
        # so the minimum is exactly the row_number()-over-(c DESC, nl
        # ASC) pick, as a partial-aggregable reduction: map-side
        # combine and no node-keyed sort of every (node, nl, c) row.
        best = (
            counted.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("_nc"),
                        F.col("nl").alias("community"),
                    )
                ).alias("_m")
            )
            .select("node", F.col("_m.community").alias("community"))
        )
        labels, new_ids = _ckpt(best)
        _reap(labels, label_ids)
        label_ids = new_ids
    if num_iters >= 1:
        # the last round's labels are an eager checkpoint: nothing reads
        # the edges any more
        _reap(labels, edge_ids)
    return labels
