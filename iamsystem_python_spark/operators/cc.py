"""Connected components over the dup-pair edge list → cluster ids.

Alternating large-star / small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) expressed as DataFrame self-joins:

  large-star: for each node u, connect every strictly-larger neighbor v to
              min(N(u) ∪ {u})        — keeps the graph, lowers labels
  small-star: connect every ≤ neighbor to the minimum
              — converges to a star per component

Node labels are the ``doc_id`` values themselves, so each component's
min-label root IS its ``cluster_id`` (min doc_id), and no hashed label can
merge two components. Each round is two groupBy/min + join stages ending in
one checkpoint (``localCheckpoint(eager=True)`` by default) that truncates
lineage (SURVEY.md §4: required — iterative self-joins otherwise stack
exponentially deep plans). Convergence = no new edge: the round's edges
are left-joined to the previous round's, and an ``Observation`` on that
same checkpoint counts the unmatched rows. Deterministic: min-label
tie-breaking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from iamsystem_python_spark.functions.scoped_cache import tie_cache


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: for each node u, connect every strictly-larger neighbor v
    to m = min(N(u) ∪ {u}). Emits (v, m) pairs."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("mn"))
    out = (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient edges (larger → smaller); for each node u with
    smaller-neighbor set N, m = min(N); emit (v, m) for v ∈ N ∪ {u}, v ≠ m.
    The (u, m) self-edge is REQUIRED — without it 2-node components vanish."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("mn"))
    joined = oriented.join(mins, "u")
    neighbor_edges = joined.select(F.col("v").alias("u"), F.col("mn").alias("v"))
    self_edges = mins.select(F.col("u"), F.col("mn").alias("v"))
    return (
        neighbor_edges.union(self_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    checkpoint_dir: str = None,
    stats: dict = None,
) -> DataFrame:
    """(doc_a, doc_b) edge list → (doc_id, cluster_id) assignment, where
    cluster_id = min doc_id of the component (deterministic, reproducible —
    the recall metric compares pair sets derived from these assignments).

    The loop stops at the first round that adds no edge; ``RuntimeError``
    when ``max_iterations`` rounds pass without that.

    Per-round lineage truncation: ``localCheckpoint(eager=True)`` by default
    (lineage-free but executor-memory-resident — an executor loss loses the
    blocks and fails the job). Pass ``checkpoint_dir`` to use reliable
    ``checkpoint()`` to that path instead (HDFS/object store on a real
    cluster): survives executor loss, which is the right profile for a
    many-round job on 1000 preemptible executors. The pipeline threads this
    through as ``NearDupPipeline(checkpoint_dir=...)`` /
    ``run_pipeline.py --checkpoint-dir``.
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _chk(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

    else:

        def _chk(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    # the labels are the doc ids: a pair (doc_a, doc_b) is an edge (u, v).
    # Not deduplicated here: round 1 reads this set three times under
    # different pushed-down filters, so a distinct here would plan three
    # shuffles; each round's distinct below reuses the join's partitioning.
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))

    for rounds in range(1, max_iterations + 1):
        # an edge with no match in the previous round's set is new; the
        # count rides on the round's own checkpoint action
        new_edges = Observation()
        edges = _chk(
            _small_star(_large_star(edges))
            .join(edges.withColumn("seen", F.lit(True)), ["u", "v"], "left")
            .observe(new_edges, F.count_if(F.col("seen").isNull()).alias("n"))
            .select("u", "v")
            .distinct()
        )
        # no new edge: the edge set is a stable star forest
        if new_edges.get["n"] == 0:
            break
    else:
        # not a star forest yet: reading roots off it would split
        # components, so fail instead of returning a wrong assignment
        raise RuntimeError(
            f"connected_components: not converged within "
            f"max_iterations={max_iterations} rounds"
        )
    # the rounds ran eagerly, so the count is final; callers pass a dict to
    # record it in run metrics ("CC rounds stay bounded" is a scale invariant)
    if stats is not None:
        stats["cc_rounds"] = rounds
        stats["cc_converged"] = True

    # star forest: every u points at its root (= component min doc_id)
    roots = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    # both star steps drop u == v, so a node whose only edge is a self-loop
    # is in no round's edges: it is its own component. A self-loop node
    # with other edges keeps its root, since root <= node.
    loops = pairs.where(F.col("doc_a") == F.col("doc_b")).select(
        F.col("doc_a").alias("doc_id"), F.col("doc_a").alias("cluster_id")
    )
    return (
        roots.select(F.col("u").alias("doc_id"), "cluster_id")
        .union(roots.select(F.col("cluster_id").alias("doc_id"), "cluster_id"))
        .union(loops)
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def incremental_connected_components(
    store: DataFrame,
    new_pairs: DataFrame,
    max_iterations: int = 20,
    checkpoint_dir: str = None,
    stats: dict = None,
) -> DataFrame:
    """Maintain a persisted cluster assignment under a new batch of edges —
    the cluster-store companion to ``dedup_text.incremental_lsh_pairs_sql``
    (the production nightly-ingest shape at 10^12 files).

    ``store`` is yesterday's ``connected_components`` output
    (doc_id, cluster_id), where cluster_id = min doc_id of the component —
    i.e. the store IS a depth-1 star forest. ``new_pairs`` (doc_a, doc_b)
    is the batch's edge list (new-new and new-old). Returns the UPDATED
    full assignment, equal to ``connected_components(old_edges ∪
    new_pairs)`` — proved by the contraction argument: collapsing each old
    component to its representative preserves the component structure of
    the union graph, and because every representative is its component's
    minimum, the contracted graph's component minima equal the merged
    graph's minima.

    Scale shape (the whole point — never re-cluster history):
      * the iterative star-contraction runs ONLY on the contracted delta
        graph, O(|batch edges|) nodes — independent of corpus size;
      * the store is scanned exactly twice, both times streamed through a
        BroadcastHashJoin (broadcast endpoint set → per-endpoint reps;
        broadcast rep→root map → relabel), so the 10^12-row store is never
        shuffled and old edges are never re-read;
      * docs absent from the store (previously unclustered old docs, or
        brand-new batch docs) contract to themselves and are assigned now.

    Doc ids must be unique corpus-wide (same contract as the incremental
    LSH index: re-ingests delete-then-insert upstream).
    """
    endpoints = (
        new_pairs.select(F.col("doc_a").alias("doc_id"))
        .union(new_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # one streamed pass over the store: reps for the (small) endpoint set.
    # Consumed three times below (two contraction sides + the anti-join),
    # and recomputing would rescan the store — persist, scoped to the
    # returned frame (tie_cache at the bottom).
    known = store.join(F.broadcast(endpoints), "doc_id").persist()
    rep_a = known.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("rep_a")
    )
    rep_b = known.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("rep_b")
    )
    contracted = (
        new_pairs.join(F.broadcast(rep_a), "doc_a", "left")
        .join(F.broadcast(rep_b), "doc_b", "left")
        .select(
            F.coalesce("rep_a", F.col("doc_a")).alias("doc_a"),
            F.coalesce("rep_b", F.col("doc_b")).alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))  # intra-cluster edges: no-op
        .distinct()
    )
    # exact CC on the delta graph only; node set = {touched old reps} ∪
    # {docs not in the store}; labels = min doc_id over the MERGED component
    delta = connected_components(contracted, max_iterations, checkpoint_dir, stats)

    # relabel the store: only clusters whose rep was rehomed change; the
    # map is ≤ |endpoints| rows → broadcast, store streamed, no shuffle
    relabel = delta.select(
        F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("new_cluster")
    )
    updated_old = store.join(F.broadcast(relabel), "cluster_id", "left").select(
        "doc_id", F.coalesce("new_cluster", F.col("cluster_id")).alias("cluster_id")
    )
    # endpoints the store did not know: previously-unclustered old docs and
    # brand-new docs — every one is a contracted-graph node, so delta
    # assigns it (coalesce is unreachable belt-and-braces for isolated ids)
    new_docs = endpoints.join(known.select("doc_id"), "doc_id", "left_anti")
    new_assign = new_docs.join(F.broadcast(delta), "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )
    out = updated_old.unionByName(new_assign)
    return tie_cache(out, known)
