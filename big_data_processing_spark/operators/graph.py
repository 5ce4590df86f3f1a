"""Iterative graph operators on DataFrames: connected components
via label propagation — the transitive-closure step a dedup
pipeline needs to turn near-duplicate PAIRS into duplicate CLUSTERS
(drop-all-but-one-per-cluster beats drop-one-per-pair when dups
chain: a~b, b~c but not a~c).

Scale notes
-----------
- Label propagation converges in O(diameter) rounds; near-dup
  graphs are unions of small cliques, so 3-5 rounds typically
  suffice. Each round is one join + one aggregate on (id, label)
  pairs — never document payloads.
- Every iteration TRUNCATES LINEAGE (a lazy ``partitioning.pin``
  that the round's own convergence count materializes; the edge
  list and the seed labels are pinned with
  ``partitioning.pin_now``): without it the plan doubles per round
  and the driver dies in analysis long before the executors break a
  sweat. This is the canonical legitimate checkpoint use — iterative
  algorithms — unlike the self-join "optimization" that SCALE.md
  warns about.
- Superseded rounds and the edge list are freed at once
  (``partitioning.unpin``), so a long loop holds two label frames at
  most. The last round's frame, which still carries the ``__old``
  column of the convergence check, is freed when the caller's
  ``partitioning.pin_scope`` closes; a caller that memoizes the
  result re-projects and pins it (``plans.doc_clusters``).
- Pointer jumping makes convergence ~log(diameter), so few rounds
  run at all; convergence is detected by the round's ONE
  materializing action itself (a filter-count over the lazily
  checkpointed label frame persists every block AND counts moved
  labels — zero extra actions; the old separate join+count
  convergence job cost ~2 driver round-trips per check and only ran
  every 2nd round, so it also overshot convergence by up to one
  full round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_processing_spark import partitioning


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of the undirected graph given as an edge
    list. Returns (id, component) where component is the MINIMUM
    vertex id in the component (deterministic canonical label).
    """
    # symmetrize via a single explode, NOT union(edges, edges.swap):
    # the union form references `edges` twice, so an expensive edge
    # producer (e.g. the Jaccard pair pipeline) would execute twice
    # inside the one materialization job below
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # materialize the edge list once — every round re-reads it
    sym = partitioning.pin_now(sym)
    verts = sym.select(F.col("src").alias("id")).distinct()
    # NOTE: no spread() here, by measurement — label frames are
    # (id, label) pairs whose compute tracks their byte size, so
    # AQE's byte-based coalescing picks the right width for small
    # graphs (narrow, low scheduling overhead) AND for huge ones
    # (stays wide). Forcing defaultParallelism-wide rounds made the
    # sf0.1 run 5× slower on scheduling overhead alone.
    labels = partitioning.pin_now(verts.withColumn("comp", F.col("id")))

    for _round_no in range(1, max_iter + 1):
        nb = (
            sym.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("comp").alias("nc")
                ),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("nc").alias("min_nb"))
            .select(F.col("src").alias("id"), "min_nb")
        )
        new_labels = labels.join(nb, on="id", how="left").select(
            "id",
            F.col("comp").alias("__old"),
            F.least(
                F.col("comp"), F.coalesce(F.col("min_nb"), F.col("comp"))
            ).alias("comp"),
        )
        # pointer jumping (path halving): relabel to the label's own
        # label — min labels now travel 2^round hops instead of 1,
        # so convergence takes ~log(diameter) rounds, not diameter
        jump = new_labels.select(
            F.col("id").alias("comp"), F.col("comp").alias("cc")
        )
        new_labels = new_labels.join(jump, on="comp", how="left").select(
            "id",
            "__old",
            F.least(
                F.col("comp"), F.coalesce(F.col("cc"), F.col("comp"))
            ).alias("comp"),
        )
        # Convergence check rides the round's own materialization:
        # the round is a no-op (fixpoint reached) iff no label moved.
        # The (id, __old, comp) frame is checkpointed lazily and the
        # filter-count below is the ONE action per round — it both
        # persists every checkpoint block (count scans all
        # partitions) and measures convergence, so the check costs
        # no extra job and runs EVERY round. (An observe() metric on
        # an eager checkpoint did the same job before pin_now: with
        # a lazy checkpoint the CollectMetrics node belongs to the
        # ORIGINAL query execution, which the count over the
        # checkpointed RDD never completes — the observation never
        # fires and the loop mis-terminated, caught by the sf0.001
        # oracle gate + test_connected_components_chain_and_island.)
        new_labels = partitioning.pin(new_labels)
        changed = new_labels.filter(
            F.col("comp") != F.col("__old")
        ).count()
        partitioning.unpin(labels)
        labels = new_labels
        if changed == 0:
            break
    partitioning.unpin(sym)
    return labels.select("id", "comp")


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-duplicate clusters from verified pair output (MinHash /
    SimHash / Jaccard): (id, cluster_id, is_representative) where
    the representative is the minimum id of each cluster — the row
    to KEEP; everything else in the cluster is a transitive dup."""
    comp = connected_components(pairs, id_a, id_b, max_iter)
    return comp.select(
        "id",
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).alias("is_representative"),
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
    damping: float = 0.85,
    iters: int = 3,
    ndigits: int = 10,
) -> DataFrame:
    """Fixed-iteration weighted PageRank over a DataFrame edge list.

    Each iteration is one join (rank × out-normalized edge weight)
    plus one aggregate — the standard message-passing shape. Ranks
    and normalized weights are rounded to ``ndigits`` every
    iteration so a SQL oracle that mirrors the recipe matches
    bit-for-bit (per-node in-sums are ≤fan-in terms; double
    summation noise ≲1e-15 vs a 1e-10 grid).

    Dangling nodes (no out-edges) leak their mass — the common
    simplification; their in-rank still accumulates via the
    teleport term. ``nodes`` fixes the vertex set (isolated nodes
    keep the teleport baseline). For web-scale graphs the rank
    frame should be checkpointed per round like
    :func:`connected_components` does; at ``iters`` ≲ 5 plan
    growth is negligible.

    Returns (node, pr).
    """
    n_nodes = nodes.count()
    outw = edges.groupBy(src).agg(F.sum(weight).alias("__tot"))
    norm = (
        edges.join(outw, on=src)
        .select(src, dst, F.round(F.col(weight) / F.col("__tot"), ndigits)
                .alias("__p"))
    )
    # The edge list is read once per iteration; materialize it ONCE
    # (pinned checkpoint, truncating the — possibly expensive — edge-
    # build lineage) so iterations don't re-run the upstream joins.
    # Its blocks are freed when the caller's pin scope closes.
    norm = partitioning.pin_now(norm)
    teleport = (1.0 - damping) / n_nodes
    pr = nodes.select(F.col(node), F.lit(1.0 / n_nodes).alias("pr"))
    for _ in range(iters):
        contrib = (
            norm.join(pr, on=norm[src] == pr[node])
            .select(F.col(dst).alias(node),
                    (F.col("pr") * F.col("__p")).alias("c"))
        )
        pr = (
            nodes.select(node)
            .join(contrib, on=node, how="left")
            .groupBy(node)
            .agg(
                F.round(
                    F.lit(teleport)
                    + damping * F.coalesce(F.sum("c"), F.lit(0.0)),
                    ndigits,
                ).alias("pr")
            )
        )
    return pr
