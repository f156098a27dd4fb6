"""Stage 3 — transitive clustering: large-star / small-star connected components.

The reference's final stage assigns each mention its argmax entity
(``blink/main_dense.py:541-586``), implicitly clustering mentions that share
an entity. In record linkage the match-edge graph must instead be closed
transitively; we use the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public algorithm), expressed purely as DataFrame group-bys — no GraphFrames
dependency, no driver-side graph.

Properties needed at 10^12-node scale and encoded here:
* every round is a single groupBy per direction (shuffle on node id);
* convergence in O(log²) rounds (vs O(diameter) for naive label
  propagation — long duplicate chains would kill the naive version);
* the loop stops at the first round whose output is a star forest (every
  node has at most one parent and no parent is a child), which is the
  large/small-star fixpoint, so no round is spent confirming it;
* ``localCheckpoint`` every round truncates the logical-plan lineage,
  otherwise the iterative joins blow up Catalyst analysis time;
* deterministic: min-id tie-breaking over a total order (works on any
  orderable id type, including strings) → identical clusters at any
  parallelism level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor to the neighborhood minimum.

    Join formulation — the per-node minimum is a partial-aggregatable
    ``min`` joined back to the neighbor list, NEVER a ``collect_set``: a
    materialized neighborhood array for a high-degree node (a mega-cluster
    representative at 10^12 scale) would exceed executor memory, while the
    min/join shape handles any degree and lets AQE split skewed keys.
    """
    nbrs = edges.select(F.col("u"), F.col("v")).union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn")).select("u", F.least("mn", F.col("u")).alias("m"))
    out = (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's ≤-neighborhood, connect all members to the minimum.

    Same join shape as :func:`_large_star` (no neighborhood arrays).
    """
    # orient edges large→small
    oriented = edges.select(
        F.greatest("u", "v").alias("u"),
        F.least("u", "v").alias("v"),
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
    out = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("node"), F.col("m"))
        .union(mins.select(F.col("u").alias("node"), F.col("m")))
        .where(F.col("node") != F.col("m"))
    )
    return out.select(F.col("node").alias("u"), F.col("m").alias("v")).dropDuplicates(["u", "v"])


def _is_star_forest(edges: DataFrame) -> bool:
    """True when every node has at most one parent (``u`` with its ``v``)
    and no parent is also a child: the large/small-star fixpoint.

    Equivalently, every child lies on exactly one (deduplicated) edge, its
    parent edge — one groupBy over edge ends. Both halves are needed: a
    round can leave a node with two parents that are both roots, and
    stopping there would split their component.
    """
    ends = edges.select(F.col("u").alias("node"), F.lit(True).alias("child")).union(
        edges.select(F.col("v").alias("node"), F.lit(False).alias("child"))
    )
    per_node = ends.groupBy("node").agg(F.max("child").alias("child"), F.count(F.lit(1)).alias("n"))
    return per_node.where(F.col("child") & (F.col("n") > 1)).isEmpty()


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Edges ``(conv_a, conv_b)`` → assignments ``(conv_id, cluster_id)``.

    ``cluster_id`` is the lexicographic minimum conv_id of the component —
    deterministic and stable across runs/parallelism. Nodes appearing only
    as singletons are absent (see :func:`with_singletons`).

    Stops at the first round whose output is a star forest (every edge
    points from a node to its component minimum), so the round that
    reaches the fixpoint is the last one run. Raises ``RuntimeError`` when
    ``max_iter`` rounds end without a star forest: a non-fixpoint edge set
    would yield plausible but wrong (split) clusters.
    """
    cur = (
        edges.select(F.col("conv_a").alias("u"), F.col("conv_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint()
    )
    for _ in range(max_iter):
        cur = _small_star(_large_star(cur)).localCheckpoint()
        if _is_star_forest(cur):
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after max_iter={max_iter} rounds; raise max_iter"
        )
    # in a star forest every edge is (node, component_min)
    assignments = (
        cur.select(F.col("u").alias("conv_id"), F.col("v").alias("cluster_id"))
        .union(cur.select(F.col("v").alias("conv_id"), F.col("v").alias("cluster_id")))
        .groupBy("conv_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return assignments


def with_singletons(ids: DataFrame, assignments: DataFrame) -> DataFrame:
    """Every ``conv_id`` of the one-column frame ``ids`` with its
    ``cluster_id`` from ``assignments``; an id no match edge reached is its
    own cluster."""
    return ids.join(assignments, "conv_id", "left").select(
        "conv_id", F.coalesce("cluster_id", F.col("conv_id")).alias("cluster_id")
    )
