"""Evaluation metrics: pairwise P/R/F1, recall@k, cluster stats.

Reference analogs (SURVEY.md §2.4): micro P/R/F1
(``elq/main_dense.py:591-602``), recall@k curves
(``blink/main_dense.py:459-477``), per-dataset rollups
(``blink/candidate_retrieval/evaluator.py:29-90``). All single-pass
DataFrame aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.operators import clustering


def pairwise_confusion(assignments: DataFrame, labeled_pairs: DataFrame) -> DataFrame:
    """Join labeled pairs to cluster assignments → per-pair pred/gold flags.

    A pair is *predicted* matched iff both sides land in the same cluster
    (missing assignment ⇒ singleton ⇒ cluster = self).
    """
    ca = assignments.select(F.col("conv_id").alias("conv_a"), F.col("cluster_id").alias("cluster_a"))
    cb = assignments.select(F.col("conv_id").alias("conv_b"), F.col("cluster_id").alias("cluster_b"))
    return (
        labeled_pairs.join(ca, "conv_a", "left")
        .join(cb, "conv_b", "left")
        .select(
            "conv_a",
            "conv_b",
            "is_match",
            (
                F.coalesce("cluster_a", F.col("conv_a")) == F.coalesce("cluster_b", F.col("conv_b"))
            ).cast("int").alias("pred_match"),
        )
    )


def pairwise_f1(assignments: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Micro precision / recall / F1 over labeled pairs (the ≥0.99 gate)."""
    row = (
        pairwise_confusion(assignments, labeled_pairs)
        .agg(
            F.sum((F.col("pred_match") * F.col("is_match"))).alias("tp"),
            F.sum(F.col("pred_match")).alias("pred_pos"),
            F.sum(F.col("is_match")).alias("gold_pos"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    tp, pred, gold = int(row["tp"] or 0), int(row["pred_pos"] or 0), int(row["gold_pos"] or 0)
    precision = tp / pred if pred else 1.0
    recall = tp / gold if gold else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1, "tp": tp, "pred_pos": pred, "gold_pos": gold, "n_pairs": int(row["n"])}


def blocking_recall(pairs: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Fraction of gold-positive pairs surviving stage-1 blocking.

    Stage-1 recall upper-bounds final F1 — the exact analog of the
    reference's bi-encoder recall@k gate (``blink/main_dense.py:459-477``).
    """
    gold = labeled_pairs.where(F.col("is_match") == 1).select("conv_a", "conv_b")
    n_gold = gold.count()
    hit = gold.join(pairs, ["conv_a", "conv_b"], "left_semi").count()
    return {"blocking_recall": hit / n_gold if n_gold else 1.0, "gold_pairs": n_gold, "blocked_gold_pairs": hit}


def blocking_quality(
    candidate_pairs: DataFrame,
    gold_pairs: DataFrame,
    n_records: int,
    a_col: str = "conv_a",
    b_col: str = "conv_b",
) -> DataFrame:
    """The standard blocking-evaluation trio (Christen, *Data Matching*,
    2012, ch. 7) as ONE single-row DataFrame:

    * ``reduction_ratio`` = 1 − |C| / (n·(n−1)/2) — how much of the
      quadratic comparison space blocking removed (the scale win; at
      10^12 records anything below ~0.9999 is a non-starter);
    * ``pairs_completeness`` = |C ∩ G| / |G| — blocking recall, the
      quantity that upper-bounds final F1 (same role as
      :func:`blocking_recall`, which reports it as a dict);
    * ``pairs_quality`` = |C ∩ G| / |C| — precision of the candidate set,
      i.e. how much stage-2 scorer work blocking wastes.

    ``candidate_pairs`` and ``gold_pairs`` are pair tables with canonical
    ``a < b`` ids in ``(a_col, b_col)``. The metric itself is three count
    aggregations + one semi join — scale-safe no matter how the gold table
    was produced (at production scale gold is a labeled SAMPLE; an
    exhaustive gold sweep is only feasible on eval corpora). Degenerate
    inputs follow the metric conventions: empty gold ⇒ completeness 1.0,
    empty candidates ⇒ quality 1.0.
    """
    cand = candidate_pairs.select(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).dropDuplicates()
    gold = gold_pairs.select(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).dropDuplicates()
    tp = gold.join(cand, ["_a", "_b"], "left_semi")
    total_pairs = n_records * (n_records - 1) // 2
    row = (
        cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        .crossJoin(gold.agg(F.count(F.lit(1)).alias("gold_pairs")))
        .crossJoin(tp.agg(F.count(F.lit(1)).alias("tp")))
    )
    return row.select(
        F.col("n_candidates"),
        F.col("gold_pairs"),
        F.col("tp"),
        F.when(
            F.lit(total_pairs) > 0,
            F.lit(1.0) - F.col("n_candidates") / F.lit(total_pairs).cast("double"),
        )
        .otherwise(F.lit(1.0))
        .alias("reduction_ratio"),
        F.when(F.col("gold_pairs") > 0, F.col("tp") / F.col("gold_pairs"))
        .otherwise(F.lit(1.0))
        .alias("pairs_completeness"),
        F.when(F.col("n_candidates") > 0, F.col("tp") / F.col("n_candidates"))
        .otherwise(F.lit(1.0))
        .alias("pairs_quality"),
    )


def b_cubed(pred: DataFrame, gold: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """B³ (B-cubed) precision / recall / F1 (Bagga & Baldwin, 1998) — the
    cluster-level complement to :func:`pairwise_f1`: pairwise F1 over-weights
    large clusters (a cluster of size s contributes s·(s−1)/2 pairs), B³
    averages per RECORD, so singleton-heavy corpora aren't drowned out.

    Per record r: precision(r) = |pred(r) ∩ gold(r)| / |pred(r)|,
    recall(r) = |pred(r) ∩ gold(r)| / |gold(r)|, where pred(r)/gold(r) are
    the record's predicted and gold clusters; B³ P/R are the means over
    records, F1 their harmonic mean.

    Scale shape — NO per-record loop: every record in the same
    (pred_cluster, gold_cluster) intersection cell has identical
    precision/recall contribution, so the whole metric is one groupBy over
    the cells plus two size joins:
    ``Σ_cells c² / size_pred`` (precision numerator) and
    ``Σ_cells c² / size_gold`` (recall numerator), divided by N. Records
    missing from either table count as singletons (cluster = self), the
    same convention as :func:`pairwise_confusion`.

    Returns one row: (n_records, b3_precision, b3_recall, b3_f1).
    """
    p = pred.select(F.col(id_col).alias("_id"), F.col("cluster_id").alias("_pc"))
    g = gold.select(F.col(id_col).alias("_id"), F.col("cluster_id").alias("_gc"))
    both = (
        p.join(g, "_id", "full")
        .select(
            "_id",
            F.coalesce("_pc", F.col("_id")).alias("_pc"),
            F.coalesce("_gc", F.col("_id")).alias("_gc"),
        )
    )
    cells = both.groupBy("_pc", "_gc").agg(F.count(F.lit(1)).alias("c"))
    psize = both.groupBy("_pc").agg(F.count(F.lit(1)).alias("np"))
    gsize = both.groupBy("_gc").agg(F.count(F.lit(1)).alias("ng"))
    row = (
        cells.join(psize, "_pc")
        .join(gsize, "_gc")
        .agg(
            F.sum(F.col("c")).alias("n_records"),
            F.sum(F.col("c") * F.col("c") / F.col("np")).alias("_psum"),
            F.sum(F.col("c") * F.col("c") / F.col("ng")).alias("_gsum"),
        )
    )
    prec = F.col("_psum") / F.col("n_records")
    rec = F.col("_gsum") / F.col("n_records")
    return row.select(
        F.col("n_records"),
        prec.alias("b3_precision"),
        rec.alias("b3_recall"),
        (F.lit(2.0) * prec * rec / (prec + rec)).alias("b3_f1"),
    )


def _rounded(row) -> dict:
    return {k: round(v, 6) if isinstance(v, float) else int(v) for k, v in row.asDict().items()}


def evaluate(assignments: DataFrame, labels: DataFrame, pairs: DataFrame | None = None) -> dict:
    """Every quality metric of one ER run against labeled pairs
    ``(conv_a, conv_b, is_match)``: pairwise P/R/F1 and B³ against the gold
    partition, plus — when the run's candidate ``pairs`` are given —
    blocking recall and the blocking trio.

    The gold partition is the transitive closure of the positive labels
    (synth labels carry ALL positive pairs, so their closure IS the gold
    clustering) over the conversations ``assignments`` covers. Those must
    be every conversation: B³'s ``n_records`` is also the record count the
    reduction ratio needs.
    """
    gold_pos = labels.where(F.col("is_match") == 1).select("conv_a", "conv_b")
    gold = clustering.with_singletons(
        assignments.select("conv_id"), clustering.connected_components(gold_pos)
    )
    out = {
        "pairwise_f1": pairwise_f1(assignments, labels),
        "b_cubed": _rounded(b_cubed(assignments, gold).collect()[0]),
    }
    if pairs is not None:
        n = out["b_cubed"]["n_records"]
        out["blocking_recall"] = blocking_recall(pairs, labels)
        out["blocking_quality"] = _rounded(blocking_quality(pairs, gold_pos, n_records=n).collect()[0])
    return out


def cluster_stats(assignments: DataFrame) -> dict:
    """Size distribution of predicted clusters (skew visibility)."""
    sizes = assignments.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.max("size").alias("max_size"),
        F.avg("size").alias("avg_size"),
    ).collect()[0]
    return {"n_clusters": int(row["n_clusters"]), "max_size": int(row["max_size"]), "avg_size": float(row["avg_size"])}
