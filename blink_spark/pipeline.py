"""ERPipeline — the end-to-end block → score → cluster orchestrator.

Public API (the engine's equivalent of the reference's
``main_dense.load_models`` + ``run`` surface, ``blink/main_dense.py:289-586``):

    pipe = ERPipeline(PipelineConfig())
    result = pipe.run(spark, transcripts_df, checkpoints=mgr)
    result.assignments   # (conv_id, cluster_id)
    result.edges         # thresholded match edges with scores
    result.metrics       # stage counters / lineage
    result.unpersist()   # release the run's caches

The run has one shape: ``s1_features`` → ``s2_pairs`` → ``s3_scored`` →
``s4_clusters``. Each stage either checkpoints via :class:`CheckpointManager`,
so a rerun resumes after the last committed stage (north_rule
resumability), or is persisted in memory. Stages run by hand go through
:mod:`blink_spark.operators.blocking`, ``scoring`` and ``clustering``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from blink_spark.checkpoint import CheckpointManager
from blink_spark.operators import blocking, clustering, scoring


@dataclass
class PipelineConfig:
    blocking: blocking.BlockingConfig = field(default_factory=blocking.BlockingConfig)
    scoring: scoring.ScoringConfig = field(default_factory=scoring.ScoringConfig)
    cc_max_iter: int = 50


@dataclass
class PipelineResult:
    docs: DataFrame  # lazy: computed inside the s1_features pass, never persisted
    features: DataFrame
    pairs: DataFrame
    scored: DataFrame
    edges: DataFrame
    assignments: DataFrame
    metrics: dict
    caches: list = field(default_factory=list)

    def unpersist(self, blocking: bool = False) -> None:
        """Release every DataFrame this run persisted (stage outputs and
        operator-internal caches). Call after the results have been
        materialized/written — long-lived drivers running many pipelines
        otherwise accumulate cached partitions until LRU pressure."""
        for df in self.caches:
            df.unpersist(blocking)
        self.caches.clear()


class ERPipeline:
    def __init__(self, config: PipelineConfig | None = None):
        self.config = config or PipelineConfig()

    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        checkpoints: CheckpointManager | None = None,
        compute_metrics: bool = True,
    ) -> PipelineResult:
        """End-to-end block → score → cluster.

        Docs have exactly one consumer, the feature pass, so they stay lazy
        and the conversation shuffle and the feature UDFs run as ONE
        materialization (``s1_features``) on both paths.

        ``compute_metrics=False`` skips the eager per-stage row counts
        (three extra Spark jobs) — use for latency-sensitive paths; the
        checkpointed path records the same counts in its lineage sidecars
        for free.
        """
        cfg = self.config
        # persisted-DataFrame registry: stage persists + operator-internal
        # persists (blocking's capped keys, scoring's pass-1 barrier);
        # released via PipelineResult.unpersist()
        caches: list[DataFrame] = []

        def ck(name: str, fn) -> DataFrame:
            if checkpoints is None:
                # no durable checkpoint requested: persist in-memory so each
                # stage is computed once, not re-derived per downstream action
                # (the reference equivalently caches entity encodings,
                # eval_biencoder.py:229-253)
                df = fn().persist()
                caches.append(df)
                return df
            return checkpoints.stage(name, fn)

        docs = blocking.conversation_docs(transcripts)
        features = ck("s1_features", lambda: blocking.compute_features(docs, cfg.blocking))
        pairs = ck("s2_pairs", lambda: blocking.candidate_pairs(None, features, cfg.blocking, caches=caches))
        scored = ck("s3_scored", lambda: scoring.score_pairs(pairs, features, cfg.scoring, caches=caches))
        edges = scoring.match_edges(scored, cfg.scoring)
        assignments = ck(
            "s4_clusters", lambda: clustering.connected_components(edges, max_iter=cfg.cc_max_iter)
        )

        # the conv list reads the (persisted/checkpointed) feature table,
        # not docs
        full_assignments = clustering.with_singletons(features.select("conv_id"), assignments)

        metrics = {}
        if compute_metrics:
            metrics = {
                "n_conversations": features.count(),
                "n_candidate_pairs": pairs.count(),
                "n_match_edges": edges.count(),
            }
        if checkpoints is not None:
            metrics["stages_written"] = list(checkpoints.stages_written)
            metrics["stages_resumed"] = list(checkpoints.stages_resumed)
        return PipelineResult(
            docs=docs,
            features=features,
            pairs=pairs,
            scored=scored,
            edges=edges,
            assignments=full_assignments,
            metrics=metrics,
            caches=caches,
        )
