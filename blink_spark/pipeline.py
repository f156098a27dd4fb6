"""ERPipeline — the end-to-end block → score → cluster orchestrator.

Public API (the engine's equivalent of the reference's
``main_dense.load_models`` + ``run`` surface, ``blink/main_dense.py:289-586``):

    pipe = ERPipeline(PipelineConfig())
    result = pipe.run(spark, transcripts_df, checkpoints=mgr)
    result.assignments   # (conv_id, cluster_id)
    result.edges         # thresholded match edges with scores
    result.metrics       # stage counters / lineage

Every stage optionally checkpoints via :class:`CheckpointManager`, so a rerun
resumes after the last committed stage (north_rule resumability).
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
    docs: DataFrame
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
        # persisted-DataFrame registry: stage persists + operator-internal
        # persists (blocking's capped keys, scoring's pass-1 barrier) land
        # here and are released via PipelineResult.unpersist()
        self.caches: list[DataFrame] = []

    def unpersist(self, blocking: bool = False) -> None:
        """Release caches registered by stage methods called standalone."""
        for df in self.caches:
            df.unpersist(blocking)
        self.caches.clear()

    # -- stage wrappers (each independently usable) ----------------------
    def build_docs(self, transcripts: DataFrame) -> DataFrame:
        return blocking.conversation_docs(transcripts)

    def build_features(self, docs: DataFrame) -> DataFrame:
        return blocking.compute_features(docs, self.config.blocking)

    def block(self, features: DataFrame) -> DataFrame:
        return blocking.candidate_pairs(None, features, self.config.blocking, caches=self.caches)

    def score(self, pairs: DataFrame, features: DataFrame) -> DataFrame:
        return scoring.score_pairs(pairs, features, self.config.scoring, caches=self.caches)

    def cluster(self, edges: DataFrame) -> DataFrame:
        return clustering.connected_components(edges, max_iter=self.config.cc_max_iter)

    # -- end to end -------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        checkpoints: CheckpointManager | None = None,
        compute_metrics: bool = True,
    ) -> PipelineResult:
        """End-to-end block → score → cluster.

        ``compute_metrics=False`` skips the eager per-stage row counts
        (three extra Spark jobs) — use for latency-sensitive paths; the
        checkpointed path records the same counts in its lineage sidecars
        for free.
        """
        def ck(name: str, fn, partition_by=None) -> DataFrame:
            if checkpoints is None:
                # no durable checkpoint requested: persist in-memory so each
                # stage is computed once, not re-derived per downstream action
                # (the reference equivalently caches entity encodings,
                # eval_biencoder.py:229-253)
                df = fn().persist()
                self.caches.append(df)
                return df
            return checkpoints.stage(name, fn, partition_by=partition_by)

        if checkpoints is None:
            # docs has exactly one downstream consumer (the feature pass) in
            # the in-memory path: leave it unpersisted so the conversation
            # shuffle and the feature UDF pipeline into ONE materialization
            # (the conv list for singleton resolution comes from features).
            # The checkpointed path still writes s0_docs as its own durable,
            # resumable stage.
            docs = self.build_docs(transcripts)
        else:
            docs = ck("s0_docs", lambda: self.build_docs(transcripts))
        features = ck("s1_features", lambda: self.build_features(docs))
        pairs = ck("s2_pairs", lambda: self.block(features))
        scored = ck("s3_scored", lambda: self.score(pairs, features))
        edges = scoring.match_edges(scored, self.config.scoring)
        assignments = ck("s4_clusters", lambda: self.cluster(edges))

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
        result = PipelineResult(
            docs=docs,
            features=features,
            pairs=pairs,
            scored=scored,
            edges=edges,
            assignments=full_assignments,
            metrics=metrics,
            caches=self.caches,
        )
        self.caches = []  # ownership moves to the result
        return result
