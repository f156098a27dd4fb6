"""Structured Streaming surfaces for the engine's operators.

The reference is strictly batch (SURVEY.md §2.10), so streaming is an
*engine addition*, not a parity requirement: the same column expressions
and kernels run under ``readStream`` with watermarks. Two surfaces:

* :func:`stream_transcripts` — file-source stream of the transcripts table.
* :func:`windowed_turn_counts` — watermarked tumbling-window aggregation
  (the streaming form of queries.t1_time_window_agg; late turns beyond the
  watermark are dropped, per standard event-time semantics).

Streaming ER itself lives in :mod:`blink_spark.operators.incremental`:
:func:`~blink_spark.operators.incremental.incremental_er_stream` re-clusters
every micro-batch against durable cross-batch state (the feature
partitions plus the current assignment), and
:func:`~blink_spark.operators.incremental.process_er_batch` is the one
writer and reader of that state.

Caveat, stated rather than hidden: a conversation whose turns span
micro-batches would be featurized from a prefix. Production ingestion
should close conversations upstream (session gap / end marker) or
re-featurize conv_ids seen again via an upsert sink (e.g. Iceberg MERGE
keyed on conv_id) — not implemented here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blink_spark.synth import TRANSCRIPT_SCHEMA


def stream_transcripts(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of transcript rows (one parquet file per batch)."""
    return spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)


def windowed_turn_counts(
    transcripts: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window per-role turn counts (streaming agg)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("w.start").alias("window_start"), "role", "n_turns")
    )

