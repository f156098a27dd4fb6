"""Structured Streaming surfaces: windowed agg parity, and the feature state
that streaming ER (``incremental.process_er_batch``) keeps for a file source."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blink_spark import streaming, synth
from blink_spark.operators import blocking, incremental
from blink_spark.pipeline import PipelineConfig


def _write_batches(spark, tmp_path, n_batches=2):
    """Split a synthetic corpus into per-batch parquet files (whole
    conversations per batch, mirroring upstream conversation closing)."""
    t, _ = synth.transcripts_df(spark, synth.SynthConfig(n_conversations=40, seed=8))
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir, exist_ok=True)
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    for b in range(n_batches):
        part = [c for i, c in enumerate(convs) if i % n_batches == b]
        t.where(F.col("conv_id").isin(part)).coalesce(1).write.mode("overwrite").parquet(
            f"{in_dir}/batch{b}"
        )
    # file source watches a flat dir: move part files up
    import glob, shutil

    for b in range(n_batches):
        for i, f in enumerate(glob.glob(f"{in_dir}/batch{b}/part-*.parquet")):
            shutil.move(f, f"{in_dir}/b{b}_{i}.parquet")
        shutil.rmtree(f"{in_dir}/batch{b}")
    return t, in_dir


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    t, in_dir = _write_batches(spark, tmp_path)
    stream = streaming.stream_transcripts(spark, in_dir)
    out_dir = str(tmp_path / "out")
    q = (
        streaming.windowed_turn_counts(stream, window="1 day", watermark="2 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows closed by the watermark; compare the
    # emitted subset against the batch computation
    got = {
        (r["window_start"], r["role"]): r["n_turns"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    want = {
        (r["window_start"], r["role"]): r["n_turns"]
        for r in (
            t.groupBy(F.window("ts", "1 day").alias("w"), "role")
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select(F.col("w.start").alias("window_start"), "role", "n_turns")
        ).collect()
    }
    assert got, "stream emitted nothing"
    for k, v in got.items():
        assert want[k] == v



def test_incremental_features_match_batch(spark, tmp_path):
    """The feature state streaming ER writes for a file source holds the
    same rows the batch feature kernel makes for the whole corpus."""
    t, in_dir = _write_batches(spark, tmp_path)
    state = str(tmp_path / "state")
    q = incremental.incremental_er_stream(
        streaming.stream_transcripts(spark, in_dir), state, str(tmp_path / "ck2")
    )
    q.awaitTermination(180)
    streamed = {
        r["conv_id"]: (r["minhash_keys"], r["simhash"])
        for r in incremental.read_feature_state(spark, state).collect()
    }
    batch = {
        r["conv_id"]: (r["minhash_keys"], r["simhash"])
        for r in blocking.compute_features(blocking.conversation_docs(t)).collect()
    }
    assert streamed == batch


def test_incremental_features_replay_is_idempotent(spark, tmp_path):
    """Re-processing a micro-batch (failure between write and checkpoint
    commit) must rewrite its batch_id partition, not append duplicates."""
    t, _ = _write_batches(spark, tmp_path)
    state = str(tmp_path / "state_replay")
    # the foreachBatch body running twice for the same batch_id
    for _ in range(2):
        incremental.process_er_batch(t, 7, state, PipelineConfig())
    got = incremental.read_feature_state(spark, state)
    assert got.count() == t.select("conv_id").distinct().count()
    assert got.select("conv_id").distinct().count() == got.count()
