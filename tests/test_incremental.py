"""Incremental ER: delta update ≡ full-batch run, the streaming surface, and
the durable state it resumes from."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from blink_spark import synth
from blink_spark.operators import blocking, incremental
from blink_spark.pipeline import ERPipeline, PipelineConfig


@pytest.fixture(scope="module")
def corpus(spark):
    t, labels = synth.transcripts_df(spark, synth.SynthConfig(n_conversations=90, seed=42))
    return t.persist(), labels


def _split(transcripts):
    """Deterministic conversation-level split (turns never straddle halves)."""
    old = transcripts.where(F.crc32("conv_id") % 2 == 0)
    new = transcripts.where(F.crc32("conv_id") % 2 == 1)
    return old, new


def _rows(df):
    return sorted((r["conv_id"], r["cluster_id"]) for r in df.collect())


def _versions(spark, state):
    return incremental.list_committed(spark, f"{state}/assignments", "v=")


def test_incremental_equals_batch(spark, corpus):
    """Phase-1 batch on half the corpus + delta update with the other half
    must reproduce the one-shot full-batch assignment exactly — the
    star-edge CC merge and the new×(new ∪ old) delta blocking are lossless."""
    transcripts, _ = corpus
    old_t, new_t = _split(transcripts)

    full = ERPipeline().run(spark, transcripts, compute_metrics=False)
    phase1 = ERPipeline().run(spark, old_t, compute_metrics=False)
    res = incremental.incremental_update(new_t, phase1.features, phase1.assignments)

    assert _rows(res.assignments) == _rows(full.assignments)
    res.unpersist()
    phase1.unpersist()
    full.unpersist()


def test_no_old_old_pairs(spark, corpus):
    """The delta plan never generates old×old candidate pairs."""
    transcripts, _ = corpus
    old_t, new_t = _split(transcripts)
    feats_old = blocking.compute_features(blocking.conversation_docs(old_t)).persist()
    feats_new = blocking.compute_features(blocking.conversation_docs(new_t)).persist()
    new_ids = {r["conv_id"] for r in feats_new.select("conv_id").collect()}
    pairs = incremental.delta_candidate_pairs(feats_old, feats_new)
    for r in pairs.collect():
        assert r["conv_a"] in new_ids or r["conv_b"] in new_ids
    feats_old.unpersist()
    feats_new.unpersist()


def test_empty_delta_preserves_assignment(spark, corpus):
    """An empty micro-batch leaves the cluster state unchanged."""
    transcripts, _ = corpus
    old_t, _ = _split(transcripts)
    phase1 = ERPipeline().run(spark, old_t, compute_metrics=False)
    empty = spark.createDataFrame([], old_t.schema)
    res = incremental.incremental_update(empty, phase1.features, phase1.assignments)
    assert _rows(res.assignments) == _rows(phase1.assignments)
    res.unpersist()
    phase1.unpersist()


def test_bridge_conversation_merges_clusters(spark):
    """A new conversation that matches members of two existing clusters
    merges them into one (the star-edge union handles cross-cluster joins)."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    other = "one two three four five six seven eight nine ten " * 6
    rows = [
        ("a1", 0, base), ("a2", 0, base),          # cluster A (exact dups)
        ("b1", 0, other), ("b2", 0, other),        # cluster B
    ]
    old_t = spark.createDataFrame(
        [(c, i, t) for c, i, t in rows], "conv_id string, turn_idx int, text string"
    )
    phase1 = ERPipeline().run(spark, old_t, compute_metrics=False)
    clusters_before = {r["conv_id"]: r["cluster_id"] for r in phase1.assignments.collect()}
    assert clusters_before["a1"] != clusters_before["b1"]

    # the bridge doc contains both texts → matches members of A and B
    bridge = spark.createDataFrame(
        [("z_bridge", 0, base), ("z_bridge", 1, other)],
        "conv_id string, turn_idx int, text string",
    )
    res = incremental.incremental_update(bridge, phase1.features, phase1.assignments)
    after = {r["conv_id"]: r["cluster_id"] for r in res.assignments.collect()}
    merged_ids = {after[c] for c in ("a1", "a2", "b1", "b2", "z_bridge")}
    assert len(merged_ids) == 1, after
    res.unpersist()
    phase1.unpersist()


def test_streaming_incremental_er(spark, corpus, tmp_path):
    """End-to-end streaming: two file-batches through incremental_er_stream
    reproduce the one-shot batch assignment."""
    transcripts, _ = corpus
    old_t, new_t = _split(transcripts)
    src = str(tmp_path / "stream_src")
    # one file per half so a conversation never straddles micro-batches
    old_t.coalesce(1).write.mode("overwrite").parquet(src)
    new_t.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(synth.TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental.incremental_er_stream(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    got = incremental.read_latest_assignments(spark, str(tmp_path / "state"))
    full = ERPipeline().run(spark, transcripts, compute_metrics=False)
    assert _rows(got) == _rows(full.assignments)
    full.unpersist()

    # the streamed feature state holds the same rows the batch kernel makes
    streamed = {
        r["conv_id"]: (r["minhash_keys"], r["simhash"])
        for r in incremental.read_feature_state(spark, str(tmp_path / "state")).collect()
    }
    batch = {
        r["conv_id"]: (r["minhash_keys"], r["simhash"])
        for r in blocking.compute_features(blocking.conversation_docs(transcripts)).collect()
    }
    assert streamed == batch


def test_er_batch_replay_idempotent(spark, corpus, tmp_path):
    """Crash-recovery path: replaying a batch_id (the foreachBatch retry
    Structured Streaming performs after a mid-batch failure) must not see
    its own failed attempt's output — the replayed batch reads only
    features with batch_id < its own and only assignment versions < its
    own, so the result is duplicate-free and identical to the first
    attempt. Pruning keeps the immediate predecessor version (the one a
    replay needs — the engine checkpoint-commits a batch only after
    process() returns) and deletes everything older."""
    transcripts, _ = corpus
    thirds = [transcripts.where(F.crc32("conv_id") % 3 == i) for i in range(3)]
    state = str(tmp_path / "state")
    cfg = PipelineConfig()

    for i, part in enumerate(thirds):
        incremental.process_er_batch(part, i, state, cfg)
    # v=0 pruned after v=2 committed; v=1 retained for a batch-2 replay
    assert _versions(spark, state) == [1, 2]
    first = _rows(incremental.read_latest_assignments(spark, state))

    # the retry: batch 2 runs again against state that already contains
    # batch 2's own feature partition and assignment version
    incremental.process_er_batch(thirds[2], 2, state, cfg)
    replayed = incremental.read_latest_assignments(spark, state)
    assert replayed.groupBy("conv_id").count().where("count > 1").count() == 0
    assert _rows(replayed) == first
    assert _versions(spark, state) == [1, 2]
    # the replay rewrote its own feature partition instead of appending
    feats = incremental.read_feature_state(spark, state)
    assert feats.count() == transcripts.select("conv_id").distinct().count()
    assert feats.select("conv_id").distinct().count() == feats.count()

    # and the full streamed state equals the one-shot batch clustering
    full = ERPipeline().run(spark, transcripts, compute_metrics=False)
    assert _rows(replayed) == _rows(full.assignments)
    full.unpersist()


@pytest.fixture(scope="module")
def two_batch_state(spark, tmp_path_factory):
    """Durable state after batches 0 and 1 of a small corpus in thirds, plus
    the third that batch 2 resolves against it."""
    t, _ = synth.transcripts_df(spark, synth.SynthConfig(n_conversations=30, seed=11))
    thirds = [t.where(F.crc32("conv_id") % 3 == i) for i in range(3)]
    state = str(tmp_path_factory.mktemp("two_batch") / "state")
    for i in range(2):
        incremental.process_er_batch(thirds[i], i, state, PipelineConfig())
    assert _versions(spark, state) == [0, 1]
    return state, thirds[2]


def _copy(state, tmp_path):
    dst = str(tmp_path / "state")
    shutil.copytree(state, dst)
    return dst


def test_damaged_feature_state_raises(spark, two_batch_state, tmp_path):
    """Unreadable feature part files fail the batch before it commits an
    assignment version. Resolving against an empty old side instead would
    commit a version holding only the new batch's conversations."""
    base, batch2 = two_batch_state
    state = _copy(base, tmp_path)
    parts = glob.glob(f"{state}/features/batch_id=*/part-*")
    assert parts
    for p in parts:
        with open(p, "wb") as f:
            f.write(b"not a parquet file " * 64)
    for crc in glob.glob(f"{state}/features/batch_id=*/.part-*.crc"):
        os.remove(crc)
    with pytest.raises(Exception):
        incremental.process_er_batch(batch2, 2, state, PipelineConfig())
    assert _versions(spark, state) == [0, 1]


def test_torn_feature_partition_raises(spark, two_batch_state, tmp_path):
    """A feature partition below the current batch without its _SUCCESS
    marker is a torn write: skipping it would silently drop its
    conversations, so the batch raises and commits nothing."""
    base, batch2 = two_batch_state
    state = _copy(base, tmp_path)
    os.remove(f"{state}/features/batch_id=0/_SUCCESS")
    with pytest.raises(RuntimeError, match="_SUCCESS"):
        incremental.process_er_batch(batch2, 2, state, PipelineConfig())
    assert _versions(spark, state) == [0, 1]
