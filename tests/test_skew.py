"""Skew handling: planted hot blocks, salted splitting, salted aggregation."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blink_spark.operators import blocking, skew


def _keys_df(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, modality string, key long, sig long")


def test_split_hot_blocks_bounds_subblock_size(spark):
    """A planted 300-member hot key must split into sub-blocks ≤ cap, while
    cold keys keep salt 0."""
    rows = [(f"c{i:04d}", "minhash", 7, None) for i in range(300)]
    rows += [(f"c{i:04d}", "minhash", 99, None) for i in range(10)]
    salted, hot = skew.split_hot_blocks(_keys_df(spark, rows), max_block_size=50)
    sizes = (
        salted.groupBy("modality", "key", "salt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    hot_keys = {(r["modality"], r["key"]) for r in hot.collect()}
    assert hot_keys == {("minhash", 7)}
    for r in sizes:
        if r["key"] == 99:
            assert r["salt"] == 0 and r["n"] == 10
        else:
            # ceil(300/50)=6 salts; hashed distribution won't be exactly even,
            # but every sub-block must be far below the unsplit 300
            assert r["n"] <= 120
    n_subblocks = len([r for r in sizes if r["key"] == 7])
    assert n_subblocks == 6
    # no member lost
    assert salted.count() == 310


def test_split_hot_blocks_deterministic(spark):
    rows = [(f"c{i:04d}", "minhash", 7, None) for i in range(200)]
    df = _keys_df(spark, rows)
    a = sorted(map(tuple, skew.split_hot_blocks(df.repartition(3), 40)[0].collect()))
    b = sorted(map(tuple, skew.split_hot_blocks(df.repartition(11), 40)[0].collect()))
    assert a == b


def _features_df(spark, conv_ids, minhash_key):
    """Feature rows whose only blocking key is one shared MinHash band key."""
    return spark.createDataFrame(
        [(c, "", [minhash_key], [], 0) for c in conv_ids],
        "conv_id string, doc_head string, minhash_keys array<long>, "
        "simhash_keys array<long>, simhash long",
    )


def test_candidate_pairs_split_policy_bounds_pair_volume(spark):
    """With overflow='split', a hot key emits ≈ B·cap pairs instead of B²
    (and instead of 0 under 'drop') — in a batch run and in a delta run
    whose hot key straddles the old and new sides."""
    ids = [f"c{i:04d}" for i in range(200)]
    # min_shared=1 so single-key pairs survive; this test is about volume
    cfg_split = blocking.BlockingConfig(max_block_size=20, overflow="split", min_shared_minhash_bands=1)
    cfg_drop = blocking.BlockingConfig(max_block_size=20, overflow="drop", min_shared_minhash_bands=1)

    feats = _features_df(spark, ids, 7)
    n_split = blocking.candidate_pairs(None, feats, cfg_split).count()
    n_drop = blocking.candidate_pairs(None, feats, cfg_drop).count()
    assert n_drop == 0
    assert 0 < n_split < 200 * 199 / 2 / 3  # far below the unsplit B²/2
    # and every pair is within one sub-block of ≤ ~bounded size
    assert n_split < 200 * 20  # ≈ B·cap upper bound

    # delta: the same 200-member key, half old and half new — the hot-block
    # policy runs on the union key table, so 'split' keeps new×old pairs
    old_ids, new_ids = ids[::2], ids[1::2]
    old, new = _features_df(spark, old_ids, 7), _features_df(spark, new_ids, 7)
    split_pairs = blocking.candidate_pairs(old, new, cfg_split).collect()
    n_drop = blocking.candidate_pairs(old, new, cfg_drop).count()
    assert n_drop == 0
    new_set = set(new_ids)
    assert any((r["conv_a"] in new_set) != (r["conv_b"] in new_set) for r in split_pairs)
    assert all(r["conv_a"] in new_set or r["conv_b"] in new_set for r in split_pairs)
    assert 0 < len(split_pairs) < 200 * 20  # ≈ B·cap upper bound


def test_salted_aggregate_matches_plain_groupby(spark):
    """Two-phase salted agg must equal the direct groupBy on a Zipf-hot key."""
    rows = [("hot", float(i % 7), 1) for i in range(5000)] + [
        (f"cold{i}", float(i), 1) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "k string, v double, one int")
    got = {
        r["k"]: (r["total"], r["n"], r["mx"])
        for r in skew.salted_aggregate(
            df,
            ["k"],
            {"total": ("v", "sum"), "n": ("one", "count"), "mx": ("v", "max")},
            n_salts=8,
        ).collect()
    }
    want = {
        r["k"]: (r["total"], r["n"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count("one").alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    assert got == want


def test_pipeline_f1_survives_planted_boilerplate_skew(spark):
    """Plant a boilerplate turn shared by EVERY conversation (the classic
    hot-block generator) — blocking caps must keep the pipeline correct
    and the pair count bounded."""
    from blink_spark import metrics, synth
    from blink_spark.pipeline import ERPipeline

    t, labels = synth.transcripts_df(spark, synth.SynthConfig(n_conversations=80, seed=3))
    boiler = t.select("conv_id").distinct().select(
        "conv_id",
        F.lit(9999).alias("turn_idx"),
        F.lit("system").alias("role"),
        F.lit("standard legal disclaimer text identical for every conversation").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(synth._EPOCH).alias("ts"),
    )
    res = ERPipeline().run(spark, t.unionByName(boiler))
    m = metrics.pairwise_f1(res.assignments, labels)
    assert m["f1"] >= 0.99, m
    n_convs = t.select("conv_id").distinct().count()
    assert res.pairs.count() < 20 * n_convs  # no quadratic blow-up


def test_empty_conversations_stay_singletons(spark):
    """All-empty-text conversations must NOT cluster together: the MinHash
    empty-set sentinel would band them into one block without the
    empty-doc guard in compute_features."""
    from blink_spark import synth
    from blink_spark.pipeline import ERPipeline

    t, _ = synth.transcripts_df(spark, synth.SynthConfig(n_conversations=30, seed=5))
    empties = spark.createDataFrame(
        [(f"empty_{i}", 0, "user", "", None, synth._EPOCH) for i in range(10)],
        synth.TRANSCRIPT_SCHEMA,
    )
    res = ERPipeline().run(spark, t.unionByName(empties), compute_metrics=False)
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in res.assignments.where(F.col("conv_id").startswith("empty_")).collect()
    }
    assert len(got) == 10
    for cid, cl in got.items():
        assert cl == cid, f"{cid} clustered into {cl}"
