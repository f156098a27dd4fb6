"""Physical-plan regression guards.

PLANS.md documents the plan shape each operator must keep at scale; these
tests pin the load-bearing properties mechanically so a refactor that
silently degrades a plan (a range join falling back to
BroadcastNestedLoopJoin, a global window funneling through one partition,
an accidental cross join) turns a test red instead of a 100-TB run black.

Only lazily-planned entries are guarded here — pipeline entries that
materialize eagerly (er_docs_clusters etc.) have their plans audited in
PLANS.md and their cost measured in bench.py; re-running them per test
would double the suite's runtime for no new information.
"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

# plan fragments that are scale killers anywhere they appear in a guarded
# query (brute-force oracle legs like sim_bruteforce_topk are deliberately
# NOT guarded — their cross join is the point)
FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _guarded_queries(spark):
    from blink_spark import queries as Q

    return {
        name: Q.REGISTRY[name][0](spark, SF_DIR)
        for name in (
            "er_snm_candidate_pairs",   # rank equi-join, never a range join
            "er_snm_multikey_pairs",    # two SNM passes + union-dedup
            "j4_token_blocking_join",   # exploded grams + hot-gram cap
            "sim_lsh_topk",             # banded buckets + windowed top-k
            "dedup_simhash_pairs",      # band join + JVM bit_count verify
            "p2_label_in_kb_filter",    # broadcast semi join, never widened
        )
    }


def test_no_cartesian_or_nested_loop_joins(spark):
    for name, df in _guarded_queries(spark).items():
        plan = _plan(df)
        for bad in FORBIDDEN:
            assert bad not in plan, f"{name}: {bad} appeared in the physical plan"


def test_no_single_partition_window(spark):
    """A Window running over Exchange SinglePartition is the global-sort
    funnel global_rank exists to avoid. Scan each guarded plan for a
    SinglePartition exchange feeding a Window operator."""
    for name, df in _guarded_queries(spark).items():
        plan = _plan(df)
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Window" in line and "windowspecdefinition" in line.lower():
                below = "\n".join(lines[i : i + 4])
                assert "SinglePartition" not in below, (
                    f"{name}: Window appears to consume a SinglePartition exchange"
                )
        # belt and braces: global_rank's contract is that NO guarded plan
        # contains a SinglePartition exchange at all (top-k uses
        # WindowGroupLimit per group; final limits don't apply here)
        if name.startswith("er_snm"):
            assert "SinglePartition" not in plan, (
                f"{name}: SinglePartition exchange in an SNM plan — "
                "global_rank's range-exchange shape regressed"
            )


def test_blocking_candidate_pairs_plan_shape(spark):
    """The stage-1 pair join must be a hash equi-join on (modality, key)
    with the capped key table reused (persisted), not recomputed per side."""
    from blink_spark.operators import blocking

    df = spark.createDataFrame(
        [(str(i), i % 7, f"text body {i % 5} {i % 3}") for i in range(50)],
        "conv_id string, turn_idx long, text string",
    )
    docs = blocking.conversation_docs(df.select("conv_id", F.col("turn_idx").alias("turn_idx"), "text"))
    feats = blocking.compute_features(docs)
    caches: list = []
    pairs = blocking.candidate_pairs(None, feats, caches=caches)
    plan = _plan(pairs)
    for bad in FORBIDDEN:
        assert bad not in plan
    assert "InMemoryTableScan" in plan, "capped key table should be persisted and reused"
    for c in caches:
        c.unpersist()
