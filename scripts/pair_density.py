"""Measure candidate-pair volume per corpus size for the scaling regime study.

BENCH/NOTES.md observes that bigger corpora scale WORSE on this single box
(2→8 efficiency 0.711 at 1.007M turns vs 0.691 at 2.017M) and attributes it
to two confounded effects: (a) candidate pairs grow superlinearly with
corpus density (blocks fill toward the cap), so each turn carries more
pair-scoring work, and (b) the shared-DRAM wall. Pair volume is
parallelism-INDEPENDENT (seeded blocking, asserted in tests), so measuring
pairs per corpus lets NOTES.md report pair-normalized throughput
(pairs/sec) alongside turns/sec and separate the density effect from the
bandwidth effect.

Usage: python scripts/pair_density.py [n_conversations ...]
Defaults to the corpora NOTES.md cites: 80000 (1.007M turns), 100000
(1.258M — the headline), 160000 (2.017M). Prints one JSON line per corpus.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blink_spark.session import get_spark


def main() -> int:
    convs = [int(x) for x in sys.argv[1:]] or [80000, 100000, 160000]
    spark = get_spark("pair_density")
    from blink_spark import synth
    from blink_spark.operators import blocking

    for n in convs:
        # reuse the bench harness's cached corpus parquet when present
        path = f"/tmp/blink_bench_transcripts_c{n}_seed42"
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            t, _ = synth.transcripts_df(spark, synth.SynthConfig(n_conversations=n, seed=42))
            t.repartition(32).write.mode("overwrite").parquet(path)
        t = spark.read.parquet(path)
        n_turns = t.count()
        t0 = time.time()
        feats = blocking.compute_features(blocking.conversation_docs(t)).persist()
        caches = [feats]
        n_pairs = blocking.candidate_pairs(None, feats, caches=caches).count()
        wall = round(time.time() - t0, 1)
        for c in caches:
            c.unpersist()
        print(
            json.dumps(
                {
                    "n_conversations": n,
                    "n_turns": n_turns,
                    "n_candidate_pairs": n_pairs,
                    "pairs_per_conv": round(n_pairs / n, 3),
                    "block_stage_wall_sec": wall,
                    "cores": spark.sparkContext.defaultParallelism,
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
