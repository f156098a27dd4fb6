"""The shippable ER job — `spark-submit --py-files blink_spark.zip scripts/er_job.py`.

This is the engine's equivalent of the reference's CLI entry point
(`python blink/main_dense.py --test_mentions ... --output_path ...`,
``blink/main_dense.py:589-688``): read the transcripts table, run
block → score → cluster with durable per-stage checkpoints, write the
cluster assignments, print a one-line metrics JSON.

Usage (cluster):

    spark-submit --master yarn --deploy-mode cluster \
        --py-files blink_spark.zip \
        scripts/er_job.py \
        --input  <parquet/iceberg path of transcripts> \
        --checkpoint-dir <durable path> \
        --output <assignments path> \
        [--labels <labeled_pairs parquet>]     # optional F1 evaluation

Usage (sandbox smoke, synthesizes the corpus):

    spark-submit --master 'local[8]' --py-files /tmp/blink_spark.zip \
        scripts/er_job.py --synth 100 --checkpoint-dir /tmp/er_ck --output /tmp/er_out

The job is idempotent: rerunning with the same --checkpoint-dir and
--run-id resumes after the last committed stage (north_rule resumability).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="blink_spark ER job")
    p.add_argument("--input", help="transcripts table path (parquet dir)")
    p.add_argument("--synth", type=int, default=0,
                   help="instead of --input, synthesize N conversations (smoke/testing)")
    p.add_argument("--seed", type=int, default=42, help="synth seed")
    p.add_argument("--checkpoint-dir", required=True, help="durable stage-checkpoint root")
    p.add_argument("--run-id", default="run0", help="checkpoint namespace; reuse to resume")
    p.add_argument("--output", required=True, help="assignments output parquet path")
    p.add_argument("--labels", help="labeled_pairs parquet (conv_a, conv_b, is_match) for F1")
    p.add_argument("--threshold", type=float, default=None, help="override match threshold")
    p.add_argument("--max-block-size", type=int, default=None, help="override blocking skew cap")
    p.add_argument("--overflow", choices=["drop", "split"], default=None,
                   help="hot-block policy: drop the key or salt it into bounded sub-blocks")
    p.add_argument("--snm-window", type=int, default=None,
                   help="enable the sorted-neighborhood blocking modality with this "
                        "window (>=2): catches low-Jaccard twins below the hash "
                        "modalities' sensitivity floor at +((window-1)*n) pairs")
    p.add_argument("--stream", action="store_true",
                   help="treat --input as a STREAMING source dir: micro-batches of "
                        "new transcripts run delta incremental ER against durable "
                        "state under --state-dir (availableNow trigger: drain what "
                        "is there, then exit; rerun as files arrive or swap in a "
                        "continuous trigger)")
    p.add_argument("--state-dir",
                   help="durable feature/assignment state root for --stream")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    # spark-submit provides master, executors, memory and partitions; only
    # the engine-level knobs tests and bench run with are applied here, so
    # the same job runs on any cluster size — that is what the N-vs-4N
    # scaling criterion measures.
    from pyspark.sql import SparkSession

    from blink_spark.session import ENGINE_CONF

    spark = SparkSession.builder.appName("blink_spark_er_job").config(map=ENGINE_CONF).getOrCreate()

    from blink_spark import metrics, synth
    from blink_spark.checkpoint import CheckpointManager
    from blink_spark.operators import scoring
    from blink_spark.pipeline import ERPipeline, PipelineConfig

    labels = None
    if args.synth:
        transcripts, labels = synth.transcripts_df(
            spark, synth.SynthConfig(n_conversations=args.synth, seed=args.seed)
        )
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        raise SystemExit("one of --input or --synth is required")
    if args.labels:
        labels = spark.read.parquet(args.labels)

    cfg = PipelineConfig()
    if args.threshold is not None:
        cfg.scoring = scoring.ScoringConfig(threshold=args.threshold)
    if args.max_block_size is not None:
        cfg.blocking.max_block_size = args.max_block_size
    if args.overflow is not None:
        cfg.blocking.overflow = args.overflow
    if args.snm_window is not None:
        cfg.blocking.snm_window = args.snm_window

    if args.stream:
        # streaming incremental ER: each micro-batch of arriving transcripts
        # is a delta update (new×(new∪old) blocking, star-edge CC merge)
        # against durable state; the final assignments table is the output.
        if not args.input or not args.state_dir:
            raise SystemExit("--stream requires --input (source dir) and --state-dir")
        from blink_spark.operators import incremental

        schema = spark.read.parquet(args.input).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(args.input)
        )
        sq = incremental.incremental_er_stream(
            stream, state_dir=args.state_dir,
            checkpoint_dir=f"{args.checkpoint_dir}/{args.run_id}/stream", config=cfg,
        )
        sq.awaitTermination()
        assignments = incremental.read_latest_assignments(spark, args.state_dir)
        assignments.write.mode("overwrite").parquet(args.output)
        out = {"mode": "stream", "output": args.output}
        if labels is not None:
            out.update(metrics.evaluate(assignments, labels))
        out["cluster_stats"] = metrics.cluster_stats(assignments)
        print("RESULT " + json.dumps(out), flush=True)
        spark.stop()
        return 0

    mgr = CheckpointManager(spark, args.checkpoint_dir, run_id=args.run_id)
    res = ERPipeline(cfg).run(spark, transcripts, checkpoints=mgr)
    res.assignments.write.mode("overwrite").parquet(args.output)

    out = {"metrics": res.metrics, "output": args.output}
    if labels is not None:
        out.update(metrics.evaluate(res.assignments, labels, pairs=res.pairs))
    out["cluster_stats"] = metrics.cluster_stats(res.assignments)
    print("RESULT " + json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
