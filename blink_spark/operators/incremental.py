"""Incremental ER — delta blocking, scoring, and cluster-state update.

At 10^12 turns the full pipeline never re-runs from scratch: new
conversations arrive continuously and must be resolved against the existing
corpus without touching old×old pairs. The reference's analog is its
prediction cache + resume (``blink/main_dense.py:454-476``: cached entity
encodings are reused, only new mentions are encoded and scored); here the
cached state is the stage-1 feature table plus the current cluster
assignment, and the delta work is

* featurize ONLY the new conversations (same kernel as the batch pipeline);
* generate candidate pairs with at least one NEW side through the same
  :func:`blocking.candidate_pairs` the batch pipeline calls (a batch run is
  the delta against an empty old side): the join runs new×(new ∪ old) on
  the union key table, never old×old, so the pair join costs
  O(|Δ| · blocked-degree), not O(|corpus|²). The hot-block census is not
  delta-sized: it aggregates the whole old ∪ new key table, so every batch
  still reads every committed old feature row once;
* score with the same two-pass scorer;
* update clusters by running connected components over the delta match
  edges UNION the old assignment's star edges (conv_id → cluster_id).

The star-edge trick is what makes the update exact: the old assignment is
itself a spanning forest of the old match graph, so
``CC(E_Δ ∪ star(A_old)) == CC(E_old ∪ E_Δ)`` — components merge correctly
when a new conversation bridges two old clusters, and min-id labels come
out identical to a full-batch run. Asserted by the batch≡incremental
equality test (tests/test_incremental.py).

Honest caveat (order dependence of the skew cap): block-size caps are
computed on the UNION key table, same as a full batch run over the whole
corpus. A pair whose ONLY shared keys were below the cap in an early state
but become hot later would be found by the early incremental run and not
by a from-scratch batch run (and vice versa for the ``min_shared_minhash_
bands`` count when a hot key is dropped). True near-dups share many keys,
so this affects pathological corpora, not planted-duplicate workloads —
but it is why the equality test uses the same cap regime on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.operators import blocking, clustering, scoring
from blink_spark.pipeline import PipelineConfig


@dataclass
class IncrementalResult:
    features: DataFrame      # union feature table (old ∪ new)
    features_new: DataFrame  # features of the delta conversations only
    pairs: DataFrame         # delta candidate pairs (≥1 new side)
    edges: DataFrame         # delta match edges
    assignments: DataFrame   # full updated assignment (every conv_id)
    caches: list

    def unpersist(self, blocking: bool = False) -> None:
        for df in self.caches:
            df.unpersist(blocking)
        self.caches.clear()


# the delta leg of the one stage-1 pair generator; kept as a module global
# so instrumentation can hook the delta join by name
delta_candidate_pairs = blocking.candidate_pairs


def star_edges(assignments: DataFrame) -> DataFrame:
    """Old assignment → spanning-forest edges (conv_id, cluster_id).

    Self-assigned singletons carry no edge (they re-enter CC via the
    singleton coalesce, exactly like the batch pipeline).
    """
    return assignments.where(F.col("conv_id") != F.col("cluster_id")).select(
        F.col("conv_id").alias("conv_a"), F.col("cluster_id").alias("conv_b")
    )


def incremental_update(
    new_transcripts: DataFrame,
    features_old: DataFrame,
    assignments_old: DataFrame,
    config: PipelineConfig | None = None,
) -> IncrementalResult:
    """Resolve a batch of NEW conversations against existing cluster state.

    Returns the union feature table, the delta pairs/edges, and the full
    updated assignment. The caller owns persistence of the returned state
    tables (checkpoint/Iceberg in production; see
    :func:`incremental_er_stream` for the streaming wiring).
    """
    config = config or PipelineConfig()
    caches: list[DataFrame] = []

    docs_new = blocking.conversation_docs(new_transcripts)
    features_new = blocking.compute_features(docs_new, config.blocking).persist()
    caches.append(features_new)

    pairs = delta_candidate_pairs(features_old, features_new, config.blocking, caches=caches)
    features_all = features_old.unionByName(features_new)
    scored = scoring.score_pairs(pairs, features_all, config.scoring, caches=caches)
    edges = scoring.match_edges(scored, config.scoring)

    # CC runs on the TOUCHED subgraph only: a delta edge can change the
    # component of exactly the clusters its endpoints belong to, so star
    # edges are pulled in for those clusters alone and every other
    # assignment passes through untouched. A full-batch CC would label the
    # untouched components identically (no new member, same min-id), so
    # this stays exact while the iterative stage's input drops from
    # O(|corpus|) star edges per batch to O(|touched|) — the difference
    # between a delta update and re-clustering the world at 10^12 turns.
    delta_e = edges.select("conv_a", "conv_b")
    endpoints = (
        delta_e.select(F.col("conv_a").alias("conv_id"))
        .unionByName(delta_e.select(F.col("conv_b").alias("conv_id")))
        .distinct()
    )
    touched_clusters = (
        assignments_old.join(endpoints, "conv_id", "left_semi").select("cluster_id").distinct()
    )
    touched_star = star_edges(
        assignments_old.join(touched_clusters, "cluster_id", "left_semi")
    )
    merged = clustering.connected_components(
        delta_e.unionByName(touched_star), max_iter=config.cc_max_iter
    )
    all_convs = features_all.select("conv_id")
    assignments = (
        all_convs.join(merged, "conv_id", "left")
        .join(
            assignments_old.withColumnRenamed("cluster_id", "_old_cid"), "conv_id", "left"
        )
        .select(
            "conv_id",
            F.coalesce("cluster_id", "_old_cid", F.col("conv_id")).alias("cluster_id"),
        )
    )
    return IncrementalResult(
        features=features_all,
        features_new=features_new,
        pairs=pairs,
        edges=edges,
        assignments=assignments,
        caches=caches,
    )


def _hadoop_path(spark, path_str: str):
    """(FileSystem, Path) for ``path_str`` via the JVM Hadoop FS API — the
    same abstraction Spark itself reads/writes through, so version listing
    and pruning work on HDFS/object stores, not just the local sandbox FS."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def list_committed(
    spark, root: str, prefix: str, before: int | None = None, strict: bool = False
) -> list:
    """Ids ``k`` of the ``<prefix>k`` partition dirs under ``root`` whose
    ``_SUCCESS`` marker exists, ascending, restricted to ``k < before`` when
    given; a missing ``root`` has none. The one lister of both state tables,
    run on the driver through the Hadoop FS API (no Spark job).

    A dir without the marker is a write that never committed. By default it
    is skipped: an assignment version is a whole snapshot, so readers fall
    back to the previous one. ``strict=True`` raises instead — feature
    partitions are additive, and skipping one would silently drop its
    conversations from every later batch."""
    fs, root_path = _hadoop_path(spark, root)
    if not fs.exists(root_path):
        return []
    out = []
    for st in fs.listStatus(root_path):
        name = st.getPath().getName()
        if not name.startswith(prefix) or not name[len(prefix):].isdecimal():
            continue
        k = int(name[len(prefix):])
        if before is not None and k >= before:
            continue
        if fs.exists(spark._jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            out.append(k)
        elif strict:
            raise RuntimeError(
                f"{root}/{name} has no _SUCCESS marker: a torn state write; "
                "restore or remove it before resuming"
            )
    return sorted(out)


def read_latest_assignments(spark, state_dir: str, before: int | None = None) -> DataFrame:
    """The newest committed assignment table (optionally restricted to
    versions ``< before`` — what a replayed batch must read so it never
    sees its own failed attempt's output). Empty-schema frame when no
    version exists yet."""
    versions = list_committed(spark, f"{state_dir}/assignments", "v=", before)
    if not versions:
        return spark.createDataFrame([], "conv_id string, cluster_id string")
    return spark.read.parquet(f"{state_dir}/assignments/v={versions[-1]}")


def read_feature_state(spark, state_dir: str, before: int | None = None) -> DataFrame:
    """The union of the committed feature partitions ``batch_id=k`` (with
    ``k < before`` when given). Empty ``_FEATURE_SCHEMA`` frame before the
    first batch; raises on a torn partition below ``before``, and read
    errors propagate — never an empty or partial state that would yield
    plausible wrong clusters."""
    root = f"{state_dir}/features"
    ids = list_committed(spark, root, "batch_id=", before, strict=True)
    if not ids:
        return spark.createDataFrame([], blocking._FEATURE_SCHEMA)
    return spark.read.parquet(*(f"{root}/batch_id={k}" for k in ids))


def process_er_batch(batch_df: DataFrame, batch_id: int, state_dir: str, config: PipelineConfig) -> None:
    """One foreachBatch step of :func:`incremental_er_stream`, module-level
    so tests can drive it directly (including replaying a batch_id, the
    crash-recovery path Structured Streaming takes after a mid-batch
    failure). Exactly-once state contract, with every read/write pair on
    DISJOINT paths:

    * features: read the committed ``batch_id < current`` partitions (a
      replayed batch must not see its own failed attempt's feature rows —
      otherwise the union feature table would carry every delta conv twice
      and the refreshed assignment would emit duplicate rows), write
      ``batch_id=<current>`` with overwrite (idempotent re-write of the
      batch's OWN partition dir, never one it read).
    * assignments: read the newest committed version ``v < current``
      (``_SUCCESS``-gated), write ``v=<current>``. Versioning — rather
      than overwriting one ``latest`` dir — matters at scale: overwrite
      deletes the target before the job's tasks run, and when the
      refreshed-assignment join reads the SAME dir as a sort-merge join
      (the old side is too big to broadcast precisely when the corpus is
      big), the tasks would read already-deleted files. Writing a new
      version never races its own input; older versions are pruned only
      AFTER the new one commits. Production form: an Iceberg snapshot
      commit — this directory scheme is the same idea on a plain FS.

    A torn or unreadable feature partition raises before ``v=<current>``
    commits (see :func:`read_feature_state`).
    """
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    features_old = read_feature_state(spark, state_dir, before=batch_id)
    assignments_old = read_latest_assignments(spark, state_dir, before=batch_id)

    res = incremental_update(batch_df, features_old, assignments_old, config)
    res.features_new.write.mode("overwrite").parquet(
        f"{state_dir}/features/batch_id={batch_id}"
    )
    res.assignments.write.mode("overwrite").parquet(f"{state_dir}/assignments/v={batch_id}")
    res.unpersist()
    # prune superseded versions — best-effort, strictly after the new
    # version's _SUCCESS exists, and RETAINING the immediate predecessor:
    # the streaming engine commits this batch to its checkpoint only after
    # process() returns, so a crash right here replays batch_id, and that
    # replay must still find the newest version < batch_id (deleting it
    # would make the replay resolve against an empty/stale assignment —
    # caught by the replay test when pruning was first written too eagerly)
    versions = list_committed(spark, f"{state_dir}/assignments", "v=")
    prev = max((v for v in versions if v < batch_id), default=None)
    fs, _ = _hadoop_path(spark, f"{state_dir}/assignments")
    for v in versions:
        if prev is not None and v < prev:
            fs.delete(spark._jvm.org.apache.hadoop.fs.Path(f"{state_dir}/assignments/v={v}"), True)


def incremental_er_stream(
    transcripts_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    config: PipelineConfig | None = None,
):
    """Streaming incremental ER via ``foreachBatch``.

    Maintains two durable state tables under ``state_dir``:
    ``features/batch_id=<id>`` (append-per-batch, replay-idempotent) and
    ``assignments/v=<batch_id>`` (full refreshed assignment, one committed
    version per batch, superseded versions pruned after commit — see
    :func:`process_er_batch` for why versioning beats overwriting a single
    ``latest`` dir). Read them back with :func:`read_latest_assignments`
    and :func:`read_feature_state`. Production sinks would be Iceberg
    tables with MERGE / snapshot commits; the ``_SUCCESS``-gated
    directories are the plain-FS analog.
    """
    config = config or PipelineConfig()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_er_batch(batch_df, int(batch_id), state_dir, config)

    return (
        transcripts_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
