"""Traced run of one workload: per-layer metrics (``run.py --trace 1``).

Spans are recorded around the calls into each layer's public functions and
kept in memory; each span also sets ``SparkContext.setJobGroup(<layer>#<it>)``
so Spark's own event log (enabled only in this run) can be aggregated per
layer and per iteration. An iteration runs the untraced ship op, the same op
traced, and the untraced op again; ``trace.overhead_s`` compares the traced
op with the untraced op after it. The traced op runs the real code path with
one materialization per stage:

* batch: ``ERPipeline.run`` with a checkpoint manager whose ``stage`` opens
  the layer's span -- every stage's checkpoint write is its materialization;
* stream: ``incremental.process_er_batch`` with the functions
  ``incremental_update`` looks up at call time (``compute_features``,
  ``delta_candidate_pairs``, ``score_pairs``, ``connected_components``)
  wrapped, for this op only, so each opens its layer's span and persists
  and counts its result.

Counts that need extra Spark jobs run afterwards under the ``stats`` group,
which no layer metric includes. Kernel timings run in the driver on batches
drawn from the workload's own documents and candidate pairs.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

# imported after run.prepare_env has pinned the session's environment
import run as R
from blink_spark.checkpoint import CheckpointManager
from blink_spark.functions import hashing as H
from blink_spark.functions import strsim
from blink_spark.operators import blocking, clustering, incremental, scoring
from blink_spark.pipeline import ERPipeline

LAYERS = ("features", "block", "score", "cluster", "delta")
GENERIC = (
    "wall_s", "busy_s", "cpu_s", "gc_s", "jobs", "stages", "tasks",
    "shuffle_bytes", "shuffle_read_bytes", "spill_bytes", "task_skew",
)
KERNELS = (
    "token_shingles", "minhash", "char_ngrams", "simhash", "vectors",
    "arrow_convert", "jaccard", "levenshtein", "jaro_winkler",
)
SPECIFIC = {
    "session.start_s": "s",
    "memory.peak_rss_mb": "MB",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "features.rows_out": "count",
    "block.key_rows": "count",
    "block.dropped_keys": "count",
    "block.dropped_key_rows": "count",
    "block.pairs_out": "count",
    "score.pairs_in": "count",
    "score.pass2_share": "ratio",
    "score.edges_out": "count",
    "cluster.edges_in": "count",
    "cluster.components": "count",
    "checkpoint.write_s": "s",
    "checkpoint.bytes": "bytes",
    "delta.pairs_wall_s": "s",
    "delta.pairs_out": "count",
    "delta.update_wall_s": "s",
    "delta.batch_wall_s": "s",
    "trace.overhead_s": "s",
}
_GENERIC_UNITS = {
    "wall_s": "s", "busy_s": "s", "cpu_s": "s", "gc_s": "s", "jobs": "count",
    "stages": "count", "tasks": "count", "shuffle_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "spill_bytes": "bytes", "task_skew": "ratio",
}
# exact counts that must repeat across iterations on the same input
EXACT = ("pipeline.jobs", "block.pairs_out", "score.edges_out", "delta.pairs_out")
KERNEL_ROWS = 2048


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    units = dict(SPECIFIC)
    for layer in LAYERS:
        for g in GENERIC:
            units[f"{layer}.{g}"] = _GENERIC_UNITS[g]
    for k in KERNELS:
        units[f"kernel.{k}_ms"] = "ms"
    return units


# -- spans --------------------------------------------------------------------

class Tracer:
    """In-memory spans; a span with a ``group`` also tags the Spark jobs it
    starts with that job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []

    def group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        rec = {"id": len(self.spans), "name": name, "parent": self.stack[-1] if self.stack else None,
               "group": group, **attrs, "start": time.perf_counter()}
        self.spans.append(rec)
        self.stack.append(rec["id"])
        if group:
            self.group(group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()

    def wall(self, group: str) -> float:
        """Summed duration of the spans that set job group ``group``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["group"] == group)


STAGE_LAYER = {"s0_docs": "features", "s1_features": "features", "s2_pairs": "block",
               "s3_scored": "score", "s4_clusters": "cluster"}


@dataclass
class TracedCheckpoints(CheckpointManager):
    """Opens the layer's span around each stage's checkpoint write."""

    tracer: Tracer | None = None
    it: int = 0

    def stage(self, name, compute, partition_by=None):
        layer = STAGE_LAYER[name]
        with self.tracer.span(layer, f"{layer}#{self.it}"):
            df = super().stage(name, compute, partition_by=partition_by)
        self.tracer.group(f"finalize#{self.it}")
        return df


# -- traced ops ---------------------------------------------------------------

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(f))


def traced_batch_op(wl, tr: Tracer, it: int) -> tuple[float, dict, dict]:
    """The ship path with a span per stage. Returns (wall, counts, frames)."""
    spark, cfg = wl.spark, wl.cfg
    ck = os.path.join(wl.work, "ck")
    mgr = TracedCheckpoints(spark, ck, run_id=f"t{it}", tracer=tr, it=it)
    out = os.path.join(wl.work, f"tout{it}")
    with tr.span("op", f"finalize#{it}") as op:
        res = ERPipeline(cfg).run(spark, wl.transcripts, checkpoints=mgr)
        with tr.span("write", f"finalize#{it}"):
            res.assignments.write.mode("overwrite").parquet(out)
    wall = op["end"] - op["start"]
    res.unpersist()

    tr.group(f"stats#{it}")
    keys = blocking.block_keys(res.features)
    _, dropped = blocking.cap_blocks(keys, cfg.blocking.max_block_size)
    d = dropped.agg(F.count(F.lit(1)).alias("n"), F.sum("block_size").alias("rows")).collect()[0]
    edges = scoring.match_edges(res.scored, cfg.scoring)
    pairs = mgr.lineage("s2_pairs")["rows"]
    n_edges = edges.count()
    counts = {
        "features.rows_out": mgr.lineage("s1_features")["rows"],
        "block.key_rows": keys.count(),
        "block.dropped_keys": int(d["n"]),
        "block.dropped_key_rows": int(d["rows"] or 0),
        "block.pairs_out": pairs,
        "score.pairs_in": pairs,
        "score.pass2_share": res.scored.where(~F.isnan("lev_ratio")).count() / max(pairs, 1),
        "score.edges_out": n_edges,
        "cluster.edges_in": n_edges,
        "cluster.components": mgr.read("s4_clusters").select("cluster_id").distinct().count(),
        "checkpoint.write_s": sum(mgr.lineage(s)["wall_sec"] for s in mgr.stages_written),
        "checkpoint.bytes": _dir_bytes(os.path.join(ck, f"t{it}")),
    }
    frames = {"docs": res.docs, "pairs": res.pairs, "features": res.features,
              "check": R.check_assignments(out, wl.inp.conv_ids),
              "paths": [os.path.join(ck, f"t{it}"), out]}
    return wall, counts, frames


@contextmanager
def hooked(module, name: str, wrap):
    """Replace ``module.name`` by ``wrap(original)`` for the block's duration."""
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def traced_stream_op(wl, tr: Tracer, it: int) -> tuple[float, dict, dict]:
    """process_er_batch of the delta with a span per incremental layer."""
    spark, cfg = wl.spark, wl.cfg
    seen: dict[str, tuple] = {}   # layer -> (call args, persisted result, rows)
    caches = []

    def layer(name):
        def wrap(fn):
            def traced(*args, **kwargs):
                with tr.span(name, f"{name}#{it}") as rec:
                    df = fn(*args, **kwargs).persist()
                    rec["rows"] = df.count()
                caches.append(df)
                seen[name] = (args, df, rec["rows"])
                tr.group(f"state_io#{it}")
                return df
            return traced
        return wrap

    def update(fn):
        def traced(*args, **kwargs):
            with tr.span("update", None):
                return fn(*args, **kwargs)
        return traced

    with (
        hooked(blocking, "compute_features", layer("features")),
        hooked(incremental, "delta_candidate_pairs", layer("delta")),
        hooked(scoring, "score_pairs", layer("score")),
        hooked(clustering, "connected_components", layer("cluster")),
        hooked(incremental, "incremental_update", update),
        tr.span("op", f"state_io#{it}") as op,
    ):
        incremental.process_er_batch(wl.delta, wl.BATCH_ID, wl.state, cfg)
    wall = op["end"] - op["start"]
    upd = next(s for s in reversed(tr.spans) if s["name"] == "update")

    tr.group(f"stats#{it}")
    (f_old, f_new), pairs, n_pairs = seen["delta"][0][:2], seen["delta"][1], seen["delta"][2]
    scored = seen["score"][1]
    counts = {
        "features.rows_out": seen["features"][2],
        "score.pairs_in": n_pairs,
        "score.pass2_share": scored.where(~F.isnan("lev_ratio")).count() / max(n_pairs, 1),
        "score.edges_out": scoring.match_edges(scored, cfg.scoring).count(),
        "cluster.edges_in": seen["cluster"][0][0].count(),
        "cluster.components": seen["cluster"][1].select("cluster_id").distinct().count(),
        "delta.pairs_out": n_pairs,
        "delta.pairs_wall_s": tr.wall(f"delta#{it}"),
        "delta.update_wall_s": upd["end"] - upd["start"],
        "delta.batch_wall_s": wall,
    }
    out = os.path.join(wl.state, "assignments", f"v={wl.BATCH_ID}")
    check = R.check_assignments(out, wl.inp.conv_ids + wl.inp.delta_ids)
    frames = {"docs": blocking.conversation_docs(spark.read.parquet(wl.inp.transcripts)),
              "pairs": pairs, "features": f_old.unionByName(f_new), "check": check, "caches": caches}
    return wall, counts, frames


# -- kernels ------------------------------------------------------------------

def _median_ms(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append((time.perf_counter() - t0) * 1000)
    return statistics.median(ts)


def time_kernels(docs, pairs, features, cfg) -> dict[str, float]:
    """ms per KERNEL_ROWS-row batch for each hashing / strsim kernel, on
    batches of this workload's own documents and candidate pairs, plus the
    pandas<->Arrow conversion of the feature and score batches."""
    bc = cfg.blocking
    docs.sparkSession.sparkContext.setJobGroup("kernels", "kernels")
    doc_t = pa.Table.from_pandas(docs.orderBy("conv_id").limit(KERNEL_ROWS).toPandas(), preserve_index=False)
    pair_t = pa.Table.from_pandas(
        scoring.pair_features(pairs.orderBy("conv_a", "conv_b").limit(KERNEL_ROWS), features)
        .toPandas(), preserve_index=False)
    dscale, pscale = KERNEL_ROWS / max(doc_t.num_rows, 1), KERNEL_ROWS / max(pair_t.num_rows, 1)

    dpdf = doc_t.to_pandas()
    texts = dpdf["doc"].fillna("").tolist()
    tokens = [t.split() for t in texts]
    mh = H.MinHasher(num_perm=bc.num_perm, seed=bc.seed)
    sets = H.token_shingles_batch(tokens, k=bc.shingle_k)
    cgrams = H.char_ngrams_hashed_batch(texts, n=bc.char_ngram)
    sh = H.simhash64(cgrams)
    # the frames the feature and pass-1 score UDFs hand back to Arrow
    feat_out = dpdf[["conv_id", "n_turns"]].assign(
        doc_head=[t[:256] for t in texts],
        shingles=[np.unique(s.astype(np.uint32)).view(np.int32).tolist() for s in sets],
        vec=list(H.vectors_from_hashes(cgrams, dim=bc.vec_dim)),
        minhash_keys=[r.tolist() for r in mh.band_keys(mh.signatures(sets), bc.minhash_bands)],
        simhash_keys=[r.tolist() for r in H.simhash_band_keys(sh, bands=bc.simhash_bands)],
        simhash=sh.view(np.int64),
    )

    ppdf = pair_t.to_pandas()
    sa, sb = list(ppdf["shingles_a"].to_numpy()), list(ppdf["shingles_b"].to_numpy())
    ha = [h or "" for h in ppdf["head_a"].to_numpy()]
    hb = [h or "" for h in ppdf["head_b"].to_numpy()]
    score_out = ppdf[["conv_a", "conv_b"]].assign(jaccard=0.5, cosine=0.5, turn_agree=0.5)

    ms = {
        "token_shingles": _median_ms(lambda: H.token_shingles_batch(tokens, k=bc.shingle_k)) * dscale,
        "minhash": _median_ms(lambda: mh.band_keys(mh.signatures(sets), bc.minhash_bands)) * dscale,
        "char_ngrams": _median_ms(lambda: H.char_ngrams_hashed_batch(texts, n=bc.char_ngram)) * dscale,
        "simhash": _median_ms(lambda: H.simhash_band_keys(H.simhash64(cgrams), bands=bc.simhash_bands)) * dscale,
        "vectors": _median_ms(lambda: H.vectors_from_hashes(cgrams, dim=bc.vec_dim)) * dscale,
        "arrow_convert": (
            _median_ms(lambda: (doc_t.to_pandas(), pa.Table.from_pandas(feat_out, preserve_index=False))) * dscale
            + _median_ms(lambda: (pair_t.to_pandas(), pa.Table.from_pandas(score_out, preserve_index=False))) * pscale
        ),
        "jaccard": _median_ms(lambda: strsim.jaccard_sorted_batch(sa, sb)) * pscale,
        "levenshtein": _median_ms(lambda: strsim.levenshtein_ratio_batch(ha, hb)) * pscale,
        "jaro_winkler": _median_ms(
            lambda: strsim.jaro_winkler_batch([h[:64] for h in ha], [h[:64] for h in hb])) * pscale,
    }
    return {f"kernel.{k}_ms": v for k, v in ms.items()}


# -- Spark event log ----------------------------------------------------------

def aggregate_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, busy/CPU/GC seconds, shuffle
    write/read bytes, spill bytes, and task skew (max / median task time of
    the group's busiest stage)."""
    jobs: dict[str, int] = defaultdict(int)
    stage_group: dict[int, str] = {}
    tasks: dict[int, list] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[(ev.get("Properties") or {}).get("spark.jobGroup.id")] += 1
            elif kind == "SparkListenerStageSubmitted":
                stage_group[ev["Stage Info"]["Stage ID"]] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                sr = m.get("Shuffle Read Metrics") or {}
                tasks[ev["Stage ID"]].append((
                    info["Finish Time"] - info["Launch Time"],
                    m.get("Executor Run Time", 0) / 1e3,
                    m.get("Executor CPU Time", 0) / 1e9,
                    m.get("JVM GC Time", 0) / 1e3,
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    m.get("Disk Bytes Spilled", 0),
                ))
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    busiest: dict[str, tuple[float, int]] = {}
    for sid, ts in tasks.items():
        g = stage_group.get(sid)
        agg = out[g]
        agg["stages"] += 1
        agg["tasks"] += len(ts)
        for key, col in (("busy_s", 1), ("cpu_s", 2), ("gc_s", 3), ("shuffle_bytes", 4),
                         ("shuffle_read_bytes", 5), ("spill_bytes", 6)):
            agg[key] += sum(t[col] for t in ts)
        busy = sum(t[1] for t in ts)
        if busy >= busiest.get(g, (-1.0, 0))[0]:
            busiest[g] = (busy, sid)
    for g, (_, sid) in busiest.items():
        durs = [t[0] for t in tasks[sid]]
        out[g]["task_skew"] = max(durs) / max(statistics.median(durs), 1)
    for g, n in jobs.items():
        out[g]["jobs"] = n
    return out


# -- the run ------------------------------------------------------------------

def run_traced(name: str, seconds: float, inp, work: str, seed: int) -> tuple[dict, dict]:
    evdir = os.path.join(work, "eventlog")
    os.makedirs(evdir)
    spark, session_s = R.start_session(work, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    wl = R.make_workload(name, spark, inp, work)
    tr = Tracer(spark)
    stream = R.WORKLOADS[name]["kind"] == "stream"
    traced_op = traced_stream_op if stream else traced_batch_op
    repeat, traced_repeat = R.RepeatCheck(), R.RepeatCheck()
    iters, n_ok, attempted = [], 0, 0
    try:
        wl.setup()
        R.run_cold_op(wl, repeat)
        t0 = time.perf_counter()
        it = 0
        while it == 0 or R.another_op_fits(t0, seconds, it):
            # untraced, traced, untraced. The first op after set-up is still
            # warming (12.6 s vs 10.1 s on batch_default, 40 s vs 28 s on
            # stream_delta), so the traced op is compared with the one after
            # it; any warm-up left counts against tracing, never for it
            i = 3 * it + 2
            before, ok_a, _ = R.run_checked(wl, i - 1, repeat, group=f"pipeline#{it}")
            wall, counts, frames = traced_op(wl, tr, it)
            ok_t, _, why = frames["check"]
            bad = traced_repeat({k: counts[k] for k in EXACT if k in counts})
            ok_t = ok_t and not bad
            if why or bad:
                R.log(f"traced op {it} incorrect: {why or bad}")
            if it == 0:
                kernels = time_kernels(frames["docs"], frames["pairs"], frames["features"], wl.cfg)
            for df in frames.get("caches", []):
                df.unpersist()
            for path in frames.get("paths", []):
                shutil.rmtree(path, ignore_errors=True)
            wl.cleanup(i)
            after, ok_b, _ = R.run_checked(wl, i + 1, repeat, group=f"untraced#{it}")
            attempted += 3
            n_ok += ok_a + ok_t + ok_b
            iters.append({"before_s": before and before.wall_s, "traced_s": wall,
                          "after_s": after and after.wall_s, "counts": counts})
            it += 1
        peak_rss = R.tree_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        R.stop_session(spark)

    logs = glob.glob(os.path.join(evdir, "*"))
    groups = aggregate_event_log(logs[0])
    per_iter = []
    for i, rec in enumerate(iters):
        vals = dict(rec["counts"])
        for layer in LAYERS:
            g = groups.get(f"{layer}#{i}", {})
            for key in GENERIC:
                vals[f"{layer}.{key}"] = g.get(key, 0)
            # layer walls come from the spans, not the event log
            vals[f"{layer}.wall_s"] = tr.wall(f"{layer}#{i}")
        pipe = groups.get(f"pipeline#{i}", {})
        vals["pipeline.jobs"] = pipe.get("jobs", 0)
        vals["pipeline.tasks"] = pipe.get("tasks", 0)
        vals["trace.overhead_s"] = rec["traced_s"] - (rec["after_s"] or 0.0)
        per_iter.append(vals)

    units = metric_units()
    metrics = {}
    for key, unit in units.items():
        if key == "session.start_s":
            v = session_s
        elif key == "memory.peak_rss_mb":
            v = peak_rss
        elif key.startswith("kernel."):
            v = kernels[key]
        else:
            v = statistics.median(float(p.get(key, 0.0)) for p in per_iter)
        metrics[key] = R.metric(v, unit)

    trace_dir = os.path.join(R.ROOT, ".erbench", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{name}-s{seed}.json"), "w") as f:
        json.dump({"spans": tr.spans, "iterations": per_iter,
                   "job_groups": {str(k): v for k, v in groups.items()}}, f)
    result = {"correct": n_ok == attempted, "attempted": attempted, "failed": attempted - n_ok,
              "metrics": metrics}
    return result, iters
