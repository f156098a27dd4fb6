"""Closed-loop end-to-end benchmark of the blink_spark ER engine.

One client, one process: the driver starts ``local[nproc]`` through
``blink_spark.session.get_spark`` and runs ER operations back to back, each
starting only after the previous one ended, for ``--seconds`` seconds.

    python3 erbench/run.py --workload batch_default --seed 1 --seconds 20 --trace 0

Workloads (see erbench/README.md for why each exists):

* ``batch_default`` -- the ship path of ``scripts/er_job.py``
  (``ERPipeline.run`` with a ``CheckpointManager``, then the assignments
  write) over the default synthetic shape;
* ``batch_long``    -- the same op over long same-domain transcripts;
* ``stream_delta``  -- one ``incremental.process_er_batch`` per op, each
  resolving the same small delta slice against the same durable base state.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs
``erbench/trace_run.py`` instead and prints the per-layer metrics. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; run details (environment, host calibration, per-op walls) go
to stderr.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fixed so runs do not depend on the host's defaults: get_spark's 48g
# default heap does not fit a 15 GB host; 4g holds every workload here.
DRIVER_HEAP = "4g"
MIN_F1 = 0.99

WORKLOADS = {
    # n_conversations counts BASE conversations; dup 0.3 with 1..3 copies
    # adds ~60% more, e.g. 1000 base -> ~1.6k convs
    "batch_default": dict(kind="batch", n_conversations=1000, mean_turns=8),
    "batch_long": dict(kind="batch", n_conversations=300, mean_turns=30),
    "stream_delta": dict(kind="stream", n_conversations=500, mean_turns=8, delta_share=0.05),
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- host calibration and process-tree accounting ---------------------------

def calibrate(seed: int = 7) -> float:
    """Seconds for a fixed, seeded single-threaded numpy workload (~1 s).
    Information only: it shows whether the host, not the code, moved."""
    import numpy as np

    rng = np.random.default_rng(seed)
    x = rng.random(1 << 21)
    t0 = time.perf_counter()
    for _ in range(3):
        np.sort(x, kind="stable")
        np.cumsum(x)
    return time.perf_counter() - t0


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


_CLK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User+sys CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in process_tree(root):
        st = _proc_stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _CLK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak RSS (VmHWM) in the tree."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


# -- inputs -------------------------------------------------------------------

@dataclass
class Inputs:
    transcripts: str            # parquet path the engine reads
    conv_ids: list[str]         # every conversation in ``transcripts``
    n_turns: int
    delta: str = ""             # stream: the delta slice's parquet path
    delta_ids: list[str] = field(default_factory=list)
    delta_turns: int = 0


def make_inputs(name: str, seed: int, work: str) -> Inputs:
    """Generate the workload's corpus with the repo's synthetic generator and
    write it as parquet with pyarrow, before any Spark session exists."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from blink_spark import synth

    spec = WORKLOADS[name]
    tp, _ = synth.generate_pandas(
        synth.SynthConfig(
            n_conversations=spec["n_conversations"],
            mean_turns=spec["mean_turns"],
            seed=seed,
            n_negative_pairs=0,
        )
    )
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    tp["ts"] = tp["ts"].dt.tz_localize("UTC")

    def write(df, path):
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)
        return path

    ids = sorted(tp["conv_id"].unique())
    if spec["kind"] == "batch":
        path = write(tp, os.path.join(work, "transcripts.parquet"))
        return Inputs(path, ids, len(tp))
    # stream: a random delta_share of the conversations is the delta, the
    # rest is the base
    m = round(spec["delta_share"] * len(ids))
    picked = np.random.default_rng(seed + 1).permutation(len(ids))[:m]
    in_delta = tp["conv_id"].isin({ids[x] for x in picked})
    base, delta = tp[~in_delta], tp[in_delta]
    return Inputs(
        write(base, os.path.join(work, "base.parquet")),
        sorted(base["conv_id"].unique()),
        len(base),
        write(delta, os.path.join(work, "delta.parquet")),
        sorted(delta["conv_id"].unique()),
        len(delta),
    )


# -- correctness oracle -------------------------------------------------------

def _pairs(sizes) -> int:
    return int(sum(int(n) * (int(n) - 1) // 2 for n in sizes))


def check_assignments(path: str, expected_ids: list[str]) -> tuple[bool, float, str]:
    """Read an assignments table with pyarrow and score it in pandas against
    the planted entities encoded in the conv ids (``e{entity}_c{copy}``).
    Returns (ok, all-pairs F1, reason). Independent of blink_spark.metrics."""
    import pyarrow.parquet as pq

    df = pq.read_table(path, columns=["conv_id", "cluster_id"]).to_pandas()
    if len(df) != len(expected_ids) or df["conv_id"].duplicated().any():
        return False, 0.0, f"{len(df)} rows for {len(expected_ids)} conversations"
    if set(df["conv_id"]) != set(expected_ids):
        return False, 0.0, "conversation set differs from the input"
    df["entity"] = df["conv_id"].str.split("_", n=1).str[0]
    tp = _pairs(df.groupby(["cluster_id", "entity"]).size())
    pred = _pairs(df.groupby("cluster_id").size())
    gold = _pairs(df.groupby("entity").size())
    f1 = 2 * tp / (pred + gold) if pred + gold else 1.0
    if f1 < MIN_F1:
        return False, f1, f"pairwise F1 {f1:.5f} < {MIN_F1}"
    return True, f1, ""


# -- workloads ----------------------------------------------------------------

@dataclass
class OpResult:
    wall_s: float
    turns: int
    output: str
    expected_ids: list[str]
    counts: dict = field(default_factory=dict)   # exact counts that must repeat


def job_count(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


class BatchWorkload:
    """Ship path of scripts/er_job.py: checkpointed ERPipeline.run, then the
    assignments write."""

    # the first op of a session runs 2-3x slower (JIT, worker start-up), so
    # it is run in set-up and not timed
    cold_op = True

    def __init__(self, spark, inp: Inputs, work: str):
        from blink_spark.pipeline import PipelineConfig

        self.spark, self.inp, self.work = spark, inp, work
        self.cfg = PipelineConfig()
        self.transcripts = spark.read.parquet(inp.transcripts)

    def setup(self) -> None:
        pass

    def op(self, i: int, group: str | None = None) -> OpResult:
        from blink_spark.checkpoint import CheckpointManager
        from blink_spark.pipeline import ERPipeline

        group = group or f"op{i}"
        out = os.path.join(self.work, f"out{i}")
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        mgr = CheckpointManager(self.spark, os.path.join(self.work, "ck"), run_id=f"op{i}")
        res = ERPipeline(self.cfg).run(self.spark, self.transcripts, checkpoints=mgr)
        res.assignments.write.mode("overwrite").parquet(out)
        res.unpersist()
        wall = time.perf_counter() - t0
        counts = {
            "pipeline.jobs": job_count(self.spark, group),
            "block.pairs_out": res.metrics["n_candidate_pairs"],
            "score.edges_out": res.metrics["n_match_edges"],
        }
        return OpResult(wall, self.inp.n_turns, out, self.inp.conv_ids, counts)

    def cleanup(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, "ck", f"op{i}"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, f"out{i}"), ignore_errors=True)


class StreamWorkload:
    """One streaming micro-batch step per op: process_er_batch of the delta
    slice against the durable base state (features/batch_id=0,
    assignments/v=0). Each op's own batch_id=1 / v=1 outputs are removed
    after it, untimed, so every op sees identical state."""

    BATCH_ID = 1
    # the base-state build runs every batch kernel first, and a second ~30 s
    # op does not fit the run budget; the timed op is the first delta op, so
    # it carries the same left-over warm-up in every run
    cold_op = False

    def __init__(self, spark, inp: Inputs, work: str):
        from blink_spark.pipeline import PipelineConfig

        self.spark, self.inp, self.work = spark, inp, work
        self.cfg = PipelineConfig()
        self.state = os.path.join(work, "state")
        self.delta = spark.read.parquet(inp.delta)

    def setup(self) -> None:
        """Build the base state with the batch ship path (the incremental path
        against empty state is several times slower for the same result)."""
        from blink_spark.checkpoint import CheckpointManager
        from blink_spark.pipeline import ERPipeline

        ck = os.path.join(self.work, "ck")
        res = ERPipeline(self.cfg).run(
            self.spark,
            self.spark.read.parquet(self.inp.transcripts),
            checkpoints=CheckpointManager(self.spark, ck, run_id="base"),
            compute_metrics=False,
        )
        res.features.write.parquet(os.path.join(self.state, "features", "batch_id=0"))
        res.assignments.write.parquet(os.path.join(self.state, "assignments", "v=0"))
        res.unpersist()
        shutil.rmtree(ck, ignore_errors=True)

    def op(self, i: int, group: str | None = None) -> OpResult:
        from blink_spark.operators import incremental

        group = group or f"op{i}"
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        incremental.process_er_batch(self.delta, self.BATCH_ID, self.state, self.cfg)
        wall = time.perf_counter() - t0
        out = os.path.join(self.state, "assignments", f"v={self.BATCH_ID}")
        return OpResult(
            wall,
            self.inp.delta_turns,
            out,
            self.inp.conv_ids + self.inp.delta_ids,
            {"pipeline.jobs": job_count(self.spark, group)},
        )

    def cleanup(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.state, "assignments", f"v={self.BATCH_ID}"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.state, "features", f"batch_id={self.BATCH_ID}"), ignore_errors=True)


def make_workload(name: str, spark, inp: Inputs, work: str):
    cls = BatchWorkload if WORKLOADS[name]["kind"] == "batch" else StreamWorkload
    return cls(spark, inp, work)


class RepeatCheck:
    """Exact counts must repeat across the ops of a run (all ops of a run
    resolve the same input against the same state)."""

    def __init__(self):
        self.first: dict | None = None

    def __call__(self, counts: dict) -> str:
        first = self.first = self.first or counts
        diff = {k: (first.get(k), v) for k, v in counts.items() if first.get(k) != v}
        return f"counts changed between repeats: {diff}" if diff else ""


def run_checked(wl, i: int, repeat: RepeatCheck, group: str | None = None):
    """Run op ``i``, check its output outside the timed section and remove
    it. Returns (OpResult or None, ok, f1)."""
    try:
        r = wl.op(i, group)
        ok, f1, why = check_assignments(r.output, r.expected_ids)
        why = why or repeat(r.counts)
        ok = ok and not why
        if why:
            log(f"op {i} incorrect: {why}")
        return r, ok, f1
    except Exception:  # a failed op counts against ok_share; the loop goes on
        log(f"op {i} failed:\n{traceback.format_exc()}")
        return None, False, 0.0
    finally:
        wl.cleanup(i)


def run_cold_op(wl, repeat: RepeatCheck) -> None:
    """The workload's cold first op, if it has one; it is set-up, not timed."""
    if wl.cold_op:
        _, ok, _ = run_checked(wl, 0, repeat, group="cold")
        if not ok:
            raise RuntimeError("cold op failed; see above")


# -- session ------------------------------------------------------------------

def start_session(work: str, extra: dict | None = None):
    """Start local[nproc] with the engine's standard config, every scratch
    directory inside ``work``. Returns (spark, seconds)."""
    from blink_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    conf.update(extra or {})
    t0 = time.perf_counter()
    spark = session.get_spark("erbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait until the JVM and the Python
    workers it started have exited."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    pids = process_tree(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in pids if (st := _proc_stat(p)) is not None and st[0] != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after Spark stopped: {alive}")


def prepare_env(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(env)
    # the Python workers import blink_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    return env


# -- untraced run -------------------------------------------------------------

def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def another_op_fits(t0: float, seconds: float, n_done: int) -> bool:
    """Closed loop: start another op only if, at the mean op time so far, it
    ends within ``seconds`` of ``t0``. The first op always runs."""
    elapsed = time.perf_counter() - t0
    return elapsed + elapsed / n_done <= seconds


def run_untraced(name: str, seconds: float, inp: Inputs, work: str) -> tuple[dict, list]:
    t_setup = time.perf_counter()
    spark, session_s = start_session(work)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    wl = make_workload(name, spark, inp, work)
    repeat = RepeatCheck()
    try:
        wl.setup()
        t_cold = time.perf_counter()
        run_cold_op(wl, repeat)
        setup_s = time.perf_counter() - t_setup
        ops = [{"session_s": round(session_s, 3), "cold_op_s": round(time.perf_counter() - t_cold, 3)}]

        walls, rates, cpus, f1s = [], [], [], []
        n_ok = 0
        t0 = time.perf_counter()
        i = 1
        while True:
            c0 = tree_cpu_s(jvm_pid)
            r, ok, f1 = run_checked(wl, i, repeat)
            c1 = tree_cpu_s(jvm_pid)
            ops.append({"op": i, "ok": ok, "wall_s": r and round(r.wall_s, 4), "cpu_s": round(c1 - c0, 2)})
            f1s.append(f1)
            if r is not None:
                walls.append(r.wall_s)
                rates.append(r.turns / r.wall_s)
                cpus.append(c1 - c0)
            n_ok += ok
            i += 1
            if not another_op_fits(t0, seconds, i - 1):
                break
        ops.append({"peak_rss_mb": round(tree_peak_rss_mb(jvm_pid), 1),
                    "processes": len(process_tree(jvm_pid))})
    finally:
        stop_session(spark)

    attempted = i - 1
    med = lambda xs: statistics.median(xs) if xs else 0.0
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "turns_per_s": metric(med(rates), "turns/s"),
        "op_s_p50": metric(med(walls), "s"),
        "cpu_s_per_op": metric(med(cpus), "s"),
        "pairwise_f1": metric(min(f1s), "ratio"),
        "ok_share": metric(n_ok / attempted, "ratio"),
    }
    return {"correct": n_ok == attempted, "attempted": attempted, "failed": attempted - n_ok, "metrics": metrics}, ops


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("blink_spark") is None:
        sys.exit(f"blink_spark not found under {ROOT}")

    work = os.path.join(ROOT, ".erbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        # before anything imports blink_spark.session, which reads the env
        env = prepare_env(work)
        calib_before = calibrate()
        inp = make_inputs(args.workload, args.seed, work)
        if args.trace:
            import trace_run

            result, info = trace_run.run_traced(args.workload, args.seconds, inp, work, args.seed)
        else:
            result, info = run_untraced(args.workload, args.seconds, inp, work)
        calib_after = calibrate()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": {k: v for k, v in env.items() if k.startswith("SPARK")},
        "corpus": {"conversations": len(inp.conv_ids), "turns": inp.n_turns,
                   "delta_turns": inp.delta_turns},
        "calibration_s": {"before": round(calib_before, 4), "after": round(calib_after, 4)},
        "ops": info,
    }))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
