#!/usr/bin/env python3
"""Benchmark of the pyspark_caffe_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

One process is one closed-loop client: it starts a session with
``get_spark(cpus=nproc)``, runs the workload's steps back to back, and
prints one JSON object as its last stdout line.  With ``--trace 0`` the
object carries the end-to-end metrics, which give pass times in units of
a gauge job (a fixed plain-Spark job run between the steps) so that the
drift of a shared host's speed largely cancels; with ``--trace 1`` the
per-layer metrics read from Spark's AppStatusStore.  The line before it is a
record of the environment, the per-step times and any failed step.
perfbench/README.md describes the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import inputs
import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

SF = 0.01
DRIVER_MEM = "2g"
TRAIN_ROWS = 20_000
TRAIN_ROUNDS = 3
MIN_PASSES = 3  # timed passes per run, even past --seconds
SETUPS = 2  # set-ups per run, each a fresh JVM; setup_s takes their median
# untimed gauge jobs after set-up: the gauge's own time falls by a third
# over its first twenty runs
GAUGE_WARMUP = 20

WORKLOADS: dict[str, list[str]] = {
    "query_mix": [
        "agg_hash_groupby", "join_multiway", "win_rank_topk", "agg_q6_selective",
        "fn_map_json", "text_tfidf",
    ],
    "model_ann": [
        "ml_model_apply", "train_generated", "score_generated",
        "sim_knn_ivf_serve_only", "sink_ann_index_compact_only",
    ],
}
MODEL_STEPS = ("train_generated", "score_generated")
# steps that must reuse the persisted index they find (each lays its
# index down itself in the check pass): index-name suffix whose meta
# stamp must not be rewritten
REUSE_STEPS = {"sim_knn_ivf_serve_only": "", "sink_ann_index_compact_only": "_compact"}

END_TO_END = {"setup_s": "s", "wall_rel": "1", "cpu_rel": "1"}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.import_s": "s", "session.start_s": "s", "session.warmup_s": "s",
        "jvm.peak_rss_mb": "MB",
        "pass.wall_s": "s", "pass.cpu_s": "s", "gauge.wall_s": "s", "gauge.cpu_s": "s",
        "tables.load_s": "s", "tables.load_calls": "count", "tables.load_jobs": "count",
        "queries.build_s": "s", "queries.build_jobs": "count",
        "spark.run_s": "s", "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s", "spark.offcpu_s": "s", "spark.gc_s": "s",
        "spark.input_mb": "MB", "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB", "spark.output_mb": "MB",
        "spark.spill_mb": "MB", "spark.result_mb": "MB",
        "model.train_s": "s", "model.train_jobs": "count",
        "model.jobs_per_round": "count", "model.score_s": "s",
        "model.train_mse": "1",
        "ann.serve_s": "s", "ann.compact_jobs": "count", "ann.output_mb": "MB",
        "ann.write_amp": "1", "ann.space_amp": "1", "ann.files": "count",
        "trace.overhead_s": "s",
    }
    for steps in WORKLOADS.values():
        for step in steps:
            units[f"step.{step}.s"] = "s"
            units[f"step.{step}.jobs"] = "count"
    return units


class StepFailed(Exception):
    """A step ran but its output or its side effects were wrong."""


class Bench:
    """One benchmark process: the session, its inputs and its tallies."""

    def __init__(self, args, sf_dir: str, train_path: str):
        self.steps = WORKLOADS[args.workload]
        self.sf_dir = sf_dir
        self.train_path = train_path
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.red: list[dict] = []
        self.weights = None
        self.losses: list[float] = []
        self.passes = 0
        self.train_df = None
        self.build_group: str | None = None
        self.loads: list[float] = []
        self.duck = None  # DuckDB connection holding the oracle views
        self.jvm = None  # the live session's JVM process

    # -- session -------------------------------------------------------

    def start(self, cpus: int) -> dict[str, float]:
        """Set the engine up ``SETUPS`` times, each a fresh JVM plus the
        fixed warm-up job, and keep the last session.  Returns the
        import time and the median of each set-up phase."""
        t0 = time.perf_counter()
        from pyspark_caffe_spark import get_spark, model, recycle_session, tables
        from pyspark_caffe_spark.queries import ORACLES, QUERIES

        self.model, self.tables = model, tables
        self.queries, self.oracles = QUERIES, ORACLES
        import_s = time.perf_counter() - t0
        starts, warmups = [], []
        for i in range(SETUPS):
            if i:
                self.stop()
            t1 = time.perf_counter()
            self.spark = (recycle_session if i else get_spark)("perfbench", cpus=cpus)
            t2 = time.perf_counter()
            # the fixed warm-up job: first job pays class loading and codegen
            self.spark.range(0, 1_000_000, 1, cpus).selectExpr("sum(id % 7)").collect()
            starts.append(t2 - t1)
            warmups.append(time.perf_counter() - t2)
            self.jvm = self.spark.sparkContext._gateway.proc
        self.spark.sparkContext.setLogLevel("ERROR")
        # the gauge runs in a session of its own with its SQL settings
        # pinned, so that no engine setting changes its plan
        self.gauge_session = self.spark.newSession()
        for key, value in (
            ("spark.sql.shuffle.partitions", str(cpus)),
            ("spark.sql.adaptive.enabled", "false"),
        ):
            self.gauge_session.conf.set(key, value)
        self.cpus = cpus
        if self.trace:
            self.stages = probes.StageReader(self.spark)
            self.spy_load_table()
        return {
            "import_s": import_s,
            "start_s": statistics.median(starts),
            "warmup_s": statistics.median(warmups),
            "setup_s": import_s + statistics.median(a + b for a, b in zip(starts, warmups)),
            "setups_s": [a + b for a, b in zip(starts, warmups)],
        }

    def stop(self) -> None:
        """Stop the session and wait for the JVM and its Python workers."""
        tree = probes.descendants(self.jvm.pid)
        gateway = self.spark.sparkContext._gateway
        try:
            self.spark.stop()
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        self.jvm.stdin.close()
        try:
            self.jvm.wait(30)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait(10)
        for pid in probes.wait_gone(tree, 15):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        probes.wait_gone(tree, 5)
        self.jvm = None

    def gauge(self) -> tuple[float, float]:
        """Wall and CPU seconds of a fixed plain-Spark job (one
        aggregation with a shuffle over a generated range) that calls
        no engine code: how fast this box runs Spark right now."""
        c0, t0 = probes.tree_cpu_s(self.jvm.pid), time.perf_counter()
        (self.gauge_session.range(0, 200_000, 1, self.cpus)
         .selectExpr("id % 97 AS k").groupBy("k").count()
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0, probes.tree_cpu_s(self.jvm.pid) - c0

    # -- steps ---------------------------------------------------------

    def build(self, step: str):
        """Call the step's public entry point; return the DataFrame the
        noop sink executes, or None for an eager step."""
        if step in MODEL_STEPS and self.train_df is None:
            # the input read (one schema job) is the client's, not the model's
            self.train_df = self.spark.read.parquet(self.train_path)
        if step == "train_generated":
            self.weights, self.losses = self.model.train_parameter_averaging(
                self.train_df, "x", "y", dim=inputs.TRAIN_DIM, rounds=TRAIN_ROUNDS
            )
            return None
        if step == "score_generated":
            w = self.weights
            lm = self.model.LinearModel(weights=w[:-1], bias=float(w[-1]))
            return self.model.score_column(self.train_df, lm, "x")
        return self.queries[step](self.spark, self.sf_dir)

    def check(self, step: str, df) -> None:
        """Compare one step's output with its reference, outside timing."""
        if step == "train_generated":
            ls = self.losses
            if len(ls) != TRAIN_ROUNDS + 1 or any(b > a for a, b in zip(ls, ls[1:])) or not ls[-1] < ls[0]:
                raise StepFailed(f"loss history not monotone and improving: {ls}")
        elif step == "score_generated":
            x = np.stack(pq.read_table(self.train_path, columns=["x"])["x"].to_numpy(zero_copy_only=False))
            want = np.sort(x @ self.weights[:-1] + self.weights[-1])
            got = np.sort(df.select("score").toPandas()["score"].to_numpy())
            if got.shape != want.shape or not np.allclose(got, want, rtol=1e-9, atol=1e-12):
                raise StepFailed("score_column output differs from numpy forward pass")
        else:
            from tests.parity import assert_parity

            try:
                assert_parity(df, self.duck, self.oracles[step], step)
            except AssertionError as ex:
                raise StepFailed(str(ex)) from None

    def ann_meta(self, step: str) -> list | None:
        """Files and mtimes of the meta stamp of the index ``step`` must
        reuse; empty while that index does not exist yet."""
        suffix = REUSE_STEPS.get(step)
        if suffix is None:
            return None
        return sorted((p, os.stat(p).st_mtime_ns) for p in _files(os.path.join(self.ann_dir(suffix), "meta")))

    # -- passes --------------------------------------------------------

    def run_pass(self, mode: str) -> dict:
        """Run every step once.  ``mode`` is ``check`` (collect and compare
        with the reference), ``time`` (noop sink) or ``trace`` (noop sink
        under a job group per step phase, then read the stage totals)."""
        self.passes += 1
        trace = mode == "trace"
        sc = self.spark.sparkContext
        steps: dict[str, dict] = {}
        gauges = []
        cpu0, steal0 = probes.tree_cpu_s(self.jvm.pid), probes.steal_s()
        t0 = time.perf_counter()
        for step in self.steps:
            # one gauge job before each step samples the box's speed
            # across the pass; its time is taken out of the pass's
            gauges.append(self.gauge())
            self.attempted += 1
            build_group, run_group = f"pb{self.passes}:build:{step}", f"pb{self.passes}:run:{step}"
            before = self.ann_meta(step)
            try:
                if trace:
                    sc.setJobGroup(build_group, step)
                    self.build_group, self.loads = build_group, []
                ta = time.perf_counter()
                df = self.build(step)
                tb = time.perf_counter()
                self.build_group = None
                if mode == "check":
                    self.check(step, df)
                elif df is not None:
                    if trace:
                        sc.setJobGroup(run_group, step)
                    df.write.format("noop").mode("overwrite").save()
                tc = time.perf_counter()
                if before and self.ann_meta(step) != before:
                    raise StepFailed("rebuilt the ANN index it should have reused")
            except Exception as ex:  # a failed step is counted, never fatal
                self.failed += 1
                self.red.append({"pass": self.passes, "mode": mode, "step": step, "error": f"{type(ex).__name__}: {ex}"[:2000]})
                continue
            finally:
                if trace:
                    self.build_group = None
                    sc._jsc.clearJobGroup()
            rec = {"build_s": tb - ta, "run_s": tc - tb}
            if step == "train_generated":
                rec["mse"] = self.losses[-1]
            if trace:
                rec["load_s"], rec["load_calls"] = sum(self.loads), len(self.loads)
                rec["build"] = self.stages.group(build_group)
                rec["tables"] = self.stages.group(build_group + ":tables")
                rec["run"] = self.stages.group(run_group)
            steps[step] = rec
        gauge_s, gauge_cpu_s = (sum(g) for g in zip(*gauges))
        return {
            "wall_s": time.perf_counter() - t0 - gauge_s,
            "cpu_s": probes.tree_cpu_s(self.jvm.pid) - cpu0 - gauge_cpu_s,
            "steal_s": probes.steal_s() - steal0,
            # per gauge job
            "gauge_s": gauge_s / len(gauges),
            "gauge_cpu_s": gauge_cpu_s / len(gauges),
            "steps": steps,
        }

    def spy_load_table(self) -> None:
        """Time every ``tables.load_table`` call a step's construction makes
        and run its jobs under the step's ``:tables`` job group (traced
        runs only: the untraced run calls the engine unwrapped)."""
        real = self.tables.load_table
        sc = self.spark.sparkContext

        def load_table(spark, sf_dir, name):
            group = self.build_group
            if group is None:
                return real(spark, sf_dir, name)
            sc.setJobGroup(group + ":tables", name)
            t0 = time.perf_counter()
            try:
                return real(spark, sf_dir, name)
            finally:
                self.loads.append(time.perf_counter() - t0)
                sc.setJobGroup(group, name)

        for name, mod in list(sys.modules.items()):
            if name.startswith("pyspark_caffe_spark") and getattr(mod, "load_table", None) is real:
                mod.load_table = load_table

    # -- ANN store on disk ----------------------------------------------

    def ann_dir(self, suffix: str) -> str:
        return os.path.join(ROOT, ".scratch", f"ann_index_{os.path.basename(self.sf_dir)}{suffix}")

    def clear_ann(self) -> None:
        for path in glob.glob(self.ann_dir("") + "*"):
            shutil.rmtree(path)


def _files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, names in os.walk(path) for f in names]


def layer_metrics(b: Bench, session: dict, traced: dict) -> dict[str, float]:
    """Fold one traced pass into the per-layer metrics."""
    m = {name: 0.0 for name in per_layer_units()}
    m["session.import_s"] = session["import_s"]
    m["session.start_s"] = session["start_s"]
    m["session.warmup_s"] = session["warmup_s"]
    m["pass.wall_s"], m["pass.cpu_s"] = traced["wall_s"], traced["cpu_s"]
    m["gauge.wall_s"], m["gauge.cpu_s"] = traced["gauge_s"], traced["gauge_cpu_s"]
    tot = {"jobs": 0, "stages": 0, "tasks": 0}
    tot.update((f, 0) for f in probes.STAGE_FIELDS)
    for step, rec in traced["steps"].items():
        build_jobs = rec["build"]["jobs"] + rec["tables"]["jobs"]
        m[f"step.{step}.s"] = rec["build_s"] + rec["run_s"]
        m[f"step.{step}.jobs"] = build_jobs + rec["run"]["jobs"]
        m["tables.load_s"] += rec["load_s"]
        m["tables.load_calls"] += rec["load_calls"]
        m["tables.load_jobs"] += rec["tables"]["jobs"]
        if step not in MODEL_STEPS:
            m["queries.build_s"] += rec["build_s"]
            m["queries.build_jobs"] += build_jobs
        m["spark.run_s"] += rec["run_s"]
        for phase in ("build", "tables", "run"):
            for k, v in rec[phase].items():
                tot[k] += v
    m["spark.jobs"], m["spark.stages"], m["spark.tasks"] = tot["jobs"], tot["stages"], tot["tasks"]
    m["spark.executor_run_s"] = tot["executorRunTime"] / 1e3
    m["spark.executor_cpu_s"] = tot["executorCpuTime"] / 1e9
    m["spark.offcpu_s"] = m["spark.executor_run_s"] - m["spark.executor_cpu_s"]
    m["spark.gc_s"] = tot["jvmGcTime"] / 1e3
    m["spark.input_mb"] = tot["inputBytes"] / probes.MB
    m["spark.shuffle_read_mb"] = tot["shuffleReadBytes"] / probes.MB
    m["spark.shuffle_write_mb"] = tot["shuffleWriteBytes"] / probes.MB
    m["spark.output_mb"] = tot["outputBytes"] / probes.MB
    m["spark.spill_mb"] = (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / probes.MB
    m["spark.result_mb"] = tot["resultSize"] / probes.MB
    if "train_generated" in traced["steps"]:
        m["model.train_s"] = m["step.train_generated.s"]
        m["model.train_jobs"] = m["step.train_generated.jobs"]
        m["model.jobs_per_round"] = m["model.train_jobs"] / TRAIN_ROUNDS
        m["model.train_mse"] = traced["steps"]["train_generated"]["mse"]
    if "score_generated" in traced["steps"]:
        m["model.score_s"] = m["step.score_generated.s"]
    if "sim_knn_ivf_serve_only" in traced["steps"]:
        emb_bytes = os.path.getsize(os.path.join(b.sf_dir, "embeddings.parquet"))
        out = tot["outputBytes"]
        compacted = b.ann_dir("_compact")
        m["ann.serve_s"] = m["step.sim_knn_ivf_serve_only.s"]
        m["ann.compact_jobs"] = m["step.sink_ann_index_compact_only.jobs"]
        m["ann.output_mb"] = out / probes.MB
        m["ann.write_amp"] = out / emb_bytes
        m["ann.space_amp"] = sum(os.path.getsize(p) for p in _files(compacted)) / emb_bytes
        m["ann.files"] = len(glob.glob(os.path.join(compacted, "postings*", "**", "part-*"), recursive=True))
    # tracing adds work only between steps: job-group calls, the bus
    # drain and the status-store reads
    m["trace.overhead_s"] = traced["wall_s"] - sum(r["build_s"] + r["run_s"] for r in traced["steps"].values())
    return m


def code_id() -> str:
    """Hash of the engine's sources (a checkout may not be a git repo)."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "pyspark_caffe_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def prepare_inputs(seed: int, sf: float) -> tuple[str, str]:
    """Generate (or reuse) the seed's inputs; drop other seeds' copies."""
    data_root = os.path.join(BUILD, "data")
    mine = os.path.join(data_root, f"seed{seed}")
    sf_dir = os.path.join(mine, f"sf{sf:g}")
    train_path = os.path.join(mine, f"train_{TRAIN_ROWS}.parquet")
    os.makedirs(data_root, exist_ok=True)
    for other in glob.glob(os.path.join(data_root, "seed*")):
        if other != mine:
            shutil.rmtree(other)
    os.makedirs(mine, exist_ok=True)
    if not os.path.isdir(sf_dir):
        inputs.write_fixture(sf_dir, sf, seed)
    if not os.path.isfile(train_path):
        inputs.write_train_set(train_path, TRAIN_ROWS, seed)
    return sf_dir, train_path


def pin_environment() -> None:
    """Keep every file the run writes inside the checkout, fix the
    driver heap, and let the Python workers import the engine whatever
    the working directory."""
    local = os.path.join(BUILD, "spark-local")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a 2 GiB driver heap is ample at sf0.01, keeps the run small on a
    # shared box, and bounds how far the JVM grows its heap, which
    # otherwise makes VmHWM swing by a third from run to run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # JIT: C1 only, compiling at a hundredth of the usual invocation
    # counts, with room for all the code that compiles.  With C2, warm
    # passes kept getting faster for over a minute (CPU per pass halved
    # between passes 1 and 20), so a run measured how far the JIT had
    # got; this way most of the compiling is done in the check pass.
    # C1's default 48 MiB code cache fills up at these counts.
    jit = "-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.01 -XX:ReservedCodeCacheSize=256m"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData {jit}" pyspark-shell'
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="fixture scale factor (self-test: 0.001)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pyspark_caffe_spark", "__init__.py")):
        print(f"perfbench: no pyspark_caffe_spark package under {ROOT}", file=sys.stderr)
        return 2
    pin_environment()
    # one run per checkout at a time: a second would delete this run's
    # inputs and ANN index and share its CPUs
    lock = open(os.path.join(BUILD, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print(f"perfbench: another run holds {lock.name}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    sf_dir, train_path = prepare_inputs(args.seed, args.sf)
    phases = {"inputs_s": time.perf_counter() - t0}
    import duckdb

    b = Bench(args, sf_dir, train_path)
    b.clear_ann()  # never serve an index another run left behind
    cpus = nproc = len(os.sched_getaffinity(0))

    b.duck = duckdb.connect()
    try:
        t0 = time.perf_counter()
        session = b.start(cpus)
        phases["setups_s"] = time.perf_counter() - t0
        for name in b.tables.TABLE_NAMES:
            b.duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
        t0 = time.perf_counter()
        for _ in range(GAUGE_WARMUP):
            b.gauge()
        checked = b.run_pass("check")  # also warms the JVM up
        phases["check_s"] = time.perf_counter() - t0
        # whole passes until the window has elapsed, at least MIN_PASSES;
        # the first half of them finish warming the JVM up (see kept below)
        mode = "trace" if b.trace else "time"
        passes = []
        t0 = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
            passes.append(b.run_pass(mode))
        peak = probes.peak_rss_mb(b.jvm.pid)
        phases["measure_s"] = time.perf_counter() - t0
    finally:
        b.duck.close()
        t0 = time.perf_counter()
        if b.jvm is not None:
            b.stop()
        phases["stop_s"] = time.perf_counter() - t0

    def step_times(p: dict) -> dict[str, float]:
        return {s: r["build_s"] + r["run_s"] for s, r in p["steps"].items()}

    # the passes the end-to-end medians are taken over: the second half.
    # Warm passes still get faster for about 20 s, which the first half
    # absorbs
    kept = passes[len(passes) // 2:]

    record = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "cpus": cpus,
        "nproc": nproc, "code": code_id(),
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "driver_mem": DRIVER_MEM,
        "failed_ratio": b.failed / b.attempted,
        "phases": phases,
        "setups_s": session["setups_s"],
        "peak_rss_mb": peak,
        "passes": [{k: p[k] for k in ("wall_s", "cpu_s", "steal_s", "gauge_s", "gauge_cpu_s")} | {"steps": step_times(p)} for p in passes],
        "kept_passes": len(kept),
        "check_steps": step_times(checked),
        "red": b.red,
    }
    for k in ("wall_s", "cpu_s", "gauge_s", "gauge_cpu_s"):
        record[k] = statistics.median(p[k] for p in kept)
    if "sim_knn_ivf_serve_only" in b.steps:
        serve = [step_times(p).get("sim_knn_ivf_serve_only") for p in kept]
        record["serve_s"] = statistics.median(serve) if None not in serve else None
    if "train_generated" in b.steps:
        record["train_mse"] = passes[-1]["steps"].get("train_generated", {}).get("mse")

    if b.trace:
        layers = [layer_metrics(b, session, p) | {"jvm.peak_rss_mb": peak} for p in passes]
        # counts that must repeat exactly from pass to pass
        record["traced_counts"] = [
            {k: v for k, v in m.items() if k.endswith(("jobs", ".stages", ".tasks", "shuffle_read_mb", "shuffle_write_mb", "train_mse"))}
            for m in layers
        ]
        values = layers[-1]
        units = per_layer_units()
    else:
        values = {
            "setup_s": session["setup_s"],
            "wall_rel": statistics.median(p["wall_s"] / p["gauge_s"] for p in kept),
            "cpu_rel": statistics.median(p["cpu_s"] / p["gauge_cpu_s"] for p in kept),
        }
        units = END_TO_END
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
