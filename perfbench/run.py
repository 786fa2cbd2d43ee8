"""The repository benchmark: one closed-loop client driving the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. A single Python process submits one
job at a time to ``local[nproc]`` and times calls into the public
functions of each layer from outside. Inputs are generated from
``--seed`` and cached under ``.perfbench_cache/`` (generation is never
timed). Every job's output is checked; a job that raises or fails its
check counts in ``failed``.

Workloads (see BENCHMARK.json for why each was chosen):
  pages_transform  pages → geoparse → ellipse→mllw transform → noop sink
  curate_resume    the transform through run_with_checkpoint, crashed after
                   half the buckets and resumed, then exact dedup,
                   decontamination, stratified sampling, cell-partitioned
                   sink and read-back
  leaf_suite       one pass over the bench.HEADLINE leaves that run the
                   search, DSIR, k-means, similarity and embedding-kernel
                   ops, on seeded documents and embeddings tables

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the job
once untraced, then once with every layer materialized inside its own
span and the Spark event log on, and reports per-layer metrics plus the
tracing overhead (traced minus untraced wall time); on pages_transform
it also runs the job at local[1] for scaling_eff. The last stdout line
is the result JSON; the line before it is the full record (host, config,
every metric with unit and sample count, check failures).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

# the generator kind and size of each workload's input (pages, or
# documents for the sf kind)
WORKLOADS = {
    "pages_transform": {"kind": "pages", "rows": 150_000},
    "curate_resume": {"kind": "curate", "rows": 25_000},
    "leaf_suite": {"kind": "sf", "rows": 2_000},
}
WARM_ROWS = 10_000  # pages in the set-up's warm-up transform job
DRIVER_MEMORY = "3g"
# untimed full-size pages_transform jobs before timing: job times fall
# over the first five jobs of a session (150k rows: 4-6 s down to
# 2.2-2.6 s) while the JIT compiles the generated code, whatever the
# job's size, so timing earlier jobs measures how far warm-up got
SETTLE_JOBS = 5
LEAF_SETTLE_PASSES = 2  # untimed leaf passes before the traced run's reference
MIN_TIMED_JOBS = 3  # so that one slow pages_transform job cannot move the median

END_TO_END = {"rows_per_s": "1/s", "wall_s": "s", "setup_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "sources.tables.scan_s": "s", "engine.geoparse.exec_s": "s",
    "engine.transform.build_s": "s", "engine.transform.analyze_s": "s",
    "engine.transform.exec_s": "s", "engine.geoparse.hit_ratio": "ratio",
    "engine.transform.cover_ratio": "ratio",
    "ops.dedup.exact_s": "s", "ops.dedup.decontaminate_s": "s",
    "ops.textstats.sample_s": "s", "engine.sinks.write_s": "s",
    "engine.sinks.readback_s": "s", "engine.sinks.files": "count",
    "ops.dedup.dup_removed": "count", "ops.dedup.contam_removed": "count",
    "engine.checkpoint.stage_s": "s", "engine.checkpoint.bucket_s_p50": "s",
    "engine.checkpoint.bucket_s_max": "s", "engine.checkpoint.read_output_s": "s",
    "engine.checkpoint.read_metrics_s": "s", "sources.tables.commits": "count",
    "sources.tables.bytes_written": "bytes",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_p50_ms": "ms",
    "spark.task_max_ms": "ms", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_ms": "ms",
    "trace.traced_s": "s", "trace.untraced_s": "s", "trace.overhead_s": "s",
    "queries.build_s": "s", "queries.exec_s": "s", "queries.eager_jobs": "count",
}
# spans whose summed duration is reported as <name>_s
SPAN_METRICS = [
    "sources.tables.scan", "engine.geoparse.exec", "engine.transform.build",
    "engine.transform.analyze", "engine.transform.exec", "ops.dedup.exact",
    "ops.dedup.decontaminate", "ops.textstats.sample", "engine.sinks.write",
    "engine.sinks.readback", "engine.checkpoint.stage",
    "engine.checkpoint.read_output", "engine.checkpoint.read_metrics",
]


def per_layer() -> dict:
    """PER_LAYER plus each leaf's build and execution seconds."""
    from perfbench import jobs

    return {**PER_LAYER, **{f"leaf.{n}.{part}_s": "s" for n in jobs.leaf_suite()
                            for part in ("build", "exec")}}


def median(xs):
    """Median, or 0.0 when no job passed (the run then reports failure)."""
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One benchmark invocation: inputs, Spark sessions, samples."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool):
        from perfbench import gen, jobs

        self.workload, self.seconds, self.trace = workload, seconds, trace
        self.spec = WORKLOADS[workload]
        self.nproc = os.cpu_count() or 1
        self.cache = os.path.join(root, gen.CACHE_DIR)
        self.run_tag = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.work = os.path.join(self.cache, "work", self.run_tag)
        self.leaves = jobs.leaf_suite() if self.spec["kind"] == "sf" else None
        self.inp = gen.ensure(root, self.spec["kind"], seed, self.spec["rows"],
                              leaves=self.leaves)
        self.warm = gen.ensure(root, "pages", seed, WARM_ROWS, n_files=4)
        self.gen_s = {m["key"]: round(m["gen_s"], 3)
                      for m in (self.inp, self.warm) if "gen_s" in m}
        if self.gen_s:
            print(f"perfbench: generated inputs in {self.gen_s} s", file=sys.stderr)
        self.spark = None
        self.setup_s = 0.0
        self.attempted = 0
        self.failures: list[str] = []
        self.event_dir = os.path.join(self.cache, "eventlog", self.run_tag)

    # ----------------------------------------------------------- sessions
    def conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.cache, "spark-local"),
            "spark.driver.memory": DRIVER_MEMORY,
        }
        if self.trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        return conf

    def start(self, cores: int) -> float:
        """(Re)start the session and run the untimed warm-up job: the
        transform job on a small pages input of the same seed. Returns
        the set-up time, session start through warm-up."""
        from perfbench import jobs
        from vyperdatum_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", cores=cores,
                               shuffle_partitions=max(cores, 4), extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        jobs.transform_job(self.spark, self.warm)
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def shutdown_jvm() -> None:
        """End the driver JVM (and with it the Python workers) and wait
        for it: the gateway process exits when its stdin closes."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    # -------------------------------------------------------------- checks
    def judge(self, what: str, bad: list[str]) -> bool:
        self.attempted += 1
        if bad:
            self.failures.append(f"{what}: " + "; ".join(bad))
        return not bad

    def guarded(self, what: str, fn):
        """Run one job; an exception counts as a failed attempt."""
        try:
            return fn()
        except Exception:  # a failing job is a measured outcome, not a crash
            self.attempted += 1
            self.failures.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    # ----------------------------------------------------------- workloads
    def timed_loop(self, job, budget: float, min_jobs: int = 1) -> tuple[list, list]:
        """Run ``job`` back to back for ``budget`` seconds and at least
        ``min_jobs`` times. ``job`` returns (wall s, cpu s, passed);
        returns the wall and CPU times of the jobs that passed. A raising
        job ends the loop."""
        walls, cpus = [], []
        end = time.perf_counter() + budget
        for n in itertools.count(1):
            r = self.guarded(self.workload, job)
            if r is None:
                break
            if r[2]:
                walls.append(r[0])
                cpus.append(r[1])
            if n >= min_jobs and time.perf_counter() >= end:
                break
        return walls, cpus

    def setup(self) -> None:
        """The run's one set-up, in the fresh driver JVM: session start,
        JVM launch and class loading through the warm-up job."""
        self.setup_s = self.start(self.nproc)

    def transform_timed(self):
        """The checked, timed pages_transform job."""
        from perfbench import host, jobs, oracle

        want = self.inp["expected"]["transform"]

        def job():
            clock = host.Clock()
            got = jobs.transform_job(self.spark, self.inp)
            wall, cpu = clock.read()
            return wall, cpu, self.judge("transform", oracle.compare(got, want))
        return job

    def run_transform(self) -> dict:
        """Timed local[nproc] jobs after SETTLE_JOBS untimed full-size
        jobs."""
        from perfbench import jobs

        self.setup()
        for _ in range(SETTLE_JOBS):
            jobs.transform_job(self.spark, self.inp)
        walls, cpus = self.timed_loop(self.transform_timed(), self.seconds,
                                      min_jobs=MIN_TIMED_JOBS)
        return {"wall": walls, "cpu": cpus, "extra": {}}

    def run_curate_resume(self) -> dict:
        """Each job: a run_with_checkpoint call that crashes after
        CKPT_FAIL_AFTER buckets, the call that resumes it, then the
        curation tail over the checkpointed output."""
        from perfbench import host, jobs, oracle

        want_geo = self.inp["expected"]["transform"]
        want_cur = self.inp["expected"]["curate"]
        phases, amps = [], []

        def job():
            out_dir = jobs.fresh_dir(os.path.join(self.work, "ckpt"))
            work = jobs.fresh_dir(os.path.join(self.work, "curate"))
            clock = host.Clock()
            crashed = jobs.checkpoint_call(self.spark, self.inp, out_dir,
                                           fail_after=jobs.CKPT_FAIL_AFTER)
            t_crash = clock.read()[0]
            resumed = jobs.checkpoint_call(self.spark, self.inp, out_dir)
            t_resume = clock.read()[0]
            got = jobs.curate_tail(self.spark, self.inp, out_dir, work)
            wall, cpu = clock.read()
            bad = oracle.check_checkpoint(jobs.checkpoint_stats(self.spark, out_dir),
                                          want_geo) + oracle.check_curate(got, want_cur)
            expect = (-1, jobs.CKPT_BUCKETS - jobs.CKPT_FAIL_AFTER)
            if (crashed, resumed) != expect:
                bad.append(f"invocations returned {(crashed, resumed)}, want {expect}")
            phases.append((t_crash, t_resume - t_crash, wall - t_resume))
            amps.append((jobs.dir_bytes(out_dir) + jobs.dir_bytes(work))
                        / self.inp["input_bytes"])
            return wall, cpu, self.judge("curate_resume", bad)

        self.setup()
        walls, cpus = self.timed_loop(job, self.seconds)
        n = len(phases)
        return {"wall": walls, "cpu": cpus, "extra": {
            "crash_s": (median([p[0] for p in phases]), "s", n),
            "resume_s": (median([p[1] for p in phases]), "s", n),
            "tail_s": (median([p[2] for p in phases]), "s", n),
            "write_amp": (median(amps), "ratio", len(amps))}}

    def leaf_timed(self):
        """The checked, timed leaf_suite pass."""
        from perfbench import host, jobs, oracle

        want = self.inp["expected"]["leaf_rows"]

        def job():
            clock = host.Clock()
            got = jobs.leaf_pass(self.spark, self.inp["dir"], self.leaves)
            wall, cpu = clock.read()
            return wall, cpu, self.judge("leaf_suite", oracle.compare(got, want))
        return job

    def run_leaf_suite(self) -> dict:
        """Passes from the first in the session, which compiles every
        leaf's plans, for ``--seconds``."""
        self.setup()
        walls, cpus = self.timed_loop(self.leaf_timed(), self.seconds)
        return {"wall": walls, "cpu": cpus, "extra": {}}

    # --------------------------------------------------------- traced run
    def run_traced(self) -> tuple[dict, dict]:
        """One untraced reference job, then the layered job under spans
        and the event log; returns the per-layer metrics and the extra
        record entries (scaling on pages_transform)."""
        from perfbench import jobs, oracle
        from perfbench.trace import TRACE_GROUP, Tracer, read_event_logs

        self.setup()
        tr = Tracer()
        sc = self.spark.sparkContext
        if self.workload == "pages_transform":
            for _ in range(SETTLE_JOBS):
                jobs.transform_job(self.spark, self.inp)
            untraced, _, _ = self.transform_timed()()
        elif self.workload == "leaf_suite":
            for _ in range(LEAF_SETTLE_PASSES):
                jobs.leaf_pass(self.spark, self.inp["dir"], self.leaves)
            untraced, _, _ = self.leaf_timed()()
        else:
            want_geo = self.inp["expected"]["transform"]
            want_cur = self.inp["expected"]["curate"]
            # the traced job's shape without spans or materialization;
            # twice: the first run warms the checkpoint and curation code
            # that the set-up's transform warm-up does not reach
            for _ in range(2):
                ref = jobs.fresh_dir(os.path.join(self.work, "reference"))
                t0 = time.perf_counter()
                jobs.stepwise_checkpoint(self.spark, self.inp, ref, jobs.no_span)
                got = jobs.curate_tail(self.spark, self.inp, ref, ref)
                untraced = time.perf_counter() - t0
            self.judge("curate_resume", oracle.check_checkpoint(
                jobs.checkpoint_stats(self.spark, ref), want_geo)
                + oracle.check_curate(got, want_cur))

        work = jobs.fresh_dir(os.path.join(self.work, "traced"))
        sc.setJobGroup(TRACE_GROUP, "layered traced run")
        with tr.span("job") as root:
            if self.workload == "pages_transform":
                counts = jobs.layered_transform(self.spark, self.inp, tr)
            elif self.workload == "leaf_suite":
                counts = jobs.layered_leaves(self.spark, self.inp["dir"], self.leaves, tr)
            else:
                counts = jobs.layered_curate_resume(self.spark, self.inp, tr, work)
        sc.setLocalProperty("spark.jobGroup.id", None)
        traced = root["end"] - root["start"]
        extra = {}
        if self.workload == "pages_transform":
            # scaling: the same job at local[1], in a session restarted
            # in the same JVM, after its own warm-up and one settle job
            # (the generated classes are new in a new session)
            self.start(1)
            jobs.transform_job(self.spark, self.inp)
            walls1, _ = self.timed_loop(self.transform_timed(), 0)
            eff = median(walls1) / untraced / self.nproc
            extra = {"scaling_eff": (eff, "ratio", len(walls1)),
                     "wall_s_local1": (median(walls1), "s", len(walls1)),
                     "wall_s_reference": (untraced, "s", 1)}
        self.stop()
        tr.write(os.path.join(self.cache, "traces", f"{self.run_tag}.json"))
        m = {name: 0 for name in per_layer()}
        m.update({f"{s}_s": tr.total(s) for s in SPAN_METRICS})
        if self.leaves:
            for n in self.leaves:
                for part in ("build", "exec"):
                    m[f"leaf.{n}.{part}_s"] = tr.total(f"leaf.{n}.{part}")
            m["queries.build_s"] = sum(m[f"leaf.{n}.build_s"] for n in self.leaves)
            m["queries.exec_s"] = sum(m[f"leaf.{n}.exec_s"] for n in self.leaves)
        m.update(counts)
        m.update(read_event_logs(self.event_dir))
        m.update({"trace.traced_s": traced, "trace.untraced_s": untraced,
                  "trace.overhead_s": traced - untraced})
        return m, extra


def checkout_ok(root: str) -> bool:
    return (os.path.isfile(os.path.join(root, "vyperdatum_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "bench.py")))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not checkout_ok(root):
        print("perfbench: run from the root of a checkout that holds "
              "vyperdatum_spark/ and bench.py", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import gen, host

    # keep the JVM's and Python's scratch files inside the checkout
    tmp = os.path.join(root, gen.CACHE_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, gen.CACHE_DIR, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    steal0, total0 = host.cpu_ticks()
    b = Bench(root, args.workload, args.seed, args.seconds, bool(args.trace))
    substrate = (host.substrate_control(b.nproc)
                 if args.workload == "pages_transform" and args.trace else None)
    try:
        with host.RssSampler() as rss:
            if args.trace:
                layer, extra = b.run_traced()
            else:
                res = {"pages_transform": b.run_transform,
                       "curate_resume": b.run_curate_resume,
                       "leaf_suite": b.run_leaf_suite}[args.workload]()
    finally:
        b.stop()
        b.shutdown_jvm()
        shutil.rmtree(b.work, ignore_errors=True)
        shutil.rmtree(b.event_dir, ignore_errors=True)

    steal1, total1 = host.cpu_ticks()
    record = {"workload": args.workload, "trace": args.trace,
              "cpu_steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
              "host": host.record(root, args.seed, {
                  "rows": b.spec["rows"], "warm_rows": WARM_ROWS,
                  "input_rows": b.inp["input_rows"],
                  "input_bytes": b.inp["input_bytes"], "leaves": b.leaves,
                  "cores": b.nproc}, b.conf()),
              "gen_s": b.gen_s, "setup_s": b.setup_s, "failures": b.failures}
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer().items()}
        if substrate is not None:
            extra["substrate_eff"] = (substrate, "ratio", 1)
        record["metrics"] = {**metrics, **{k: {"value": v, "unit": u, "n": n}
                                           for k, (v, u, n) in extra.items()}}
    else:
        walls = res["wall"]
        rows = b.inp["input_rows"]
        full = {
            "rows_per_s": (rows / median(walls) if walls else 0.0, "1/s", len(walls)),
            "wall_s": (median(walls), "s", len(walls)),
            "setup_s": (b.setup_s, "s", 1),
            "cpu_s": (median(res["cpu"]), "s", len(res["cpu"])),
            "peak_rss_mb": (rss.peak_mb, "MB", 1),
            "failed_frac": (len(b.failures) / max(b.attempted, 1), "ratio", b.attempted),
            **res["extra"],
        }
        record["metrics"] = {k: {"value": v, "unit": u, "n": n}
                             for k, (v, u, n) in full.items()}
        record["walls"] = walls
        metrics = {k: {"value": full[k][0], "unit": u} for k, u in END_TO_END.items()}
    os.makedirs(os.path.join(b.cache, "results"), exist_ok=True)
    with open(os.path.join(b.cache, "results", f"{b.run_tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": b.attempted > 0 and not b.failures,
                      "attempted": max(b.attempted, 1),
                      "failed": len(b.failures) if b.attempted else 1,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
