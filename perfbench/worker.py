"""The measured process: builds a session, warms up, runs timed rounds.

Run by ``run.py`` with a spec file and an output path, in the run's own
temp directory. It receives only the generated inputs; checking its
outputs against the references is ``run.py``'s job. A round is one op
on the job and one whole pass over the frozen query list on the suite.
The traced run alternates untraced and traced rounds, so the tracing
overhead is measured in the same process.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import procfs
from reference import canonical_rows, groups_digest, rows_digest
from workloads import SESSION_CONF, WORKLOADS


def materialize(df):
    """Force every output column: collect narrow results (<= 8 columns);
    reduce wide ones to one checksum row over all columns. Returns
    (digest, canonical rows or None)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    if len(df.columns) <= 8:
        rows = canonical_rows(df.collect(), df.columns)
        return rows_digest(rows), rows
    cols = [
        F.to_json(F.col(f.name)).alias(f.name) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    checksum = F.sum(F.xxhash64(F.struct(*cols)).cast("decimal(38,0)"))
    return rows_digest([tuple(str(x) for x in r) for r in df.agg(checksum).collect()]), None


class JobRunner:
    """One op = one ``job.run_baseline_job`` call, publishing over HTTP."""

    def __init__(self, spark, spec: dict):
        from pyspark.sql import functions as F

        from baseline_magician_spark.config import BaselineConfig

        self.spark = spark
        self.path = spec["inputs"]["metrics_path"]
        ex = spec["inputs"]["expressions"]
        self.config = BaselineConfig(
            aggregation_function="avg",
            generate_incoming_packet_threshold=True,
            incoming_packet_expression=ex["packets"],
            generate_incoming_bit_threshold=True,
            incoming_bit_expression=ex["bits"],
            generate_incoming_flow_threshold=True,
            incoming_flow_expression=ex["flows"],
            remove_existing_hostgroups=True,
            api_host="127.0.0.1",
            api_port=spec["api_port"],
        )
        self.now = F.timestamp_micros(F.lit(spec["inputs"]["now_us"]))
        self.names = ["job"]

    def op(self, name: str, tracer=None) -> tuple[str, object]:
        from baseline_magician_spark import job

        read = self.spark.read.parquet
        metrics = tracer.span("sources.read", read, self.path) if tracer else read(self.path)
        groups = job.run_baseline_job(self.spark, self.config, metrics, now=self.now)
        return groups_digest(groups), groups

    def verified_output(self, name: str, result) -> None:
        """The job's check needs only the digest and the API's state."""
        return None


class SuiteRunner:
    """One op = build one registered query, then materialize it."""

    def __init__(self, spark, spec: dict):
        from baseline_magician_spark.registry import get_queries

        self.spark = spark
        self.star = spec["inputs"]["star_dir"]
        registered = get_queries()
        self.names = list(spec["queries"])
        self.fns = {n: registered[n] for n in self.names}

    def op(self, name: str, tracer=None) -> tuple[str, object]:
        fn = self.fns[name]
        if tracer:
            df = tracer.span("queries.build", fn, self.spark, self.star)
            return tracer.span("queries.materialize", materialize, df)
        return materialize(fn(self.spark, self.star))

    def verified_output(self, name: str, rows) -> list[tuple]:
        """Full canonical rows for the oracle check; a wide result needs
        one extra collect."""
        if rows is not None:
            return rows
        df = self.fns[name](self.spark, self.star)
        return canonical_rows(df.collect(), df.columns)


class JvmCounters:
    """GC, JIT and codegen counters the JVM keeps (traced run only)."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.mf = jvm.java.lang.management.ManagementFactory
        self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.sc = spark.sparkContext
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def read(self) -> dict[str, float]:
        gc_ms = sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans())
        hist = self.codegen.METRIC_COMPILATION_TIME()
        n = hist.getCount()
        snap = hist.getSnapshot()
        values = list(snap.getValues())
        total_ms = sum(values) if len(values) == n else snap.getMean() * n
        return {
            "jvm.gc_s": gc_ms / 1000,
            "jvm.jit_s": self.mf.getCompilationMXBean().getTotalCompilationTime() / 1000,
            "codegen.compiles": n,
            "codegen.compile_s": total_ms / 1000,
        }

    def job_group(self, group: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = task_ms = shuffle = 0
        for s in stages:
            try:
                data = self.store.lastStageAttempt(s)
            except Py4JJavaError:  # skipped stages have no attempt
                continue
            tasks += data.numCompleteTasks()
            task_ms += data.executorRunTime()
            shuffle += data.shuffleWriteBytes()
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": tasks,
            "spark.task_s": task_ms / 1000,
            "spark.shuffle_write_mb": shuffle / 2**20,
        }


def traced_op(runner, spark, name, tracer, counters, op_index):
    """Run one op with spans and counters; returns (wall, result, layers)."""
    group = f"bench-op-{op_index}"
    spark.sparkContext.setJobGroup(group, name)
    before = counters.read()
    cpu0 = procfs.CpuSample()
    py4j0 = dict(tracer.counts)
    tracer.op = op_index
    t0 = time.perf_counter()
    result = tracer.span("op", runner.op, name, tracer)
    wall = time.perf_counter() - t0
    tracer.op = -1
    py4j1 = dict(tracer.counts)
    cpu1 = procfs.CpuSample()
    after = counters.read()
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    layers = {k: after[k] - before[k] for k in before}
    layers.update(counters.job_group(group))
    for k in ("py4j.calls", "py4j.release_cmds"):
        layers[k] = py4j1.get(k, 0) - py4j0.get(k, 0)
    layers["proc.driver_cpu_s"] = cpu1.driver - cpu0.driver
    layers["proc.jvm_cpu_s"] = cpu1.jvm - cpu0.jvm
    layers["pyworker.cpu_s"] = cpu1.workers - cpu0.workers
    layers["pyworker.starts"] = len(cpu1.worker_pids - cpu0.worker_pids)
    self_times = tracer.self_times(op_index)
    for span_name, secs in self_times.items():
        if span_name != "op":
            layers[f"{span_name}_s"] = secs
    n_rest, rest_s = tracer.span_stats(op_index, "sinks.rest")
    layers["sinks.rest_requests"] = n_rest
    layers["sinks.rest_request_ms"] = 1000 * rest_s / n_rest if n_rest else 0.0
    layers["op.unattributed_s"] = self_times.get("op", 0.0)
    return wall, result, layers


def main() -> None:
    spec_path, out_path = sys.argv[1], sys.argv[2]
    with open(spec_path) as f:
        spec = json.load(f)
    wl = WORKLOADS[spec["workload"]]
    trace_mode = bool(spec["trace"])

    cpu_start = procfs.CpuSample()
    t_start = time.perf_counter()
    from baseline_magician_spark.session import get_spark

    conf = dict(SESSION_CONF)
    # JVM temp files stay in the run's directory; no perf-data file in /tmp
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={os.getcwd()} -XX:-UsePerfData"
    spark = get_spark(cpus=2, extra_conf=conf)
    session_s = time.perf_counter() - t_start
    runner = (JobRunner if wl["kind"] == "job" else SuiteRunner)(spark, spec)

    # warm-up: a fixed number of rounds; the first is also the one whose
    # outputs are verified. The extra collect that verification needs is
    # checker work and is kept out of the set-up figures.
    verified: dict[str, dict] = {}
    cold_op_s = None
    extra_s = extra_cpu_s = 0.0
    for r in range(wl["warmup_rounds"]):
        for name in runner.names:
            t0 = time.perf_counter()
            digest, result = runner.op(name)
            if cold_op_s is None:
                cold_op_s = time.perf_counter() - t0
            if r == 0:
                t1, c1 = time.perf_counter(), procfs.CpuSample().total
                verified[name] = {"digest": digest, "output": runner.verified_output(name, result)}
                extra_s += time.perf_counter() - t1
                extra_cpu_s += procfs.CpuSample().total - c1
    setup_wall_s = time.perf_counter() - t_start - extra_s
    setup_cpu_s = procfs.CpuSample().total - cpu_start.total - extra_cpu_s

    tracer = counters = None
    if trace_mode:
        import spans as tr

        tracer = tr.Tracer()
        counters = JvmCounters(spark)
        install = tr.install_job_wrappers if wl["kind"] == "job" else tr.install_suite_wrappers

    # Rounds run until --seconds have passed and at least min_timed_rounds
    # are done. The gated CPU figure is the median over exactly the first
    # min_timed_rounds of each round's CPU per op: the same op positions
    # in every run, and a JIT or GC burst in one round does not move it.
    ops, layers, round_cpu = [], [], []
    t0 = time.perf_counter()
    n_rounds = 0
    cpu_prev = procfs.CpuSample()
    while True:
        traced = trace_mode and n_rounds % 2 == 1
        if traced:
            install(tracer)
            tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
        for name in runner.names:
            try:
                if traced:
                    wall, (digest, _), lay = traced_op(runner, spark, name, tracer, counters, len(ops))
                    layers.append(lay)
                else:
                    a = time.perf_counter()
                    digest, _ = runner.op(name)
                    wall = time.perf_counter() - a
                ops.append({"name": name, "wall": wall, "digest": digest, "traced": traced})
            except Exception as exc:  # counted as a failed op
                ops.append({"name": name, "wall": None, "digest": None, "traced": traced,
                            "error": repr(exc)[:300]})
        if traced:
            tracer.uninstall()
        n_rounds += 1
        if n_rounds <= wl["min_timed_rounds"]:
            cpu_now = procfs.CpuSample()
            round_cpu.append((cpu_now.total - cpu_prev.total) / len(runner.names))
            cpu_prev = cpu_now
        if time.perf_counter() - t0 >= spec["seconds"] and n_rounds >= wl["min_timed_rounds"]:
            break
    timed_wall = time.perf_counter() - t0
    cpu1 = procfs.CpuSample()

    out = {
        "session_s": session_s,
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s,
        "cold_op_s": cold_op_s,
        "timed_wall": timed_wall,
        "cpu_s_per_op": statistics.median(round_cpu),
        "ops": ops,
        "verified": verified,
        "jvm_rss_peak_mb": procfs.rss_peak_mb(cpu1.jvm_pid),
    }
    if trace_mode:
        keys = sorted({k for lay in layers for k in lay})
        out["layers"] = {k: statistics.fmean(lay.get(k, 0.0) for lay in layers) for k in keys}
        walls = [o["wall"] for o in ops if o.get("traced") and o["wall"] is not None]
        out["layers"]["trace.attributed_share"] = 1 - (
            out["layers"].get("op.unattributed_s", 0.0) / statistics.fmean(walls) if walls else 0.0
        )
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
