"""The benchmark's workloads, frozen: sizes, warm-up and query lists.

The query lists are fixed here, in a fixed order, and never derived at
run time from the registry of the code under test.
"""

from __future__ import annotations

# Passed to session.get_spark(cpus=2, extra_conf=...): 2 task slots and a
# 4 GB driver heap, whatever the environment says.
SESSION_CONF = {
    "spark.driver.memory": "4g",
    "spark.ui.showConsoleProgress": "false",
}

# CH-dialect queries (plans.ch_sql and functions.ch_compat): parse,
# compile and py4j-heavy builds over tiny tables.
DIALECT_QUERIES = (
    "ch_sql_param_binding",
    "ch_sql_with_totals",
    "ch_sql_union_all",
    "ch_sql_window_topn",
    "ch_sql_tpch_q1",
    "ch_sql_json_extract",
)

# Queries whose physical plan holds a MapInPandas or ArrowEvalPython
# node: Python workers and the Arrow kernels, one query per kernel
# module (functions.hash_np through functions.ch_compat, operators.cdc,
# operators.similarity, operators.dedup, operators.multimodal).
KERNEL_QUERIES = (
    "ch_sql_numeric_hashes",
    "dedup_cdc_chunk_spans",
    "similarity_pq_codes",
    "dedup_minhash_lsh_pairs",
    "multimodal_decode_stats",
)

WORKLOADS = {
    "baseline_job": {"kind": "job", "warmup_rounds": 8, "min_timed_rounds": 12},
    "query_suite": {"kind": "suite", "warmup_rounds": 2, "min_timed_rounds": 3,
                    "queries": DIALECT_QUERIES + KERNEL_QUERIES},
}

# Per-layer metrics of the traced run, with their units. A layer a
# workload does not use reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "job.cold_op_s": "s",
    "sources.read_s": "s",
    "sources.networks_s": "s",
    "expr.compile_s": "s",
    "plans.build_s": "s",
    "sinks.rows_s": "s",
    "sinks.publish_s": "s",
    "sinks.rest_s": "s",
    "sinks.rest_requests": "count",
    "sinks.rest_request_ms": "ms",
    "catalog.load_s": "s",
    "queries.build_s": "s",
    "queries.materialize_s": "s",
    "op.unattributed_s": "s",
    "trace.attributed_share": "ratio",
    "trace.overhead_s": "s",
    "py4j.calls": "count",
    "py4j.release_cmds": "count",
    "pyworker.cpu_s": "s",
    "pyworker.starts": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.shuffle_write_mb": "MB",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "jvm.rss_peak_mb": "MB",
    "host.loadavg_1m": "count",
    "host.steal_pct": "%",
}
