"""Workloads and metrics of the benchmark.

Every workload is a closed loop with one client: one process, one
SparkSession on ``local[<cores>]``, and each query is submitted only after
the previous one has been fully materialized through the ``noop`` sink. A
pass runs every query of the workload once, in an order drawn from the
run's seed. The fixture tables are fixed: copies of the project's reference
fixtures, under ``data/``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]


WORKLOADS = {
    # The MapReduce path: JVM scan, whole-stage codegen, hash/sort-merge
    # joins and shuffles at ~600k lineitem rows. No query here evaluates
    # Python, so Python-UDF changes should leave this workload unchanged.
    "relational_sf0.1": Workload(
        sf=0.1,
        queries=(
            "wordcount",
            "agg_approx_distinct",
            "sql_tpch_q3",
            "sql_tpch_q6",
            "join_skew_salted",
        ),
    ),
    # LLM-data-pipeline operators beside the write path, at a scale where
    # the per-query driver constant dominates: pandas/Arrow Python workers,
    # the rank primitive's scratch persists, and builders that write files,
    # read them back and run availableNow streaming micro-batches with
    # checkpoints.
    "llm_ingest_sf0.01": Workload(
        sf=0.01,
        queries=(
            "shard_assign",
            "multimodal_features",
            "multimodal_arrow_map",
            "source_csv_roundtrip",
            "stream_tumbling",
        ),
    ),
}

# End-to-end metrics, printed by every untraced run.
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "batch_wall_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MiB",
}

# Per-layer metrics of a traced run: name -> (unit, better, the end-to-end
# metric it should move, and on which workload).
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s on every workload"),
    "tables.layout_s": ("s", "lower", "setup_s on every workload"),
    "tables.load_calls": ("count", "lower", "query_p50_s on both workloads"),
    "tables.load_s": ("s", "lower", "query_p50_s and batch_wall_s on both workloads"),
    "operators.build_s": ("s", "lower", "batch_wall_s on llm_ingest_sf0.01"),
    "operators.build_jobs": ("count", "lower", "batch_wall_s on llm_ingest_sf0.01"),
    "spark.plan_s": ("s", "lower", "query_p50_s on both workloads"),
    "spark.exchanges": ("count", "lower", "query_p50_s on relational_sf0.1"),
    "spark.exec_s": ("s", "lower", "batch_wall_s on relational_sf0.1"),
    "spark.jobs": ("count", "lower", "batch_wall_s on relational_sf0.1"),
    "spark.stages": ("count", "lower", "batch_wall_s on relational_sf0.1"),
    "spark.tasks": ("count", "lower", "batch_wall_s on relational_sf0.1"),
    "spark.task_run_s": ("s", "lower", "batch_wall_s on relational_sf0.1"),
    "spark.task_cpu_s": ("s", "lower", "batch_wall_s on relational_sf0.1"),
    "spark.core_util": ("ratio", "higher", "batch_wall_s on relational_sf0.1"),
    "spark.shuffle_write_mb": ("MiB", "lower", "batch_wall_s on relational_sf0.1"),
    "spark.spill_mb": ("MiB", "lower", "batch_wall_s on relational_sf0.1"),
    "spark.dispatch_s": ("s", "lower", "query_p50_s on llm_ingest_sf0.01"),
    "spark.cached_mb": ("MiB", "lower", "peak_rss_mb on llm_ingest_sf0.01"),
    # both read 0 on relational_sf0.1, which evaluates no Python
    "functions.python_eval_nodes": ("count", "lower", "batch_wall_s on llm_ingest_sf0.01"),
    "functions.python_worker_cpu_s": ("s", "lower", "batch_wall_s on llm_ingest_sf0.01"),
    "ranks.scratch_released": ("count", "lower", "peak_rss_mb on llm_ingest_sf0.01"),
    "ranks.release_s": ("s", "lower", "batch_wall_s on llm_ingest_sf0.01"),
    "streaming.run_s": ("s", "lower", "batch_wall_s on llm_ingest_sf0.01"),
    "streaming.queries": ("count", "lower", "batch_wall_s on llm_ingest_sf0.01"),
    "sources.files_written": ("count", "lower", "batch_wall_s on llm_ingest_sf0.01"),
    "sources.mb_written": ("MiB", "lower", "batch_wall_s on llm_ingest_sf0.01"),
    "trace.batch_wall_s": ("s", "lower", "tracing overhead: compare with batch_wall_s"),
}
