"""Workloads and the metric catalogue of the layered benchmark.

Shared by the launcher (``run.py``) and the in-session worker
(``worker.py``). The metric names, units and directions are read from
BENCHMARK.json; only which end-to-end metric each per-layer metric should
move is kept here.
"""

from __future__ import annotations

import json
import os

# bench.py's BENCH_QUERIES, the headline set
HEADLINE = (
    "a1_pricing_summary",
    "a5_cube",
    "j1_inner_join",
    "j6_star_join",
    "j9_asof_join",
    "w2_topk_per_group",
    "o5_dedup_latest",
    "l1_exact_dedup",
    "l2b_minhash_lsh",
    "l3_cosine_topk",
    "l5_tfidf_top_terms",
    "u1_pandas_udf",
)

# machinery whose build phase fires many eager jobs (m47 also commits
# lakehouse files); l36_text_index_lifecycle would add ~20 s a run, more
# than the benchmark's time budget leaves
MAINTENANCE = (
    "m47_partition_evolution",
    "l43_bpe_encode",
)

# scale factor of the generated fixture tables, the same for every workload
SF = 0.01

H, M = "headline_sf001", "maintenance_sf001"
WORKLOADS = {H: HEADLINE, M: MAINTENANCE}  # name -> queries, run in this order

# the end-to-end metric each per-layer metric should move, and on which
# workload; names, units and directions come from BENCHMARK.json
MOVES = {
    "registry.build_s": f"queries_per_s on {H}; ~none on {M}",
    "registry.build_driver_s": f"queries_per_s on {H}",
    "registry.build_py4j_calls": f"queries_per_s on {H}",
    "registry.build_jobs": f"queries_per_s, first_pass_s on {M}; none on {H}",
    "registry.build_job_s": f"queries_per_s, first_pass_s on {M}",
    "session.load_table_calls": "first_pass_s on both",
    "session.load_table_s": f"queries_per_s on {H}",
    "session.first_pass_load_table_s": "first_pass_s on both (schema-memo misses)",
    "session.materialize_calls": "first_pass_s, retained_heap_mb on both",
    "spark.plan_s": "none: planning is <0.1 s a query (guard)",
    "spark.plan_nodes": "none: deterministic plan-shape guard",
    "spark.plan_exchanges": f"queries_per_s on {H}",
    "spark.exec_s": f"queries_per_s on {H}",
    "spark.exec_jobs": f"queries_per_s on {H}",
    "spark.exec_stages": f"queries_per_s on {H}",
    "spark.exec_tasks": f"queries_per_s on {H}",
    "spark.task_run_s": f"queries_per_s on {H}",
    "spark.core_busy_frac": f"queries_per_s on {H}",
    "spark.shuffle_read_mb": f"queries_per_s on {H}",
    "spark.shuffle_write_mb": f"queries_per_s on {H}",
    "spark.spill_mb": f"queries_per_s on {H}",
    "spark.input_mb": f"queries_per_s on {H}",
    "spark.driver_peak_rss_mb": "retained_heap_mb on both",
    "lakehouse.output_mb": f"queries_per_s on {M}; zero on {H}",
    "lakehouse.files_written": f"queries_per_s on {M}; zero on {H}",
    "lakehouse.stored_mb": f"queries_per_s on {M}; JVM native-library extracts only on {H}",
    "session.error_log_lines": "failed, retained_heap_mb on both",
    "session.persisted_rdds": "retained_heap_mb on both",
    "compare.mismatches": "failed (correct) on both",
    # tracing overhead: this over an untraced run's mean warm pass
    # (query count / queries_per_s)
    "trace.warm_pass_s": "none: wall of the traced warm pass",
}


def _catalogue() -> tuple[tuple, tuple]:
    """(END_TO_END, PER_LAYER) as (name, unit, better) rows, read from
    BENCHMARK.json at the repository root."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    e2e = tuple((m["name"], m["unit"], m["better"]) for m in bench["end_to_end"])
    layer = tuple((m["name"], m["unit"], m["better"]) for m in bench["per_layer"])
    if {w["name"] for w in bench["workloads"]} != set(WORKLOADS):
        raise SystemExit("perfbench: BENCHMARK.json workloads differ from spec.WORKLOADS")
    if {row[0] for row in layer} != set(MOVES):
        raise SystemExit("perfbench: BENCHMARK.json per_layer metrics differ from spec.MOVES")
    return e2e, layer


# reported with --trace 0 / with --trace 1 (summed over the queries of one
# traced warm pass)
END_TO_END, PER_LAYER = _catalogue()
UNITS = {row[0]: row[1] for row in END_TO_END + PER_LAYER}
