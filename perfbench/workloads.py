"""The benchmark's workloads: which operations each one runs, and why.

Every workload is a closed loop: one client (the driver thread) runs
its operations one after another. A *pass* runs every operation of the
workload once, in an order the seed permutes. README.md explains why
each workload exists and which layers it is meant to expose.
"""

from __future__ import annotations

from dataclasses import dataclass

#: plans.etl.main_flow over the seeded gzip CSV.
ETL_OP = "etl_main_flow"

#: Fixture scale factor. At this size every operation is dominated by
#: per-query overhead (construction, planning, scheduling, Python-worker
#: round trips), which is what a pass must finish quickly enough to measure.
SF = 0.001


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    csv_rows: int = 0  # generated taxi rows; 0 = no ingest CSV


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        # Catalog-heavy batch queries: 27 load_table calls a pass, each
        # launching a schema-inference job; the two LLM-tier keys add
        # execution-bound similarity search and text scoring.
        Workload(
            "query",
            (
                # bench.py's ten relational headline keys
                "join_multiway", "agg_groupby", "join_shuffle", "agg_distinct",
                "win_topk_per_group", "win_running", "join_asof", "sort_limit",
                "filter_ne", "scan_parquet",
                # the LLM-data curation tier
                "sim_topk", "text_lm_score",
            ),
        ),
        # Data movement: the paper's ETL flow (never touches the catalog),
        # an availableNow stream into a Python DataSource writer, and the
        # batch Python DataSource writer.
        Workload(
            "pipeline",
            (ETL_OP, "stream_python_ds_sink", "sink_python_ds"),
            csv_rows=50_000,
        ),
    )
}

#: Every operation any workload runs, in a fixed order (per-op metrics).
ALL_OPS: tuple[str, ...] = tuple(op for w in WORKLOADS.values() for op in w.ops)
