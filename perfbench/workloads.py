"""The benchmark's workloads: which registered queries each one runs.

Every query is a ``registry.all_queries()`` entry, run on the tables that
``datagen.py`` writes. ``tables`` lists what the workload's queries read,
for the traced run's ``catalog.resolve_s``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    tables: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="analytics",
            why=(
                "read-only scan, join, window and aggregate queries: where "
                "catalog, scan, codegen and shuffle changes show"
            ),
            queries=(
                "q1_pricing_summary",
                "j1_inner_equi_join",
                "j8_asof_join",
                "w1_row_number_latest",
                "o3_top_k_per_group",
                "x1_exact_dedup",
            ),
            tables=("lineitem", "orders", "customer", "events", "documents"),
        ),
        Workload(
            name="curation_etl",
            why=(
                "REST and CSV extract, per-source sampling, vector top-k and "
                "text curation, then sink writes read back: builder-heavy, "
                "with Python workers"
            ),
            queries=(
                "e1_etl_connector",
                "s6_csv_scan",
                "x6g_per_source_sample",
                "x3y_mips_matmul_topk",
                "x4f_corpus_curation",
                "s7_raw_sink_roundtrip",
                "t7_incremental_sink",
            ),
            tables=("documents", "embeddings", "events", "customer"),
        ),
    )
}

# Modules that register the workloads' queries; each gets the per-module
# layer metrics in a traced run (zero where a workload runs none of its
# queries).
MODULES = (
    "operators.aggregations",
    "operators.joins",
    "operators.asof",
    "operators.windows",
    "operators.sorts",
    "operators.dedup",
    "operators.curation",
    "operators.similarity",
    "operators.textanalysis",
    "plans.pipeline",
    "sources.files",
    "sources.sink",
    "streaming.windows",
)
