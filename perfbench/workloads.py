"""The benchmark's workloads: which registered queries one pass runs.

Each workload is one closed loop: a single client runs every query of
the pass in a seed-chosen order, waiting for each result before it
starts the next. The lists are owned here, not imported from
``bench.py``, so a change to the program cannot change what the
benchmark measures.

A query is either *collected* (its rows come back to the driver) or
*counted* (only its row count does), the same split ``bench.py`` uses:
large results are counted so the driver does not time a Python
deserialisation of half a million rows.

Queries that write through ``queries/formats.py`` are left out of every
workload: that module writes under a fixed ``/tmp`` path, and a run of
the benchmark writes only inside its own checkout.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    collect: tuple[str, ...]
    count: tuple[str, ...]

    @property
    def queries(self) -> tuple[str, ...]:
        return self.collect + self.count


WORKLOADS = {w.name: w for w in (
    Workload(
        # bench.py's 12 headline queries: short, overhead-bound scans and
        # joins where source loads, Catalyst and job dispatch dominate
        name="threat_headline",
        collect=(
            "after_hours_top10",
            "high_activity_top10",
            "unusual_resources_top10",
            "degree_centrality_top10",
            "user_features",
            "pricing_summary",
            "top_revenue_orders",
            "nation_revenue",
            "returnflag_rollup",
        ),
        count=(
            "two_hop_resource_paths",
            "supplier_running_revenue",
            "top_orders_per_customer",
        ),
    ),
    Workload(
        # embedding kernels (exact cosine top-k, hard-negative mining),
        # SMOTE oversampling plus hashed undersampling through the ml
        # package, and two stream drains into memory sinks: kernels,
        # driver-side ml calls, state stores and residue left between
        # queries, with few source loads
        name="kernels_streams",
        collect=(
            "cosine_topk",
            "hard_negative_mining",
            "smote_resampled_counts",
            "stream_topk_users",
            "stream_cdc_state",
        ),
        count=(),
    ),
)}
