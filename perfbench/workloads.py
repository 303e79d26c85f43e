"""The benchmark's workloads: which catalog queries one pass runs and
the tables its set-up loads.

Each list is a slice of the family the workload stands for, sized so a
run (set-up, one or two passes, output checks) stays near a minute on
a shared 4-core host: a micro-batch replay costs several seconds of
engine machinery even on tiny inputs. An odd number of queries keeps
``query_p50_s``, the median over queries, from jumping between the
two middle queries as noise reorders them.
"""

from __future__ import annotations

from dataclasses import dataclass

@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    tables: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        # The DWM as-of dim enrichment of orders as a micro-batch replay:
        # write_replay into a cached file channel, then the bucketed
        # applyInPandasWithState operator (Python keyed state) drained
        # into a memory sink. Time is micro-batch machinery and state
        # work. One query: every other replay tried (first-visit fix,
        # CDC routing into the dim store, windowed visitor stats) added
        # 10-20 s per run, more than the run budget allows.
        Workload(
            "warehouse_stream",
            ("dim_enrichment_asof_stream",),
            tables=("orders", "customer"),
        ),
        # Batch twins of the same topology (warehouse / logs / cdc /
        # timeseries plans): Catalyst/AQE joins, aggregates, parse and
        # routing, no micro-batches.
        Workload(
            "warehouse_batch",
            (
                "pricing_summary",
                "local_supplier_volume",
                "funnel_attribution",
                "cdc_envelope_parse",
                "events_ohlc_hourly",
            ),
            tables=("region", "nation", "customer", "supplier", "orders", "lineitem", "events"),
        ),
    )
}
