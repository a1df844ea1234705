"""The benchmark's workloads: each is a fixed list of
``__spark_entry__.queries()`` builders.

The driver-side layers a later optimisation will target (py4j Column
building, eager jobs, lineage cuts, stream drains) do most of their work
in ``driver`` and little in ``etl``, whose time is spent executing; the
layer -> metric map is in README.md.  The lists are short on purpose:
one pass is a few seconds at sf0.1 on four cores, so that several passes
fit in one timed run and the benchmark's many runs fit its time budget.
Workload names, metric names and units are declared in BENCHMARK.json.
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    "etl": (
        "pricing_summary",
        "composite_key_join",
        "closest_stations_grid",
        "cleaning_scalars",
        "ann_ivf",
    ),
    "driver": (
        "flatten_hierarchy",
        "streaming_user_stats",
    ),
}
