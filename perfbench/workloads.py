"""The benchmark's workloads: frozen query lists.

Each list is a subset of the registry, small enough that the JVM start,
the untimed check pass and a run of the length ``BENCHMARK.json`` fixes
fit the benchmark's time budget on a 4-core host. Why each workload
exists is recorded in ``BENCHMARK.json``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]

    @property
    def sf_name(self) -> str:
        return f"sf{self.sf:g}"


WORKLOADS = {
    w.name: w
    for w in (
        # Scan, join and shuffle work on the largest tables, read from
        # parquet: executor compute dominates the wall.
        Workload(
            name="tpch_sf01",
            sf=0.1,
            queries=(
                "q3_top_orders",
                "q6_forecast_revenue",
                "q14_promo_revenue",
            ),
        ),
        # A consumer of two of the four session-shared artifacts (basket
        # items and co-counts, built by eager checkpoint jobs once per
        # session), a pandas UDF (the only Python-worker user, so every
        # pass pays the worker start in it whatever the order), and the
        # exactly-once stream sink writing to Derby through JDBC under
        # the staging root.
        Workload(
            name="artifact_io_sf001",
            sf=0.01,
            queries=(
                "q_association_rules",
                "q_pandas_scalar_udf",
                "q_stream_jdbc_exactly_once",
            ),
        ),
    )
}
