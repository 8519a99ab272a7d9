"""The benchmark's workloads: which queries run, how their results are
consumed, and what input each needs. README.md says why each was chosen.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # ExecutionMode name from ``spark_sql_perf_spark.modes``
    mode: str
    # "registry": ``operators.QUERIES[name](spark, sf_dir)`` over the
    # ten generated tables; "tpcds": ``spark.sql(TPCDS14_QUERIES[name])``
    # over tables written by ``sources.datagen.gen_tpcds``
    source: str


REGISTRY_SF = 0.01
TPCDS_SCALE = 0.01
SMOKE_SF = 0.001
SMOKE_TPCDS_SCALE = 0.001

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "llm_pipeline",
            (
                "a10_udaf_geomean", "d6_dedup_components",
            ),
            mode="write_parquet",
            source="registry",
        ),
        Workload(
            "tpcds_multijoin",
            ("q28", "q88", "q96"),
            mode="collect",
            source="tpcds",
        ),
    )
}


def tpcds_tables(queries: tuple[str, ...]) -> list[str]:
    """The TPC-DS tables the given queries read, in generation order."""
    import re

    from spark_sql_perf_spark.operators.tpcds14_suite import (
        TPCDS14_QUERIES,
        TPCDS14_TABLES,
    )

    text = " ".join(TPCDS14_QUERIES[q] for q in queries)
    return [t for t in TPCDS14_TABLES if re.search(rf"\b{t}\b", text)]
