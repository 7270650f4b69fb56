"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship history-fact plan at sf0.001;
``queries()`` / ``oracle_sql()`` register every implemented operator
from SURVEY.md §2 with its DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_capstone_project_spark import plans
from data_pipeline_capstone_project_spark.registry import QUERIES, ORACLES


def _tune(spark: SparkSession) -> None:
    """Runtime-settable confs the driver's session may lack. UTC is
    required for bit-exact timestamp comparison with DuckDB; the
    package zip must be shipped so executor Python workers can import
    the Pandas-UDF modules regardless of the driver's cwd."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    from data_pipeline_capstone_project_spark.session import ship_package

    ship_package(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _tune(spark)
    return plans.history_fact(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _tune(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    # A registry value may be a zero-arg callable (an oracle too
    # expensive to build at import time - e.g. h264_frames encodes and
    # bit-decodes its whole fixture family); resolve those here.
    # ADVICE r11: contain a builder failure (fixture drift raising in
    # its fixture_check invariants) to the ONE entry it belongs to - a
    # never-matching sentinel row fails that entry's hash compare
    # loudly while the other 200+ oracles still resolve.
    out: dict[str, str] = {}
    for k, v in ORACLES.items():
        if callable(v):
            try:
                out[k] = v()
            except Exception as exc:
                msg = str(exc).replace("'", "''")[:200]
                out[k] = (
                    "SELECT 'ORACLE_BUILD_FAILED' AS oracle_error, "
                    f"'{msg}' AS detail"
                )
        else:
            out[k] = v
    return out
