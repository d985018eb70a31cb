"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's e2e test query
re-expressed through the dialect front) at sf0.001; ``queries()`` /
``oracle_sql()`` expose the full coverage suite from
``boostdb_spark.suite`` (one entry per operator family in SURVEY.md
section 2).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from boostdb_spark import suite  # noqa: E402
from boostdb_spark.session import _DEFAULTS  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


#: Keys of ``session._DEFAULTS`` set on a session the engine did not
#: build (the driver's own): the reader and plan settings its queries
#: depend on. PySpark's DataFrame debugging key is not among them: it
#: is a static config (a runtime set raises CANNOT_MODIFY_STATIC_CONFIG),
#: so a session ``get_spark`` did not build keeps PySpark's per-call
#: origin capture, about 4 extra py4j round trips per Column call. To
#: avoid it, build the session with
#: ``spark.python.sql.dataFrameDebugging.enabled=false``.
RUNTIME_KEYS = (
    # the events fixture is TIMESTAMP(NANOS) parquet
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    # broadcast posture: static estimate-based broadcasts off, AQE
    # re-converts at runtime from actual sizes
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


def _ensure_conf(spark: SparkSession) -> SparkSession:
    """Set ``RUNTIME_KEYS`` to the engine's values (``session._DEFAULTS``)."""
    for k in RUNTIME_KEYS:
        try:
            spark.conf.set(k, _DEFAULTS[k])
        except Exception:
            pass
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_conf(spark)
    return suite.spark_queries()["flagship_series_scan"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(_ensure_conf(spark), sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(fn) for name, fn in suite.spark_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted entries get the
    driver's weaker rows-only check)."""
    return suite.oracle_queries()
