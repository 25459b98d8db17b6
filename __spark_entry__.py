"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship multiway-join query at sf0.001;
``queries()``/``oracle_sql()`` expose 50 oracle-checked queries: every
implemented operator from SURVEY.md §2 (see COVERAGE.md for the
line-by-line map) plus the training-data-pipeline and lakehouse
extensions (dedup, ANN, multimodal, text analysis, decontamination,
MERGE INTO / CDC apply, the data-quality gate, streaming incl. a
watermarked stream-stream interval join, range join, SQL time
travel over the engine's own snapshot tables) with DuckDB oracles.
The registry holds 109 oracle-paired queries in total; the 59 past the
50-row driver cap (``_PYTEST_ONLY`` in queries/__init__.py) are
oracle-checked in pytest (tests/test_oracle.py) and by the full gate
mirror (tools/gate_sim.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Python workers resolve our mapInPandas/applyInPandas kernels by
# module reference; export the package path for sessions created after
# this import (kernel-using queries additionally addPyFile the package
# into already-running sessions via ensure_executor_package).
from big_data_spark.session import export_package_pythonpath  # noqa: E402

export_package_pythonpath()

from big_data_spark.queries import ORACLE_SQL, QUERIES  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["join_multiway"](spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query."""
    return dict(ORACLE_SQL)
