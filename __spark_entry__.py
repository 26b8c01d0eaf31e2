"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
# Spark Python workers must be able to import panelsplit_spark to unpickle
# estimators shipped inside grouped-map fit functions.
os.environ["PYTHONPATH"] = _REPO + ":" + os.environ.get("PYTHONPATH", "")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed panel CV on sf0.001 events — 3 expanding
    daily folds, per-fold OLS fit from one per-period moment cube
    (closed form, no Python UDF), out-of-fold predictions as a
    literal-coefficient projection indexed by ``fold_id``."""
    from pyspark.sql import functions as F

    from panelsplit_spark import (
        LinearRegression,
        PanelSplit,
        cross_val_fit_predict,
    )
    from panelsplit_spark.sources.tables import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .withColumn("period", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("hod", F.hour("ts").cast("double"))
    )
    ps = PanelSplit(ev, "period", n_splits=3)
    preds, _ = cross_val_fit_predict(
        LinearRegression(), ev, ["hod"], "value", ps,
        keep_cols=["event_id", "period", "value"],
    )
    return preds.select(
        "event_id",
        "period",
        F.col("fold_id").cast("long").alias("fold_id"),
        "value",
        F.round("prediction", 6).alias("pred"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from panelsplit_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query key."""
    from panelsplit_spark.queries import ORACLES

    return dict(ORACLES)
