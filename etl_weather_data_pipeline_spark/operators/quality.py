"""Data-quality metrics and gating (SURVEY §2.7 A1, §2.12 gate).

The reference computes metrics eagerly in pandas (src/transform.py:301-315)
and gates in the DAG (airflow_dag/weather_etl_dag.py:349-389). Here the
metrics are ONE single-pass aggregate (partial+final, exact countDistinct —
they feed a correctness gate, so no approx) and the gate is a pure function
over the 1-row result.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from etl_weather_data_pipeline_spark.schemas import RAW_COLUMNS


@dataclass(frozen=True)
class QualityThresholds:
    """Defaults mirror the reference DAG (weather_etl_dag.py:360-362)."""

    min_retention_rate: float = 0.8
    min_quality_score: float = 70.0
    min_records: int = 5


def quality_metrics(
    df: DataFrame, total_input: int | Callable[[int], int]
) -> Row:
    """A1 — global quality aggregate in one job.

    Null counting sums ``isNull`` casts per column inside the same
    aggregate (the reference's ``isnull().sum().sum()``), so no extra pass.
    ``total_input`` may be a callable taking the output row count, read
    after the aggregate ran — for an input count observed by that same
    action.
    """
    null_cols = [c for c in RAW_COLUMNS if c in df.columns]
    null_total = sum(
        (F.sum(F.col(c).isNull().cast("long")) for c in null_cols), F.lit(0)
    )
    row = df.agg(
        F.count("*").alias("total_records_output"),
        F.avg("quality_score").alias("average_quality_score"),
        # coalesce: SUM over ZERO rows is null — an all-invalid batch
        # (every row dropped by validation) must flow through to the
        # quality gate as 0-retention metrics, not crash the metrics
        # computation itself with a None arithmetic TypeError (r11)
        F.coalesce(null_total, F.lit(0)).alias("null_cells"),
        F.countDistinct("city").alias("unique_cities"),
        F.countDistinct("country").alias("unique_countries"),
        F.min("timestamp").alias("timestamp_min"),
        F.max("timestamp").alias("timestamp_max"),
    ).first()
    n_out = row["total_records_output"]
    if callable(total_input):
        total_input = total_input(n_out)
    n_cells = max(n_out * len(null_cols), 1)
    return Row(
        total_records_input=total_input,
        total_records_output=n_out,
        data_retention_rate=(n_out / total_input) if total_input else 0.0,
        average_quality_score=float(row["average_quality_score"] or 0.0),
        missing_values_percentage=100.0 * row["null_cells"] / n_cells,
        unique_cities=row["unique_cities"],
        unique_countries=row["unique_countries"],
        timestamp_min=row["timestamp_min"],
        timestamp_max=row["timestamp_max"],
    )


def quality_gate(
    metrics: Row, thresholds: QualityThresholds = QualityThresholds()
) -> None:
    """Raise ValueError when the batch fails the gate
    (reference weather_etl_dag.py:349-389). Reference ordering: the
    gate task runs AFTER the load (``load_task >> quality_group``,
    weather_etl_dag.py:478) — it flags the published batch and fails the
    run; the failure is recorded in load_history and a corrected re-run
    converges through the idempotent upsert."""
    failures = []
    if metrics["data_retention_rate"] < thresholds.min_retention_rate:
        failures.append(
            f"retention {metrics['data_retention_rate']:.3f} < "
            f"{thresholds.min_retention_rate}"
        )
    if metrics["average_quality_score"] < thresholds.min_quality_score:
        failures.append(
            f"avg quality {metrics['average_quality_score']:.1f} < "
            f"{thresholds.min_quality_score}"
        )
    if metrics["total_records_output"] < thresholds.min_records:
        failures.append(
            f"records {metrics['total_records_output']} < {thresholds.min_records}"
        )
    if failures:
        raise ValueError("quality gate failed: " + "; ".join(failures))


def metrics_json(metrics: Row) -> str:
    """Serialize metrics for the metrics_json column (E23)."""
    d = metrics.asDict()
    for k in ("timestamp_min", "timestamp_max"):
        if d.get(k) is not None:
            d[k] = d[k].isoformat()
    return json.dumps(d, sort_keys=True)
