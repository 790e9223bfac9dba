"""End-to-end weather ETL (reference entry point 1, SURVEY §3.1).

One lazy lineage: source → transform → keyed upsert → quality gate →
operational-table appends. The gate runs AFTER the load — reference
parity, not an accident: the DAG orders ``ingest >> transform >>
load_task >> quality_group`` (weather_etl_dag.py:478), so a
gate-rejected batch is already in the store there too; the failure is
recorded in load_history and surfaced by raising, and the idempotent
upsert converges on a corrected re-run. Stage boundaries exist only
where the plan genuinely needs them (the dedup/metrics shuffles), not at
process hops — the reference's CSV hand-offs and per-row loads
disappear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_weather_data_pipeline_spark.operators.quality import (
    QualityThresholds,
    metrics_json,
    quality_gate,
    quality_metrics,
)
from etl_weather_data_pipeline_spark.sinks.writers import (
    Stopwatch,
    append_load_history,
    append_quality_metrics,
    merge_upsert,
)
from etl_weather_data_pipeline_spark.transform import transform_weather


def run_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    warehouse_dir: str,
    thresholds: QualityThresholds = QualityThresholds(),
    source_info: str = "batch",
) -> dict:
    """Run the full ETL over an already-loaded raw DataFrame.

    Returns the quality metrics dict; raises if the quality gate fails
    (after recording the failed load in load_history, matching the
    reference src/load.py:304-314).
    """
    weather_path = f"{warehouse_dir}/weather_data"
    metrics_path = f"{warehouse_dir}/data_quality_metrics"
    history_path = f"{warehouse_dir}/load_history"

    # The input count rides the first action on `enriched` (the quality
    # aggregate, which builds its cache) instead of a separate scan.
    # The median branch of handle_missing reads the same upstream again;
    # both copies of the observation see every raw row and report under
    # one name, so the count is not doubled.
    raw_obs = Observation()
    enriched = transform_weather(
        raw.observe(raw_obs, F.count(F.lit(1)).alias("n"))
    ).cache()

    def observed_input(n_out: int) -> int:
        # AQE replaces the scan of an EMPTY cached relation with an empty
        # local relation, so the observation inside it is never reported;
        # a batch with no surviving rows is counted directly instead.
        return raw_obs.get["n"] if n_out else raw.count()

    try:
        metrics = quality_metrics(enriched, observed_input)
        total_input = metrics["total_records_input"]
        try:
            with Stopwatch() as sw:
                counts = merge_upsert(spark, enriched, weather_path)
        except Exception as e:
            # K8: history is written even when the LOAD itself fails
            # (reference src/load.py:309-314 logs status='failed' and
            # re-raises) — a dup-key batch or a concurrent-append abort
            # must leave an audit row, not vanish.
            append_load_history(
                spark,
                history_path,
                records_loaded=0,
                records_failed=total_input,
                duration_s=sw.seconds,
                status="failed",
                error_message=str(e),
                source_info=source_info,
            )
            raise
        m = metrics.asDict()
        m["metrics_json"] = metrics_json(metrics)
        append_quality_metrics(spark, m, metrics_path)
        try:
            quality_gate(metrics, thresholds)
            status, err = "success", None
        except ValueError as e:
            status, err = "quality_gate_failed", str(e)
        append_load_history(
            spark,
            history_path,
            # the Delta MERGE path returns -1 sentinels (no counts API)
            # — clamp BOTH fields so the audit row never records a
            # negative load
            records_loaded=max(counts.get("inserted", 0), 0),
            records_updated=max(counts.get("updated", 0), 0),
            duration_s=sw.seconds,
            status=status,
            error_message=err,
            source_info=source_info,
        )
        if err:
            raise ValueError(err)
        return m
    finally:
        enriched.unpersist()
