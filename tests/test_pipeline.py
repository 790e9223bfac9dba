"""Integration tests for the e2e pipeline, sinks, views, and quality gate —
ports the reference integration suite (tests/test_integration.py) to the
Spark engine."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_weather_data_pipeline_spark.operators.quality import (
    QualityThresholds,
    quality_gate,
    quality_metrics,
)
from etl_weather_data_pipeline_spark.pipeline import run_pipeline
from etl_weather_data_pipeline_spark.plans import views
from etl_weather_data_pipeline_spark.schemas import RAW_SCHEMA
from etl_weather_data_pipeline_spark.sinks.writers import UPSERT_KEYS, merge_upsert
from etl_weather_data_pipeline_spark.transform import transform_weather


def _obs(city, cc, h, temp, lat=51.5, lon=-0.1, minute=0, day=7):
    return (
        city, cc, dt.datetime(2023, 11, day, h, minute), temp, temp - 1.0,
        60, 1013, "ok", 3.0, 180, 40, 10.0, lat, lon,
    )


@pytest.fixture()
def batch(spark):
    rows = [
        _obs(c, cc, h, t + h, lat, lon)
        for c, cc, lat, lon, t in [
            ("London", "GB", 51.5, -0.12, 15.0),
            ("Tokyo", "JP", 35.6, 139.6, 22.0),
            ("Paris", "FR", 48.8, 2.35, 12.0),
        ]
        for h in range(3)
    ]
    return spark.createDataFrame(rows, RAW_SCHEMA)


def test_run_pipeline_e2e(spark, batch, tmp_path):
    wh = str(tmp_path / "wh")
    m = run_pipeline(spark, batch, wh, source_info="test")
    assert m["total_records_input"] == 9
    assert m["total_records_output"] == 9
    assert m["data_retention_rate"] == 1.0
    stored = spark.read.parquet(f"{wh}/weather_data")
    assert stored.count() == 9
    hist = spark.read.parquet(f"{wh}/load_history").collect()
    assert hist[0]["status"] == "success"
    metrics = spark.read.parquet(f"{wh}/data_quality_metrics").collect()
    assert metrics[0]["unique_cities"] == 3
    assert metrics[0]["metrics_json"].startswith("{")


def test_upsert_idempotency(spark, batch, tmp_path):
    """Reference tests/test_integration.py:150-210: re-loading the same
    keys must not grow the table; changed values must win."""
    wh = str(tmp_path / "wh")
    enriched = transform_weather(batch)
    merge_upsert(spark, enriched, f"{wh}/weather_data")
    n1 = spark.read.parquet(f"{wh}/weather_data").count()
    # same keys, bumped temperature
    bumped = transform_weather(
        batch.withColumn("temperature", F.col("temperature") + 1.0)
    )
    counts = merge_upsert(spark, bumped, f"{wh}/weather_data")
    stored = spark.read.parquet(f"{wh}/weather_data")
    assert stored.count() == n1
    assert counts["updated"] == n1 and counts["inserted"] == 0
    london = stored.filter(
        (F.col("city") == "London") & (F.col("hour") == 0)
    ).first()
    assert london["temperature"] == 16.0  # updated row won


def test_upsert_rewrites_only_touched_partitions(spark, batch, tmp_path):
    """Scale contract: an upsert touching one date must not read or rewrite
    any other partition (at 100 TB a daily batch touches a handful of date
    partitions out of thousands). Mirrors the reference idempotency test's
    setup (tests/test_integration.py:150-210) with a two-day table."""
    import glob
    import os

    wh = str(tmp_path / "wh")
    two_days = batch.union(
        spark.createDataFrame([_obs("London", "GB", 1, 10.0, day=8)], RAW_SCHEMA)
    )
    def files(day):
        return sorted(
            glob.glob(f"{wh}/weather_data/date=2023-11-{day:02d}/*.parquet")
        )

    merge_upsert(spark, transform_weather(two_days), f"{wh}/weather_data")
    # one file per partition on the fresh-table write too
    assert len(files(7)) == 1 and len(files(8)) == 1
    day7_files = files(7)
    mtimes = {p: os.path.getmtime(p) for p in day7_files}

    # Same key as the day-8 row, bumped temperature -> update, day 8 only.
    bump = spark.createDataFrame([_obs("London", "GB", 1, 11.0, day=8)], RAW_SCHEMA)
    counts = merge_upsert(spark, transform_weather(bump), f"{wh}/weather_data")
    assert counts == {"inserted": 0, "updated": 1}
    # a re-touched partition is REPLACED by one file, not grown
    assert len(files(8)) == 1

    after = files(7)
    assert after == day7_files
    assert all(os.path.getmtime(p) == mtimes[p] for p in day7_files)
    stored = spark.read.parquet(f"{wh}/weather_data")
    assert stored.count() == 10
    assert (
        stored.filter(F.col("date") == "2023-11-08").first()["temperature"] == 11.0
    )  # the updated row won


def _semi_join_counts(spark, batch, path, keys, parts):
    """The upsert's {inserted, updated}, counted the explicit way: batch
    keys that already exist in the partitions the batch touches."""
    table = spark.read.parquet(path)
    batch_parts = batch.select(*parts).distinct()
    touched = table.join(
        batch_parts,
        [table[c].eqNullSafe(batch_parts[c]) for c in parts],
        "left_semi",
    )
    updated = touched.join(batch.select(*keys), list(keys), "left_semi").count()
    return {"inserted": batch.count() - updated, "updated": updated}


@pytest.mark.parametrize(
    "case", ["weather", "null_partition", "new_partitions", "empty"]
)
def test_upsert_counts_match_explicit_semi_join(spark, batch, tmp_path, case):
    """The inserted/updated split observed on the staged write equals an
    explicit semi-join count, on a batch that re-delivers existing keys
    next to new ones — including a re-delivered key whose partition
    value is NULL (the __HIVE_DEFAULT_PARTITION__ dir) — on a batch that
    touches no existing partition (the observed frames are empty), and
    on an empty batch, which must leave the table's files alone."""
    import glob
    import os

    p = str(tmp_path / "t")
    keys, parts = UPSERT_KEYS, ("date",)
    if case == "null_partition":
        keys, parts = ("id",), ("shard",)
        schema = "id long, v string, shard string"
        base = spark.createDataFrame(
            [(1, "a", "s0"), (2, "b", None), (3, "c", None), (4, "d", "s1")],
            schema,
        )
        merge_upsert(spark, base, p, keys=keys, partition_by=parts)
        nxt = spark.createDataFrame(
            [(2, "b2", None), (4, "d2", "s1"), (5, "e", None), (6, "f", "s2")],
            schema,
        )
        want = {"inserted": 2, "updated": 2}
    else:
        merge_upsert(spark, transform_weather(batch), p)
        rows, want = {
            "weather": (
                [
                    _obs("London", "GB", 1, 30.0),  # existing keys, new values
                    _obs("Tokyo", "JP", 2, 30.0),
                    _obs("Paris", "FR", 5, 30.0),  # new hour, same day
                    _obs("Paris", "FR", 1, 30.0, day=8),  # new day
                ],
                {"inserted": 2, "updated": 2},
            ),
            "new_partitions": (
                [_obs("London", "GB", h, 9.0, day=9) for h in range(4)],
                {"inserted": 4, "updated": 0},
            ),
            "empty": ([], {"inserted": 0, "updated": 0}),
        }[case]
        nxt = transform_weather(
            spark.createDataFrame(rows, RAW_SCHEMA)
        ).localCheckpoint()
    assert _semi_join_counts(spark, nxt, p, keys, parts) == want
    mtimes = {f: os.path.getmtime(f) for f in glob.glob(f"{p}/*/*.parquet")}
    assert merge_upsert(spark, nxt, p, keys=keys, partition_by=parts) == want
    if case == "empty":
        after = {f: os.path.getmtime(f) for f in glob.glob(f"{p}/*/*.parquet")}
        assert after == mtimes
    if case == "null_partition":
        stored = {r["id"]: (r["v"], r["shard"]) for r in spark.read.parquet(p).collect()}
        assert stored == {
            1: ("a", "s0"), 2: ("b2", None), 3: ("c", None),
            4: ("d2", "s1"), 5: ("e", None), 6: ("f", "s2"),
        }


def test_upsert_into_existing_table_job_count(spark, batch, tmp_path):
    """Job-count pin for one upsert into an existing partitioned table:
    one batch aggregate (contract, row count, partition values), the
    table's schema read, the batch-key broadcast and the rebalanced
    staged write, with the counts observed on that write. The shape
    with a separate contract action, partition-value collect, updated
    semi-join count and batch count ran 19 jobs here."""
    p = str(tmp_path / "t")
    merge_upsert(spark, transform_weather(batch), p)
    nxt = transform_weather(
        spark.createDataFrame(
            [_obs("London", "GB", 1, 30.0), _obs("Paris", "FR", 1, 30.0, day=8)],
            RAW_SCHEMA,
        )
    ).localCheckpoint()
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    assert merge_upsert(spark, nxt, p) == {"inserted": 1, "updated": 1}
    assert sched.nextJobId() - j0 == 8


def test_run_pipeline_input_count_observed_once(spark, tmp_path):
    """total_records_input is observed on `raw` while the cached
    `enriched` is built; it must equal the parsed payload count on a
    landed file with corrupt lines (never rows) and within-hour
    re-fetches (rows, later deduplicated). The median-fill branch of
    handle_missing reads the same upstream a second time, so the
    observation sits twice in the plan; the count must not double."""
    import json

    from etl_weather_data_pipeline_spark.sources.readers import read_api_json

    def payload(city, cc, ts, temp):
        return json.dumps({
            "coord": {"lon": -0.1, "lat": 51.5},
            "weather": [{"description": "ok"}],
            "main": {"temp": temp, "feels_like": temp - 1.0,
                     "pressure": 1013, "humidity": 60},
            "visibility": 10000,
            "wind": {"speed": 3.0, "deg": 180},
            "clouds": {"all": 40},
            "dt": int(ts.replace(tzinfo=dt.timezone.utc).timestamp()),
            "sys": {"country": cc},
            "name": city,
        })

    t0 = dt.datetime(2023, 11, 7, 6, 0)
    lines = [
        payload(f"City{i}", "GB", t0 + dt.timedelta(hours=h), 10.0 + i)
        for i in range(8)
        for h in range(2)
    ]
    lines += [  # within-hour re-fetches of two readings
        payload("City0", "GB", t0 + dt.timedelta(minutes=20), 10.5),
        payload("City1", "GB", t0 + dt.timedelta(minutes=40), 11.5),
    ]
    lines += ['{"name": "Broken", "main": {', "not json at all"]
    landed = tmp_path / "landed.json"
    landed.write_text("\n".join(lines))
    raw = read_api_json(spark, str(landed))
    m = run_pipeline(spark, raw, str(tmp_path / "wh"))
    assert m["total_records_input"] == raw.count() == 18
    assert m["total_records_output"] == 16
    hist = spark.read.parquet(str(tmp_path / "wh" / "load_history")).collect()
    assert [(r["records_loaded"], r["status"]) for r in hist] == [(16, "success")]

    # No surviving row: AQE drops the empty cached scan, and with it the
    # observation — the input must still be counted, not lost.
    invalid = [_obs("A", "AA", 0, 999.0), _obs("B", "BB", 0, -999.0)]
    wh = str(tmp_path / "wh_invalid")
    with pytest.raises(ValueError, match="quality gate failed"):
        run_pipeline(spark, spark.createDataFrame(invalid, RAW_SCHEMA), wh)
    m = spark.read.parquet(f"{wh}/data_quality_metrics").first()
    assert (m["total_records_input"], m["total_records_output"]) == (2, 0)


def test_delta_merge_builder_contract(spark, batch, tmp_path, monkeypatch):
    """Execute the Delta MERGE-builder path against a fake DeltaTable (the
    real package isn't in this container): the merge condition must cover
    every key and the builder chain must be
    matched-update-all -> not-matched-insert-all -> execute."""
    import sys
    import types

    from etl_weather_data_pipeline_spark.sinks import writers

    calls: dict = {"chain": []}

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(s, p):
            return True

        @classmethod
        def forPath(cls, s, p):
            calls["path"] = p
            return cls()

        def alias(self, a):
            calls["target_alias"] = a
            return self

        def merge(self, source, cond):
            calls["source_cols"] = source.columns
            calls["cond"] = cond
            return self

        def whenMatchedUpdateAll(self):
            calls["chain"].append("matched_update_all")
            return self

        def whenNotMatchedInsertAll(self):
            calls["chain"].append("not_matched_insert_all")
            return self

        def execute(self):
            calls["chain"].append("execute")

    tables_mod = types.ModuleType("delta.tables")
    tables_mod.DeltaTable = FakeDeltaTable
    delta_mod = types.ModuleType("delta")
    delta_mod.tables = tables_mod
    monkeypatch.setitem(sys.modules, "delta", delta_mod)
    monkeypatch.setitem(sys.modules, "delta.tables", tables_mod)
    monkeypatch.setattr(writers, "_delta_available", lambda s: True)

    enriched = transform_weather(batch)
    counts = writers.merge_upsert(spark, enriched, str(tmp_path / "t"))
    assert calls["cond"] == (
        "t.city = s.city AND t.country = s.country AND t.timestamp = s.timestamp"
    )
    assert calls["chain"] == [
        "matched_update_all", "not_matched_insert_all", "execute",
    ]
    assert calls["target_alias"] == "t"
    assert set(enriched.columns) == set(calls["source_cols"])
    assert counts == {"inserted": -1, "updated": -1}


def test_quality_gate_failure_on_dirty_batch(spark, tmp_path):
    rows = [_obs("A", "AA", 0, 15.0), _obs("B", "BB", 0, 999.0)]
    df = spark.createDataFrame(rows, RAW_SCHEMA)
    with pytest.raises(ValueError, match="quality gate failed"):
        run_pipeline(spark, df, str(tmp_path / "wh"))
    hist = spark.read.parquet(f"{tmp_path}/wh/load_history").collect()
    assert hist[0]["status"] == "quality_gate_failed"


def test_quality_gate_thresholds(spark, batch):
    enriched = transform_weather(batch)
    m = quality_metrics(enriched, 9)
    quality_gate(m)  # passes with defaults
    with pytest.raises(ValueError, match="records"):
        quality_gate(m, QualityThresholds(min_records=100))
    with pytest.raises(ValueError, match="retention"):
        quality_gate(quality_metrics(enriched, 100), QualityThresholds())


def test_views_over_stored_table(spark, batch, tmp_path):
    wh = str(tmp_path / "wh")
    run_pipeline(spark, batch, wh)
    stored = spark.read.parquet(f"{wh}/weather_data")
    views.register_weather_views(stored)
    daily = spark.sql(
        "SELECT * FROM daily_weather_summary ORDER BY city"
    ).collect()
    assert len(daily) == 3
    assert all(r["record_count"] == 3 for r in daily)
    latest = spark.sql("SELECT city, hour FROM latest_weather ORDER BY city").collect()
    assert [r["hour"] for r in latest] == [2, 2, 2]  # newest hour per city
    seasonal = spark.sql("SELECT * FROM seasonal_weather_trends").collect()
    assert all(r["season"] == "Autumn" for r in seasonal)
    summary = views.data_summary(stored).first()
    assert summary["total_records"] == 9
    assert summary["unique_countries"] == 3


def test_partition_pruning_on_date(spark, batch, tmp_path):
    """The date partitioning replaces the reference's indexes; a date
    filter must prune partitions at scan time."""
    wh = str(tmp_path / "wh")
    two_days = batch.union(
        spark.createDataFrame(
            [_obs("London", "GB", 1, 10.0, day=8)], RAW_SCHEMA
        )
    )
    run_pipeline(spark, two_days, wh)
    stored = spark.read.parquet(f"{wh}/weather_data")
    plan = (
        stored.filter(F.col("date") == "2023-11-08")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    assert stored.filter(F.col("date") == "2023-11-08").count() == 1


def test_sorted_parquet_layout_enables_skipping(spark, tmp_path):
    """write_parquet_sorted must produce files whose row-group min/max
    ranges on the sort key are narrow and mostly disjoint — the footer
    stats a reader uses to skip row groups. Verified against the actual
    parquet metadata, and against an unsorted write of the same data."""
    import glob

    import pyarrow.parquet as pq

    from etl_weather_data_pipeline_spark.plans.catalog import load
    from etl_weather_data_pipeline_spark.sinks.writers import (
        write_parquet,
        write_parquet_sorted,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )

    def key_ranges(root):
        spans = []
        for f in glob.glob(f"{root}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "user_id"
                )
                spans.append((col.statistics.min, col.statistics.max))
        return spans

    write_parquet_sorted(
        ev.repartition(8), str(tmp_path / "sorted"), ["user_id"], num_files=8
    )
    write_parquet(ev.repartition(8), str(tmp_path / "plain"))
    lo = ev.agg(F.min("user_id")).first()[0]
    hi = ev.agg(F.max("user_id")).first()[0]

    def total_span(spans):
        return sum(mx - mn for mn, mx in spans)

    sorted_spans = key_ranges(str(tmp_path / "sorted"))
    plain_spans = key_ranges(str(tmp_path / "plain"))
    assert len(sorted_spans) > 1
    # unsorted row groups each cover ~the whole key domain; sorted ones
    # tile it — total covered span collapses by the row-group count
    assert total_span(sorted_spans) < (hi - lo) * 1.5
    assert total_span(plain_spans) > (hi - lo) * (len(plain_spans) - 1)


def test_compact_parquet(spark, tmp_path):
    """Many small files collapse to few; data survives byte-for-byte.
    Partitioned variant keeps the partition layout (one file per date)."""
    from etl_weather_data_pipeline_spark.plans.catalog import load
    from etl_weather_data_pipeline_spark.sinks.writers import compact_parquet

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value", F.to_date("ts").alias("date")
    )
    flat = str(tmp_path / "flat")
    ev.repartition(32).write.parquet(flat)
    before_rows = spark.read.parquet(flat).count()
    counts = compact_parquet(spark, flat)
    assert counts["files_before"] == 32
    assert counts["files_after"] < 8
    after = spark.read.parquet(flat)
    assert after.count() == before_rows

    part = str(tmp_path / "part")
    ev.repartition(16).write.partitionBy("date").parquet(part)
    counts = compact_parquet(spark, part, partition_by=["date"])
    assert counts["files_after"] < counts["files_before"]
    got = spark.read.parquet(part)
    assert got.count() == before_rows
    import glob

    for d in glob.glob(f"{part}/date=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d


def test_compact_parquet_splits_hot_partition(spark, tmp_path):
    """A hive partition far above target_file_mb must compact to MULTIPLE
    bounded files (one giant task/file per hot partition is the small-file
    problem's mirror image plus an OOM at 100 TB)."""
    import glob

    from etl_weather_data_pipeline_spark.sinks.writers import compact_parquet

    path = str(tmp_path / "hot")
    # ~6 MB of random-ish payload in date=hot, a few KB in date=cold.
    hot = (
        spark.range(60_000)
        .select(
            F.col("id"),
            F.lit("hot").alias("date"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
    )
    cold = spark.range(10).select(
        F.col("id"),
        F.lit("cold").alias("date"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    hot.unionByName(cold).repartition(24).write.partitionBy("date").parquet(path)
    before_rows = spark.read.parquet(path).count()

    counts = compact_parquet(spark, path, partition_by=["date"], target_file_mb=1)
    hot_files = glob.glob(f"{path}/date=hot/*.parquet")
    cold_files = glob.glob(f"{path}/date=cold/*.parquet")
    assert len(hot_files) > 1, "hot partition must split by size"
    assert len(cold_files) == 1
    assert counts["files_after"] < counts["files_before"]
    assert spark.read.parquet(path).count() == before_rows


def test_compact_parquet_crash_preserves_original(spark, tmp_path, monkeypatch):
    """A failure during the staged rewrite must leave the live table
    untouched and fully readable (crash-safe overwrite contract)."""
    from etl_weather_data_pipeline_spark.sinks import writers

    path = str(tmp_path / "t")
    spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("k")).repartition(
        8
    ).write.parquet(path)
    before = sorted(r["id"] for r in spark.read.parquet(path).collect())

    real = writers.write_parquet

    def boom(df, p, mode="overwrite", partition_by=()):
        real(df, p, mode, partition_by)  # staged files hit disk...
        raise RuntimeError("driver died mid-compaction")

    monkeypatch.setattr(writers, "write_parquet", boom)
    with pytest.raises(RuntimeError):
        writers.compact_parquet(spark, path, target_file_mb=1)
    monkeypatch.undo()
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == before


def test_upsert_crash_preserves_original(spark, batch, tmp_path, monkeypatch):
    """A failure during the staged upsert write must leave every live
    partition readable with its pre-upsert contents."""
    from etl_weather_data_pipeline_spark.sinks import writers

    wh = str(tmp_path / "wh")
    merge_upsert(spark, transform_weather(batch), f"{wh}/weather_data")
    before = spark.read.parquet(f"{wh}/weather_data")
    before_rows = before.count()
    before_temp = before.filter(
        (F.col("city") == "London") & (F.col("hour") == 0)
    ).first()["temperature"]

    real = writers.write_parquet

    def boom(df, p, mode="overwrite", partition_by=()):
        real(df, p, mode, partition_by)
        raise RuntimeError("driver died mid-upsert")

    monkeypatch.setattr(writers, "write_parquet", boom)
    bumped = transform_weather(
        batch.withColumn("temperature", F.col("temperature") + 1.0)
    )
    with pytest.raises(RuntimeError):
        merge_upsert(spark, bumped, f"{wh}/weather_data")
    monkeypatch.undo()
    after = spark.read.parquet(f"{wh}/weather_data")
    assert after.count() == before_rows
    assert (
        after.filter((F.col("city") == "London") & (F.col("hour") == 0)).first()[
            "temperature"
        ]
        == before_temp
    )


def test_upsert_rejects_duplicate_batch_keys(spark, batch, tmp_path):
    """Contract check: two batch rows sharing the merge key make
    last-write-wins ambiguous — the upsert must refuse loudly."""
    wh = str(tmp_path / "wh")
    enriched = transform_weather(batch)
    merge_upsert(spark, enriched, f"{wh}/weather_data")
    dup = enriched.unionByName(enriched.limit(1))
    with pytest.raises(ValueError, match="duplicate"):
        merge_upsert(spark, dup, f"{wh}/weather_data")


def test_export_training_shards(spark, tmp_path):
    """Hash-sharded export: shards partition the corpus, assignment is
    stable across repartitionings (re-export produces an identical
    manifest), the manifest matches the written table, and the _manifest
    dir stays hidden from parquet directory discovery."""
    import os

    from etl_weather_data_pipeline_spark.sinks.writers import (
        export_training_shards,
    )

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("body "), F.col("id")).alias("text"),
    )
    path = str(tmp_path / "shards")
    manifest = {
        r["shard"]: (r["n_rows"], r["content_checksum"])
        for r in export_training_shards(docs, path, n_shards=4).collect()
    }
    back = spark.read.parquet(path)
    assert back.count() == 100  # _manifest not swept into the table read
    assert set(back.columns) == {"doc_id", "text", "shard"}
    counts = {
        int(r["shard"]): r["count"]
        for r in back.groupBy("shard").count().collect()
    }
    assert {s: n for s, (n, _) in manifest.items()} == counts
    assert os.path.isdir(os.path.join(path, "_manifest"))

    again = {
        r["shard"]: (r["n_rows"], r["content_checksum"])
        for r in export_training_shards(
            docs.repartition(7), path, n_shards=4
        ).collect()
    }
    assert again == manifest  # deterministic across partitionings

    # one data file per shard partition (repartition-by-shard before the
    # partitioned write), so shard reads are single-file
    for s in counts:
        files = [
            f
            for f in os.listdir(os.path.join(path, f"shard={s}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, files

    # files_per_shard splits each shard across tasks WITHOUT moving any
    # row between shards: manifest (counts + checksums) is identical,
    # file count rises to at most files_per_shard per shard dir (the
    # 12.5-TB-single-task fix for 100 TB / few-shard exports)
    path_multi = str(tmp_path / "shards_multi")
    multi = {
        r["shard"]: (r["n_rows"], r["content_checksum"])
        for r in export_training_shards(
            docs, path_multi, n_shards=4, files_per_shard=4
        ).collect()
    }
    assert multi == manifest
    total_files = 0
    for s in counts:
        files = [
            f
            for f in os.listdir(os.path.join(path_multi, f"shard={s}"))
            if f.endswith(".parquet")
        ]
        assert 1 <= len(files) <= 4, files
        total_files += len(files)
    assert total_files > len(counts), "files_per_shard had no effect"
    rows_multi = spark.read.parquet(path_multi)
    assert rows_multi.count() == 100
    assert {
        int(r["shard"]): r["count"]
        for r in rows_multi.groupBy("shard").count().collect()
    } == counts


def _footer_col_spans(root, col):
    """Per-FILE (max - min) footer-statistics span of ``col`` across all
    row groups — what a reader's file/row-group skipping sees."""
    import glob

    import pyarrow.parquet as pq

    spans = []
    for f in glob.glob(f"{root}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            c = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == col
            )
            st = c.statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        spans.append(hi - lo)
    return spans


def _avg(xs):
    return sum(xs) / len(xs)


def test_write_zordered_clusters_both_dims(spark, tmp_path):
    """write_zordered must produce files whose footer min/max ranges are
    narrow in BOTH interleaved dimensions — a single-key sorted layout
    is narrow only in its own key (its files span ~the whole domain of
    every other column). Verified against actual parquet footers, at
    the gate SF so the effect is unambiguous."""
    from etl_weather_data_pipeline_spark.operators.layout import (
        write_zordered,
        zorder_key,
    )
    from etl_weather_data_pipeline_spark.plans.catalog import load
    from etl_weather_data_pipeline_spark.sinks.writers import (
        write_parquet_sorted,
    )

    ev = load(spark, "/root/testdata/sf0.01", "events").select(
        "event_id",
        "user_id",
        F.greatest(F.floor(F.col("value")), F.lit(0))
        .cast("long")
        .alias("vq"),
    )
    zkey = zorder_key(F.col("user_id"), F.col("vq"), bits=11)
    write_zordered(ev, str(tmp_path / "z"), zkey, n_files=16)
    write_parquet_sorted(
        ev.repartition(16), str(tmp_path / "u"), ["user_id"], num_files=16
    )

    z_u = _footer_col_spans(str(tmp_path / "z"), "user_id")
    z_v = _footer_col_spans(str(tmp_path / "z"), "vq")
    u_u = _footer_col_spans(str(tmp_path / "u"), "user_id")
    u_v = _footer_col_spans(str(tmp_path / "u"), "vq")
    assert len(z_u) >= 8  # range partitioner may merge empty ranges
    u_domain = 149  # sf0.01: user_id in [0, 149]
    v_domain = ev.agg(F.max("vq") - F.min("vq")).first()[0]
    # single-key layout: its own key is tight, the other column spans
    # ~the whole domain in every file
    assert _avg(u_u) < 0.1 * u_domain, (u_u, u_domain)
    assert _avg(u_v) > 0.6 * v_domain, (u_v, v_domain)
    # z-order: BOTH dimensions narrow in every file
    assert _avg(z_u) < 0.5 * u_domain, (z_u, u_domain)
    assert _avg(z_v) < 0.35 * v_domain, (z_v, v_domain)


def test_compact_parquet_zorder_rejects_partitioned(spark, tmp_path):
    from etl_weather_data_pipeline_spark.sinks.writers import compact_parquet

    p = str(tmp_path / "t")
    spark.range(10).withColumn("d", F.lit("x")).write.partitionBy(
        "d"
    ).parquet(p)
    with pytest.raises(ValueError, match="flat tables"):
        compact_parquet(
            spark, p, partition_by=["d"], zorder_by=["id"], target_file_mb=1
        )


def test_compact_parquet_zorder_clusters_files(spark, tmp_path):
    """Compaction with zorder_by must fix BOTH the small-file problem and
    the layout: output footers narrow in every interleaved dimension,
    where plain compaction leaves each file spanning ~the whole domain."""
    from etl_weather_data_pipeline_spark.sinks.writers import compact_parquet

    # ~300k rows with an incompressible payload sized for ~30 one-MB
    # output files — per-dim span scales ~domain/sqrt(n_files), so the
    # clustering effect needs enough files to be unambiguous; (a, b)
    # independent so neither orders the other
    base = (
        spark.range(300_000)
        .withColumn("a", F.pmod(F.xxhash64("id"), F.lit(1000)))
        .withColumn("b", F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)))
        .withColumn(
            "payload",
            F.concat(
                F.md5(F.col("id").cast("string")),
                F.md5(F.concat(F.col("id").cast("string"), F.lit("x"))),
                F.md5(F.concat(F.col("id").cast("string"), F.lit("y"))),
            ),
        )
    )
    zpath, npath = str(tmp_path / "z"), str(tmp_path / "n")
    for p in (zpath, npath):
        base.repartition(32).write.parquet(p)

    rz = compact_parquet(
        spark, zpath, target_file_mb=1, zorder_by=["a", "b"], zorder_bits=10
    )
    rn = compact_parquet(spark, npath, target_file_mb=1)
    assert rz["files_after"] < rz["files_before"]

    assert len(_footer_col_spans(zpath, "a")) >= 4, rz
    for col in ("a", "b"):
        z, n = _footer_col_spans(zpath, col), _footer_col_spans(npath, col)
        assert _avg(z) < 0.5 * _avg(n), (col, z, n)
    # nothing lost or duplicated by the clustered rewrite
    assert spark.read.parquet(zpath).count() == 300_000


def test_compact_parquet_zorder_single_column(spark, tmp_path):
    """One-column zorder_by degenerates to a plain clustered sort (what
    a single-column OPTIMIZE ZORDER effectively is) instead of tripping
    the >= 2-column interleave assertion."""
    from etl_weather_data_pipeline_spark.sinks.writers import compact_parquet

    base = spark.range(50_000).withColumn(
        "a", F.pmod(F.xxhash64("id"), F.lit(1000))
    ).withColumn("payload", F.md5(F.col("id").cast("string")))
    p = str(tmp_path / "t")
    base.repartition(8).write.parquet(p)
    res = compact_parquet(spark, p, target_file_mb=1, zorder_by=["a"])
    assert spark.read.parquet(p).count() == 50_000
    spans = _footer_col_spans(p, "a")
    if len(spans) >= 2:  # clustered: files tile the key domain
        assert _avg(spans) < 0.7 * 999, spans


def test_quality_gate_failure_on_all_invalid_batch(spark, tmp_path):
    """r11: a batch where EVERY row fails validation must flow through
    to the quality gate as 0-retention metrics (status recorded, gate
    raises) — SUM over zero rows is null, and the uncoalesced null_cells
    arithmetic used to crash quality_metrics with a TypeError instead of
    failing the gate."""
    rows = [_obs("A", "AA", 0, 999.0), _obs("B", "BB", 0, -999.0)]
    df = spark.createDataFrame(rows, RAW_SCHEMA)
    m = quality_metrics(transform_weather(df), 2)
    assert m["total_records_output"] == 0
    assert m["data_retention_rate"] == 0.0
    assert m["missing_values_percentage"] == 0.0
    with pytest.raises(ValueError, match="quality gate failed"):
        run_pipeline(spark, df, str(tmp_path / "wh"))
    hist = spark.read.parquet(f"{tmp_path}/wh/load_history").collect()
    assert hist[0]["status"] == "quality_gate_failed"


def test_release_local_checkpoint_frees_blocks(spark):
    """r14 (r13 advice): DataFrame.unpersist is a CacheManager no-op for
    localCheckpoint frames (plan = LogicalRDD, no cache entry), so
    lifecycle queries that eager-checkpoint must release blocks through
    session.release_local_checkpoint — this pins that the helper really
    drops the checkpoint RDD's storage blocks (and that a plain
    unpersist does NOT, so the helper can't silently regress into one)."""
    from etl_weather_data_pipeline_spark.session import (
        release_local_checkpoint,
    )

    df = spark.range(10_000).selectExpr("id", "id * 2 AS v").localCheckpoint()
    df.count()
    rid = df._jdf.queryExecution().analyzed().rdd().id()

    def stored_ids():
        sc = spark.sparkContext
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    assert rid in stored_ids()
    df.unpersist(True)  # documented no-op for checkpointed frames
    assert rid in stored_ids()
    release_local_checkpoint(df)
    assert rid not in stored_ids()
    # best-effort contract: a non-checkpointed frame is a silent no-op
    release_local_checkpoint(spark.range(5).selectExpr("id AS x"))


def _table_rows(spark, path):
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_recover_upsert_midswap_restores_and_converges(spark, batch, tmp_path):
    """r14 (r15 debutant groundwork): a driver death between a touched
    partition's two upsert renames leaves that partition absent from the
    live tree with its old copy in the .upsert-old-* trash and its new
    copy still staged. recover_staged_crash must restore the partition
    from filesystem metadata alone (old-complete guarantee), sweep every
    staging/trash sibling, and re-running the idempotent batch must
    converge the table to the exact clean-run content."""
    import glob
    import os
    import shutil

    from etl_weather_data_pipeline_spark.sinks.writers import (
        recover_staged_crash,
    )

    clean = str(tmp_path / "clean")
    live = str(tmp_path / "live")
    merge_upsert(spark, transform_weather(batch), clean)
    shutil.copytree(clean, live)
    base_rows = _table_rows(spark, live)
    bumped = transform_weather(
        batch.withColumn("temperature", F.col("temperature") + 1.0)
    )
    merge_upsert(spark, bumped, clean)  # the uncrashed run's final state

    # fabricate the exact mid-swap disk state at `live`: the touched
    # partition's old dir moved to trash (rename 1 done), new content
    # still in the staging sibling (rename 2 never ran)
    rel = "date=2023-11-07"
    trash = live + ".upsert-old-fab"
    os.makedirs(trash)
    os.rename(os.path.join(live, rel), os.path.join(trash, rel))
    staged = live + ".upsert-tmp-fab"
    os.makedirs(staged)
    shutil.copytree(os.path.join(clean, rel), os.path.join(staged, rel))

    before = _table_rows(spark, clean)
    rep = recover_staged_crash(live)
    assert rep["action"] == "restored_partitions"
    assert rep["restored_partitions"] == 1
    assert rep["restored_live"] == 0
    assert rep["removed_stale_dirs"] == 2
    assert glob.glob(live + ".upsert-*") == []
    # restored = pre-crash (old-complete) content, fully readable
    assert _table_rows(spark, live) == base_rows
    merge_upsert(spark, bumped, live)  # documented recovery: re-run batch
    assert _table_rows(spark, live) == before
    # second sweep is a no-op
    assert recover_staged_crash(live) == {
        "action": "clean",
        "restored_live": 0,
        "restored_partitions": 0,
        "removed_stale_dirs": 0,
    }


def test_recover_flat_swap_staged_wins(spark, tmp_path):
    """A flat-table _swap_dirs crash between its two renames: live dir
    missing proves staging completed, so recovery finishes the swap with
    the staged copy (never rolls back to the old one) and sweeps the
    leftovers."""
    import glob
    import os

    from etl_weather_data_pipeline_spark.sinks.writers import (
        recover_staged_crash,
    )

    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    os.rename(p, p + ".old-fab00000")  # rename 1 happened...
    spark.range(20).write.parquet(p + ".upsert-tmp-fab")  # ...staged complete
    rep = recover_staged_crash(p)
    assert rep["action"] == "completed_swap"
    assert rep["restored_live"] == 1
    assert spark.read.parquet(p).count() == 20
    assert glob.glob(p + ".old-*") == [] and glob.glob(p + ".upsert-*") == []


def test_recover_sweeps_stale_staging_and_restores_old(spark, tmp_path):
    """Remaining recovery states: (a) live intact + mid-staging leftover
    -> sweep only (staged completeness is unverifiable there); (b) live
    missing with only the .old-* copy surviving -> restore it."""
    import glob
    import os

    from etl_weather_data_pipeline_spark.sinks.writers import (
        recover_staged_crash,
    )

    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    spark.range(5).write.parquet(p + ".compact-tmp-fab")  # died mid-staging
    rep = recover_staged_crash(p)
    assert rep["action"] == "clean" and rep["removed_stale_dirs"] == 1
    assert spark.read.parquet(p).count() == 10

    os.rename(p, p + ".old-fab00000")  # crash w/ staged already swept
    rep = recover_staged_crash(p)
    assert rep["action"] == "restored_old" and rep["restored_live"] == 1
    assert spark.read.parquet(p).count() == 10
    assert recover_staged_crash(str(tmp_path / "never_existed"))["action"] == (
        "unrecoverable"
    )


def test_compact_parquet_aborts_on_concurrent_append(spark, tmp_path, monkeypatch):
    """r14: rows appended to the live table while the compaction's
    staged rewrite runs must never be destroyed by the swap. A generic
    table has no key to dedupe a fold-in by, so the guard ABORTS loudly
    with the original (appends included) intact; a clean re-run then
    succeeds and preserves every row."""
    from etl_weather_data_pipeline_spark.sinks import writers

    path = str(tmp_path / "t")
    spark.range(1000).selectExpr("id", "id % 7 AS k").repartition(8).write.parquet(path)

    real = writers.write_parquet

    def racing_writer(df, p, mode="overwrite", partition_by=()):
        real(df, p, mode, partition_by)  # the staged copy lands...
        if p.startswith(path + ".compact-tmp-"):
            # ...and a concurrent writer appends to the LIVE table
            # before the swap
            spark.range(5000, 5010).selectExpr(
                "id", "id % 7 AS k"
            ).write.mode("append").parquet(path)

    monkeypatch.setattr(writers, "write_parquet", racing_writer)
    with pytest.raises(RuntimeError, match="appended.*during the staged"):
        writers.compact_parquet(spark, path, target_file_mb=1)
    monkeypatch.undo()
    # original + the concurrent append both intact, staged dir swept
    import glob

    ids = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert ids == list(range(1000)) + list(range(5000, 5010))
    assert glob.glob(path + ".compact-tmp-*") == []
    # a clean re-run compacts without loss
    res = writers.compact_parquet(spark, path, target_file_mb=1)
    assert res["files_after"] <= res["files_before"]
    ids = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert ids == list(range(1000)) + list(range(5000, 5010))


def test_upsert_aborts_on_concurrent_append_to_touched_partition(
    spark, batch, tmp_path, monkeypatch
):
    """r14: a file another writer lands in a TOUCHED partition during
    the upsert's staged write would ride the partition dir into the
    trash and be removed with it. The guard aborts loudly with the
    original (appends included) intact; appends to untouched partitions
    are no reason to abort."""
    from etl_weather_data_pipeline_spark.sinks import writers

    wh = str(tmp_path / "wh")
    merge_upsert(spark, transform_weather(batch), wh)
    n0 = spark.read.parquet(wh).count()

    real = writers.write_parquet

    def racing_writer(df, p, mode="overwrite", partition_by=()):
        real(df, p, mode, partition_by)
        if ".upsert-tmp-" in p:
            # concurrent single-row append into the touched date
            # partition, hive-style (bypasses merge_upsert on purpose —
            # a foreign writer)
            spark.createDataFrame(
                [_obs("Berlin", "DE", 5, 9.0)], RAW_SCHEMA
            ).transform(transform_weather).write.mode("append").partitionBy(
                "date"
            ).parquet(wh)

    monkeypatch.setattr(writers, "write_parquet", racing_writer)
    bumped = transform_weather(
        batch.withColumn("temperature", F.col("temperature") + 1.0)
    )
    with pytest.raises(RuntimeError, match="appended.*during the staged"):
        merge_upsert(spark, bumped, wh)
    monkeypatch.undo()
    import glob

    # original rows + the foreign append both intact; staging swept
    assert spark.read.parquet(wh).count() == n0 + 1
    assert glob.glob(wh + ".upsert-tmp-*") == []
    # the documented recovery: re-run the batch; the foreign row (a
    # distinct key) survives the converged merge
    counts = merge_upsert(spark, bumped, wh)
    assert counts == {"inserted": 0, "updated": n0}
    stored = spark.read.parquet(wh)
    assert stored.count() == n0 + 1
    assert stored.filter(F.col("city") == "Berlin").count() == 1


def test_upsert_self_recovers_flat_midswap_crash(spark, tmp_path):
    """r14 auto-recovery: for a FLAT table that crashed between the
    swap's two renames, the live dir is missing — before this round a
    re-run took the fresh-write branch and silently replaced the table
    with just the batch. merge_upsert now sweeps its crash state at
    open, so the documented 're-run the batch' doctrine really
    converges."""
    import glob
    import os
    import warnings

    p = str(tmp_path / "flat")
    base = spark.range(20).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v"
    )
    merge_upsert(spark, base, p, keys=("id",), partition_by=())
    # fabricate the mid-swap crash: live renamed aside, staged (the
    # complete merged output of a bumped batch) still present
    bumped_rows = spark.range(20).selectExpr(
        "id", "CAST(id + 100 AS DOUBLE) AS v"
    )
    os.rename(p, p + ".old-fab00000")
    bumped_rows.write.parquet(p + ".upsert-tmp-fab")
    # plain re-run, no manual recovery call
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        counts = merge_upsert(spark, bumped_rows, p, keys=("id",), partition_by=())
    assert any("recovered prior crash state" in str(x.message) for x in w)
    assert counts == {"inserted": 0, "updated": 20}
    rows = {r["id"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert rows == {i: float(i + 100) for i in range(20)}
    assert glob.glob(p + ".old-*") == [] and glob.glob(p + ".upsert-*") == []


def test_compact_self_recovers_midswap_crash(spark, tmp_path):
    """r14 auto-recovery: a compaction that died between the swap's two
    renames leaves the live dir missing and the compacted copy staged;
    the next compact_parquet promotes it instead of failing on the
    missing path."""
    import glob
    import os
    import warnings

    from etl_weather_data_pipeline_spark.sinks.writers import compact_parquet

    p = str(tmp_path / "t")
    spark.range(100).repartition(8).write.parquet(p)
    os.rename(p, p + ".old-fab00000")
    spark.range(100).repartition(1).write.parquet(p + ".compact-tmp-fab")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        res = compact_parquet(spark, p, target_file_mb=128)
    assert any("recovered prior crash state" in str(x.message) for x in w)
    assert spark.read.parquet(p).count() == 100
    assert res["files_after"] >= 1
    assert glob.glob(p + ".old-*") == [] and glob.glob(p + ".compact-tmp-*") == []


def test_recover_sweeps_foreign_protocol_staging(spark, tmp_path):
    """Cross-protocol sweep invariant (the soundness condition for
    promote-staged-on-missing-live): every open-time recovery removes
    EVERY protocol's stale staging siblings, not just its caller's — a
    foreign mid-staging leftover that survived to a later missing-live
    state would otherwise be promotable over the complete .old copy."""
    import glob
    import os

    from etl_weather_data_pipeline_spark.sinks.writers import (
        recover_staged_crash,
    )

    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    # stale garbage from two OTHER protocols' mid-staging crashes
    os.makedirs(p + ".staged-feedbeef")
    spark.range(3).write.parquet(p + ".compact-tmp-fab")
    rep = recover_staged_crash(p, staging_prefixes=(".upsert-tmp-",))
    assert rep["action"] == "clean"
    assert rep["removed_stale_dirs"] == 2
    assert glob.glob(p + ".staged-*") == []
    assert glob.glob(p + ".compact-tmp-*") == []
    assert spark.read.parquet(p).count() == 10


def test_cross_protocol_crash_sequence_converges(spark, tmp_path):
    """The two-crash interleaving that motivated the all-prefix sweep:
    (1) an upsert dies mid-staging (incomplete .upsert-tmp-*, live
    intact); (2) a compaction runs — its open MUST sweep the foreign
    leftover — and dies between its swap's two renames (live missing,
    complete .compact-tmp-* + .old-*); (3) the next upsert's recovery
    promotes the COMPLETE compacted copy (the only staging sibling
    left) and the merge converges with zero loss."""
    import glob
    import os
    import uuid
    import warnings

    from etl_weather_data_pipeline_spark.sinks import writers

    p = str(tmp_path / "t")
    base = spark.range(20).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    writers.merge_upsert(spark, base, p, keys=("id",), partition_by=())
    # (1) incomplete upsert staging garbage: a bare dir with a partial
    # file, no _SUCCESS — exactly what a mid-staging death leaves
    stale = p + ".upsert-tmp-00000000"
    os.makedirs(stale)
    with open(os.path.join(stale, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00" * 16)

    # (2) compaction: open-time recovery sweeps the foreign dir...
    real_swap = writers._swap_dirs
    def dying_swap(live, staged):
        old = live.rstrip("/") + f".old-{uuid.uuid4().hex[:8]}"
        os.rename(live, old)  # ...then the swap dies between renames
        raise RuntimeError("injected crash between the swap's renames")

    writers._swap_dirs = dying_swap
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            writers.compact_parquet(spark, p, target_file_mb=128)
    finally:
        writers._swap_dirs = real_swap
    assert glob.glob(p + ".upsert-tmp-*") == []  # foreign garbage swept
    assert not os.path.isdir(p)  # mid-swap state: live missing
    assert len(glob.glob(p + ".compact-tmp-*")) == 1

    # (3) re-run the batch: recovery promotes the complete compacted
    # copy, never the (now impossible) incomplete foreign dir
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        counts = writers.merge_upsert(
            spark, base, p, keys=("id",), partition_by=()
        )
    assert any("recovered prior crash state" in str(x.message) for x in w)
    assert counts == {"inserted": 0, "updated": 20}
    rows = {r["id"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert rows == {i: float(i) for i in range(20)}
    for pat in (".upsert-tmp-*", ".compact-tmp-*", ".old-*"):
        assert glob.glob(p + pat) == []


def test_recover_promotes_newest_staged_by_mtime(spark, tmp_path):
    """When more than one staging sibling survives next to a missing
    live dir, the NEWEST by mtime wins — uuid-suffixed names make a
    lexicographic pick arbitrary (an older stale copy could shadow the
    completed swap's)."""
    import os

    from etl_weather_data_pipeline_spark.sinks.writers import (
        recover_staged_crash,
    )

    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p + ".upsert-tmp-zzzzzzzz")
    spark.range(20).write.parquet(p + ".upsert-tmp-aaaaaaaa")
    # lexicographically-last dir is the OLDER one
    os.utime(p + ".upsert-tmp-zzzzzzzz", (1, 1))
    rep = recover_staged_crash(p)
    assert rep["action"] == "completed_swap"
    assert spark.read.parquet(p).count() == 20


def test_recover_unrecoverable_sweeps_nothing(spark, tmp_path):
    """action='unrecoverable' must leave every sibling on disk — the
    partition trash (or any other leftover) may be the only surviving
    copy, and a sweep that admits it cannot recover must not delete the
    evidence it cannot interpret."""
    import os

    from etl_weather_data_pipeline_spark.sinks.writers import (
        recover_staged_crash,
    )

    p = str(tmp_path / "t")
    trash = p + ".upsert-old-fab00000"
    spark.range(7).write.parquet(os.path.join(trash, "shard=0"))
    rep = recover_staged_crash(p)
    assert rep["action"] == "unrecoverable"
    assert rep["removed_stale_dirs"] == 0
    assert spark.read.parquet(os.path.join(trash, "shard=0")).count() == 7


def test_hive_rel_dirs_fast_path_and_fallback():
    """The guard's O(touched) restriction derives hive dirs only for
    provably-clean values; anything needing hive escaping or special
    formatting falls back (None) to the full listing."""
    import datetime

    from etl_weather_data_pipeline_spark.sinks.writers import _hive_rel_dirs

    assert _hive_rel_dirs(
        ["date"], [(datetime.date(2023, 11, 7),)]
    ) == ["date=2023-11-07"]
    assert _hive_rel_dirs(["a", "b"], [(3, "x_y-1.z"), (4, "w")]) == [
        "a=3/b=x_y-1.z",
        "a=4/b=w",
    ]
    assert _hive_rel_dirs(["k"], [(None,)]) is None
    assert _hive_rel_dirs(["k"], [("has space",)]) is None
    assert _hive_rel_dirs(["k"], [("a=b",)]) is None
    assert _hive_rel_dirs(["k"], [(True,)]) is None
    assert _hive_rel_dirs(["k"], [(1.5,)]) is None


def test_upsert_guard_lists_only_touched_partitions(
    spark, batch, tmp_path, monkeypatch
):
    """The concurrent-append guard must stay proportional to the BATCH:
    for a partitioned table both its listings walk only the batch's
    hive partition dirs, never the whole tree (at 100 TB a full
    recursive glob is an O(all files) driver walk per upsert)."""
    from etl_weather_data_pipeline_spark.sinks import writers

    wh = str(tmp_path / "wh")
    merge_upsert(spark, transform_weather(batch), wh)

    seen: list = []
    real = writers._list_parquet_files

    def recording(root, rel_dirs):
        seen.append((root, rel_dirs))
        return real(root, rel_dirs)

    monkeypatch.setattr(writers, "_list_parquet_files", recording)
    merge_upsert(spark, transform_weather(batch), wh)
    guard_calls = [c for c in seen if c[0] == wh]
    assert len(guard_calls) == 2  # snapshot + pre-swap diff
    for _, rel_dirs in guard_calls:
        assert rel_dirs == ["date=2023-11-07"]

def test_recover_staged_crash_on_glob_metachar_path(tmp_path):
    """Crash recovery is pure filesystem metadata and must work even on
    a path containing glob metachars ([, ], *) — unescaped patterns
    silently match nothing, leaving crash states (and their data)
    unrestored. (Spark's own readers treat paths as Hadoop glob
    patterns, so such a table needs escaping at read time regardless —
    but the recovery protocol must not compound that with silent
    no-ops: it promotes, restores, and sweeps by real listings.)"""
    import glob
    import os

    from etl_weather_data_pipeline_spark.sinks.writers import (
        recover_staged_crash,
    )

    p = str(tmp_path / "t[v1]")

    def mkdata(d, payload):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write(payload)

    # mid-swap state: live missing, complete staged + old copy present
    mkdata(p + ".upsert-tmp-fab00000", "staged")
    mkdata(p + ".old-fab00000", "old")
    rep = recover_staged_crash(p)
    assert rep["action"] == "completed_swap" and rep["restored_live"] == 1
    with open(os.path.join(p, "part-0.parquet")) as f:
        assert f.read() == "staged"
    assert glob.glob(glob.escape(p) + ".old-*") == []
    assert glob.glob(glob.escape(p) + ".upsert-tmp-*") == []

    # partition-trash state: live intact, shard missing from live but
    # present in the .upsert-old-* trash
    mkdata(os.path.join(p + ".upsert-old-fab", "shard=3"), "trash")
    rep = recover_staged_crash(p)
    assert rep["action"] == "restored_partitions"
    assert rep["restored_partitions"] == 1
    with open(os.path.join(p, "shard=3", "part-0.parquet")) as f:
        assert f.read() == "trash"
    assert glob.glob(glob.escape(p) + ".upsert-old-*") == []


def test_upsert_rejects_null_batch_keys_and_fresh_table_dups(spark, tmp_path):
    """Batch contract, both halves, on the FRESH-table path too: a NULL
    merge key never equality-matches (SQL MERGE semantics — the row
    would re-insert forever), and the first-ever batch must not seed the
    table with duplicate keys (a later 1-row batch on that key would
    count updated=2 and report inserted=-1)."""
    import os

    p = str(tmp_path / "t")
    with_null = spark.createDataFrame(
        [(1, "a"), (None, "b")], "id long, v string"
    )
    with pytest.raises(ValueError, match="NULL in merge keys"):
        merge_upsert(spark, with_null, p, keys=("id",), partition_by=())
    assert not os.path.exists(p)  # nothing seeded
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id long, v string")
    with pytest.raises(ValueError, match="duplicate rows"):
        merge_upsert(spark, dup, p, keys=("id",), partition_by=())
    assert not os.path.exists(p)


def test_upsert_preserves_existing_null_partition_rows(spark, tmp_path):
    """A nullable NON-key partition column is legal; existing rows in
    the __HIVE_DEFAULT_PARTITION__ dir must survive a batch that also
    touches it — a non-null-safe partition semi-join dropped them from
    `kept` while the swap still replaced their directory (silent data
    loss)."""
    p = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "x", "s0"), (2, "keepme", None), (3, "y", "s1")],
        "id long, v string, shard string",
    )
    merge_upsert(spark, base, p, keys=("id",), partition_by=("shard",))
    batch = spark.createDataFrame(
        [(4, "new-null-shard", None)], "id long, v string, shard string"
    )
    counts = merge_upsert(spark, batch, p, keys=("id",), partition_by=("shard",))
    assert counts == {"inserted": 1, "updated": 0}
    rows = {r["id"]: (r["v"], r["shard"]) for r in spark.read.parquet(p).collect()}
    assert rows == {
        1: ("x", "s0"),
        2: ("keepme", None),  # the previously-lost row
        3: ("y", "s1"),
        4: ("new-null-shard", None),
    }


def test_run_pipeline_records_failed_load_in_history(
    spark, batch, tmp_path, monkeypatch
):
    """K8: a load that RAISES (dup-key contract, concurrent-append
    abort, ...) still appends a load_history row with status='failed'
    before propagating — the reference logs the failure and re-raises
    (src/load.py:309-314)."""
    from etl_weather_data_pipeline_spark import pipeline as P

    wh = str(tmp_path / "wh")

    def boom(*a, **kw):
        raise RuntimeError("injected load failure")

    monkeypatch.setattr(P, "merge_upsert", boom)
    with pytest.raises(RuntimeError, match="injected load failure"):
        run_pipeline(spark, batch, wh)
    hist = spark.read.parquet(f"{wh}/load_history").collect()
    assert len(hist) == 1
    assert hist[0]["status"] == "failed"
    assert "injected load failure" in hist[0]["error_message"]
    assert hist[0]["records_failed"] == 9
    assert hist[0]["records_loaded"] == 0
