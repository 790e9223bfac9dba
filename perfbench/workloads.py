"""The benchmark's workloads: set-up, one op, and the output check.

Each workload drives the engine only through its public entry points
(``read_api_json`` + ``run_pipeline`` + the view functions; the corpus
merge), always looked up as module attributes so that traced mode can
wrap them. Inputs come from ``gen.py``; every op is checked against the
generator's ground truth or a DuckDB mirror, with DuckDB reading the
engine's parquet output so that checks add no Spark jobs.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
import random
from decimal import Decimal

import duckdb

from etl_weather_data_pipeline_spark import pipeline
from etl_weather_data_pipeline_spark.plans import views
from etl_weather_data_pipeline_spark.sources import readers
from etl_weather_data_pipeline_spark.streaming import corpus

from gen import BASE_DATE, DocFeed, WeatherFeed

BOOT_DAYS = 14
WINDOW_DAYS = 7
N_CITIES = 100
N_STORE = 500
BATCH_DOCS = 250
PASSAGE_MIN_RUN = 16
BAND_BUCKETS = 8  # sized for the store's scale, as the merge docs ask
# Share of planted near-duplicates / passage copies the merge must drop.
RECALL_FLOOR = 0.9


def _expect(ok: bool, what: str):
    if not ok:
        raise AssertionError(what)


def _files(root: str, pattern: str = "**/*.parquet") -> set[str]:
    return set(glob.glob(os.path.join(root, pattern), recursive=True))


def _disk_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, Decimal):
        return f"{float(v):.6g}"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def _canon_rows(rows: list[dict]) -> list[tuple]:
    return sorted(tuple((k, _canon(r[k])) for k in sorted(r)) for r in rows)


# ---------------------------------------------------------------------------
# weather_daily: land one day, run the pipeline, refresh the dashboard
# ---------------------------------------------------------------------------

_AVG2 = (
    "CAST(ROUND(CAST(CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) "
    "AS DECIMAL(28,10)), 2) AS DOUBLE)"
)


def _mirror_sql(lo: dt.date, hi: dt.date) -> dict[str, str]:
    """DuckDB mirror of the reference's dashboard views (sql/schema.sql
    in the reference repo) over the warehouse parquet."""
    a = lambda c: _AVG2.format(c=c)  # noqa: E731
    return {
        "daily_weather_summary": f"""
            SELECT city, country, date, {a('temperature')} AS avg_temperature,
                   MIN(temperature) AS min_temperature, MAX(temperature) AS max_temperature,
                   {a('humidity')} AS avg_humidity, {a('pressure')} AS avg_pressure,
                   {a('wind_speed')} AS avg_wind_speed, {a('quality_score')} AS avg_quality_score,
                   COUNT(*) AS record_count
            FROM w WHERE date BETWEEN DATE '{lo}' AND DATE '{hi}'
            GROUP BY city, country, date""",
        "latest_weather": """
            SELECT * EXCLUDE (rn) FROM (
              SELECT *, row_number() OVER (PARTITION BY city, country
                        ORDER BY timestamp DESC, temperature, pressure) AS rn
              FROM w) WHERE rn = 1""",
        "seasonal_weather_trends": f"""
            SELECT season, temp_category, COUNT(*) AS observation_count,
                   {a('temperature')} AS avg_temperature, {a('humidity')} AS avg_humidity,
                   {a('wind_speed')} AS avg_wind_speed
            FROM w GROUP BY season, temp_category""",
        "data_summary": f"""
            SELECT COUNT(*) AS total_records, COUNT(DISTINCT city) AS unique_cities,
                   COUNT(DISTINCT country) AS unique_countries,
                   MIN(timestamp) AS earliest, MAX(timestamp) AS latest,
                   {a('temperature')} AS avg_temperature, {a('humidity')} AS avg_humidity,
                   {a('quality_score')} AS avg_quality_score
            FROM w""",
        "data_quality_summary": """
            SELECT CAST(load_timestamp AS DATE) AS load_date,
                   CAST(ROUND(CAST(AVG(data_retention_rate) AS DECIMAL(28,10)), 4) AS DOUBLE)
                     AS avg_retention_rate,
                   CAST(ROUND(CAST(AVG(average_quality_score) AS DECIMAL(28,10)), 2) AS DOUBLE)
                     AS avg_quality_score,
                   SUM(total_records_output) AS total_records, COUNT(*) AS load_count
            FROM m GROUP BY 1""",
    }


class WeatherDaily:
    """One op = land one day of API payloads, ``run_pipeline`` it into
    the warehouse (transform, keyed upsert, quality gate, history), then
    collect one dashboard refresh of the five views."""

    name = "weather_daily"

    def __init__(self, spark, run_dir: str, seed: int, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.feed = WeatherFeed(seed, N_CITIES)
        self.landing = os.path.join(run_dir, "landing")
        self.wh = os.path.join(run_dir, "warehouse")
        os.makedirs(self.landing)
        k = random.Random(f"wx-window:{seed}").randint(0, BOOT_DAYS - WINDOW_DAYS)
        self.lo = BASE_DATE + dt.timedelta(days=k)
        self.hi = self.lo + dt.timedelta(days=WINDOW_DAYS - 1)
        self.day = BOOT_DAYS
        self.stored = 0
        self.loads = 0
        self.con = duckdb.connect(config={"threads": 1})

    @property
    def tables(self) -> list[str]:
        return [os.path.join(self.wh, t) for t in
                ("weather_data", "data_quality_metrics", "load_history")]

    def _land(self, name: str, data: bytes) -> str:
        path = os.path.join(self.landing, name)
        with open(path, "wb") as f:
            f.write(data)
        return path

    def setup(self):
        data, truth = self.feed.backfill_bytes(BOOT_DAYS)
        path = self._land("backfill.json", data)
        m = pipeline.run_pipeline(self.spark, readers.read_api_json(self.spark, path), self.wh)
        self._check_load(m, truth)

    def prepare(self):
        data, self.truth = self.feed.day_bytes(self.day)
        self.path = self._land(f"day-{self.day:03d}.json", data)
        self.day += 1
        self.before = _files(self.wh)
        return self.truth.lines

    def op(self):
        m = pipeline.run_pipeline(
            self.spark, readers.read_api_json(self.spark, self.path), self.wh
        )
        return m, self.refresh()

    def refresh(self) -> dict[str, list[dict]]:
        spark, tr = self.spark, self.tracer
        df = spark.read.parquet(os.path.join(self.wh, "weather_data"))
        md = spark.read.parquet(os.path.join(self.wh, "data_quality_metrics"))
        window = df.filter(df["date"].between(self.lo, self.hi))
        frames = {
            "daily_weather_summary": lambda: views.daily_weather_summary(window),
            "latest_weather": lambda: views.latest_weather(df),
            "seasonal_weather_trends": lambda: views.seasonal_weather_trends(df),
            "data_summary": lambda: views.data_summary(df),
            "data_quality_summary": lambda: views.data_quality_summary(md),
        }
        if tr is not None and tr.enabled:
            with tr.py4j.paused():
                self.first_execution = tr.next_execution()
        out = {}
        for name, build in frames.items():
            if tr is None:
                out[name] = [r.asDict() for r in build().collect()]
            else:
                with tr.span("views", f"collect:{name}"):
                    out[name] = [r.asDict() for r in build().collect()]
        return out

    def _check_load(self, m: dict, truth):
        _expect(m["total_records_input"] == truth.rows_in,
                f"rows in {m['total_records_input']} != {truth.rows_in}")
        _expect(m["total_records_output"] == truth.survivors,
                f"survivors {m['total_records_output']} != {truth.survivors}")
        _expect(m["unique_cities"] == N_CITIES, f"cities {m['unique_cities']}")
        _expect(m["unique_countries"] == self.feed.n_countries,
                f"countries {m['unique_countries']}")
        self.stored += truth.inserted
        self.loads += 1
        q = self.con.execute
        n = q(f"SELECT count(*) FROM read_parquet('{self.wh}/weather_data/*/*.parquet')").fetchone()[0]
        _expect(n == self.stored, f"warehouse rows {n} != {self.stored}")
        loaded, updated, status, n_loads = q(
            "SELECT records_loaded, records_updated, status, count(*) OVER () FROM "
            f"read_parquet('{self.wh}/load_history/*.parquet') "
            "ORDER BY load_timestamp DESC LIMIT 1"
        ).fetchone()
        _expect((loaded, updated, status, n_loads)
                == (truth.inserted, truth.updated, "success", self.loads),
                f"load_history {(loaded, updated, status, n_loads)}")
        self.last_counts = (loaded, updated)

    def check(self, result):
        m, refresh = result
        self._check_load(m, self.truth)
        self._check_views(refresh)

    def _check_views(self, refresh: dict[str, list[dict]]):
        w = f"read_parquet('{self.wh}/weather_data/*/*.parquet', hive_partitioning = true)"
        m_src = f"read_parquet('{self.wh}/data_quality_metrics/*.parquet')"
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW w AS SELECT * FROM {w}")
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW m AS SELECT * FROM {m_src}")
        for name, sql in _mirror_sql(self.lo, self.hi).items():
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            want = [dict(zip(cols, r)) for r in cur.fetchall()]
            _expect(_canon_rows(refresh[name]) == _canon_rows(want),
                    f"view {name} differs from the DuckDB mirror")

    def layer_counts(self, result) -> dict[str, float]:
        m, refresh = result
        new = _files(self.wh) - self.before
        weather_root = os.path.join(self.wh, "weather_data")
        parts = {os.path.dirname(f) for f in new if f.startswith(weather_root + os.sep)}
        return {
            "sinks.inserted": float(self.last_counts[0]),
            "sinks.updated": float(self.last_counts[1]),
            "sinks.files_written": float(len(new)),
            "sinks.partitions_touched": float(len(parts)),
            "quality.retention": float(m["data_retention_rate"]),
        }

    def scan_counts(self, result) -> dict[str, float]:
        """Parquet scan figures of the refresh (traced ops only)."""
        rows, files = self.tracer.scan_metrics_since(self.first_execution)
        returned = sum(len(v) for v in result[1].values())
        return {
            "views.rows_read_per_row_returned": rows / returned,
            "views.files_read": float(files),
        }

    def rows_committed(self) -> int:
        return self.stored

    def disk_bytes(self) -> int:
        return _disk_bytes(*self.tables)

    def close(self):
        self.con.close()


# ---------------------------------------------------------------------------
# corpus_stream_merge: one near-dup-aware merge per op
# ---------------------------------------------------------------------------


class CorpusStreamMerge:
    """One op = merge one seeded batch into the store with the exact,
    near-duplicate and passage stages on."""

    name = "corpus_stream_merge"

    def __init__(self, spark, run_dir: str, seed: int, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.feed = DocFeed(seed, N_STORE, BATCH_DOCS)
        self.store = os.path.join(run_dir, "corpus", "store")
        self.b = 0
        self.stored = 0
        self.con = duckdb.connect(config={"threads": 1})

    def _frame(self, rows):
        return self.spark.createDataFrame(rows, "doc_id long, text string")

    def _merge(self, df) -> int:
        return corpus.merge_batch_neardup_into_corpus(
            df, self.store, band_buckets=BAND_BUCKETS, passage_min_run=PASSAGE_MIN_RUN
        )

    def setup(self):
        n = self._merge(self._frame(self.feed.store_rows()))
        _expect(n == N_STORE, f"bootstrap admitted {n} != {N_STORE}")
        self.stored = n

    def prepare(self):
        self.batch = self.feed.batch(self.b)
        self.b += 1
        self.df = self._frame(self.batch.rows)
        self.before = _files(self.store)
        return len(self.batch.rows)

    def op(self):
        return self._merge(self.df)

    def check(self, n: int):
        b = self.batch
        admitted = self._admitted(min(b.kind), max(b.kind))
        _expect(n == len(admitted), f"merge returned {n}, store gained {len(admitted)}")
        _expect(b.ids("fresh") <= admitted,
                f"{len(b.ids('fresh') - admitted)} fresh docs not admitted")
        _expect(not (b.ids("exact") | b.ids("repeat")) & admitted,
                "an exact copy or in-batch repeat was admitted")
        for kind in ("near", "passage"):
            planted = b.ids(kind)
            caught = len(planted - admitted) / len(planted)
            _expect(caught >= RECALL_FLOOR, f"{kind} recall {caught:.2f} < {RECALL_FLOOR}")
        self.stored += n
        total = self.con.execute(
            f"SELECT count(*) FROM read_parquet('{self.store}/*.parquet')"
        ).fetchone()[0]
        _expect(total == self.stored, f"store rows {total} != {self.stored}")

    def _admitted(self, lo: int, hi: int) -> set[int]:
        return {
            r[0] for r in self.con.execute(
                f"SELECT doc_id FROM read_parquet('{self.store}/*.parquet') "
                f"WHERE doc_id BETWEEN {lo} AND {hi}"
            ).fetchall()
        }

    def layer_counts(self, n: int) -> dict[str, float]:
        new = _files(self.store) - self.before
        side = [f for f in new if f"{os.sep}_bands{os.sep}" in f or f"{os.sep}_winnow{os.sep}" in f]
        return {
            "corpus.admit_ratio": n / len(self.batch.rows),
            "corpus.side_files": float(len(side)),
        }

    def rows_committed(self) -> int:
        return self.stored

    def disk_bytes(self) -> int:
        return _disk_bytes(self.store)

    def close(self):
        self.con.close()


WORKLOADS = {w.name: w for w in (WeatherDaily, CorpusStreamMerge)}
