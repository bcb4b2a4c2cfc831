"""NYC taxi event CSV source + geo region classification.

Reference (a7): comma-split CSV, no header, schema by position with
color-dependent dropoff coordinate columns — yellow at ordinals
10/11, green at 8/9 (a7/RegionEventCount.scala:79-90) — and two
hard-coded bounding boxes (goldman / citigroup,
a7/RegionEventCount.scala:67-75).

Spark-first: read the minimal positional columns as one schema wide
enough for both colors, then a `when/otherwise` projection picks the
right coordinate pair per color — the conditional column dispatch
(F4) without any RDD closure.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .mock_stream import read_replay_stream

# (lon_min, lon_max, lat_min, lat_max), RegionEventCount.scala:67-75
GOLDMAN = (-74.0144185, -74.013777, 40.7138745, 40.7152275)
CITIGROUP = (-74.012083, -74.009867, 40.720053, 40.7217236)

# Positional columns we need: 0 color, 2 pickup_ts, 3 dropoff_ts,
# 8..11 coordinate candidates (meaning differs by color).
_N_COLS = 20


_TAXI_SCHEMA = T.StructType(
    [T.StructField(f"_c{i}", T.StringType(), True) for i in range(_N_COLS)]
)


def _taxi_projection(raw: DataFrame) -> DataFrame:
    is_yellow = F.col("_c0") == "yellow"
    return raw.select(
        F.col("_c0").alias("color"),
        F.to_timestamp("_c2").alias("pickup_ts"),
        F.to_timestamp("_c3").alias("dropoff_ts"),
        F.when(is_yellow, F.col("_c10")).otherwise(F.col("_c8"))
        .cast("double")
        .alias("dropoff_lon"),
        F.when(is_yellow, F.col("_c11")).otherwise(F.col("_c9"))
        .cast("double")
        .alias("dropoff_lat"),
    )


def read_taxi_csv(spark: SparkSession, path: str) -> DataFrame:
    return _taxi_projection(spark.read.csv(path, schema=_TAXI_SCHEMA, header=False))


def read_taxi_csv_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """The same positional projection over a file-source STREAM — the
    reference's actual deployment shape (a7 consumed the taxi feed as
    a DStream; here the CSV directory is the micro-batch source). No
    registered query streams the taxi CSVs; tests pin it."""
    return _taxi_projection(
        read_replay_stream(spark, dir_path, _TAXI_SCHEMA, fmt="csv")
    )


def in_bbox(lon: Column, lat: Column, bbox: tuple[float, float, float, float]) -> Column:
    lon_min, lon_max, lat_min, lat_max = bbox
    return (lon > lon_min) & (lon < lon_max) & (lat > lat_min) & (lat < lat_max)


def classify_region(df: DataFrame) -> DataFrame:
    """Add `region` ∈ {goldman, citigroup, other} from the dropoff
    point (RegionEventCount.scala:91-107)."""
    lon, lat = F.col("dropoff_lon"), F.col("dropoff_lat")
    return df.withColumn(
        "region",
        F.when(in_bbox(lon, lat, GOLDMAN), "goldman")
        .when(in_bbox(lon, lat, CITIGROUP), "citigroup")
        .otherwise("other"),
    )


# Committed deterministic taxi-shaped feed (tests/fixtures/
# gen_taxi_fixture.py) — the registered geo query runs on it because
# the driver's parquet tables carry no coordinates. Both the Spark
# query and the DuckDB oracle read this same absolute path.
FIXTURE = str(
    Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "taxi_events.csv"
)

_WINDOW_FMT = "yyyy-MM-dd HH:mm"


def region_event_count_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 through the driver gate: positional CSV scan with
    color-dependent coordinate dispatch, exclusive bounding-box
    classification, region filter, tumbling 1-hour event-time counts
    (a7/RegionEventCount.scala:67-114 — the reference's
    reduceByKeyAndWindow over 60-minute windows, re-expressed as an
    event-time window on dropoff_ts).

    ``sf_dir`` is ignored: the feed is the committed fixture (the
    testdata tables have no geo columns). At scale this is a pure
    scan→project→filter→single-shuffle-agg plan — the classify is
    codegen'd `when` arithmetic, rows outside both boxes die before
    the shuffle, and the window key bounds state to regions × hours.
    """
    taxi = read_taxi_csv(spark, FIXTURE)
    return geo_windowed_counts(taxi).orderBy("region", "window_start")


def geo_windowed_counts(taxi: DataFrame) -> DataFrame:
    """classify → filter → keyed tumbling 1-hour counts, shared by
    the batch query and its streaming twin (the identical aggregation
    expression runs under IncrementalExecution in the stream — the
    batch↔stream duality tests pin them equal)."""
    return (
        classify_region(taxi)
        .where(F.col("region") != "other")
        .groupBy("region", F.window("dropoff_ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "region",
            F.date_format(F.col("w.start"), _WINDOW_FMT).alias("window_start"),
            "cnt",
        )
    )


def _bbox_sql(lon: str, lat: str, bbox: tuple[float, float, float, float]) -> str:
    lon_min, lon_max, lat_min, lat_max = bbox
    return (
        f"({lon} > {lon_min!r} AND {lon} < {lon_max!r} "
        f"AND {lat} > {lat_min!r} AND {lat} < {lat_max!r})"
    )


ORACLE_SQL: dict[str, str] = {
    "region_event_count_geo": f"""
        WITH raw AS (
            SELECT * FROM read_csv('{FIXTURE}', header=false,
                                   all_varchar=true)
        ),
        taxi AS (
            SELECT column03::TIMESTAMP AS dropoff_ts,
                   (CASE WHEN column00 = 'yellow' THEN column10
                         ELSE column08 END)::DOUBLE AS lon,
                   (CASE WHEN column00 = 'yellow' THEN column11
                         ELSE column09 END)::DOUBLE AS lat
            FROM raw
        ),
        classified AS (
            SELECT dropoff_ts,
                   CASE WHEN {_bbox_sql('lon', 'lat', GOLDMAN)} THEN 'goldman'
                        WHEN {_bbox_sql('lon', 'lat', CITIGROUP)} THEN 'citigroup'
                        ELSE 'other' END AS region
            FROM taxi
        )
        SELECT region,
               strftime(date_trunc('hour', dropoff_ts), '%Y-%m-%d %H:%M')
                   AS window_start,
               count(*) AS cnt
        FROM classified WHERE region <> 'other'
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
}

QUERIES = {
    "region_event_count_geo": region_event_count_geo,
}
