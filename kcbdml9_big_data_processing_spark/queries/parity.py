"""Reference-parity queries (SURVEY.md §2), phrased over the driver
testdata per FIXTURES.md §C:

    device_message -> events   (timestamp->ts, bytes->value,
                                antenna_id->event_type, id->user_id,
                                app->props.k)
    user_metadata  -> customer (id->c_custkey, email->c_name,
                                quota->c_acctbal)

Each query pairs the engine operator with a DuckDB oracle that shares
deterministic fixed-point arithmetic (functions.exact), so value
hashes match bit-for-bit.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import bucket_start_sql, dsum, dsum_sql
from ..operators.enrich import enrich
from ..operators.metrics import conform_metric, windowed_sum
from ..operators.parse import parse_json_payload
from ..operators.quota import quota_violations
from ..schemas import EVENT_PROPS_SCHEMA
from ..sinks.parquet import write_partitioned_archive
from ..sources.parquet import read_partitioned_archive, read_table
from ..tmpdirs import scratch_dir
from .registry import _prepared_plan, register

HOUR = 3600
NINETY_SECONDS = 90


def _metric_oracle(key_sql: str, seconds: int, tag: str, from_sql: str = "events") -> str:
    bucket = bucket_start_sql("ts", seconds)
    return f"""
        SELECT {bucket} AS "timestamp",
               CAST({key_sql} AS VARCHAR) AS id,
               {dsum_sql('value')} AS value,
               '{tag}' AS type
        FROM {from_sql}
        GROUP BY 1, 2
    """


# --- A1-A3 analogs: 90-second tumbling windows (speed layer,
#     StreamingJobImpl.scala:43-77; batch-equivalent phrasing).
#
# The three metrics register as ONE query producing the reference's
# `bytes` serving table: StreamingJobImpl writes antenna/user/app
# totals into a single long/narrow table discriminated by `type`
# (JdbcProvisioner.scala:51-52), so the union IS the reference shape —
# and one driver row hash-checks all three aggregations. The per-key
# functions stay importable for jobs/tests.


def bytes_antenna_90s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: sum(value) per antenna (event_type) per 90 s tumbling window,
    conformed to the metric layout (StreamingJobImpl.scala:43-53)."""
    ev = read_table(spark, sf_dir, "events")
    agg = windowed_sum(
        ev, "event_type", "90 seconds", ts_col="ts", value_col="value", agg=dsum("value")
    )
    return conform_metric(agg, "event_type", "antenna_bytes_total")


def bytes_user_90s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: sum(value) per user per 90 s window (StreamingJobImpl.scala:55-65)."""
    ev = read_table(spark, sf_dir, "events")
    agg = windowed_sum(
        ev, "user_id", "90 seconds", ts_col="ts", value_col="value", agg=dsum("value")
    )
    return conform_metric(agg, "user_id", "user_bytes_total")


def bytes_app_90s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: sum(value) per app per 90 s window (StreamingJobImpl.scala:67-77).
    The app key plays through the JSON payload (events.props.k),
    exercising get_json_object on the hot path."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "app", F.get_json_object("props", "$.k")
    )
    agg = windowed_sum(
        ev, "app", "90 seconds", ts_col="ts", value_col="value", agg=dsum("value")
    )
    return conform_metric(agg, "app", "app_bytes_total")


#: oracle for the sliding branch that rides the bytes_90s row (see
#: bytes_antenna_sliding below): the 2-element offset cross join
#: replicates each event into its own 30-min bucket and the previous
#: one — exactly the two 1 h/30 min windows that contain it
#: (positive-epoch testdata, so `//` truncation == floor).
_SLIDING_ORACLE = """
        SELECT make_timestamp(((epoch_ms(ts) // 1800000) - g.k) * 1800000 * 1000)
                   AS "timestamp",
               CAST(event_type AS VARCHAR) AS id,
               {value_sql} AS value,
               'antenna_bytes_sliding' AS type
        FROM events, (SELECT unnest([0, 1]) AS k) g
        GROUP BY 1, 2
    """


@register(
    "bytes_90s",
    oracle=" UNION ALL ".join(
        [
            _metric_oracle("event_type", NINETY_SECONDS, "antenna_bytes_total"),
            _metric_oracle("user_id", NINETY_SECONDS, "user_bytes_total"),
            _metric_oracle(
                "json_extract_string(props, '$.k')", NINETY_SECONDS, "app_bytes_total"
            ),
            _SLIDING_ORACLE.format(value_sql=dsum_sql("value")),
        ]
    ),
    headline=True,
)
def bytes_90s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+A3: the reference's `bytes` serving table — 90 s windowed
    sums per antenna, user, and app, unioned into the long/narrow
    metric layout with the `type` discriminator
    (StreamingJobImpl.scala:43-77, JdbcProvisioner.scala:51-52).
    Independent single-shuffle aggregates over one shared scan;
    the union is plan-level concatenation, no extra exchange.

    The sliding-window extension (``bytes_antenna_sliding``) rides
    this row as a fourth branch — it shares the exact metric layout
    and the `type` column discriminates it. Filter
    type != 'antenna_bytes_sliding' for the strict reference shape."""

    def build():
        return (
            bytes_antenna_90s(spark, sf_dir)
            .unionAll(bytes_user_90s(spark, sf_dir))
            .unionAll(bytes_app_90s(spark, sf_dir))
            .unionAll(bytes_antenna_sliding(spark, sf_dir))
        )

    # static four-variant union over immutable inputs — prepared
    # once per process (profile_queries: 0.58 s build/call)
    return _prepared_plan(spark, "bytes_90s", sf_dir, build)


# --- A4-A6 analogs: 1-hour batch windows (BatchJobImpl.scala:46-77),
#     one query = the reference's `bytes_hourly` serving table --------


def bytes_antenna_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: hourly sum(value) per antenna (BatchJobImpl.scala:46-55)."""
    ev = read_table(spark, sf_dir, "events")
    agg = windowed_sum(
        ev, "event_type", "1 hour", ts_col="ts", value_col="value", agg=dsum("value")
    )
    return conform_metric(agg, "event_type", "antenna_bytes_total")


def bytes_email_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: hourly sum(value) per user email, via the J1 enrichment join
    (BatchJobImpl.scala:57-66; email plays as customer.c_name).
    Join strategy left to AQE: broadcast while the dim fits, shuffle
    beyond — customer scales with the data, unlike the reference's
    fixed 20-row user_metadata."""
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer")
    enriched = enrich(ev, cust, "user_id", "c_custkey")
    agg = windowed_sum(
        enriched, "c_name", "1 hour", ts_col="ts", value_col="value", agg=dsum("value")
    )
    return conform_metric(agg, "c_name", "email_bytes_total")


def bytes_app_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: hourly sum(value) per app (BatchJobImpl.scala:68-77)."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "app", F.get_json_object("props", "$.k")
    )
    agg = windowed_sum(
        ev, "app", "1 hour", ts_col="ts", value_col="value", agg=dsum("value")
    )
    return conform_metric(agg, "app", "app_bytes_total")


@register(
    "bytes_hourly",
    oracle=" UNION ALL ".join(
        [
            _metric_oracle("event_type", HOUR, "antenna_bytes_total"),
            _metric_oracle(
                "c.c_name",
                HOUR,
                "email_bytes_total",
                from_sql="events e JOIN customer c ON e.user_id = c.c_custkey",
            ),
            _metric_oracle("json_extract_string(props, '$.k')", HOUR, "app_bytes_total"),
        ]
    ),
    headline=True,
)
def bytes_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A5+A6: the reference's `bytes_hourly` serving table — hourly
    sums per antenna, email (through the J1 enrichment join), and app,
    unioned with the `type` discriminator (BatchJobImpl.scala:46-77,
    JdbcProvisioner.scala:54-55)."""

    def build():
        return (
            bytes_antenna_hourly(spark, sf_dir)
            .unionAll(bytes_email_hourly(spark, sf_dir))
            .unionAll(bytes_app_hourly(spark, sf_dir))
        )

    # static three-variant union over immutable inputs — prepared
    # once per process (profile_queries: 0.43 s build/call)
    return _prepared_plan(spark, "bytes_hourly", sf_dir, build)


# --- J1: enrichment join ------------------------------------------------


@register(
    "enrich_events_with_customer",
    oracle="""
        SELECT e.event_id, e.user_id, e.event_type, e.value,
               c.c_name AS name, c.c_mktsegment AS segment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    prepare=True,
)
def enrich_events_with_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: inner equi-join fact x dimension, duplicate key dropped
    (BatchJobImpl.scala:40-44). No forced hint — AQE broadcasts the
    dim while it fits, so the events side stays shuffle-free at any SF
    where customer is genuinely dimensional."""
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer")
    return enrich(ev, cust, "user_id", "c_custkey").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )


# --- A7 + F2: quota violations ------------------------------------------

_QUOTA_ORACLE = f"""
    SELECT c.c_name AS email,
           {dsum_sql('e.value')} AS "usage",
           c.c_acctbal AS quota,
           {bucket_start_sql('e.ts', HOUR)} AS "timestamp"
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_name, c.c_acctbal, 4
    HAVING {dsum_sql('e.value')} > c.c_acctbal
"""


@register("quota_violations_hourly", oracle=_QUOTA_ORACLE, prepare=True)
def quota_violations_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+F2: hourly usage per user HAVING usage > quota
    (BatchJobImpl.scala:79-88). email->c_name, quota->c_acctbal."""
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer")
    enriched = enrich(ev, cust, "user_id", "c_custkey")
    out = quota_violations(
        enriched,
        user_col="c_name",
        quota_col="c_acctbal",
        ts_col="ts",
        value_col="value",
        window_duration="1 hour",
        usage_agg=dsum("value"),
    )
    return out.select(
        F.col("c_name").alias("email"), "usage", F.col("c_acctbal").alias("quota"), "timestamp"
    )


# --- P2-P4: JSON payload parse ------------------------------------------


@register(
    "parse_json_props",
    oracle="""
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    """,
    prepare=True,
)
def parse_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2-P4: from_json with explicit schema + struct flatten
    (StreamingJobImpl.scala:27-41), on events.props."""
    ev = read_table(spark, sf_dir, "events")
    return parse_json_payload(ev, "props", EVENT_PROPS_SCHEMA, keep=["event_id"])


# --- K2 -> S2: partitioned archive round-trip ---------------------------


@register(
    "archive_partition_roundtrip",
    oracle="""
        SELECT event_id, user_id, event_type, value,
               CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month,
               CAST(day(ts) AS INT) AS day, CAST(hour(ts) AS INT) AS hour
        FROM events
        WHERE date_trunc('day', ts) =
              (SELECT date_trunc('day', min(ts)) FROM events)
    """,
)
def archive_partition_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 -> S2 + P8 + F1: write events hive-partitioned by
    year/month/day/hour of ts (StreamingJobImpl.scala:96-109), re-read
    with a partition filter (BatchJobImpl.scala:17-27). The filter day
    is derived from the data (the earliest event's day) so the result
    is non-empty at every SF — no vacuously-passing hardcoded date.
    The filter is satisfied by directory pruning — the scan never
    opens non-matching files (asserted via PartitionFilters in tests)."""
    ev = read_table(spark, sf_dir, "events")
    first_day = ev.agg(F.min("ts").alias("m")).first()["m"]
    path = scratch_dir("archive_") + "/events_archive"
    write_partitioned_archive(ev, path, ts_col="ts", mode="overwrite")
    df = read_partitioned_archive(spark, path)
    df = df.where(
        (F.col("year") == first_day.year)
        & (F.col("month") == first_day.month)
        & (F.col("day") == first_day.day)
    )
    return df.select(
        "event_id", "user_id", "event_type", "value", "year", "month", "day", "hour"
    )


# --- T7 extensions: sliding + session windows (absent in the
#     reference — SURVEY.md §2.10 T7; first-class in this engine) -------


def bytes_antenna_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1 h duration, 30 min slide — every event lands
    in exactly 2 overlapping windows. Spark's window() replicates rows
    per overlap map-side, then it's the same single-shuffle partial+
    final aggregate as tumbling; state at any moment is bounded by
    duration/slide windows per key. Registered as a branch of the
    bytes_90s row (see _SLIDING_ORACLE above);
    stays importable for jobs/tests."""
    ev = read_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.col("event_type"),
        F.window(F.col("ts"), "1 hour", "30 minutes"),
    ).agg(dsum("value").alias("value"))
    return conform_metric(agg, "event_type", "antenna_bytes_sliding")


@register(
    "session_window_bytes",
    oracle=f"""
        WITH marked AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                             OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 600000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   SUM(is_new) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked
        )
        SELECT user_id, MIN(ts) AS session_start,
               {dsum_sql('value')} AS value,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
    """,
    prepare=True,
)
def session_window_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window (10 min inactivity gap) per user via Spark's
    native session_window() — gap-merged state the reference cannot
    express at all. session_window.start equals the session's first
    event time, which is what the lag/cumsum oracle reconstructs
    relationally. One shuffle on user_id; in streaming the same
    expression runs with a watermark bounding session state."""
    ev = read_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "user_id", F.session_window(F.col("ts"), "10 minutes")
    ).agg(dsum("value").alias("value"), F.count(F.lit(1)).alias("n_events"))
    return agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "value",
        "n_events",
    )


# --- compaction / recency dedup -------------------------------------------


#: registered via user_summary (queries/olap.py), which joins this
#: with user_value_pivot on user_id
LATEST_EVENT_ORACLE = """
        SELECT user_id, event_id, ts, event_type
        FROM (
            SELECT user_id, event_id, ts, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
    """


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency compaction: keep each key's newest record — the CDC/
    upsert-materialization primitive (dedup by key, latest wins).
    Plans as a partial top-1 per key before the shuffle
    (WindowGroupLimit), so the exchange carries one row per key per
    map partition, not the full history."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


@register(
    "hourly_active_users",
    oracle=f"""
        SELECT {bucket_start_sql('ts', HOUR)} AS "timestamp",
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1
    """,
    prepare=True,
)
def hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per hour window — the expand-to-two-phase
    distinct aggregate under a time bucket. For 100 TB dashboards the
    HLL twin (user_reach_approx pattern) replaces it at constant
    memory."""
    ev = read_table(spark, sf_dir, "events")
    agg = ev.groupBy(F.window(F.col("ts"), "1 hour")).agg(
        F.countDistinct("user_id").alias("active_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        F.col("window.start").alias("timestamp"), "active_users", "n_events"
    )


# --- range (interval) join ------------------------------------------------

_RANGE_S = 300  # +/- 5 minutes


@register(
    "events_near_errors",
    oracle=f"""
        SELECT e.event_id,
               CAST(COUNT(r.event_id) AS BIGINT) AS n_nearby_errors
        FROM events e
        LEFT JOIN events r
          ON r.event_type = 'error'
         AND r.user_id = e.user_id
         AND r.event_id <> e.event_id
         AND abs(epoch_ms(e.ts) - epoch_ms(r.ts)) <= {_RANGE_S * 1000}
        GROUP BY e.event_id
    """,
)
def events_near_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: for every event, how many OTHER error events the
    same user produced within +/-5 minutes. Spark has no native
    interval join, and the naive theta join (|Δt| <= w) degenerates to
    a per-user cross product; this is the scalable formulation —
    bucket both sides into w-sized time buckets, replicate the error
    side into its bucket and both neighbors (any |Δt| <= w pair shares
    one of those buckets by construction), equi-join on (user, bucket),
    exact-filter, dedup, count. Shuffles on (user, bucket) only; work
    is bounded by per-bucket density, not per-user history. The oracle
    is the naive unblocked join — the hash equality proves the
    blocking loses no pairs. Routed through the GENERAL operator
    (operators/temporal.interval_join) so the generic bucketed
    formulation sits inside the driver's oracle gate."""
    from ..operators.temporal import interval_join

    def build():
        ev = read_table(spark, sf_dir, "events")
        errors = ev.where(F.col("event_type") == "error").select(
            F.col("event_id").alias("r_id"), "user_id", "ts"
        )
        pairs = interval_join(
            ev,
            errors,
            on="user_id",
            tolerance_ms=_RANGE_S * 1000,
            left_id="event_id",
            right_id="r_id",
        ).where(F.col("r_id") != F.col("event_id"))
        counts = pairs.groupBy("event_id").agg(F.count("r_id").alias("n"))
        # events with no valid pair still appear, at zero (LEFT JOIN)
        return (
            ev.select("event_id")
            .join(counts, "event_id", "left_outer")
            .select(
                "event_id",
                F.coalesce("n", F.lit(0)).cast("long").alias("n_nearby_errors"),
            )
        )

    # static plan over immutable inputs — prepared once per
    # process (profile_queries: 0.29 s build vs 0.52 exec)
    return _prepared_plan(spark, "events_near_errors", sf_dir, build)
