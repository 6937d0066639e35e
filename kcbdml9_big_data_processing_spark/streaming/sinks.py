"""Streaming sinks.

K1/T3: foreachBatch micro-batch sink — the reference appends each
micro-batch to PostgreSQL over JDBC inside a Future
(streaming/StreamingJobImpl.scala:79-94). Here the batch writer is a
callable, so the same operator serves JDBC (sinks/jdbc.py), DuckDB in
tests, or any batch writer — and unlike the reference, the query is
checkpointed (the reference checkpoints only its storage sink, so its
JDBC queries reprocess on restart; SURVEY.md §2.10 T4).

K2/T4: checkpointed partitioned-parquet archive
(StreamingJobImpl.scala:96-109).

At-least-once note, same trade as the reference: foreachBatch
re-delivers the failed micro-batch on recovery. The reference ignores
batchId entirely (StreamingJobImpl.scala:82-92), so its JDBC tables
grow duplicates on every recovery; here
``make_idempotent_jdbc_writer`` keys every row on batch_id and
delete-then-inserts, making redelivery a no-op (effectively
exactly-once into JDBC).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.partitions import derive_time_partitions
from ..sinks.jdbc import write_jdbc

BatchWriter = Callable[[DataFrame, int], None]


def make_idempotent_jdbc_writer(
    url: str,
    table: str,
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
    batch_id_col: str = "batch_id",
    **write_options: str,
) -> BatchWriter:
    """Build a foreachBatch writer with exactly-once-effective JDBC
    delivery: every row is stamped with its micro-batch id, and each
    delivery first deletes any rows already carrying that id (a failed
    earlier attempt), then appends — so Structured Streaming's
    at-least-once redelivery cannot duplicate rows.

    The DELETE runs once per micro-batch on the driver over a plain
    JDBC connection (via the JVM's DriverManager — no extra Python DB
    client needed); the INSERT is the normal distributed
    ``write_jdbc`` append. At scale, index ``batch_id_col`` so the
    delete is a point lookup, and keep micro-batches large enough that
    one extra driver round trip per batch is noise.

    Scope: the DELETE is keyed by ``batch_id`` alone, so it is safe
    only while one query writes the table. A ``StreamingJob`` writes
    all its metric families from its one ``metrics`` query, so one
    job's redelivery can no longer delete a sibling metric query's
    rows. Two jobs (or any two queries) sharing one table still
    collide: their batch ids overlap, and one query's redelivery
    deletes the other's rows of the same id.
    """

    def _table_exists(conn) -> bool:
        # match on bare name (case-insensitive) and, when the caller
        # gave a schema-qualified table, on the schema too — so a
        # same-named table in an unrelated schema can't make a real
        # DELETE failure look like first-delivery
        parts = table.split(".")
        bare = parts[-1].lower()
        schema = parts[-2].lower() if len(parts) > 1 else None
        rs = conn.getMetaData().getTables(None, None, None, None)
        try:
            while rs.next():
                if rs.getString("TABLE_NAME").lower() != bare:
                    continue
                if schema is not None:
                    got = rs.getString("TABLE_SCHEM")
                    if got is not None and got.lower() != schema:
                        continue
                return True
            return False
        finally:
            rs.close()

    def writer(batch_df: DataFrame, batch_id: int) -> None:
        jvm = batch_df.sparkSession._jvm
        if driver is not None:
            jvm.java.lang.Class.forName(driver)
        props = jvm.java.util.Properties()
        if user is not None:
            props.setProperty("user", user)
        if password is not None:
            props.setProperty("password", password)
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
        try:
            # probe BEFORE deleting: if the table doesn't exist yet
            # (first-ever delivery — the append below creates it) skip
            # the delete instead of tolerating its failure, so a real
            # DELETE error on an existing table always propagates.
            if _table_exists(conn):
                # Spark's JDBC writer creates columns as quoted
                # (case-preserved) identifiers; quote with the
                # DIALECT's quote string (double-quote on Derby/
                # Postgres, backtick on MySQL, bracket-free default
                # elsewhere), not a hardcoded one.
                q = conn.getMetaData().getIdentifierQuoteString() or '"'
                if q.strip() == "":  # driver reports "no quoting"
                    q = ""
                stmt = conn.createStatement()
                try:
                    stmt.executeUpdate(
                        f"DELETE FROM {table} "
                        f"WHERE {q}{batch_id_col}{q} = {int(batch_id)}"
                    )
                finally:
                    stmt.close()
        finally:
            conn.close()
        write_jdbc(
            batch_df.withColumn(batch_id_col, F.lit(int(batch_id))),
            url,
            table,
            user=user,
            password=password,
            driver=driver,
            mode="append",
            **write_options,
        )

    return writer


def start_foreach_batch(
    df: DataFrame,
    writer: BatchWriter,
    checkpoint_dir: str,
    query_name: str,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Start a checkpointed foreachBatch sink query (K1/T3/T4)."""
    w = (
        df.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_partitioned_archive(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    ts_col: str = "timestamp",
    query_name: str = "archive",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Start the raw-stream archive: derive year/month/day/hour from
    event time, append hive-partitioned parquet, checkpointed
    (StreamingJobImpl.scala:96-109). The partition layout is what
    makes the batch layer's hourly read a pruned scan (S2/F1)."""
    w = (
        derive_time_partitions(df, ts_col)
        .writeStream.format("parquet")
        .partitionBy("year", "month", "day", "hour")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
