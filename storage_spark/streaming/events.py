"""Streaming layer — the pg-boss queue/worker surface as Structured Streaming.

Reference mapping (SURVEY §2.10):
- T1 queue workers (queue.ts:74,264-352): each queue = a readStream over the
  events table; poll interval = processingTime trigger; retries = attempt
  counter + re-append instead of pg-boss backoff state.
- T2 exactly-once-per-key (singletonKey dedup,
  object-admin-delete-all-before.ts:27-33): ``dropDuplicates`` within the
  watermark window backed by the state store.
- T3 lifecycle fan-out (events/lifecycle/*.ts): one stream, per-consumer
  ``filter`` on event type; webhook delivery via ``foreachBatch`` (S8).
- T6 LISTEN/NOTIFY config invalidation: CDC on the config table — modelled
  as a stream of config-change events.
- T10 watermark cutoffs: ``withWatermark`` is the principled version of the
  reference's ``before: Date`` in-flight exclusion (scanner.ts:32,148).
- T11: the reference has no event-time windows; windowed usage analytics
  here are the flagged extension.

All sinks used in tests are deterministic (availableNow trigger + memory/
foreachBatch), so the same operators run unchanged with a processingTime
trigger against a live events table at scale.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Schema of the engine's lifecycle/event stream (events.parquet shape with
#: nanos already normalized to TimestampType).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """readStream over a parquet event log directory (one file per
    micro-batch append in production)."""
    return spark.readStream.schema(schema or EVENT_SCHEMA).parquet(path)


def for_queue(stream: DataFrame, event_types: list[str]) -> DataFrame:
    """T3: a queue consumer's view — filter to its event types."""
    return stream.filter(F.col("event_type").isin(event_types))


def dedup_singleton(stream: DataFrame, key_cols: list[str], watermark_col: str,
                    delay: str = "1 hour") -> DataFrame:
    """T2: at-most-one in-flight job per singleton key within the watermark
    horizon (state-store-backed). ``dropDuplicatesWithinWatermark`` is the
    form whose state actually EVICTS at the horizon — plain dropDuplicates
    with a non-key watermark column keeps state forever (unbounded store,
    and a legitimate re-submission hours later stays suppressed)."""
    return stream.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def windowed_event_counts(
    stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window usage rollup with late-data handling
    (extension surface — T11)."""
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "value_cents",
        )
    )


def hopping_event_counts(
    stream: DataFrame,
    window_duration: str = "1 hour",
    slide_duration: str = "15 minutes",
    watermark_delay: str = "2 hours",
    watermark: bool = True,
) -> DataFrame:
    """Hopping (sliding) event-time windows — the smoothed rate rollup a
    monitoring dashboard plots (each event lands in size/slide
    overlapping windows; Spark's ``window(ts, size, slide)`` explodes
    exactly those assignments and the aggregate is partial as usual).
    The same code runs batch or under ``readStream`` + watermark
    (``watermark=False`` skips the watermark for batch oracle parity).
    Money/value carried as integer cents."""
    src = (
        stream.withWatermark("ts", watermark_delay) if watermark else stream
    )
    return (
        src.groupBy(F.window("ts", window_duration, slide_duration))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start_ms"),
            F.unix_millis(F.col("window.end")).alias("window_end_ms"),
            "n",
            "value_cents",
        )
    )


def run_webhook_sink(
    stream: DataFrame,
    post_batch: Callable[[list[dict]], None],
    checkpoint_dir: str,
    available_now: bool = True,
    from_executors: bool = True,
):
    """S8/T3: webhook delivery via foreachBatch — each micro-batch posts its
    rows (the reference posts one HTTP call per event through the webhook
    queue, webhook.ts:102-160; batching is the Spark-native form).

    The default (``from_executors=True``) is the fan-out shape that scales:
    each PARTITION posts from its own executor (foreachPartition), so
    delivery bandwidth grows with the cluster instead of funneling every
    event through the driver. ``post_batch`` must be a picklable callable
    that performs its own HTTP/session setup per partition.
    ``from_executors=False`` is the explicit test-only mode for driver-held
    sinks (a local list can't be appended to from executor processes) and
    page-sized batches.

    Blocks until the availableNow run drains (tests); with
    ``available_now=False`` it runs continuously at the default trigger.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if from_executors:
            fn = post_batch  # don't capture self/driver state in the closure

            def _post_partition(it) -> None:
                rows = [r.asDict() for r in it]
                if rows:
                    fn(rows)

            batch_df.foreachPartition(_post_partition)
        else:
            rows = [r.asDict() for r in batch_df.collect()]
            if rows:
                post_batch(rows)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    # continuous mode: hand the StreamingQuery back so the caller can
    # monitor, awaitTermination, or stop delivery
    return writer.start()


def run_vector_ingest(
    vectors_stream: DataFrame,
    store,
    checkpoint_dir: str,
    index_row=None,
    key_col: str = "key",
) -> None:
    """Streaming putVectors: each micro-batch of (key, embedding[,metadata])
    rows merges into the committed vector store — the continuous-ingestion
    form of the pgvector adapter's batch upsert (ON CONFLICT (key) DO
    UPDATE, pgvector/index.ts:518-585). ``store`` is a committed-table
    holder (mutations.ParquetTable here; CatalogTable MERGE INTO on a real
    catalog); ``index_row`` enforces the index's dimension contract on
    every batch."""
    from storage_spark.operators.vectorindex import put_vectors

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        current = store.read()
        store.commit(
            put_vectors(current, batch_df, index_row=index_row, key_col=key_col)
        )

    q = (
        vectors_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_snapshot_ingest(
    stream: DataFrame,
    table,
    keys: list[str],
    checkpoint_dir: str,
    attempts: int = 3,
) -> None:
    """Continuous ingestion into a versioned table: every micro-batch
    merge-upserts into a ``SnapshotTable`` under the optimistic commit
    loop (losers retry against the new snapshot). Combined with the
    stream checkpoint this is the effectively-once ingestion shape:
    replaying a failed micro-batch re-runs the SAME keyed upsert, which
    is idempotent — the table converges to one committed version per
    applied batch, and every version stays time-travel readable."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # the merge commit caches the batch for its own duration
        table.with_retry(
            lambda: table.merge_upsert(batch_df, keys), attempts=attempts
        )

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_config_invalidation(
    changes_stream: DataFrame,
    cache: dict,
    checkpoint_dir: str,
    key_col: str = "config_key",
    value_col: str = "config_value",
    ts_col: str = "ts",
) -> None:
    """T6 LISTEN/NOTIFY config invalidation as CDC: the reference keeps
    per-tenant config in an in-memory cache invalidated by Postgres
    NOTIFY on the config table; here a change-event stream folds into the
    cache via foreachBatch — last-write-wins PER KEY inside each batch (the
    batch analogue of notifications arriving in commit order), deletes
    modelled as NULL values."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        latest = (
            batch_df.groupBy(key_col)
            .agg(F.max_by(value_col, ts_col).alias("v"))
            .collect()
        )
        for r in latest:
            if r["v"] is None:
                cache.pop(r[key_col], None)
            else:
                cache[r[key_col]] = r["v"]

    q = (
        changes_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_delete_all_before_consumer(
    requests_stream: DataFrame,
    objects_table,
    events_sink,
    checkpoint_dir: str,
) -> None:
    """T4 end-to-end: a stream of admin delete-all-before requests
    (columns: bucket_id, before_ms, singleton key by bucket) drives the
    one-pass batch delete against a committed objects table, emitting
    ObjectRemoved lifecycle rows per applied request.

    The reference loops 500-row/10 s job slices and re-enqueues itself
    (object-admin-delete-all-before.ts:35-125) with singletonKey dedup
    (:27-33); here each micro-batch applies every distinct request as one
    anti-join commit — no self-requeue needed because the pass is complete.

    ``events_sink``: a PATH (production shape) appends the lifecycle rows
    as a DataFrame to that events table — executor-side write, NO driver
    collect of the deleted set, the same shape as the webhook sink's
    executor-side default. A ``list`` keeps the driver-collected test
    mode. The only driver transfer either way is the per-batch distinct
    (bucket, cutoff) request fold, which is bounded by the request rate."""
    from storage_spark.operators.mutations import delete_all_before

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        reqs = (
            batch_df.select("bucket_id", "before_ms")
            .groupBy("bucket_id")
            .agg(F.max("before_ms").alias("before_ms"))
            .collect()
        )
        for r in reqs:
            current = objects_table.read()
            remaining, deleted = delete_all_before(
                current, r["before_ms"], bucket_id=r["bucket_id"]
            )
            removed_df = deleted.select(
                "bucket_id", "name",
                F.lit("ObjectRemoved").alias("event_type"),
            )
            if isinstance(events_sink, list):
                events_sink.extend(
                    row.asDict() for row in removed_df.collect()
                )
            else:
                # materializes the deleted set BEFORE the commit below
                # replaces the files it reads from
                removed_df.write.mode("append").parquet(events_sink)
            objects_table.commit(remaining)

    q = (
        requests_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory(stream: DataFrame, name: str, output_mode: str = "append") -> None:
    """Drain an availableNow stream into an in-memory table (tests)."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
