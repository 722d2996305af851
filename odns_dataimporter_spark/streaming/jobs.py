"""Structured Streaming variants of the windowed event operators.

The reference is batch-only; these are the EXT streaming surface
(SURVEY §2.8). Each job is readStream → transform → writeStream with an
``availableNow`` trigger so tests can drain a finite file source and
compare against the batch twins in queries/streaming_batch.py — the
standard batch/stream equivalence check for Structured Streaming.

At production scale the same code runs against a file/Kafka source with
a real trigger; watermarks bound the state store, which is the only
thing that grows with input.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from odns_dataimporter_spark.queries._helpers import ts_str
from odns_dataimporter_spark.tables import load_table


def prepare_stream_source(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize `events` as a µs-timestamp parquet dir usable as a
    streaming file source (the raw testdata file is INT64-nanos, which
    the streaming parquet reader can't consume directly)."""
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out_dir)
    return out_dir


def read_events_stream(
    spark: SparkSession, src_dir: str, options: dict | None = None
) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    reader = spark.readStream.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.parquet(src_dir)


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Drain a finite stream with availableNow into a memory sink and
    return the result as a DataFrame."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def stream_tumbling_counts(spark: SparkSession, src_dir: str) -> DataFrame:
    """Tumbling 1-day windows with a 1-hour watermark (streaming twin of
    queries/streaming_batch.stream_tumbling)."""
    ev = read_events_stream(spark, src_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").cast("date").alias("day"), "event_type", "n_events")
    )
    return _run_to_memory(agg, "complete")


def stream_session_windows(spark: SparkSession, src_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user, streaming."""
    ev = read_events_stream(spark, src_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )
    return _run_to_memory(agg, "complete")


def stream_dedup_events(spark: SparkSession, src_dir: str) -> DataFrame:
    """Stateful streaming dedup on event_id with a watermark bounding the
    dedup state (the 100 TB requirement — unbounded dedup state OOMs)."""
    ev = read_events_stream(spark, src_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    return _run_to_memory(deduped.select("event_id", "event_type"), "append")


_STATE_SCHEMA = T.StructType([T.StructField("n", T.LongType())])
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _count_per_user(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState worker: running event count per user."""
    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})


def stream_stateful_custom(spark: SparkSession, src_dir: str) -> DataFrame:
    """Custom per-key state via applyInPandasWithState: running per-user
    event counts (the arbitrary-stateful-operator escape hatch for
    semantics windows can't express)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, src_dir)
    counted = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _count_per_user,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(counted, "update")


def stream_static_join_enrich(spark: SparkSession, src_dir: str, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension snapshot (per-user order counts) — the standard pattern for
    joining unbounded data to reference data without state: the static
    side is re-read per micro-batch, no watermark needed."""
    from odns_dataimporter_spark.tables import load_table

    dim = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.count("*").alias("n_orders"))
    )
    ev = read_events_stream(spark, src_dir)
    enriched = ev.join(dim, "user_id", "left").select(
        "event_id", "user_id", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )
    return _run_to_memory(enriched, "append")


def stream_stream_join(spark: SparkSession, src_dir: str) -> DataFrame:
    """Stream-stream interval join: views joined to the same user's
    purchases within 4 hours, BOTH sides unbounded. Spark buffers each
    side in the state store; the watermarks plus the two-sided time
    range let it evict views older than watermark-4h and purchases
    older than the watermark — bounded state on infinite input, which is
    the whole trick (an un-ranged stream-stream join grows state
    forever). Batch twin: queries/streaming_batch.stream_join_interval."""
    v = (
        read_events_stream(spark, src_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .select(F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts"))
    )
    p = (
        read_events_stream(spark, src_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    j = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 4 HOURS")),
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        ts_str("v_ts").alias("view_ts"),
        ts_str("p_ts").alias("purchase_ts"),
    )
    return _run_to_memory(j, "append")


def stream_foreach_batch_sink(spark: SparkSession, src_dir: str, out_dir: str) -> int:
    """foreachBatch sink: per-micro-batch custom writes (the production
    pattern for JDBC/upsert sinks from a stream — each batch lands as a
    snapshot partition via the same dynamic-overwrite path the ODNS
    sink uses). Returns the number of micro-batches processed."""
    ev = read_events_stream(spark, src_dir)
    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        n_batches["n"] += 1
        (
            batch_df.groupBy("event_type")
            .count()
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        ev.writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_fb_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def stream_transform_with_state(spark: SparkSession, src_dir: str) -> DataFrame:
    """Spark 4 transformWithStateInPandas: the successor stateful API to
    applyInPandasWithState — typed per-key state handles, timers, and
    multiple state variables. Running per-user count, same semantics as
    stream_stateful_custom so tests can cross-check the two APIs."""
    try:
        # the TWS protocol runs over protobuf; absent in this container
        from google.protobuf import descriptor  # noqa: F401

        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )
    except ImportError:  # API (or its protobuf dependency) unavailable
        return None

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    ev = read_events_stream(spark, src_dir)
    counted = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .transformWithStateInPandas(
            CountProcessor(),
            outputStructType=_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
    return _run_to_memory(counted, "update")


def stream_odns_archive_ingest(
    spark: SparkSession,
    archive_dir: str,
    protocol: str,
    out_dir: str,
) -> DataFrame:
    """Streaming ODNS archive ingest: watch a protocol's archive
    directory and land every scan file as typed rows in the partitioned
    snapshot layout — the Structured Streaming replacement for the
    reference's cron-driven newest-file pick (zipFileUtils.py:7-17):
    instead of polling for the most recent archive, the file source
    lists the files it has not yet seen, applies the same typed
    projection as the batch path, and appends atomically.

    The checkpoint lives in ``<out_dir>/_checkpoint``, next to the
    sink's ``_spark_metadata`` log, so a later call on the same
    ``out_dir`` resumes: it lands only the files that arrived since,
    and a call with no new file adds nothing. A file is landed once per
    ``out_dir``, by path: one rewritten under a name already seen is
    not read again.

    ``scan_date`` is derived per-file from the filename (the streaming
    generalization of the reference's single-file date extraction,
    zipFileUtils.py:25-35) — one streaming job handles the whole
    archive history, not just the latest file."""
    from odns_dataimporter_spark.odns.files import file_scan_date
    from odns_dataimporter_spark.odns.ingest import CSV_OPTIONS, typed_projection
    from odns_dataimporter_spark.odns.schema import raw_csv_schema

    raw = spark.readStream.schema(raw_csv_schema(protocol)).options(**CSV_OPTIONS).csv(archive_dir)
    typed = typed_projection(raw, protocol, file_scan_date())
    q = (
        typed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .partitionBy("protocol")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_burn_rate(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming error-budget burn monitor: tumbling 1-hour windows with
    a 1-hour watermark emit (hour, n_err, n_tot, burn_1h_q6, page_1h) —
    the online half of queries/stats_ops.ts_error_budget_burn (the 6 h
    multi-window confirmation stays a batch read over the sink table;
    pure-streaming 6 h rollups would hold 6× state for a value the
    pager only needs at alert time). Burn is the same integer
    cross-multiply as the batch twin, so equivalence is exact. State:
    one count pair per open hour window, bounded by the watermark."""
    ev = read_events_stream(spark, src_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count_if(F.col("event_type") == "error").cast("long").alias("n_err"),
            F.count("*").cast("long").alias("n_tot"),
        )
    )
    return agg.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n_err",
        "n_tot",
        (F.floor(F.col("n_err") * 1e8 / F.col("n_tot")) / 1e6).alias("burn_1h_q6"),
        (F.col("n_err") * 1000 > 144 * F.col("n_tot")).alias("page_1h"),
    )


def stream_stream_join_outer(
    spark: SparkSession, src_dir: str, options: dict | None = None
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every view emits — with
    its purchase when one lands within 4 h, with NULLs once the
    watermark proves none can. Same bounded-state mechanics as the
    inner join (stream_stream_join); the outer part is WHY the
    watermark is mandatory here: without it Spark could never conclude
    a view is unmatched. NULL rows surface only as the watermark
    passes view_ts + 4 h, so a finite drain needs a flush event past
    the horizon (the equivalence test appends one)."""
    v = (
        read_events_stream(spark, src_dir, options)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .select(F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts"))
    )
    p = (
        read_events_stream(spark, src_dir, options)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    j = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 4 HOURS")),
        "leftOuter",
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        ts_str("v_ts").alias("view_ts"),
        ts_str("p_ts").alias("purchase_ts"),
    )
    return _run_to_memory(j, "append")


def stream_jdbc_upsert(
    spark: SparkSession,
    src_dir: str,
    url: str,
    table: str,
    checkpoint_dir: str,
    properties: dict | None = None,
) -> int:
    """Exactly-once streaming ingest into a JDBC table — the streaming
    completion of the reference's sink (dataimporter.py:119-127 batched
    inserts + :187-200 delete-then-reload): each micro-batch first
    DELETEs any rows carrying its own batch_id, then appends the batch
    tagged with that id. foreachBatch may re-run a batch after a crash
    (micro-batch replay is at-least-once); the delete makes the write
    IDEMPOTENT, so the table converges to exactly-once — the standard
    recipe for transactional-enough JDBC sinks from Structured
    Streaming. The checkpoint must be STABLE across restarts (passed
    in, not a tempdir): it is what maps source offsets to batch_ids.

    Returns the number of micro-batches processed this run (0 on a
    restart with no new data — the restart-idempotence test's claim).
    """
    ev = read_events_stream(spark, src_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    n_batches = {"n": 0}

    # SQLSTATEs meaning "table does not exist" — the ONLY failure the
    # idempotency DELETE may ignore (first batch, table not created
    # yet). Any other DELETE failure (lock timeout, connection drop)
    # MUST propagate so Structured Streaming retries the batch —
    # swallowing it and appending anyway would duplicate the replayed
    # batch's rows and silently break the exactly-once claim
    # (round-6 ADVICE item 2).
    _TABLE_MISSING = {
        "42X05",  # Derby: table/view does not exist
        "42P01",  # PostgreSQL: undefined_table
        "42S02",  # MySQL / SQL Server (ODBC-style)
        "S0002",  # legacy ODBC
    }

    def _sql_state(exc) -> str | None:
        """Walk the Java cause chain for an SQLException's SQLSTATE."""
        je = getattr(exc, "java_exception", None)
        while je is not None:
            try:
                state = je.getSQLState()
            except Exception:  # noqa: BLE001 — not an SQLException
                state = None
            if state:
                return state
            je = je.getCause()
        return None

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        n_batches["n"] += 1
        jvm = batch_df.sparkSession._jvm
        # Spark's JDBC writer creates columns QUOTED (case-exact
        # batch_id); an unquoted batch_id would fold to BATCH_ID on
        # Derby/PostgreSQL and fail 42X04 on every batch — the old
        # swallow-all guard silently hid exactly that, leaving the
        # idempotency DELETE a permanent no-op. Quote through Spark's
        # OWN dialect registry so the DELETE matches whatever the
        # writer emitted per backend (`"batch_id"` on Derby/Postgres,
        # backticks on MySQL — round-7 ADVICE item 5: a hardcoded
        # double quote was a syntax error on default MySQL).
        quoted_col = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(
            url
        ).quoteIdentifier("batch_id")
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            st = conn.prepareStatement(
                f"DELETE FROM {table} WHERE {quoted_col} = ?"
            )
            st.setLong(1, batch_id)
            st.execute()
            st.close()
        except Exception as e:  # noqa: BLE001
            if _sql_state(e) not in _TABLE_MISSING:
                raise  # transient failure: let the batch retry, don't append dupes
        finally:
            conn.close()
        w = batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append")
        for k, v in (properties or {}).items():
            w = w.option(k, v)
        w.option("url", url).option("dbtable", table).format("jdbc").save()

    q = (
        ev.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


# Fixed absolute hysteresis thresholds (a streaming monitor can't know
# the full-series mean upfront — production would load these from a
# reference window). Alert opens when an hourly count EXCEEDS HI and
# closes when it drops BELOW LO.
HYST_HI = 3
HYST_LO = 2

_HYST_STATE = T.StructType(
    [
        T.StructField("alert", T.LongType()),
        T.StructField("episodes", T.LongType()),
        T.StructField("hours_alert", T.LongType()),
        T.StructField("hours_seen", T.LongType()),
    ]
)
_HYST_OUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_hours", T.LongType()),
        T.StructField("hours_in_alert", T.LongType()),
        T.StructField("n_alerts", T.LongType()),
    ]
)


def _hysteresis_per_type(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState worker: Schmitt-trigger alert state over
    the key's hourly counts, processed in hour order. State carries
    (alert flag, episode count, alert-hours, hours seen) across
    micro-batches; within a batch the rows are bucketed to hours in
    pandas. Single-trigger availableNow delivers each hour exactly
    once; a multi-trigger deployment would hold the open hour's
    partial count in state via transformWithState timers (see
    stream_transform_with_state)."""
    alert, episodes, hours_alert, hours_seen = (
        tuple(state.get) if state.exists else (0, 0, 0, 0)
    )
    # applyInPandasWithState delivers one group's rows as MULTIPLE
    # Arrow chunks (~10k rows each); an hour straddling two chunks
    # would be counted twice in hours_seen and the Schmitt trigger
    # would fire on partial per-chunk counts. Concatenate the whole
    # micro-batch before bucketing (round-7 ADVICE item 1).
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        hours = (
            batch.assign(hour=batch["ts"].dt.floor("h"))
            .groupby("hour")
            .size()
            .sort_index()
        )
        for _, y in hours.items():
            if y > HYST_HI and not alert:
                alert = 1
                episodes += 1
            elif y < HYST_LO and alert:
                alert = 0
            hours_alert += alert
            hours_seen += 1
    state.update((alert, episodes, hours_alert, hours_seen))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_hours": [hours_seen],
            "hours_in_alert": [hours_alert],
            "n_alerts": [episodes],
        }
    )


def stream_hysteresis_alerts(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming Schmitt-trigger alerting: per event type, hysteresis
    alert state (open > {HI}, close < {LO}) maintained across
    micro-batches via applyInPandasWithState — the streaming twin of
    the batch `stream_alert_hysteresis` query, demonstrating stateful
    sequential logic that tumbling windows can't express (the alert
    flag depends on the entire history, not a window)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, src_dir)
    out = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .applyInPandasWithState(
            _hysteresis_per_type,
            outputStructType=_HYST_OUT,
            stateStructType=_HYST_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(out, "update")


# --- SpaceSaving heavy hitters -------------------------------------------------

SS_CAPACITY = 8  # bounded counter table per key (Metwally et al. 2005)

_SS_STATE = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("overs", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)
_SS_OUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("est_count", T.LongType()),
        T.StructField("max_overcount", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _spacesaving_per_type(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState worker: the SpaceSaving stream-summary
    over the key's user_ids with a BOUNDED counter table of
    {SS_CAPACITY} entries. Guarantees (Metwally et al.): every item
    with true count > n_seen/capacity is tracked, and every tracked
    estimate is >= the true count with overestimate <= its recorded
    `over` bound. Rows are processed in (ts, event_id) order within
    the micro-batch (concatenated across Arrow chunks first — the
    round-7 hysteresis lesson) so replays are deterministic."""
    if state.exists:
        ids, counts, overs, n_seen = (list(state.get[0]), list(state.get[1]),
                                      list(state.get[2]), state.get[3])
    else:
        ids, counts, overs, n_seen = [], [], [], 0
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        batch = batch.sort_values(["ts", "event_id"])
        pos = {u: i for i, u in enumerate(ids)}
        for u in batch["user_id"].astype("int64"):
            u = int(u)
            n_seen += 1
            i = pos.get(u)
            if i is not None:
                counts[i] += 1
            elif len(ids) < SS_CAPACITY:
                pos[u] = len(ids)
                ids.append(u)
                counts.append(1)
                overs.append(0)
            else:
                # evict the minimum counter (lowest id on ties for
                # determinism); inherit its count as the overestimate
                j = min(range(len(ids)), key=lambda x: (counts[x], ids[x]))
                del pos[ids[j]]
                pos[u] = j
                overs[j] = counts[j]
                ids[j] = u
                counts[j] += 1
    state.update((ids, counts, overs, n_seen))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(ids),
            "user_id": ids,
            "est_count": counts,
            "max_overcount": overs,
            "n_seen": [n_seen] * len(ids),
        }
    )


def stream_heavy_hitters_spacesaving(
    spark: SparkSession, src_dir: str
) -> DataFrame:
    """Streaming heavy hitters per event type via the SpaceSaving
    sketch in applyInPandasWithState — O(capacity) state per key no
    matter how many distinct users flow past, the memory-bounded
    counterpart to the exact batch audit
    (queries/streaming_batch.py::stream_heavy_hitters). The
    equivalence test asserts the sketch's two guarantees against the
    exact twin on a skewed corpus."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, src_dir).select(
        "event_id", "ts", "user_id", "event_type"
    )
    out = ev.groupBy("event_type").applyInPandasWithState(
        _spacesaving_per_type,
        outputStructType=_SS_OUT,
        stateStructType=_SS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, "update")
