"""Structured Streaming surface (SURVEY.md §2.9).

The reference is batch-only, but its parallel writer implements exactly
the mechanics Structured Streaming formalizes: a bounded out-of-orderness
buffer with a tracked minimum and a hard error on late data
(/root/reference/src/osm/pbf/parallel_writer.rs:109-144), and Sentinel
punctuation as end-of-group markers
(parallel_element_iteration_command.rs:31). Here those become, Spark-first:

* ``stream_events``      file-source stream over an events directory
* ``windowed_counts``    watermark + tumbling-window aggregation — the
                         watermark IS the reference's ordering-buffer
                         minimum, except late rows are *dropped* (policy)
                         rather than panicking (assertion)
* ``sessionize``         custom stateful operator via
                         applyInPandasWithState: per-user session windows
                         closed by event-time gap + watermark timeout
* ``stream_cell_enrich`` stateless streaming enrichment: geotag → Z-order
                         cell id + broadcast polygon lookup (the J7 join's
                         streaming twin; stateless ops compose freely)

Tests drive these with ``trigger(availableNow=True)`` so each run drains
the input exactly once and terminates — batch-equivalent semantics with
real streaming plans (checkpointed offsets, state store).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def stream_events(spark: SparkSession, events_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of event rows (schema fixed up front — file
    streams cannot infer)."""
    reader = (spark.readStream.schema(EVENTS_SCHEMA)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(events_dir)


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "30 minutes") -> DataFrame:
    """Tumbling event-time windows with late-data bound. State for a
    window is droppable once the watermark passes its end — bounded
    memory at any scale, the property the reference engineered with its
    `reader_tasks * 8000 * n` buffer-sizing rule."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.expr(
                     "CAST(floor(value * 100 + 0.5) AS BIGINT)")).alias("sum_cents"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "event_type", "n", "sum_cents"))


SESSION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("closed_by", T.StringType()),   # gap | timeout
])

_STATE_SCHEMA = T.StructType([
    T.StructField("start_ms", T.LongType()),
    T.StructField("last_ms", T.LongType()),
    T.StructField("n", T.LongType()),
])


def _session_fn(gap_ms: int):
    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterable[pd.DataFrame]:
        user_id = key[0]
        out: list[tuple] = []

        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            out.append((user_id, start_ms, last_ms, n, "timeout"))
            state.remove()
        else:
            ts_ms = pd.concat(
                [pdf["ts"] for pdf in pdfs]).astype("int64").sort_values() // 10**6
            if state.exists:
                start_ms, last_ms, n = state.get
            else:
                start_ms = last_ms = int(ts_ms.iloc[0])
                n = 0
            for t in ts_ms:
                t = int(t)
                if t - last_ms > gap_ms:
                    out.append((user_id, start_ms, last_ms, n, "gap"))
                    start_ms, n = t, 0
                last_ms = t
                n += 1
            state.update((start_ms, last_ms, n))
            state.setTimeoutTimestamp(last_ms + gap_ms)

        if out:
            df = pd.DataFrame(out, columns=[
                "user_id", "session_start", "session_end", "n_events",
                "closed_by"])
            df["session_start"] = pd.to_datetime(df["session_start"], unit="ms")
            df["session_end"] = pd.to_datetime(df["session_end"], unit="ms")
            yield df

    return fn


def sessionize(events: DataFrame, gap: str = "30 minutes",
               watermark: str = "1 hour") -> DataFrame:
    """Per-user event-time sessionization as a custom stateful operator
    (applyInPandasWithState). Sessions close when the in-batch gap
    exceeds ``gap`` or when the event-time watermark passes
    last_event + gap (EventTimeTimeout). State is one (start, last, n)
    triple per live user — O(active users), not O(events)."""
    import re
    m = re.match(r"(\d+)\s*(second|minute|hour)s?", gap)
    mult = {"second": 1000, "minute": 60_000, "hour": 3_600_000}[m.group(2)]
    gap_ms = int(m.group(1)) * mult
    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                _session_fn(gap_ms),
                outputStructType=SESSION_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup with BOUNDED state: dropDuplicates on
    (event_id, ts) under an event-time watermark — the streaming twin
    of operators.dedup.exact_dedup. Including the event-time column in
    the key lets the state store evict entries once the watermark
    passes them, so state is O(watermark window), not O(stream
    history) — the property that makes streaming dedup viable on an
    unbounded 100 TB/day feed."""
    return (events.withWatermark("ts", watermark)
            .select("event_id", "ts")
            .dropDuplicates(["event_id", "ts"]))


def stream_images(spark: SparkSession, images_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of image rows (sources.schemas.IMAGES plus an
    event-time ``ts`` column — an upload feed)."""
    from .. import schemas
    schema = T.StructType(list(schemas.IMAGES.fields) +
                          [T.StructField("ts", T.TimestampType(), False)])
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(images_dir)


def image_dedup_stream(images: DataFrame,
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming PERCEPTUAL image dedup with bounded state — the
    multimodal twin of ``dedup_stream``: Arrow-batched decode +
    recomputed phash inside the stream (mapInPandas is stateless, so it
    composes with streaming plans unchanged), then
    ``dropDuplicatesWithinWatermark`` keyed on CONTENT ALONE
    (``phash_calc``). Re-uploads of the same content (identical pixels
    ⇒ identical phash, whatever the image_id and whatever the upload
    time) collapse to one row as long as they arrive within the
    watermark delay of each other; the watermark evicts a phash's state
    once event time moves past it, keeping the state store O(watermark
    window), not O(stream history) — the viability condition for an
    unbounded image-upload feed. (Plain dropDuplicates on
    (phash_calc, ts) — the earlier shape — only collapsed re-uploads
    whose timestamps were second-identical.) Output carries only
    ``phash_calc``: which duplicate's ts survives is
    arrival-order-dependent, so emitting it would make the drain
    nondeterministic."""
    from ..functions import images as I
    from ..operators.multimodal import _decode_stack

    schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("phash_calc", T.LongType(), False),
    ])

    def _ph(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            parts = []
            for (w, h, fmt), g in pdf.groupby(["w", "h", "fmt"],
                                              sort=False):
                stack = _decode_stack(g, int(w), int(h), str(fmt))
                parts.append(pd.DataFrame({
                    "image_id": g["image_id"].to_numpy(),
                    "ts": g["ts"].to_numpy(),
                    "phash_calc": I.phash64_batch(stack)}))
            yield pd.concat(parts, ignore_index=True)

    hashed = (images.select("image_id", "bytes", "w", "h", "fmt", "ts")
              .mapInPandas(_ph, schema=schema))
    return (hashed.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["phash_calc"])
            .select("phash_calc"))


def stream_cell_enrich(events: DataFrame, polygons_cells: DataFrame,
                       res: int = 10) -> DataFrame:
    """Stateless streaming enrichment: derive a deterministic geotag from
    user_id (stand-in for a geotagged event feed), attach the res-``res``
    cell, and broadcast-join against a static polygon-cover table —
    stream-static joins need no state and keep the J7 plan shape."""
    from ..functions import cells as C
    from ..functions.steps import select_steps
    lat = (F.col("user_id") * 2654435761 % 120000000) / 1e6 - 60.0
    lon = (F.col("user_id") * 2971215073 % 360000000) / 1e6 - 180.0
    tagged = select_steps(events.withColumn("lat", lat)
                          .withColumn("lon", lon),
                          C.cell_steps("lat", "lon", res, "cell"),
                          keep=("cell",))
    return tagged.join(F.broadcast(polygons_cells), on="cell", how="inner")


def stream_s2_enrich(events: DataFrame, covers: DataFrame) -> DataFrame:
    """Stateless streaming enrichment on the TRUE S2 index (round 5):
    geotag from user_id (same deterministic feed as
    stream_cell_enrich), leaf S2 cell via the SQL-step LOOKUP4
    encode — a stateless projection chain, so it runs unchanged under
    Structured Streaming — then the hierarchical containment join
    against a STATIC cover table (each event's ancestors at the
    distinct cover levels, one stream-static broadcast equi-join on
    them; the level collect and the broadcast-gate count run as one
    aggregate on the static side before the stream is wired)."""
    from ..functions import s2 as S2
    from ..operators.spatial_join import s2_containment_join
    lat = (F.col("user_id") * 2654435761 % 120000000) / 1e6 - 60.0
    lon = (F.col("user_id") * 2971215073 % 360000000) / 1e6 - 180.0
    tagged = S2.with_s2_cell(
        S2.with_latlon_xyz(events.withColumn("lat", lat)
                           .withColumn("lon", lon), "lat", "lon",
                           ("_x", "_y", "_z")),
        "_x", "_y", "_z")
    return s2_containment_join(tagged.drop("_x", "_y", "_z"), covers)


def run_available_now(stream_df: DataFrame, checkpoint: str,
                      out_table: str) -> None:
    """Drain all currently-available input into an in-memory sink and
    stop — the batch-equivalent execution tests and backfills use."""
    q = (stream_df.writeStream
         .format("memory").queryName(out_table)
         .outputMode("append")
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def run_available_now_to_path(stream_df: DataFrame, checkpoint: str,
                              out_path: str) -> None:
    """Drain all currently-available input into a parquet FILE sink and
    stop. Unlike the memory sink (append mode cannot recover from a
    checkpoint at all), the file sink is fault-tolerant: a new query
    started on the same checkpoint resumes offsets AND state, so this
    is the drain the kill-and-resume tests (and any real restartable
    pipeline) use."""
    q = (stream_df.writeStream
         .format("parquet")
         .outputMode("append")
         .option("path", out_path)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def run_available_now_complete(stream_df: DataFrame, checkpoint: str,
                               out_table: str) -> None:
    q = (stream_df.writeStream
         .format("memory").queryName(out_table)
         .outputMode("complete")
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def tile_density_stream(events: DataFrame, zoom: int = 7,
                        window: str = "1 hour",
                        watermark: str = "30 minutes") -> DataFrame:
    """Streaming spatio-temporal density: the heatmap sink's binning
    under Structured Streaming — stateless slippy tile assign (SQL
    text, runs unchanged in a stream) + WATERMARKED tumbling-window
    counts per (window, tile). State is bounded by watermark × live
    tiles; at 10^12-image feed scale the map-side partial aggregation
    reduces each microbatch to ≤ live-tile cardinality before the
    stateful shuffle (same shape as windowed_counts, keyed spatially).
    """
    from ..functions import webmercator as WM
    lat = (F.col("user_id") * 2654435761 % 120000000) / 1e6 - 60.0
    lon = (F.col("user_id") * 2971215073 % 360000000) / 1e6 - 180.0
    d = (events.withColumn("lat", lat).withColumn("lon", lon)
         .selectExpr("*", f"{WM.tile_x_sql('lon', zoom)} AS tx",
                     f"{WM.tile_y_sql('lat', zoom)} AS ty"))
    return (d.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), "tx", "ty")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("win_start"),
                    "tx", "ty", "n"))
