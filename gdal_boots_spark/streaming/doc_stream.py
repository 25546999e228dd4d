"""Structured Streaming surface: incremental span extraction + cell
assignment over an interleaved-documents stream.

The reference has no streaming (SURVEY §2.10) and the north rule asks
for *resumability* (plans/runner.py), not streams — but the engine's
narrow extraction pipeline is stateless, so exposing it as a streaming
query is free and gives continuous-ingest deployments the same
operators: readStream(parquet dir) -> posexplode -> point decode ->
native cell ids -> writeStream (append), or a watermarked windowed
count per cell for monitoring.

All transformations reuse the batch code paths (point_xy_sql and the
cell-grid SQL of geom.cells) — one logical plan serving both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geometry_fns import cell_id_sql, point_xy_sql, quote_ident


def _geo_cells(docs: DataFrame, res: int, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    extra = [quote_ident(c) for c in extra_cols]
    geo = docs.selectExpr("doc_id", *extra, "posexplode(spans) AS (span_pos, span)").where("span.kind = 'geo'")
    xs, ys, ps = point_xy_sql("span.text")
    return geo.where(ps).selectExpr("doc_id", *extra, "span_pos", f"{cell_id_sql(xs, ys, res)} AS cell_id")


def stream_cell_assign(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    res: int = 8,
    trigger_available_now: bool = True,
):
    """Continuous doc->cell assignment: parquet dir in, parquet out.

    availableNow=True drains the current backlog and stops (used by
    tests and catch-up runs); otherwise it runs as a continuous
    micro-batch stream.
    """
    docs = spark.readStream.schema(
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    ).parquet(input_dir)
    out = _geo_cells(docs, res)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_cell_counts(
    spark: SparkSession,
    input_dir: str,
    res: int = 8,
    event_time_col: str | None = None,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Windowed per-cell document counts (monitoring stream).

    With an event-time column, applies a watermark so late data beyond
    `watermark` is dropped and state is bounded; without one, a simple
    running aggregate (complete mode).
    """
    docs = spark.readStream.schema(
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        + (f", {event_time_col} timestamp" if event_time_col else "")
    ).parquet(input_dir)
    if event_time_col:
        # event time rides along through the narrow extraction (no
        # stream-stream self-join); watermark bounds the window state
        cells = _geo_cells(docs.withWatermark(event_time_col, watermark), res, (event_time_col,))
        return cells.groupBy(F.window(event_time_col, window), "cell_id").agg(
            F.count("*").alias("n_docs")
        )
    return _geo_cells(docs, res).groupBy("cell_id").agg(F.count("*").alias("n_docs"))


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    event_time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each normalized-text
    hash within the watermark horizon passes, later duplicates drop.

    dropDuplicatesWithinWatermark keys the dedup state on the 60-bit
    text hash and EXPIRES state older than the watermark — bounded
    state at 10^12-doc ingest (a plain dropDuplicates would grow state
    forever).  Same hash as the batch operator (operators/dedup), so a
    batch backfill and the stream agree on survivors.
    """
    from ..functions.text_fns import md5_long, normalize_text

    docs = spark.readStream.schema(
        "doc_id string, text string, " + f"{event_time_col} timestamp"
    ).parquet(input_dir)
    h = docs.select(
        "doc_id", event_time_col, md5_long(normalize_text(F.col("text"))).alias("text_hash")
    )
    return h.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(["text_hash"])


def stream_cell_running_stats(spark: SparkSession, input_dir: str, res: int = 8) -> DataFrame:
    """CUSTOM stateful operator (applyInPandasWithState): per-cell
    running document totals that survive restarts via the checkpointed
    state store — the pattern for engine-side stateful ops Structured
    Streaming lacks natively (north_star: per-partition metrics with
    resumability).

    State per cell = one long; each micro-batch's groups update it and
    emit the new total (update semantics).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    docs = spark.readStream.schema(
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    ).parquet(input_dir)
    cells = _geo_cells(docs, res)

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n_new = sum(len(p) for p in pdfs)
        total = (state.get[0] if state.exists else 0) + n_new
        state.update((total,))
        yield pd.DataFrame({"cell_id": [key[0]], "n_docs_total": [total]})

    return cells.groupBy("cell_id").applyInPandasWithState(
        update,
        outputStructType="cell_id long, n_docs_total long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_chunk_documents(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    chunk_tokens: int = 128,
    stride: int | None = None,
    trigger_available_now: bool = True,
):
    """Continuous token-window chunking: doc parquet dir in, chunk
    parquet out.  The batch operator (operators/chunking.py) is a
    stateless zero-shuffle Generate, so the SAME code path runs under
    readStream unchanged — append mode, no state, restart-safe via the
    sink checkpoint."""
    from ..operators.chunking import chunk_documents

    docs = spark.readStream.schema("doc_id long, text string").parquet(input_dir)
    out = chunk_documents(docs, chunk_tokens=chunk_tokens, stride=stride)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_session_stats(
    spark: SparkSession,
    input_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked per-user SESSION WINDOW aggregation over a
    continuous event stream — Spark's native dynamic-gap window
    (F.session_window), the streaming complement of the batch
    sessionize/session_stats operators (operators/sessionize.py).

    Boundary semantics (asserted in tests): the native session window
    MERGES an event arriving at exactly ``gap`` after the previous one
    — the same strictly-greater-than-gap split rule the batch
    sessionize counter uses — so the stream's session set and the
    batch counter's agree exactly, boundary events included.

    Returns (user, w_start, w_end, n_events) in append mode once the
    watermark closes a session; state is bounded by the watermark
    horizon at planet-scale ingest.
    """
    ev = spark.readStream.schema(
        f"event_id long, {ts_col} timestamp_ntz, {user_col} long, "
        "event_type string, value double, props string"
    ).parquet(input_dir)
    # watermarks require zoned TIMESTAMP; parquet event times are NTZ.
    # The UTC session makes the cast a wall-clock identity (same rule
    # as operators/sessionize._micros)
    ev = ev.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        ev.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), user_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
        )
    )


def stream_decontaminate(
    spark: SparkSession,
    input_dir: str,
    benchmark: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
    n: int = 3,
):
    """Streaming benchmark decontamination: continuous doc ingest ->
    per-micro-batch n-gram overlap flags against a static benchmark
    dimension (operators/decontam.decontaminate).

    The per-doc flag needs an explode -> broadcast-join -> groupBy(doc)
    recombine, and the final left join back onto doc ids is exactly the
    multi-consumer shape append-mode streams disallow — so each
    micro-batch runs the BATCH operator via foreachBatch (the repo's
    standard pattern for stateful/multi-pass streaming sinks; memory
    sinks can't resume and file sinks reject update mode).  Correctness
    is therefore identical to batch BY CONSTRUCTION: a doc's flag
    depends only on its own text and the static benchmark, never on
    other stream contents, so batch/stream parity is exact and
    restart-safe via the sink checkpoint.
    """
    from ..operators.decontam import decontaminate

    docs = spark.readStream.schema("doc_id long, text string").parquet(input_dir)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        decontaminate(batch_df, benchmark, n=n).write.mode("append").parquet(output_dir)

    return (
        docs.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_pip_join(
    spark: SparkSession,
    input_dir: str,
    polys: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
    res: int | None = None,
    trigger_available_now: bool = True,
):
    """The FLAGSHIP spatial join as a structured stream: continuous
    interleaved-doc ingest -> span extraction -> cell index ->
    broadcast cover join -> boolean-pandas-UDF ray-cast filter.

    The batch plan is map-only (zero fact-side shuffles), so the exact
    same operator code (pip_join_docs) runs under readStream unchanged
    — append mode, no state, restart-safe via the sink checkpoint.
    The polygon side is a batch dimension table (stream-static join).
    """
    from ..operators.spatial_join import pip_join_docs

    docs = spark.readStream.schema(
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    ).parquet(input_dir)
    out = pip_join_docs(docs, polys, res=res).select("doc_id", "span_pos", "poly_id")
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
