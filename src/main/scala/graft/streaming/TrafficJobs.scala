package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DgimBitAggregator

/** Structured Streaming equivalents of the reference's two Flink jobs.
  *
  * Input: the parsed traffic frame from `TrafficSource.parse`
  * (value, event_ts, ts_sec). Output mirrors the reference sinks:
  *  - tumble: (window_end, count_estimate) keyed by window_end
  *    (StreamingJob.java:60-100)
  *  - hop:    (window_start, window_end, count_estimate)
  *    (SlidingWindowStreamingJob.java:70-121)
  *
  * Scale: event-time windows + watermark bound the state store; DGIM
  * state itself is O(log² W) per window via the mergeable aggregator —
  * this is the constant-memory path for unbounded streams, exactly DGIM's
  * reason to exist.
  *
  * Output modes: `update` is the reference's upsert-kafka sink keyed by
  * window_end (StreamingJob.java:60-83) — a window's row is re-emitted in
  * every micro-batch that changes it, and `KafkaTraffic.upsertProjection`
  * encodes it as keyed records. `append` emits each window once,
  * finalized, when the watermark closes it and its state is evicted. The
  * checkpoint restores the DGIM buffers on restart in either mode.
  */
object TrafficJobs {

  /** The DGIM fold every job shares: group the prepared frame by
    * `windowCol` (a `functions.window` column, which names itself
    * "window") and fold each group's (value, ts_sec) bits into one
    * estimate.
    */
  private def dgimPerWindow(prepared: DataFrame, windowCol: Column,
      windowSeconds: Long): DataFrame =
    prepared.groupBy(windowCol)
      .agg(udaf(new DgimBitAggregator(windowSeconds))
        .apply(col("value"), col("ts_sec")).as("count_estimate"))

  /** Tumbling-window DGIM estimate; reference Job 1 (60 s tumble). */
  def tumbleDgim(parsed: DataFrame, size: String = "60 seconds",
      windowSeconds: Long = 60L, watermark: String = "2 minutes"): DataFrame =
    dgimPerWindow(parsed.withWatermark("event_ts", watermark),
      window(col("event_ts"), size), windowSeconds)
      .select(col("window.end").as("window_end"), col("count_estimate"))

  /** Processing-time twin of [[tumbleDgim]] — the reference's literal
    * window semantics: both Flink jobs window on `PROCTIME()`
    * (StreamingJob.java:53, :85-99), i.e. rows bucket by ARRIVAL time,
    * while the DGIM sketch inside still folds the payload's event
    * timestamps. In Structured Streaming `current_timestamp()` is the
    * micro-batch start time, logged in the offsets WAL — so a replay
    * reproduces the same assignment. No watermark (proctime windows
    * close by wall clock, not event progress); run in update/complete
    * mode. The event-time jobs supersede this for determinism — kept as
    * the reference-semantics variant.
    */
  def tumbleDgimProctime(parsed: DataFrame, size: String = "60 seconds",
      windowSeconds: Long = 60L): DataFrame =
    dgimPerWindow(parsed.withColumn("proc_ts", current_timestamp()),
      window(col("proc_ts"), size), windowSeconds)
      .select(col("window.end").as("window_end"), col("count_estimate"))

  /** Hop-window DGIM estimate; reference Job 2 (60 s size / 10 s slide). */
  def hopDgim(parsed: DataFrame, size: String = "60 seconds",
      slide: String = "10 seconds", windowSeconds: Long = 60L,
      watermark: String = "2 minutes"): DataFrame =
    dgimPerWindow(parsed.withWatermark("event_ts", watermark),
      window(col("event_ts"), size, slide), windowSeconds)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("count_estimate"))
}
