package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Kafka wiring for the traffic pipeline, mirroring the reference's
  * broker I/O: the JSON source topic DDL
  * (/root/reference/src/main/java/com/bencejdanko/flink/StreamingJob.java:41-55)
  * and the upsert sink keyed by window end (StreamingJob.java:60-83,
  * `upsert-kafka` with PRIMARY KEY window_end).
  *
  * The build sandbox has no broker and no spark-sql-kafka connector jar,
  * so these paths are compile-checked wiring, not locally runnable:
  * `format("kafka")` resolves its DataSource at RUNTIME, deployed with
  * the standard connector (`--packages
  * org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>`). All
  * non-Kafka logic they compose (TrafficSource.parse, TrafficJobs.*) is
  * the same code the file-backed specs and Verify queries exercise.
  */
object KafkaTraffic {

  /** Raw message stream from the reference's source topic: one `raw`
    * string column per record, exactly what [[TrafficSource.parse]]
    * expects (the file/rate sources produce the same shape).
    */
  def source(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(col("value").cast("string").as("raw"))

  /** The upsert sink's record projection, factored PURE (the key/value
    * encoding is where an upsert sink silently corrupts, and it needs
    * no broker to verify): Kafka key = the
    * binary UTF-8 of window_end rendered as a string (the reference
    * sink's PRIMARY KEY, StreamingJob.java:60-83 — key equality must
    * match window equality, which the timestamp's canonical string
    * form preserves), value = the whole row as JSON bytes. StreamingSpec
    * pins the key bytes, the JSON round-trip, and the last-write-wins
    * table a compacted consumer of this projection (last record per
    * key) decodes, on update-mode `TrafficJobs.tumbleDgim` output.
    */
  def upsertProjection(updates: DataFrame): DataFrame =
    updates
      .select(col("window_end").cast("string").cast("binary").as("key"),
        to_json(struct(col("*"))).cast("binary").as("value"))

  /** Keyed upsert write: [[upsertProjection]] into the topic. A
    * consumer of the compacted topic observes last-write-wins per key.
    * Update output mode re-produces a key on every in-window change,
    * which is precisely the upsert-kafka emission pattern.
    * (`format("kafka")` itself stays deploy-time — the connector jar
    * and broker exist only there.)
    */
  def upsertSink(updates: DataFrame, bootstrap: String, topic: String,
      checkpoint: String): StreamingQuery =
    upsertProjection(updates)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .start()

  /** The reference's Job 1 end-to-end on a real broker: topic → lenient
    * JSON decode → tumbling DGIM → keyed upsert topic. Flag-gated at the
    * call site by broker availability; everything between the two Kafka
    * hops is the locally-verified pipeline.
    */
  def runTumbleDgim(spark: SparkSession, bootstrap: String, inTopic: String,
      outTopic: String, checkpoint: String, size: String = "60 seconds",
      windowSeconds: Long = 60L): StreamingQuery = {
    val parsed = TrafficSource.parse(source(spark, bootstrap, inTopic))
    val agg = graft.streaming.TrafficJobs.tumbleDgim(parsed, size, windowSeconds)
    upsertSink(agg.toDF(), bootstrap, outTopic, checkpoint)
  }
}
