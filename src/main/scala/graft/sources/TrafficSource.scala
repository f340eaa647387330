package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lenient decode of reference-style traffic messages:
  * `{"value": "0"|"1", "timestamp": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"}`.
  *
  * Mirrors the reference Kafka source DDL + filter semantics
  * (/root/reference/src/main/java/com/bencejdanko/flink/StreamingJob.java:41-55,92-99):
  * malformed JSON → null columns (PERMISSIVE from_json =
  * json.ignore-parse-errors); unparsable timestamps → null via
  * try_to_timestamp (= TRY_CAST(UNIX_TIMESTAMP(...))); rows with null
  * value or timestamp dropped.
  *
  * Works identically on batch and streaming DataFrames, no shuffle.
  * The decoded fields leave through a one-row `inline` generator, not a
  * plain projection: filter pushdown would inline projected expressions
  * into the null filter, so each message would run `from_json` three
  * times and the timestamp parse twice. A filter is never pushed through
  * a `Generate` it depends on, so each message is decoded once and its
  * timestamp parsed once (PlanShapeSpec pins it).
  */
object TrafficSource {

  val IsoMicros = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  val messageSchema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("timestamp", StringType)))

  /** `raw` JSON string column → (value: String, event_ts: Timestamp,
    * ts_sec: Long epoch seconds), invalid rows filtered.
    */
  def parse(messages: DataFrame, rawCol: String = "raw"): DataFrame =
    messages
      .select(from_json(col(rawCol), messageSchema).as("m"))
      .select(inline(array(struct(
        col("m.value").as("value"),
        try_to_timestamp(col("m.timestamp"), lit(IsoMicros)).as("event_ts")))))
      .withColumn("ts_sec", unix_timestamp(col("event_ts")))
      .filter(col("value").isNotNull && col("ts_sec").isNotNull)
}
