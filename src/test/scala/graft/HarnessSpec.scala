package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StreamQueries
import graft.sources.{DumpCache, TrafficSource}
import graft.streaming.TrafficJobs

/** [[Harness]]: the one session the dev mains build, the one row loop they
  * share, and the per-row scope that replaced the harness globals.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val cpus = 2
  private lazy val spark = Harness.session(cpus)

  // an events table of 3,000 rows two seconds apart, every third a click:
  // enough for two hourly DGIM windows through the harness stream
  private lazy val sf = {
    val dir = java.nio.file.Files.createTempDirectory("graft_harness_events").toString
    spark.range(3000).select(
        when(col("id") % 3 === 0, "click").otherwise("view").as("event_type"),
        expr("timestamp_seconds(1704067200 + id * 2)").as("ts"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  override def afterAll(): Unit = {
    Seq(DumpCache.dirFor("graft_traffic_msgs", sf, "events.parquet"), sf)
      .foreach(p => StreamQueries.deleteRecursively(new java.io.File(p)))
    spark.stop()
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("Harness.session sets the suite's confs: UTC, shuffle partitions = " +
      "cpus, the fork-free checkpoint filesystem, isolation off, cached-plan AQE") {
    assert(spark.sparkContext.master === s"local[$cpus]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === cpus.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.streaming.stateStore.maintenanceInterval") === "15s")
    assert(spark.sparkContext.hadoopConfiguration.get(
      GraftConfig.LocalFileContextImplKey) === classOf[ForkFreeLocalFs].getName)
    assert(spark.conf.get(GraftConfig.ArtifactIsolationKey) === "false")
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
  }

  test("a harness row owns its memory sink: the returned frame reads the " +
      "rows a registered sink view reads, and no mem_ view stays in the catalog") {
    // the same job drained through a memory sink whose view stays
    // registered, read back through that view
    val s = GraftConfig.newSession(spark)
    s.conf.set("spark.sql.shuffle.partitions", "8") // as the harness clone
    val name = "harness_ref"
    val q = TrafficJobs.tumbleDgim(TrafficSource.parse(s.readStream.format("text")
        .load(StreamQueries.messageDump(s, sf)).withColumnRenamed("value", "raw")),
        size = "1 hour", windowSeconds = 3600L, watermark = "2 hours")
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val expected = sortedRows(s.table(name))
    s.catalog.dropTempView(name)

    val df = StreamQueries.streamDgimTumble(spark, sf)
    assert(expected.size >= 2, s"two hourly windows: $expected")
    assert(sortedRows(df) === expected)
    // the frame still plans new queries over the drained sink
    assert(df.count() === expected.size)
    assert(df.filter(col("count_estimate") > 0).count() === expected.size)
    assert(df.orderBy(col("window_end")).collect().map(_.toString).toSeq ===
      expected)
    val views = df.sparkSession.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("mem_"))
    assert(views.isEmpty, s"memory-sink views left registered: ${views.toSeq}")
  }

  test("Harness.run: rows in alphabetical order, a throwing row records -1.0 " +
      "and the loop goes on, a heavy row runs on and reports rocksdb-changelog") {
    val started = ArrayBuffer.empty[String]
    var cached: DataFrame = null
    def row(name: String)(body: SparkSession => DataFrame) =
      name -> { (s: SparkSession, _: String) => started += name; body(s) }
    val rows = Map(
      row("q_stream_audit")(s => StreamQueries.streamDgimTumble(s, sf)),
      row("c_stream")(s => StreamQueries.streamDgimTumble(s, sf)),
      row("b_throws")(_ => throw new IllegalStateException("row failed")),
      row("a_batch") { s => cached = s.range(5).toDF().cache(); cached })
    val consumed = ArrayBuffer.empty[(String, Long)]
    val out = Harness.run(spark, sf, rows, flipHeavyRows = true) { (k, df) =>
      consumed += k -> df.count()
    }.toMap

    val order = Seq("a_batch", "b_throws", "c_stream", "q_stream_audit")
    assert(started.toSeq === order)
    assert(consumed.map(_._1).toSeq === order.filterNot(_ == "b_throws"))
    assert(out("b_throws") === Harness.RowResult(-1.0, None, None))
    assert(out("a_batch").seconds >= 0 && out("a_batch").stateStore.isEmpty &&
      out("a_batch").progress.isEmpty)
    // the row's .cache() pin is released once the row is done
    assert(cached.storageLevel === StorageLevel.NONE)
    // q_stream_audit is one of GraftConfig.HeavyStateHarnessRows
    assert(out("q_stream_audit").stateStore === Some("rocksdb-changelog"))
    assert(out("c_stream").stateStore === Some("heap"))
    for (k <- Seq("c_stream", "q_stream_audit")) {
      assert(out(k).seconds > 0)
      assert(out(k).progress.exists(_.contains("\"numInputRows\"")),
        s"$k progress: ${out(k).progress}")
    }
  }
}
