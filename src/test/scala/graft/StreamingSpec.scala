package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{KafkaTraffic, TrafficSource}
import graft.streaming.{TrafficGen, TrafficJobs}

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def writeMessages(rows: Seq[String]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_spec_msgs").toString
    rows.toDF("raw").coalesce(1).write.mode("overwrite").text(dir)
    dir
  }

  private def runComplete(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val name = "spec_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  /** One traffic message in the reference producer's format. */
  private def msg(sec: Long, bit: String, nanos: Int = 0): String = {
    val iso = java.time.LocalDateTime.ofEpochSecond(sec, nanos, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
    s"""{"value": "$bit", "timestamp": "$iso"}"""
  }

  private val fileStamp = new AtomicLong(1704067200000L)

  /** Appends `rows` to `dir` as one text file stamped with a strictly
    * later mtime than every file appended before it: the file source
    * orders micro-batches by mtime, and same-millisecond writes would
    * make that order (and so the watermark's progress) nondeterministic.
    */
  private def appendFile(dir: String, rows: Seq[String]): Unit = {
    import spark.implicits._
    val before = new java.io.File(dir).list().toSet
    rows.toDF("raw").coalesce(1).write.mode("append").text(dir)
    val stamp = fileStamp.addAndGet(60000L)
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && !before(f.getName))
      .foreach(_.setLastModified(stamp))
  }

  /** The parsed traffic stream over `dir`, one file per micro-batch. */
  private def fileTraffic(dir: String): DataFrame =
    TrafficSource.parse(
      spark.readStream.format("text").option("maxFilesPerTrigger", "1")
        .load(dir).withColumnRenamed("value", "raw"))

  test("TrafficSource.parse drops malformed JSON and bad timestamps, keeps valid rows") {
    import spark.implicits._
    val msgs = Seq(
      """{"value": "1", "timestamp": "2024-01-01T00:00:01.000000"}""",
      """{"value": "0", "timestamp": "2024-01-01T00:00:02.500000"}""",
      """not json at all""",
      """{"value": "1", "timestamp": "yesterday"}""",
      """{"value": null, "timestamp": "2024-01-01T00:00:03.000000"}""",
      """{"timestamp": "2024-01-01T00:00:04.000000"}""")
    val parsed = TrafficSource.parse(msgs.toDF("raw")).collect()
    assert(parsed.length === 2)
    assert(parsed.map(_.getAs[Long]("ts_sec")).sorted.toSeq ===
      Seq(1704067201L, 1704067202L))
  }

  test("TrafficSource.parse keeps from_json's PERMISSIVE leniency on edge inputs") {
    import spark.implicits._
    val ts = "2024-01-01T00:00:01.000000"
    def decode(raw: String): Option[(String, Long)] =
      TrafficSource.parse(Seq(raw).toDF("raw")).as[(String, java.sql.Timestamp, Long)]
        .collect().headOption.map { case (v, _, sec) => (v, sec) }
    // non-string values keep their JSON text
    assert(decode(s"""{"value": 1, "timestamp": "$ts"}""") === Some(("1", 1704067201L)))
    assert(decode(s"""{"value": {"a":1}, "timestamp": "$ts"}""") ===
      Some(("""{"a":1}""", 1704067201L)))
    // a bare NaN token comes back as the quoted JSON string text
    assert(decode(s"""{"value": NaN, "timestamp": "$ts"}""") ===
      Some(("\"NaN\"", 1704067201L)))
    // the last occurrence of a duplicate key wins
    assert(decode(s"""{"value": "1", "timestamp": "$ts", "value": null}""") === None)
    assert(decode(s"""[{"value": "1", "timestamp": "$ts"}]""") === None)
    assert(decode(s"""{"value": "1", "timestamp": "$ts"} trailing""") ===
      Some(("1", 1704067201L)))
    assert(decode(s"""{'value': '1', 'timestamp': '$ts'}""") === Some(("1", 1704067201L)))
    assert(decode("""{"value": "1", "timestamp": "2024-01-01T00:00:01.123"}""") ===
      Some(("1", 1704067201L)))
    assert(decode("""{"value": "1", "timestamp": "2024-01-01T00:00:01"}""") === None)
  }

  test("streaming tumbleDgim over a file-backed traffic stream matches exact count within DGIM bound") {
    // 600 messages over 120 s → two 60 s windows; bit=1 for every 3rd msg
    val base = 1704067200L // 2024-01-01T00:00:00 UTC
    val msgs = (0 until 600).map { i =>
      // 5 msg/s
      msg(base + i / 5, if (i % 3 == 0) "1" else "0", nanos = i % 5 * 1000)
    }
    val dir = writeMessages(msgs)
    val parsed = TrafficSource.parse(
      spark.readStream.format("text").load(dir).withColumnRenamed("value", "raw"))
    val out = runComplete(TrafficJobs.tumbleDgim(parsed)).collect()
    assert(out.length === 2)
    out.foreach { r =>
      val est = r.getAs[Long]("count_estimate")
      val exact = 100L // 300 msgs per window, every 3rd is a 1
      assert(math.abs(est - exact) <= exact / 2 + 1, s"est=$est exact=$exact")
    }
  }

  test("streaming hopDgim emits size/slide windows with estimates in bound") {
    val base = 1704067200L
    val msgs = (0 until 300).map(i => msg(base + i / 5, "1"))
    val dir = writeMessages(msgs)
    val parsed = TrafficSource.parse(
      spark.readStream.format("text").load(dir).withColumnRenamed("value", "raw"))
    val out = runComplete(TrafficJobs.hopDgim(parsed)).collect()
    // 60 s of data, 60 s windows hopping by 10 s → starts from -50 s to +50 s
    assert(out.length >= 6)
    val full = out.filter(_.getAs[java.sql.Timestamp]("window_start").getTime == base * 1000L)
    assert(full.length === 1)
    val est = full.head.getAs[Long]("count_estimate")
    assert(math.abs(est - 300L) <= 150L + 1)
  }

  /** Offsets (s past the base time) of the one-bits in four files, one
    * micro-batch each: w0 [0,60) gets 40, then 20 more alongside 15 in
    * w1 [60,120); the ones at +300 and +310 then advance the watermark
    * (2 min) past w0 and w1.
    */
  private val fourFileOnes: Seq[Seq[Long]] =
    Seq(0L until 40L, 40L until 75L, Seq(300L), Seq(310L))

  /** Exact one-bit count of the 60 s window ending `endOffset`. */
  private def exactOnes(endOffset: Long): Long =
    fourFileOnes.flatten.count(o => o >= endOffset - 60L && o < endOffset).toLong

  /** The reference's upsert-kafka sink keyed by window_end, in the shape
    * perfbench's live workload runs: tumbleDgim in update output mode over
    * the four files, each micro-batch's rows leaving through the keyed
    * record projection. Rows are (batch id, key, window_end offset,
    * count_estimate); the query runs once, for both tests that read it.
    */
  private lazy val updateModeUpserts: Seq[(Long, String, Long, Long)] = {
    import spark.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    val base = 1704067200L
    val dir = Files.createTempDirectory("graft_upsert_msgs").toString
    fourFileOnes.foreach(f => appendFile(dir, f.map(o => msg(base + o, "1"))))
    val produced = new ConcurrentLinkedQueue[(Long, String, String)]()
    TrafficJobs.tumbleDgim(fileTraffic(dir)).writeStream
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("graft_upsert_ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        KafkaTraffic.upsertProjection(batch).collect().foreach { r =>
          produced.add((batchId, new String(r.getAs[Array[Byte]]("key"), UTF_8),
            new String(r.getAs[Array[Byte]]("value"), UTF_8)))
        }
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    val valueSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "window_end timestamp, count_estimate bigint")
    produced.asScala.toSeq.toDF("batch_id", "key", "value")
      .select($"batch_id", $"key", from_json($"value", valueSchema).as("v"))
      .select($"batch_id", $"key", unix_timestamp($"v.window_end") - base,
        $"v.count_estimate")
      .as[(Long, String, Long, Long)].collect().toSeq
  }

  test("update-mode tumbleDgim through upsertProjection re-emits each changed window") {
    val base = 1704067200L
    val decoded = updateModeUpserts
    // each key decodes back to the window its record carries (UTC session)
    decoded.foreach { case (_, key, endOffset, _) =>
      val keySec = java.time.LocalDateTime.parse(key,
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        .toEpochSecond(java.time.ZoneOffset.UTC)
      assert(keySec - base === endOffset, s"key $key on the window ending +$endOffset s")
    }
    // window0 is upserted in more than one micro-batch
    val w0Batches = decoded.filter(_._3 == 60L).map(_._1).distinct
    assert(w0Batches.length >= 2, s"w0 upserted in batches ${w0Batches.toSeq}")
  }

  test("update-mode tumbleDgim upserts: the last write per key is in the DGIM bound") {
    // the last write per key, which a compacted consumer keeps, is within
    // the DGIM bound of its window's exact count
    val lastWrite = updateModeUpserts.groupBy(_._3)
      .map { case (end, hist) => end -> hist.maxBy(_._1)._4 }
    assert(lastWrite.keySet === Set(60L, 120L, 360L))
    lastWrite.foreach { case (end, est) =>
      assert(math.abs(est - exactOnes(end)) <= exactOnes(end) / 2 + 1,
        s"window ending +$end s: est=$est exact=${exactOnes(end)}")
    }
  }

  test("tumbleDgimProctime buckets by arrival time: one batch -> one window") {
    val base = 1704067200L
    // event timestamps span 3 event-time windows, but a single
    // Trigger.AvailableNow micro-batch arrives at ONE processing time →
    // exactly one proctime window holding the whole stream
    val msgs = (0 until 180).map(i => msg(base + i, if (i % 2 == 0) "1" else "0"))
    val dir = writeMessages(msgs)
    val parsed = TrafficSource.parse(
      spark.readStream.format("text").load(dir).withColumnRenamed("value", "raw"))
    val out = runComplete(
      TrafficJobs.tumbleDgimProctime(parsed, windowSeconds = 3600L)).collect()
    assert(out.length === 1, s"expected one proctime window, got ${out.length}")
    val est = out.head.getAs[Long]("count_estimate")
    // 90 one-bits across the batch; DGIM bound applies
    assert(math.abs(est - 90L) <= 46L, s"est=$est")
  }

  test("kafka upsert projection: key bytes, JSON round-trip, last write per key") {
    // The broker hop itself is deploy-time, but the key/value ENCODING —
    // where an upsert sink silently corrupts — is pure
    // DataFrame→DataFrame and fully verifiable here.
    import spark.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    val w0 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    val w1 = java.sql.Timestamp.valueOf("2024-01-01 00:02:00")
    // a three-micro-batch changelog of update-mode tumbleDgim rows: w0
    // re-emitted in every batch, w1 in the last two
    val batches: Seq[(Long, Seq[(java.sql.Timestamp, Long)])] = Seq(
      0L -> Seq((w0, 40L)),
      1L -> Seq((w0, 60L), (w1, 15L)),
      3L -> Seq((w0, 61L), (w1, 15L)))
    // what the kafka sink would produce per micro-batch
    val produced: Seq[(Long, Array[org.apache.spark.sql.Row])] =
      batches.map { case (bid, rows) =>
        bid -> KafkaTraffic.upsertProjection(
          rows.toDF("window_end", "count_estimate")).collect()
      }
    // 1) key bytes: the UTF-8 of the timestamp's canonical string form
    //    (UTC session) — key equality IS window equality
    val keys = produced.flatMap(_._2).map(r =>
      new String(r.getAs[Array[Byte]]("key"), UTF_8)).toSet
    assert(keys === Set("2024-01-01 00:01:00", "2024-01-01 00:02:00"),
      s"unexpected key encodings: $keys")
    // 2) JSON round-trip: every value decodes back to its source row
    val updSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "window_end timestamp, count_estimate bigint")
    val decodedAll: Seq[(Long, java.sql.Timestamp, Long)] =
      produced.flatMap { case (bid, rows) =>
        rows.toSeq.map { r =>
          val v = new String(r.getAs[Array[Byte]]("value"), UTF_8)
          val d = Seq(v).toDF("j").select(from_json($"j", updSchema)
            .as("s")).select("s.*").collect().head
          (bid, d.getAs[java.sql.Timestamp]("window_end"), d.getAs[Long]("count_estimate"))
        }
      }
    assert(decodedAll.toSet === batches.flatMap { case (bid, rows) =>
      rows.map(r => (bid, r._1, r._2)) }.toSet,
      "JSON values must round-trip to the source rows")
    // 3) a compacted consumer (last record per key across the produce
    //    order) decodes to each window's last write
    val compactedConsumer = decodedAll.groupBy(_._2).map { case (_, hist) =>
      val last = hist.maxBy(_._1)
      (last._2, last._3)
    }.toSet
    assert(compactedConsumer === Set((w0, 61L), (w1, 15L)))
  }

  test("streaming tumble count resumes from checkpoint exactly-once across restarts") {
    import spark.implicits._
    val base = 1704067200L
    val dir = Files.createTempDirectory("graft_ckpt_msgs").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_state").toString
    // batch 1: 40 ones in window 0
    (0 until 40).map(i => msg(base + i, "1")).toDF("raw")
      .coalesce(1).write.mode("append").text(dir)

    def runOnce(name: String): Map[Long, Long] = {
      val parsed = TrafficSource.parse(
        spark.readStream.format("text").load(dir).withColumnRenamed("value", "raw"))
      val agg = parsed
        .groupBy(org.apache.spark.sql.functions.window($"event_ts", "60 seconds"))
        .agg(count(lit(1)).as("cnt"))
        .select($"window.start".cast("long").as("ws"), $"cnt")
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }

    val first = runOnce("ckpt_run1")
    assert(first === Map(base -> 40L))

    // batch 2 arrives while the job is down: 20 more in window 0
    // (sec 40-59) and 15 in window 1 (sec 60-74)
    ((40 until 65).map(i => msg(base + i, "1")) ++
      (0 until 10).map(i => msg(base + 65 + i, "1"))).toDF("raw")
      .coalesce(1).write.mode("append").text(dir)

    // restart from the SAME checkpoint: only the new file is processed,
    // prior state is recovered, nothing double-counted
    val second = runOnce("ckpt_run2")
    assert(second === Map(base -> 60L, (base + 60) -> 15L))
  }

  test("tumbleDgim and hopDgim finalize the same windows across a checkpoint restart") {
    // The reference leans on Flink checkpoint restore. Each job runs in
    // append mode over the first two files, stops, and restarts from the
    // SAME checkpoint with the other two present. It must finalize
    // exactly the (window, estimate) rows a never-stopped run finalizes:
    // the DGIM buffers of the windows open at the stop come back from the
    // state store instead of being recounted, and no seen file is re-read.
    import spark.implicits._
    val base = 1704067200L
    val files = fourFileOnes.map(_.map(o => msg(base + o, "1")))
    def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
    // (window_end offset, estimate) rows emitted, and input rows read
    def run(job: DataFrame => DataFrame, dir: String,
        ckpt: String): (Seq[(Long, Long)], Long) = {
      val out = new ConcurrentLinkedQueue[(Long, Long)]()
      val q = job(fileTraffic(dir)).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select(unix_timestamp($"window_end") - base, $"count_estimate")
            .as[(Long, Long)].collect().foreach(out.add)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (out.asScala.toSeq, q.recentProgress.map(_.numInputRows).sum)
    }
    val jobs = Seq[(String, DataFrame => DataFrame)](
      "tumble" -> (p => TrafficJobs.tumbleDgim(p)),
      "hop" -> (p => TrafficJobs.hopDgim(p)))
    // relative path -> POSIX mode of every file and directory under `root`
    def tree(root: String): Map[String, String] = {
      val r = java.nio.file.Paths.get(root)
      val paths = Files.walk(r)
      try paths.iterator().asScala.filter(_ != r).map(p => r.relativize(p)
        .toString -> java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))).toMap
      finally paths.close()
    }
    jobs.foreach { case (name, job) =>
      val singleDir = tmp("graft_single_msgs")
      files.foreach(appendFile(singleDir, _))
      val (single, _) = run(job, singleDir, tmp("graft_single_ckpt"))
      // arms: stock LocalFs on both segments; stock LocalFs before the
      // stop and graft's ForkFreeLocalFs after it, on the same checkpoint
      val trees = Seq("stock", "stock->graft").map { arm =>
        val dir = tmp("graft_restart_msgs")
        val ckpt = tmp("graft_restart_ckpt")
        files.take(2).foreach(appendFile(dir, _))
        val (first, _) = run(job, dir, ckpt)
        assert(first.isEmpty, s"$name/$arm closed a window before the watermark passed it: $first")
        files.drop(2).foreach(appendFile(dir, _))
        val (second, secondRead) =
          if (arm == "stock") run(job, dir, ckpt)
          else GraftConfigSpec.withSplittableWrites(spark)(run(job, dir, ckpt))
        assert(secondRead === files.drop(2).flatten.size.toLong,
          s"$name/$arm re-read seen input after the restart: $secondRead rows")
        assert((first ++ second).sorted === single.sorted,
          s"$name/$arm: restarted ${(first ++ second).sorted} != never-stopped ${single.sorted}")
        tree(ckpt)
      }
      // same file names (.crc sidecars included) and the same modes
      assert(trees(1) === trees(0), s"$name: checkpoint trees differ")
      assert(trees(0).keys.exists(_.endsWith(".delta.crc")), trees(0).keys)
      single.foreach { case (end, est) =>
        assert(math.abs(est - exactOnes(end)) <= exactOnes(end) / 2 + 1,
          s"$name window ending +$end s: est=$est exact=${exactOnes(end)}")
      }
      if (name == "tumble") assert(single.map(_._1).sorted === Seq(60L, 120L))
      else assert(single.nonEmpty)
    }
  }

  test("stream-stream interval join emits cross-batch pairs exactly once") {
    import spark.implicits._
    // three files → three micro-batches (maxFilesPerTrigger=1): the
    // (error 5, click 1) pair SPANS batches — the click must be held in
    // join state until its error arrives — while (error 6, click 4) is
    // outside the ±5 min bound and must never emit
    val dir = Files.createTempDirectory("graft_ssj").toFile
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_ssj_w").toFile
      rows.toDF("event_id", "sec", "user_id", "event_type")
        .select($"event_id", timestamp_seconds($"sec").as("ts"),
          $"user_id", $"event_type")
        .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, name).toPath)
    }
    writeBatch("b0.parquet", Seq((1L, 100L, 1L, "click"),
      (2L, 100L, 2L, "error"), (3L, 90L, 2L, "click"), (4L, 0L, 3L, "click")))
    writeBatch("b1.parquet", Seq((5L, 200L, 1L, "error")))
    writeBatch("b2.parquet", Seq((6L, 400L, 3L, "error"), (7L, 10000L, 1L, "click")))
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.getPath)
    val errors = stream.filter($"event_type" === "error")
      .select($"event_id".as("e_id"), $"user_id", $"ts".as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val clicks = stream.filter($"event_type" === "click")
      .select($"event_id".as("c_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = errors.join(clicks,
      expr("""user_id = c_user AND
              c_ts BETWEEN e_ts - INTERVAL 5 MINUTES AND e_ts + INTERVAL 5 MINUTES"""))
    val name = "ssj_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name)
      .select($"e_id", $"c_id").as[(Long, Long)].collect()
    assert(got.toSet === Set((5L, 1L), (2L, 3L)))
    assert(got.length === 2, "a pair emitted more than once")
  }

  test("Job 1 and Job 2 run CONCURRENTLY on one session like the reference's cluster") {
    // The reference's docker-compose runs StreamingJob (tumble) and
    // SlidingWindowStreamingJob (hop) side by side on one Flink cluster.
    // Pin the Spark twin: both streaming queries started on the SAME
    // session over the SAME source directory, progressing concurrently,
    // each producing exactly the results it produces when run alone.
    val base = 1704067200L
    val msgs = (0 until 600).map(i => msg(base + i / 5, if (i % 3 == 0) "1" else "0"))
    val dir = writeMessages(msgs)
    def parsed() = TrafficSource.parse(
      spark.readStream.format("text").load(dir).withColumnRenamed("value", "raw"))
    def start(df: org.apache.spark.sql.DataFrame, name: String) =
      df.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    // both jobs started BEFORE either is awaited — genuinely concurrent
    val q1 = start(TrafficJobs.tumbleDgim(parsed()), "conc_tumble")
    val q2 = start(TrafficJobs.hopDgim(parsed()), "conc_hop")
    q1.awaitTermination(); q2.awaitTermination()
    val tumble = spark.table("conc_tumble").collect()
      .map(r => r.getAs[java.sql.Timestamp]("window_end") -> r.getAs[Long]("count_estimate"))
      .toMap
    val hop = spark.table("conc_hop").collect()
    // Job 1: two 60 s windows of 100 ones each, within the DGIM bound
    assert(tumble.size === 2, s"tumble windows: ${tumble.keys}")
    tumble.values.foreach(est => assert(math.abs(est - 100L) <= 51L, s"est=$est"))
    // Job 2: the full-coverage hop window agrees with its solo run shape
    assert(hop.length >= 6)
    val full = hop.filter(_.getAs[java.sql.Timestamp]("window_start").getTime == base * 1000L)
    assert(full.length === 1)
    assert(math.abs(full.head.getAs[Long]("count_estimate") - 100L) <= 51L)
  }

  test("left-outer interval join releases a null row only once the watermark passes its bound") {
    // The semantics Spark gates hardest on stream-stream outer joins: an
    // unmatched left row may emit its null-padded result ONLY when the
    // watermark proves no matching right row can still arrive (e_ts +
    // upper join bound < watermark). Run 1 ends with the watermark short
    // of the lone error's bound — nothing may emit; run 2 (same
    // checkpoint) advances both sides' event time, which must release
    // exactly that held null row while the NEW error stays in state.
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_ssoj_src").toString
    val ckpt = Files.createTempDirectory("graft_ssoj_ckpt").toString
    def writeBatch(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.toDF("event_id", "sec", "user_id", "event_type")
        .select($"event_id", timestamp_seconds($"sec").as("ts"),
          $"user_id", $"event_type")
        .coalesce(1).write.mode("append").parquet(srcDir)
    val outDir = Files.createTempDirectory("graft_ssoj_out").toString
    def run(): Set[(Long, Option[Long])] = {
      val stream = spark.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
        .parquet(srcDir)
      val errors = stream.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"ts".as("e_ts"))
        .withWatermark("e_ts", "1 hour")
      val clicks = stream.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      // file sink: the memory sink cannot recover from a checkpoint,
      // and the restart IS the behavior under test
      val q = errors.join(clicks,
          expr("""user_id = c_user AND
                  c_ts BETWEEN e_ts - INTERVAL 5 MINUTES AND e_ts + INTERVAL 5 MINUTES"""),
          "left_outer")
        .select($"event_id", unix_timestamp($"c_ts").as("c_sec"))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.schema("event_id BIGINT, c_sec BIGINT").parquet(outDir)
        .as[(Long, Option[Long])].collect().toSet
    }
    // error 1 has no click within ±5 min; the unrelated click keeps the
    // clicks-side watermark defined. Watermark after run 1 = 2000 − 3600
    // < epoch → the null row must NOT be released yet.
    writeBatch(Seq((1L, 1000L, 1L, "error"), (2L, 2000L, 2L, "click")))
    val out1 = run()
    assert(out1.isEmpty, s"null row released before the watermark passed: $out1")
    // both sides advance to t=20000 → watermark 16400 > error 1's bound
    // (1300): its null row releases; error 3's bound (20300) is still
    // ahead of the watermark, so it must stay held.
    writeBatch(Seq((3L, 20000L, 3L, "error"), (4L, 20000L, 4L, "click")))
    val out2 = run()
    assert(out2 === Set((1L, None)),
      s"expected exactly error 1's null release, got $out2")
  }

  test("append-mode watermark drops late rows; each closed window emits exactly once") {
    // The reference relies on Flink's watermark semantics to bound state
    // and discard stragglers; this pins the Spark twin's exact behavior:
    // a row arriving AFTER the watermark passed its window is dropped
    // (never resurrects evicted state, never re-emits the window), and
    // every closed window appears exactly once in append output.
    val base = 1704067200L
    val dir = Files.createTempDirectory("graft_late_msgs").toString
    // five files -> five ordered micro-batches (maxFilesPerTrigger=1).
    // Spark tracks TWO watermark values per batch (SPARK-24634): late-row
    // FILTERING uses the PREVIOUS batch's watermark (replay-deterministic),
    // EVICTION uses the current one — so a straggler is only guaranteed
    // dropped from the second batch after the advancing event onward:
    //  b0: 10 on-time ones in w0 [0,60) + a one at +400
    //      -> watermark after b0 = 400-120 = 280, past w0's end
    //  b1: a one at +500 -> eviction wm 280 closes w0 (EMITTED with the
    //      10 on-time bits); late-filter wm for b2 becomes 280
    //  b2: 40 LATE ones at +10..49, far below filter wm 280 -> ALL
    //      DROPPED (w0's evicted state is never resurrected/re-emitted)
    //  b3/b4: ones at +700/+800 -> eviction wm 580/680 closes the +400
    //      window [360,420) and the +500 window [480,540)
    appendFile(dir, (0 until 10).map(i => msg(base + i, "1")) :+ msg(base + 400, "1"))
    appendFile(dir, Seq(msg(base + 500, "1")))
    appendFile(dir, (10 until 50).map(i => msg(base + i, "1")))
    appendFile(dir, Seq(msg(base + 700, "1")))
    appendFile(dir, Seq(msg(base + 800, "1")))
    val parsed = fileTraffic(dir)
    val name = "late_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = TrafficJobs.tumbleDgim(parsed).writeStream.format("memory")
      .queryName(name).outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // direct evidence: the late rows reached the state store as ONE
    // partial-aggregate row (map-side combine runs before the store —
    // 40 inputs, one w0 group) and that row was dropped by the watermark
    val dropped = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    assert(dropped === 1L, s"dropped-by-watermark $dropped != 1")
    val rows = spark.table(name).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_end").getTime / 1000L - base)
        -> r.getAs[Long]("count_estimate"))
    // only the three CLOSED windows appear (the +700/+800 windows stay
    // open past the final watermark), and none appears twice — the late
    // batch neither re-opened w0 nor re-emitted it
    assert(rows.map(_._1).sorted.toSeq === Seq(60L, 420L, 540L),
      s"emitted windows ${rows.toSeq}")
    val est = rows.toMap
    // w0 estimate tracks the 10 ON-TIME bits within the DGIM 50% bound;
    // had the 40 late bits been admitted (true count 50) the worst-case
    // underestimate would still be >= 25 — disjoint ranges, so this
    // discriminates drop from admit
    assert(est(60L) >= 5L && est(60L) <= 15L, s"w0 estimate ${est(60L)}")
    assert(est(420L) === 1L && est(540L) === 1L)
  }

  test("RocksDB state store: identical windowed DGIM results to the default provider") {
    // At 100 TB streaming state outgrows executor heaps; Spark's answer
    // is the RocksDB state store provider (spilling, changelog-
    // checkpointed). Providers only persist bytes — the aggregation
    // path is identical — so the SAME input must yield BYTE-identical
    // window estimates. This pins that the graft jobs run unmodified on
    // the scale-path provider shipped in this Spark build.
    import spark.implicits._
    val base = 1704067200L
    val dir = writeMessages((0 until 500).map(i =>
      msg(base + i, if (i % 3 == 0) "1" else "0")))
    def run(provider: Option[String]): Map[java.sql.Timestamp, Long] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "4")
      provider.foreach(p =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass", p))
      val parsed = TrafficSource.parse(
        s.readStream.format("text").load(dir).withColumnRenamed("value", "raw"))
      val name = "prov_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = TrafficJobs.tumbleDgim(parsed).writeStream.format("memory")
        .queryName(name).outputMode("complete")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).collect()
        .map(r => r.getAs[java.sql.Timestamp]("window_end") ->
          r.getAs[Long]("count_estimate")).toMap
    }
    val default = run(None)
    val rocks = run(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    assert(default.nonEmpty)
    assert(rocks === default,
      "RocksDB state store changed streaming aggregation results")
  }

  test("streaming DGIM sum stays within the §5 bound of the batch exact sums") {
    val sf = "/root/testdata/sf0.001"
    val est = graft.operators.StreamQueries.streamDgimSum(spark, sf).collect()
      .map(r => r.getAs[java.sql.Timestamp]("window_start") ->
        r.getAs[Long]("sum_estimate")).toMap
    val exact = graft.operators.DgimQueries.dgimSumTumble(spark, sf).collect()
      .map(r => r.getAs[java.sql.Timestamp]("window_start") ->
        r.getAs[Long]("exact_cents")).toMap
    assert(est.keySet === exact.keySet)
    exact.foreach { case (w, x) =>
      assert(math.abs(est(w) - x) <= x / 2 + 17,
        s"window $w stream est ${est(w)} vs exact $x")
    }
  }

  test("streaming approx distinct tracks exact batch distincts per hop window") {
    val sf = "/root/testdata/sf0.001"
    val est = graft.operators.StreamQueries.streamApproxDistinct(spark, sf)
      .collect()
      .map(r => r.getAs[java.sql.Timestamp]("window_start") ->
        r.getAs[Long]("approx_users")).toMap
    val exact = graft.operators.Windows.slideDistinct(spark, sf).collect()
      .map(r => r.getAs[java.sql.Timestamp]("window_start") ->
        r.getAs[Long]("n_users")).toMap
    // same window set as the exact batch oracle, and every HLL estimate
    // within 3x the default 5% relative standard deviation of the exact
    // per-window distinct count
    assert(est.keySet === exact.keySet)
    exact.foreach { case (w, n) =>
      assert(math.abs(est(w) - n).toDouble / n <= 0.15,
        s"window $w estimate ${est(w)} vs exact $n")
    }
  }

  test("streaming attribution across 3 micro-batches + restart: credits never retroactively change") {
    import spark.implicits._
    import graft.operators.StreamQueries
    import graft.operators.StreamQueries.AttrEvent

    val srcDir = Files.createTempDirectory("graft_attr_src").toString
    val outDir = Files.createTempDirectory("graft_attr_out").toString
    val ckpt = Files.createTempDirectory("graft_attr_ckpt").toString
    val hourMicros = 3600L * 1000000L
    val t0 = 1704067200L * 1000000L

    def feed(rows: Seq[AttrEvent]): Unit =
      rows.toDS().coalesce(1).write.mode("append").parquet(srcDir)

    // the memory sink cannot recover from a checkpoint — restart specs
    // must go through the file sink and read the output dir back
    var lastStateRows = -1L
    def runOnce(): Map[Long, String] = {
      val ev = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[AttrEvent]].schema)
        .parquet(srcDir).as[AttrEvent]
      val q = StreamQueries.attributionFold(ev)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      lastStateRows = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal)).sum
      spark.read.parquet(outDir).collect()
        .groupBy(_.getAs[Long]("event_id"))
        .map { case (id, rows) =>
          assert(rows.length == 1, s"purchase $id emitted ${rows.length} times")
          id -> rows.head.getAs[String]("attributed_type")
        }
    }

    // batch 1: user 1 clicks at t0+1h, buys at t0+2h → credit click
    feed(Seq(
      AttrEvent(1L, t0 + 1 * hourMicros, 10L, "click", 0L),
      AttrEvent(1L, t0 + 2 * hourMicros, 11L, "purchase", 500L)))
    assert(runOnce() === Map(11L -> "click"))

    // batch 2 (fresh query, SAME checkpoint — state must survive the
    // restart): user 1 buys again with NO new touch → still click;
    // user 2 buys untouched → direct
    feed(Seq(
      AttrEvent(1L, t0 + 3 * hourMicros, 12L, "purchase", 700L),
      AttrEvent(2L, t0 + 3 * hourMicros, 13L, "purchase", 900L)))
    assert(runOnce() === Map(11L -> "click", 12L -> "click", 13L -> "direct"))

    // batch 3: a LATE view for user 1 with event time BEFORE the click
    // (t0) arrives alongside a new purchase. Since r13 the fold carries
    // a 1 h watermark, so a view this far behind it is DROPPED by the
    // late-row filter (the documented watermark trade) — and the
    // outcome is identical to what the >=-guard produced pre-r13:
    //  - purchases 11/12 keep their already-emitted credits (append
    //    output is immutable — asserted by the exactly-once grouping);
    //  - the stale touch cannot regress the state, so purchase 14
    //    still credits the newer click, not the late view
    feed(Seq(
      AttrEvent(1L, t0, 20L, "view", 0L),
      AttrEvent(1L, t0 + 4 * hourMicros, 14L, "purchase", 300L)))
    assert(runOnce() === Map(
      11L -> "click", 12L -> "click", 13L -> "direct", 14L -> "click"))

    // batch 4: a genuinely newer touch replaces the state going forward
    feed(Seq(
      AttrEvent(1L, t0 + 5 * hourMicros, 21L, "error", 0L),
      AttrEvent(1L, t0 + 6 * hourMicros, 15L, "purchase", 100L)))
    assert(runOnce()(15L) === "error")
    assert(lastStateRows === 1L,
      s"only user 1 holds a touch (purchase-only users need no state row), got $lastStateRows")

    // batch 5 (r13 TTL): a touch 20 days out on ANOTHER user pushes the
    // watermark past user 1's 7-day lookback horizon — the
    // EventTimeTimeout evicts user 1's touch state (it could only ever
    // attribute 'direct' again, exactly what absent state does)
    val dayMicros = 24L * hourMicros
    feed(Seq(AttrEvent(3L, t0 + 20 * dayMicros, 22L, "view", 0L)))
    runOnce()
    assert(lastStateRows === 1L,
      s"user 1's expired touch must be evicted, leaving only user 3, got $lastStateRows")

    // batch 6: user 1 buys after the horizon — 'direct', BIT-IDENTICAL
    // to what the un-evicted state would have produced (the
    // semantics-neutrality the TTL rests on)
    feed(Seq(AttrEvent(1L, t0 + 20 * dayMicros + hourMicros, 16L, "purchase", 250L)))
    assert(runOnce()(16L) === "direct")
  }

  test("streaming ANN probe equals the batch ann_ivf run row-for-row") {
    import graft.operators.{Similarity, StreamQueries}
    val dir = "/root/testdata/sf0.001"
    val batch = Similarity.annIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
      .toSet
    val stream = StreamQueries.streamAnnProbe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
      .toSet
    assert(stream === batch,
      "staged-index streaming serving diverged from batch train+probe")
    assert(stream.groupBy(_._1).forall(_._2.size <= 5))
  }

  test("ann probe serve markers: at-most-once within TTL, evicted once quiet " +
      "past it, re-serve after eviction is the documented contract") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import graft.operators.StreamQueries

    val srcDir = Files.createTempDirectory("graft_annttl_src").toString
    val outDir = Files.createTempDirectory("graft_annttl_out").toString
    val ckpt = Files.createTempDirectory("graft_annttl_ckpt").toString

    // (query_id, neighbor_id, cell, cos); the spec clocks arrivals off
    // the cell column (seconds) — the synthetic-clock device the
    // exactOnceByKey eviction spec uses
    def feed(rows: Seq[(Long, Long, Int, Double)]): Unit =
      rows.toDS().coalesce(1).write.mode("append").parquet(srcDir)

    var lastStateRows = -1L
    def runOnce(): Map[Long, Seq[Long]] = {
      val scored = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[(Long, Long, Int, Double)]].schema)
        .parquet(srcDir).as[(Long, Long, Int, Double)]
      val q = StreamQueries.annProbeServeFold(scored, topK = 1,
        markerTtlMs = 5000L, arrivalTs = timestamp_seconds(col("cell")))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      lastStateRows = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal)).sum
      spark.read.parquet(outDir).collect().toSeq
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    }

    // batch 1: query 1 served once (top-1 of its candidates)
    feed(Seq((1L, 10L, 1000, 0.9), (1L, 11L, 1000, 0.8)))
    assert(runOnce() === Map(1L -> Seq(10L)))
    assert(lastStateRows === 1L)

    // batch 2: a duplicate of query 1 WITHIN the TTL — suppressed, even
    // with a better candidate (at-most-once)
    feed(Seq((1L, 12L, 1100, 0.99)))
    assert(runOnce() === Map(1L -> Seq(10L)), "duplicate within TTL must not re-serve")

    // batch 3: query 3 arrives 900 s later — its processing advances the
    // arrival clock past query 1's quiet TTL, so the no-data batch
    // evicts query 1's marker (state ∝ in-flight ids, not lifetime ids)
    feed(Seq((3L, 30L, 2000, 0.7)))
    val out3 = runOnce()
    assert(out3 === Map(1L -> Seq(10L), 3L -> Seq(30L)))
    assert(lastStateRows === 1L,
      s"query 1's quiet marker must evict, leaving only query 3, got $lastStateRows")

    // batch 4: query 1 REPLAYED after eviction — served again: exactly
    // the documented at-most-once-PER-TTL contract (a bounded replay has
    // no quiet period, so the hash oracle never sees this)
    feed(Seq((1L, 13L, 2100, 0.5)))
    assert(runOnce() === Map(1L -> Seq(10L, 13L), 3L -> Seq(30L)))
  }

  test("streaming audit gate: stateless, one verdict per arrival, ladder wired " +
      "to the component gates") {
    import graft.operators.StreamQueries
    val dir = "/root/testdata/sf0.001"
    val out = StreamQueries.streamAudit(spark, dir).collect()
    assert(out.nonEmpty)
    // stateless by construction: literal-weights margin + broadcast
    // gram probe + stream-static index probe hold NO state rows
    val stateRows = StreamQueries.lastProgress.toSeq
      .flatMap(p => """"numRowsTotal"\s*:\s*(\d+)""".r
        .findAllMatchIn(p).map(_.group(1).toLong))
    assert(stateRows.sum === 0L, s"audit gate must hold no state, got $stateRows")
    val verdicts = out.map(_.getAs[String]("verdict")).toSet
    assert(verdicts.subsetOf(
      Set("quality", "decontam", "duplicate", "near_duplicate", "kept")))
    // every duplicate verdict carries its base-keeper receipt; every
    // kept/quality/decontam row without a standing-corpus twin has none
    out.foreach { r =>
      val dupOf = Option(r.getAs[java.lang.Long]("dup_of"))
      if (r.getAs[String]("verdict") == "duplicate") assert(dupOf.isDefined)
    }
  }

  test("planted corpus: the audit pair's duplicate stages and the binary gate " +
      "actually fire (the sf fixtures hold no cross-slice duplicate groups)") {
    import spark.implicits._
    import graft.operators.StreamQueries
    val tmp = Files.createTempDirectory("graft_audit_plant").toString
    def doc(id: Long, text: String, source: String) =
      (id, text, "en", source, if (text == null) 0L else text.length.toLong)
    val tDup = (0 until 50).map(i => s"alpha$i").mkString(" ")
    val tUniq = (0 until 50).map(i => s"beta$i").mkString(" ")
    val tEval = (0 until 10).map(i => s"gamma$i").mkString(" ")
    val tEval2 = (0 until 10).map(i => s"delta$i").mkString(" ")
    val tContam = "prefix " + (0 until 7).map(i => s"gamma$i").mkString(" ") + " suffix"
    // a NEAR-dup (not exact-dup) pair: 60 words, ONE changed — true
    // 3-shingle Jaccard 55/61 ≈ 0.90, so the signatures estimate well
    // above the 0.7 bar but the fingerprints differ (the rung the r13
    // verdict asked to see planted)
    val tNearA = (0 until 60).map(i => s"eps$i").mkString(" ")
    val tNearB = (0 until 60).map(i => if (i == 30) "zzz" else s"eps$i").mkString(" ")
    // the file-stream sources glob for a FILE named documents.parquet
    // (the testdata layout) — write one part and rename it into place
    val stage = s"$tmp/_stage"
    Seq(
      doc(1, tDup, "src4"),   // base slice, non-eval
      doc(2, tEval, "src0"),  // base, eval suite
      doc(3, tNearA, "src4"), // base, non-eval — near-dup seed
      doc(4, tEval2, "src2"), // base, eval suite
      doc(7, tEval2, "src4"), // base, non-eval — text shared with EVAL doc 4
      doc(5, tDup, "src4"),   // delta, byte+text twin of base 1
      doc(10, tUniq, "src4"), // delta, unique
      doc(15, tContam, "src4"), // delta, carries an eval 7-gram
      doc(20, tNearB, "src4"), // delta, NEAR twin of base 3 (1 word off)
      doc(25, null, "src4"))  // delta, NULL text — the r13 ADVICE class:
      // every gate must still emit its row (audit: one row per corpus
      // doc; the NULL fingerprint would otherwise vanish from keeper
      // joins on BOTH engines, invisible to the hash gate)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    assert(part.renameTo(new java.io.File(tmp, "documents.parquet")))

    // binary gate: the base payload probe fires for the planted twin
    val mm = StreamQueries.streamMmDedup(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Long]("base_dup_of")).map(_.toLong)).toMap
    assert(mm === Map(5L -> Some(1L), 10L -> None, 15L -> None, 20L -> None,
      25L -> None), "NULL payload must still yield an (unmatched) verdict row")

    // the collision-COUNT gate (whose probe UDF would NPE on NULL text
    // before the r14 coalesce — its oracle just emits no row, so only a
    // planted NULL can see the crash) runs the same corpus: doc 15's
    // single contaminated window and eval-twin doc 7's four, no row for
    // the NULL doc ('' has no 7-gram, matching the oracle's absence)
    val dc = StreamQueries.streamDecontam(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_collisions"))
      .toMap
    assert(dc === Map(15L -> 1L, 7L -> 4L), s"count gate got $dc")

    // streaming audit: the base-fingerprint receipt is data-independent
    // of the trained gate's verdict
    val sa = StreamQueries.streamAudit(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("verdict"),
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("near_dup_of")).map(_.toLong)))).toMap
    assert(sa.keySet === Set(5L, 10L, 15L, 20L, 25L))
    assert(sa(5L)._2 === Some(1L), "base-probe receipt must fire for the twin")
    assert(sa(10L)._2 === None)
    assert(sa(15L)._2 === None)

    // batch audit: the WITHIN-SLICE keeper rule — doc 7's only text twin
    // is the eval doc 4, which is outside the audited slice, so 7 keeps
    // itself; doc 5's slice keeper is 1
    val ba = graft.operators.Audit.pipelineAudit(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("verdict"),
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("near_dup_of")).map(_.toLong)))).toMap
    assert(ba.keySet === Set(1L, 3L, 5L, 7L, 10L, 15L, 20L, 25L),
      "the NULL-text doc must keep its audit row (one row per corpus doc)")
    assert(ba(5L)._2 === Some(1L))
    assert(ba(7L)._2 === None, "the eval twin must not claim the keeper role")
    assert(ba(1L)._2 === None)
    // full verdict pin — the trained gate is DETERMINISTIC for a fixed
    // corpus (integer GD), and on this one every planted TEXT doc
    // passes it (the NULL doc coalesces to '', is unfeaturizable, and
    // fails at the quality rung — the absent-score rule),
    // so each ladder branch fires for real: the duplicate stage on 5,
    // NEAR-duplicate on 20 (one word off base 3: fingerprints differ,
    // bands collide, est ≈ 0.9 — with the band-collision receipt and
    // no exact receipt), decontam on 15 (and on 7, whose text IS an
    // eval doc's), kept on the clean rows. The exact twin 5 also
    // carries its near receipt (est 1.0) — lineage, not verdict.
    assert(ba === Map(
      1L -> (("kept", None, None)),
      3L -> (("kept", None, None)),
      5L -> (("duplicate", Some(1L), Some(1L))),
      7L -> (("decontam", None, None)),
      10L -> (("kept", None, None)),
      15L -> (("decontam", None, None)),
      20L -> (("near_duplicate", None, Some(3L))),
      25L -> (("quality", None, None))), s"batch got $ba")
    // the STREAM is first-drop: doc 5 drops at the exact-duplicate rung
    // and never probes the band index (lazy sketch), so unlike the
    // batch auditor's full lineage its near receipt stays empty
    assert(sa === Map(
      5L -> (("duplicate", Some(1L), None)),
      10L -> (("kept", None, None)),
      15L -> (("decontam", None, None)),
      20L -> (("near_duplicate", None, Some(3L))),
      25L -> (("quality", None, None))), s"stream got $sa")
  }

  test("streaming quality-model gate equals the batch train+score row-for-row") {
    import graft.operators.{StreamQueries, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val batch = TextAnalysis.qualityModel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val stream = StreamQueries.streamQualityModel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(stream === batch,
      "staged-weights streaming scoring diverged from batch train+score")
    assert(stream.nonEmpty)
  }

  test("streaming semantic decontam gate equals the batch row and holds NO state") {
    import graft.operators.{Decontam, StreamQueries}
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Long]("n_eval_hits"),
        r.getAs[Double]("best_cos"), r.getAs[Long]("witness_id"))
    val batch = Decontam.embedDecontam(spark, dir).collect().map(key).toSet
    val stream = StreamQueries.streamEmbedDecontam(spark, dir)
      .collect().map(key).toSet
    assert(stream === batch,
      "per-arrival semantic gate diverged from the batch broadcast join")
    assert(stream.nonEmpty)
    // the gate is a pure map: no stateful operator may appear at all
    val stateRows = StreamQueries.lastProgress.toSeq
      .flatMap("\"numRowsTotal\"\\s*:\\s*(\\d+)".r
        .findAllMatchIn(_).map(_.group(1).toLong)).sum
    assert(stateRows === 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("streaming LSH decontam gate equals the batch prescreen; precision 1.0 " +
      "and measured recall vs the exact streaming gate") {
    import graft.operators.{Decontam, StreamQueries}
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Long]("n_eval_hits"),
        r.getAs[Double]("best_cos"), r.getAs[Long]("witness_id"))
    val batchLsh = Decontam.embedDecontamLsh(spark, dir).collect().map(key).toSet
    val stream = StreamQueries.streamEmbedDecontamLsh(spark, dir)
      .collect().map(key).toSet
    assert(stream === batchLsh,
      "staged-bucket online gating diverged from the batch LSH prescreen")
    assert(stream.nonEmpty)
    // the honesty contract vs the EXACT streaming gate: every emitted
    // flag is exact-verified (a candidate subset can never invent hits:
    // count/best bounded above, witness only later), recall floored
    // well under the measured value so the spec pins breakage not noise
    val exact = StreamQueries.streamEmbedDecontam(spark, dir).collect()
      .map(key).map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    stream.foreach { case (id, hits, best, wit) =>
      assert(exact.contains(id), s"vec $id flagged by LSH gate but not exact")
      val (eh, eb, ew) = exact(id)
      assert(hits <= eh && best <= eb + 1e-12 && wit >= ew,
        s"vec $id LSH aggregates exceed the exact gate's")
    }
    val recall = stream.size.toDouble / exact.size
    assert(recall >= 0.5, s"flag recall $recall collapsed")
  }

  test("streaming calibration monitor equals the batch reliability table, grid-bounded state") {
    import graft.operators.{Profile, StreamQueries}
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("bin"), r.getAs[Long]("n"), r.getAs[Long]("pos"),
        r.getAs[Long]("pred_num"), r.getAs[Double]("pos_rate"),
        r.getAs[Double]("mean_pred"), r.getAs[Long]("ece_num"),
        r.getAs[Double]("ece"))
    val batch = Profile.statsCalibration(spark, dir).collect().map(key).toSet
    val stream = StreamQueries.streamCalibration(spark, dir).collect().map(key).toSet
    assert(stream === batch,
      "continuous calibration grid diverged from batch train+evaluate")
    assert(stream.nonEmpty && stream.size <= 10)
    // complete-mode grid state = one row per occupied bin, never corpus-sized
    val stateRows = StreamQueries.lastProgress.toSeq
      .flatMap("\"numRowsTotal\"\\s*:\\s*(\\d+)".r
        .findAllMatchIn(_).map(_.group(1).toLong)).sum
    assert(stateRows > 0 && stateRows <= 10,
      s"expected ≤10 grid state rows, got $stateRows")
  }

  test("streaming confusion monitor equals the batch cells with ONE state row") {
    import graft.operators.{Profile, StreamQueries}
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("tn"),
        r.getAs[Long]("fn"), r.getAs[Double]("precision"),
        r.getAs[Double]("recall"), r.getAs[Double]("f1"),
        r.getAs[Double]("accuracy"))
    val batch = Profile.statsConfusion(spark, dir).collect().map(key).toSet
    val stream = StreamQueries.streamConfusion(spark, dir).collect().map(key).toSet
    assert(stream === batch && stream.size === 1,
      "continuous confusion cells diverged from batch train+evaluate")
    val stateRows = StreamQueries.lastProgress.toSeq
      .flatMap("\"numRowsTotal\"\\s*:\\s*(\\d+)".r
        .findAllMatchIn(_).map(_.group(1).toLong)).sum
    assert(stateRows === 1L, s"expected ONE counter state row, got $stateRows")
  }

  test("streaming semDedup gate: base witnesses drop, arrival-vs-arrival defers " +
      "to the compactor, no state") {
    import spark.implicits._
    import graft.operators.{Similarity, StreamQueries}
    val tmp = Files.createTempDirectory("graft_ssd").toString
    // base: 21 (cluster A), 42 (cluster B) — md5 order seeds one per
    // cluster. deltas (%10=0): 20 near 21 but SMALLER id -> no base
    // witness, kept; 30 near 21 (21 < 30) -> dropped; 50 in B but under
    // τ of 42 -> kept; 60 within τ of ARRIVAL 50 only -> the stateless
    // gate keeps it (deferred), the compactor must drop it
    val rows = Seq(
      (21L, Array(1f, 0f, 0f, 0f), 0),
      (42L, Array(0f, 0f, 1f, 0f), 0),
      (20L, Array(0.97f, 0.03f, 0f, 0f), 0),
      (30L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (50L, Array(0f, 0.95f, 0.35f, 0f), 0),
      (60L, Array(0f, 0.93f, 0.37f, 0f), 0))
    // the file-stream source globs for a FILE named embeddings.parquet
    // (the testdata layout) — a Spark-written directory would match
    // nothing, so stage and move the single part file
    val stage = s"$tmp/_stage"
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$tmp/embeddings.parquet"))
    val gate = StreamQueries.streamSemDedup(spark, tmp, k = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("is_kept")).toMap
    assert(gate === Map(20L -> 1, 30L -> 0, 50L -> 1, 60L -> 1),
      s"gate verdicts $gate")
    val stateRows = StreamQueries.lastProgress.toSeq
      .flatMap("\"numRowsTotal\"\\s*:\\s*(\\d+)".r
        .findAllMatchIn(_).map(_.group(1).toLong)).sum
    assert(stateRows === 0L, s"admission gate must be stateless, got $stateRows")
    // the compactor (the batch incremental row) closes the deferred pair
    val compacted = Similarity.semDedupDelta(spark, tmp, k = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("is_kept")).toMap
    assert(compacted(60L) === 0,
      "compaction must drop the arrival-vs-arrival near-dup the gate deferred")
    assert(compacted(20L) === 1 && compacted(50L) === 1 && compacted(30L) === 0)
  }

  test("streaming delta LSH finds pairs straddling micro-batches exactly once") {
    import spark.implicits._
    import graft.functions.Text
    import graft.operators.StreamQueries

    // near-dup trio over 50 DISTINCT words (a repeated phrase would
    // collapse the distinct-shingle sets and push Jaccard under 0.7):
    // B ~ A (word 20 changed), C unrelated; D in a later batch ~ A
    // (word 22 changed) — the cross-batch case bucket state must catch
    val words = (0 until 50).map(i => s"word$i")
    val textA = words.mkString(" ")
    val textB = words.updated(20, "changedb").mkString(" ")
    val textD = words.updated(22, "changedd").mkString(" ")
    val textC = (0 until 50).map(i => s"other$i").mkString(" ")

    // standing base index holds A (the corpus already ingested)
    val base = Seq((100L, textA)).toDF("doc_id", "text")
      .select($"doc_id", Text.shingleHashesFastUdf($"text").as("hashes"))
      .select($"doc_id", Text.minhashSigUdf($"hashes").as("sig"))
      .select($"doc_id", $"sig", Text.bandsFromSigUdf($"sig").as("bands"))

    val srcDir = Files.createTempDirectory("graft_sdl_src").toString
    def feed(rows: Seq[(Long, String)], mtime: Long): Unit = {
      val f = Files.createTempDirectory("graft_sdl_tmp").toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(f)
      val part = new java.io.File(f).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(srcDir, s"b$mtime.parquet")
      assert(part.renameTo(dest))
      dest.setLastModified(mtime) // strict mtime order → deterministic batches
    }
    feed(Seq((200L, textB), (300L, textC)), 1000000L)
    feed(Seq((400L, textD)), 2000000L)

    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val out = runComplete2(StreamQueries.deltaLshTopology(docs, base))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // every pair exactly once: (A,B) via base probe in batch 1,
    // (A,D) via base probe in batch 2, (B,D) ACROSS batches via bucket
    // state; C pairs with nothing
    assert(out.sorted === List((100L, 200L), (100L, 400L), (200L, 400L)))
  }

  test("streaming delta LSH bucket state survives a checkpoint restart") {
    import spark.implicits._
    import graft.functions.Text
    import graft.operators.StreamQueries

    val words = (0 until 50).map(i => s"word$i")
    val textB = words.updated(20, "changedb").mkString(" ")
    val textD = words.updated(22, "changedd").mkString(" ")

    val base = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
      .select($"doc_id", Text.shingleHashesFastUdf($"text").as("hashes"))
      .select($"doc_id", Text.minhashSigUdf($"hashes").as("sig"))
      .select($"doc_id", $"sig", Text.bandsFromSigUdf($"sig").as("bands"))

    val srcDir = Files.createTempDirectory("graft_sdlr_src").toString
    val outDir = Files.createTempDirectory("graft_sdlr_out").toString
    val ckpt = Files.createTempDirectory("graft_sdlr_ckpt").toString
    def feed(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    def runOnce(): Set[(Long, Long)] = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir)
      val q = StreamQueries.deltaLshTopology(docs, base)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    feed(Seq((200L, textB)))
    assert(runOnce() === Set.empty)
    // B's signatures must come back from the RECOVERED bucket state —
    // the source file is not reprocessed after the restart
    feed(Seq((400L, textD)))
    assert(runOnce() === Set((200L, 400L)))
  }

  test("lshBucketStep: overlap-skip emits once and handoff evicts folded members") {
    import graft.functions.Text
    import graft.operators.StreamQueries
    import graft.operators.StreamQueries.{BandArrival, LshMember}

    val words = (0 until 50).map(i => s"word$i")
    def sig(text: String): Seq[Long] =
      Text.minhashSignature(Text.shingleSet(text, 3).map(Text.gram64)).toSeq
    val sigB = sig(words.mkString(" "))
    val sigD = sig(words.updated(20, "changedd").mkString(" "))
    // the bucket both docs collide in, under the minimal-band rule
    val bB = Text.bandHashesFromSig(sigB.toArray)
    val bD = Text.bandHashesFromSig(sigD.toArray)
    val band = bB.indices.find(i => bB(i) == bD(i)).get

    // B live in state AND visible in the probed generation (compaction
    // just published it); D arrives
    val ts = new java.sql.Timestamp(1704067200000L)
    val arrival = BandArrival(band, bB(band), 400L, sigD,
      base_members = Seq(LshMember(200L, sigB)), ingest_ts = ts)
    val (members, out, maxMs) =
      StreamQueries.lshBucketStep(band, Iterator(arrival), Seq(LshMember(200L, sigB)))
    // exactly one (B,D) emission: the base-side match owns it, the
    // state-side duplicate is overlap-skipped
    assert(out.map(t => (t._1, t._2)) === Vector((200L, 400L)))
    // handoff eviction: B left state (the generation owns it); D admitted
    assert(members.map(_.doc_id) === Seq(400L))
    assert(maxMs === ts.getTime) // the TTL anchor

    // same arrival against a PRE-compaction generation (B only in state):
    // the state side emits, B stays live
    val arrival0 = BandArrival(band, bB(band), 400L, sigD,
      base_members = Seq.empty, ingest_ts = ts)
    val (members0, out0, _) =
      StreamQueries.lshBucketStep(band, Iterator(arrival0), Seq(LshMember(200L, sigB)))
    assert(out0.map(t => (t._1, t._2)) === Vector((200L, 400L)))
    assert(members0.map(_.doc_id) === Seq(200L, 400L))
  }

  test("streaming delta LSH generation swap keeps pairs exactly-once across compaction") {
    import spark.implicits._
    import graft.functions.Text
    import graft.operators.StreamQueries

    val words = (0 until 50).map(i => s"word$i")
    val textB = words.updated(20, "changedb").mkString(" ")
    val textD = words.updated(22, "changedd").mkString(" ")
    val textE = words.updated(24, "changede").mkString(" ")

    def mkIndex(rows: Seq[(Long, String)]): org.apache.spark.sql.DataFrame = {
      val df = if (rows.isEmpty) spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
               else rows.toDF("doc_id", "text")
      df.select($"doc_id", Text.shingleHashesFastUdf($"text").as("hashes"))
        .select($"doc_id", Text.minhashSigUdf($"hashes").as("sig"))
        .select($"doc_id", $"sig", Text.bandsFromSigUdf($"sig").as("bands"))
    }

    val srcDir = Files.createTempDirectory("graft_sdlg_src").toString
    val outDir = Files.createTempDirectory("graft_sdlg_out").toString
    val ckpt = Files.createTempDirectory("graft_sdlg_ckpt").toString
    def feed(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    def runOnce(base: org.apache.spark.sql.DataFrame): List[(Long, Long)] = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir)
      val q = StreamQueries.deltaLshTopology(docs, base)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    }

    // generation g0 is empty; B arrives and lives only in bucket state
    feed(Seq((200L, textB)))
    assert(runOnce(mkIndex(Seq.empty)) === Nil)
    // compaction publishes g1 ∋ B; stream restarts from checkpoint, so B
    // is in BOTH recovered state and g1 — D must pair with it ONCE
    feed(Seq((400L, textD)))
    assert(runOnce(mkIndex(Seq(200L -> textB))) === List((200L, 400L)))
    // E then pairs with B via g1 and with D via live state, once each
    feed(Seq((600L, textE)))
    assert(runOnce(mkIndex(Seq(200L -> textB))) ===
      List((200L, 400L), (200L, 600L), (400L, 600L)))
  }

  test("streaming delta LSH bucket state plateaus under continued arrivals (TTL eviction)") {
    import spark.implicits._
    import graft.operators.StreamQueries

    val srcDir = Files.createTempDirectory("graft_sdlt_src").toString
    val outDir = Files.createTempDirectory("graft_sdlt_out").toString
    val ckpt = Files.createTempDirectory("graft_sdlt_ckpt").toString
    val base = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
      .select($"doc_id", graft.functions.ShingleGramHashes($"text").as("hashes"))
      .select($"doc_id", graft.functions.MinhashSig($"hashes").as("sig"))
      .select($"doc_id", $"sig", graft.functions.MinhashBands($"sig").as("bands"))
    def feed(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    def runOnce(): Long = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir)
      val q = StreamQueries.deltaLshTopologyOnBuckets(docs,
          StreamQueries.groupBandBuckets(base), bucketTtl = "1 second")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }

    // distinct unrelated docs: every cycle lands ~16 fresh bucket keys;
    // without eviction state rows grow by a batch's bands EVERY cycle
    def doc(i: Int): String = (0 until 50).map(j => s"cyc${i}w$j").mkString(" ")
    feed(Seq((1000L, doc(1))))
    val afterFirst = runOnce()
    assert(afterFirst > 0)
    val perCycle = (2 to 5).map { i =>
      Thread.sleep(1500) // let cycle i-1's buckets pass the 1 s TTL
      feed(Seq((1000L + i, doc(i))))
      runOnce()
    }
    // plateau: the ingest-time watermark lags one batch, so live state
    // covers at most the last TWO cycles' buckets — never the
    // accumulated history (~5× the first batch by cycle 5 pre-fix)
    perCycle.foreach(rows => assert(rows <= 2 * afterFirst,
      s"state rows $rows vs first-cycle $afterFirst — TTL eviction not bounding state"))
  }

  /** Append-mode variant of [[runComplete]] for stateful-append graphs. */
  private def runComplete2(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val name = "spec_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("TrafficGen produces parseable messages with both bit values") {
    import spark.implicits._
    // drive the deterministic jsonify on a batch frame shaped like the rate source
    val fake = (0 until 1000).map(i =>
      (new java.sql.Timestamp(1704067200000L + i * 20L), i.toLong))
      .toDF("timestamp", "value")
    val parsed = TrafficSource.parse(TrafficGen.jsonify(fake)).collect()
    assert(parsed.length === 1000)
    val bits = parsed.map(_.getAs[String]("value")).toSet
    assert(bits === Set("0", "1"))
  }

  test("exactOnceByKey: duplicates dropped within watermark, state evicted once it passes") {
    // The r10 verdict's unbounded-state gap: q_stream_substring's
    // exactly-once dedup kept one state row per EMITTED interval,
    // forever. The fix (dropDuplicatesWithinWatermark over an
    // arrival-time watermark) must (a) still drop duplicates that land
    // within the watermark window and (b) EVICT each emitted key once
    // the watermark passes it — state tracks the live arrival window,
    // not the lifetime of the ingest.
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_xobk_src").toString
    val ckpt = Files.createTempDirectory("graft_xobk_ckpt").toString
    val outDir = Files.createTempDirectory("graft_xobk_out").toString
    def writeBatch(rows: Seq[(Long, Int, Long)]): Unit =
      rows.toDF("doc_id", "s", "sec")
        .select($"doc_id", $"s", timestamp_seconds($"sec").as("arr"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    def run(): (Seq[(Long, Int)], Long) = {
      val stream = spark.readStream
        .schema("doc_id BIGINT, s INT, arr TIMESTAMP").parquet(srcDir)
      val deduped = graft.operators.StreamQueries.exactOnceByKey(
        stream, col("arr"), "10 minutes", "doc_id", "s")
        .select($"doc_id", $"s")
      val q = deduped.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val stateRows = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal)).sum
      val out = spark.read.schema("doc_id BIGINT, s INT").parquet(outDir)
        .as[(Long, Int)].collect().toSeq
      (out, stateRows)
    }
    // batch 1: key A arrives 3x within seconds -> ONE emission, 1 state row
    writeBatch(Seq((1L, 1, 1000L), (1L, 1, 1001L), (1L, 1, 1002L)))
    val (out1, state1) = run()
    assert(out1 === Seq((1L, 1)), s"expected one A emission, got $out1")
    assert(state1 === 1L, s"expected 1 state row after batch 1, got $state1")
    // batch 2: key B far ahead (watermark jumps past A) -> A's state is
    // EVICTED at batch end; state holds only the live key B
    writeBatch(Seq((2L, 1, 20000L)))
    val (out2, state2) = run()
    assert(out2.toSet === Set((1L, 1), (2L, 1)), s"got $out2")
    assert(state2 === 1L,
      s"expected A evicted (1 live state row), got $state2")
    // batch 3: A re-arrives AFTER eviction, within the new watermark
    // window -> re-emits (the documented bounded-state trade-off), and
    // state stays at the live-window level, never the all-time key count
    writeBatch(Seq((1L, 1, 20500L), (1L, 1, 20501L)))
    val (out3, state3) = run()
    assert(out3.count(_ == (1L, 1)) === 2,
      s"expected evicted key to re-emit once, got $out3")
    assert(state3 === 2L,
      s"expected 2 live state rows (A re-added + B), got $state3")
  }

  test("capped sessionizer: emit-on-successor across restarts, O(cap) state per user") {
    import spark.implicits._
    import graft.operators.StreamQueries
    import graft.operators.StreamQueries.SessEvent

    val srcDir = Files.createTempDirectory("graft_sesscap_src").toString
    val outDir = Files.createTempDirectory("graft_sesscap_out").toString
    val ckpt = Files.createTempDirectory("graft_sesscap_ckpt").toString
    val minMicros = 60L * 1000000L
    val t0 = 1704067200L * 1000000L

    def feed(rows: Seq[SessEvent]): Unit =
      rows.toDS().coalesce(1).write.mode("append").parquet(srcDir)

    def runOnce(): (Seq[(Long, String, Long, Long)], Long) = {
      val ev = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[SessEvent]].schema)
        .parquet(srcDir).as[SessEvent]
      val q = StreamQueries.sessionPathsCappedFold(ev, cap = 3)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val stateRows = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal)).sum
      val out = spark.read.parquet(outDir).collect().toSeq
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("path"),
          r.getAs[Long]("n_events"), r.getAs[Long]("truncated")))
      (out, stateRows)
    }

    // batch 1: user 1 logs 5 events in one session (cap 3 -> truncated
    // path, exact count), then a 40-min gap opens session 2. Only the
    // CLOSED first session emits; the open one is state.
    feed((0 until 5).map(i =>
      SessEvent(1L, t0 + i * minMicros, 100L + i, s"e$i")) :+
      SessEvent(1L, t0 + 45 * minMicros, 200L, "x"))
    val (out1, state1) = runOnce()
    assert(out1 === Seq((1L, "e0>e1>e2", 5L, 1L)), s"got $out1")
    assert(state1 === 1L, s"one open session per user, got $state1")

    // batch 2 (fresh query, SAME checkpoint): user 1's open session
    // gets one more event within the gap, then a far-future event
    // closes it — path buffered across the restart, count exact,
    // under-cap session not truncated
    feed(Seq(
      SessEvent(1L, t0 + 46 * minMicros, 201L, "y"),
      SessEvent(1L, t0 + 200 * minMicros, 202L, "z")))
    val (out2, state2) = runOnce()
    assert(out2.toSet === Set(
      (1L, "e0>e1>e2", 5L, 1L), (1L, "x>y", 2L, 0L)), s"got $out2")
    assert(state2 === 1L, s"still one open session, got $state2")

    // batch 3: a SECOND user arrives (inside the watermark — the
    // EventTimeTimeout fold drops beyond-lateness rows, the same
    // contract as streaming session_window) — state is one row per
    // user with an open session, never per event (the bounded-state
    // contract)
    feed(Seq(SessEvent(2L, t0 + 150 * minMicros, 300L, "a")))
    val (_, state3) = runOnce()
    assert(state3 === 2L, s"one open session per user, got $state3")

    // batch 4: a far-future event on user 2 pushes the watermark past
    // BOTH open sessions' gap horizons — the r13 emit-and-evict
    // timeout flushes user 1's FINAL session (t0+200min "z") and user
    // 2's (t0+150min "a") without any successor arriving, leaving only
    // user 2's new open session in state (the r12 final-session gap,
    // closed)
    feed(Seq(SessEvent(2L, t0 + 2000 * minMicros, 301L, "b")))
    val (out4, state4) = runOnce()
    assert(out4.toSet === Set(
      (1L, "e0>e1>e2", 5L, 1L), (1L, "x>y", 2L, 0L),
      (1L, "z", 1L, 0L), (2L, "a", 1L, 0L)), s"got $out4")
    assert(state4 === 1L,
      s"only user 2's new open session should remain, got $state4")
  }

  test("stateful queries produce identical results under the RocksDB state store provider") {
    // SURVEY §6's third-decade claim: when state outgrows the heap
    // (q_stream_session_paths measured 4.7 GB at 100×), the swap is ONE
    // session conf — spark.sql.streaming.stateStore.providerClass — with
    // no operator change. This pins the "no code change" half: a session
    // store agg and a typed fMGWS fold return byte-identical results
    // under the default heap provider and RocksDB.
    import graft.operators.StreamQueries
    import graft.operators.StreamQueries.SessEvent
    val srcDir = Files.createTempDirectory("graft_rocks_src").toString
    locally {
      import spark.implicits._
      val minMicros = 60L * 1000000L
      val t0 = 1704067200L * 1000000L
      // two sessions per user (the 200-min jump clears the 30-min gap),
      // so the emit-on-successor fold closes and emits the first one
      (for (u <- 1L to 50L; i <- 0 until 12) yield
        SessEvent(u, t0 + (i * 7 + u + (if (i >= 6) 200 else 0)) * minMicros,
          u * 100 + i, s"e${i % 5}"))
        .toDS().coalesce(1).write.mode("overwrite").parquet(srcDir)
    }
    def run(provider: Option[String]): (Seq[String], Seq[String]) = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      provider.foreach(p =>
        s2.conf.set("spark.sql.streaming.stateStore.providerClass", p))
      import s2.implicits._
      val src = s2.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[SessEvent]].schema)
        .parquet(srcDir)
      def toRows(df: org.apache.spark.sql.DataFrame, mode: String): Seq[String] = {
        val name = "rocks_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s2.table(name).collect().map(_.toString).sorted.toSeq
      }
      val sessionStore = toRows(
        src.select(col("user_id"), timestamp_micros(col("tsMicros")).as("ts"))
          .withWatermark("ts", "1 hour")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"), col("session_window.start"), col("n")),
        "complete")
      val fold = toRows(
        StreamQueries.sessionPathsCappedFold(src.as[SessEvent], cap = 3),
        "append")
      (sessionStore, fold)
    }
    val heap = run(None)
    val rocks = run(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    assert(heap._1.nonEmpty && heap._2.nonEmpty)
    assert(heap === rocks, "provider changed query results")
  }
}
