package graftbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.GraftConfig
import graft.functions.Dgim
import graft.operators.DgimQueries
import graft.sources.{KafkaTraffic, TrafficSource}
import graft.streaming.TrafficJobs

/** Drives graft's traffic pipeline from outside, through its public entry
  * points only, and writes raw measurements as one JSON file. Metrics and
  * the correctness check are computed from that file by `run.py`.
  *
  * Every run first sets up (session plus warm-up), then:
  *
  *   --mode backlog  drain WORK/input with Job 1 then Job 2, repeatedly,
  *                   in append mode, until --seconds have passed
  *   --mode live     print READY after set-up, read "GO" from stdin, run
  *                   both jobs in update mode on WORK/input while the
  *                   generator writes it, stop after "DONE" on stdin
  *
  * and then runs graft's batch DGIM queries
  * ([[DgimQueries.dgimTumble]], [[DgimQueries.dgimSlide]]) over
  * WORK/events [[DgimPasses]] times.
  *
  * With --trace 1 the run also registers a SparkListener and a
  * StreamingQueryListener, records spans around every call into graft,
  * and runs the layer probes (parse-only pass, DGIM fold and merge,
  * single-core drain).
  */
object TrafficBench {

  /** Spans kept in memory and written out at the end. A span with
    * parent 0 is a root. Disabled tracers record nothing.
    */
  final class Tracer(val on: Boolean) {
    private val ids = new AtomicInteger()
    private val spans = new ConcurrentLinkedQueue[String]()
    /** Listener time, counted only while `measuring`. */
    val callbackNs = new AtomicLong()
    @volatile var measuring = false

    def span[T](name: String, parent: Int = 0)(body: Int => T): T =
      if (!on) body(0)
      else {
        val id = ids.incrementAndGet()
        val t0 = System.nanoTime()
        val r = body(id)
        record(id, parent, name, t0, System.nanoTime(), 1L)
        r
      }

    def record(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
        count: Long): Unit =
      if (on) spans.add(s"""{"id":$id,"parent":$parent,"name":"$name",""" +
        s""""start_ns":$startNs,"end_ns":$endNs,"count":$count}""")

    def newId(): Int = ids.incrementAndGet()

    def json: String = spans.asScala.mkString("[", ",", "]")
  }

  /** Task totals for the measured phase, from the SparkListener. */
  final class TaskStats(tracer: Tracer) extends SparkListener {
    val tasks = new AtomicLong()
    val runMs = new AtomicLong()
    val gcMs = new AtomicLong()
    val shuffleWriteBytes = new AtomicLong()
    val schedulerDelayMs = new ConcurrentLinkedQueue[java.lang.Long]()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracer.measuring) {
      val t0 = System.nanoTime()
      val m = e.taskMetrics
      if (m != null) {
        tasks.incrementAndGet()
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        schedulerDelayMs.add(math.max(0L, delay))
      }
      tracer.callbackNs.addAndGet(System.nanoTime() - t0)
    }

    def json: String =
      s"""{"tasks":${tasks.get},"run_ms":${runMs.get},"gc_ms":${gcMs.get},""" +
        s""""shuffle_write_bytes":${shuffleWriteBytes.get},""" +
        s""""scheduler_delay_ms":${schedulerDelayMs.asScala.mkString("[", ",", "]")}}"""
  }

  /** One micro-batch span per progress event, parented to its query's span. */
  final class BatchSpans(tracer: Tracer) extends StreamingQueryListener {
    val parents = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracer.measuring) {
        val t0 = System.nanoTime()
        val p = e.progress
        val endNs = t0 - (System.currentTimeMillis() -
          (java.time.Instant.parse(p.timestamp).toEpochMilli +
            p.durationMs.getOrDefault("triggerExecution", 0L))) * 1000000L
        val startNs = endNs - p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L
        tracer.record(tracer.newId(), Option(parents.get(p.name)).map(_.intValue).getOrElse(0),
          "microbatch", startNs, endNs, p.numInputRows)
        tracer.callbackNs.addAndGet(System.nanoTime() - t0)
      }
  }

  final case class Opts(mode: String, work: String, out: String, seconds: Int,
      trace: Boolean)

  def parseOpts(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("mode"), m("work"), m("out"), m("seconds").toInt, m("trace") == "1")
  }

  /** Files per micro-batch of the timed drains and the live run. */
  val MaxFilesPerTrigger = 10

  /** Passes of the batch DGIM queries after the traffic phase. */
  val DgimPasses = 6

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** The session `graft.Bench` builds: local[cores], one shuffle partition
    * per core, and graft's two shipped layout settings.
    */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "15s")
      // retention of StreamingQuery.recentProgress, read after each query
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftConfig.useSplittableWrites(spark)
    GraftConfig.useAdaptiveCachedPlanPartitioning(spark)
    spark
  }

  def jobFrame(spark: SparkSession, job: String, dir: String, maxFiles: Int,
      tracer: Tracer, parent: Int): DataFrame = {
    val raw = spark.readStream.option("maxFilesPerTrigger", maxFiles.toString).text(dir)
    val parsed = tracer.span("TrafficSource.parse", parent)(_ => TrafficSource.parse(raw, "value"))
    job match {
      case "tumble" => tracer.span("TrafficJobs.tumbleDgim", parent)(_ => TrafficJobs.tumbleDgim(parsed))
      case "hop" => tracer.span("TrafficJobs.hopDgim", parent)(_ => TrafficJobs.hopDgim(parsed))
    }
  }

  /** Upsert sink: every emitted row goes through the keyed projection the
    * reference's upsert-Kafka sink writes, and lands in `rows` as
    * (batch id, key, value JSON). Its span covers the batch's job too,
    * which Spark runs lazily inside the sink's collect.
    */
  final class Sink(tracer: Tracer, parent: Int) {
    val rows = new ConcurrentLinkedQueue[String]()

    def write(batch: Dataset[Row], batchId: Long): Unit = {
      val t0 = System.nanoTime()
      val id = if (tracer.on) tracer.newId() else 0
      val out = KafkaTraffic.upsertProjection(batch).collect()
      out.foreach { r =>
        val key = new String(r.getAs[Array[Byte]]("key"), UTF_8)
        val value = new String(r.getAs[Array[Byte]]("value"), UTF_8)
        rows.add(s"[$batchId,${quote(key)},${quote(value)}]")
      }
      tracer.record(id, parent, "KafkaTraffic.upsertProjection", t0, System.nanoTime(), out.length)
    }

    def json: String = rows.asScala.mkString("[", ",", "]")
  }

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def startQuery(spark: SparkSession, job: String, dir: String, ckpt: String,
      mode: String, trigger: Trigger, maxFiles: Int, tracer: Tracer,
      parent: Int, sink: Sink): StreamingQuery =
    jobFrame(spark, job, dir, maxFiles, tracer, parent).writeStream
      .queryName(s"${job}_$parent")
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => sink.write(batch, batchId) }
      .trigger(trigger)
      .start()

  /** A new, empty checkpoint directory: a reused one would resume a
    * finished query and read nothing.
    */
  def freshCheckpoint(work: String): String = {
    val root = Paths.get(work, "ckpt")
    Files.createDirectories(root)
    Files.createTempDirectory(root, "q").toString
  }

  /** Drain `dir` with one job in append mode: the backlog operation. */
  def drain(spark: SparkSession, job: String, dir: String, work: String,
      maxFiles: Int, tracer: Tracer, spans: Option[BatchSpans]): String =
    tracer.span(s"drain.$job") { id =>
      val sink = new Sink(tracer, id)
      val startMs = System.currentTimeMillis()
      val q = startQuery(spark, job, dir, freshCheckpoint(work), "append",
        Trigger.AvailableNow(), maxFiles, tracer, id, sink)
      spans.foreach(_.parents.put(q.name, id))
      q.awaitTermination()
      val endMs = System.currentTimeMillis()
      s"""{"job":"$job","start_ms":$startMs,"end_ms":$endMs,""" +
        s""""progress":${q.recentProgress.map(_.json).mkString("[", ",", "]")},""" +
        s""""rows":${sink.json}}"""
    }

  /** Parse-only pass into a `noop` sink; returns (ms, valid rows). */
  def parsePass(spark: SparkSession, dir: String): (Double, Long) = {
    val t0 = System.nanoTime()
    TrafficSource.parse(spark.read.text(dir), "value").write.format("noop").mode("overwrite").save()
    val ms = (System.nanoTime() - t0) / 1e6
    (ms, TrafficSource.parse(spark.read.text(dir), "value").count())
  }

  /** Compiles and loads what the timed phase uses: one pass of the batch
    * DGIM queries over a small warm-up events table, the parse-only pass,
    * and, last, so that the first timed drain runs on the code they
    * leave compiled, both jobs over a warm-up backlog of the timed one's
    * shape (10 files per micro-batch), half its size.
    */
  def warmUp(spark: SparkSession, work: String, tracer: Tracer): Unit = {
    val dir = s"$work/warm/data"
    dgimPass(spark, s"$work/warm-events", tracer)
    tracer.span("parse.pass")(_ => parsePass(spark, dir))
    Seq("tumble", "hop").foreach(j => drain(spark, j, dir, work, MaxFilesPerTrigger, tracer, None))
  }

  def epochSecond(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime / 1000
    case i: java.time.Instant => i.getEpochSecond
  }

  /** One pass of graft's batch DGIM queries (the `plans.DgimWindowAggExec`
    * operator) over `dir`/events.parquet: per query its wall time and
    * its rows as [window start s, window end s, estimate, exact count].
    */
  def dgimPass(spark: SparkSession, dir: String, tracer: Tracer): String =
    Seq("tumble" -> (DgimQueries.dgimTumble _), "slide" -> (DgimQueries.dgimSlide _)).map {
      case (name, query) =>
        val t0 = System.nanoTime()
        val rows = tracer.span(s"DgimQueries.dgim${name.capitalize}")(_ => query(spark, dir).collect())
        val ms = (System.nanoTime() - t0) / 1e6
        val json = rows.map { r =>
          s"[${epochSecond(r.get(0))},${epochSecond(r.get(1))},${r.getLong(2)},${r.getLong(3)}]"
        }.mkString("[", ",", "]")
        s"""{"query":"$name","ms":$ms,"rows":$json}"""
    }.mkString("[", ",", "]")

  /** DGIM fold and merge over the workload's 1-bits, read from the
    * generator's `bits.txt` (one line per tumble window: window end,
    * exact 1-bit count, then each 1-bit's second in arrival order).
    *
    * Timing: every tumble window's bits folded in arrival order, and four
    * round-robin partials per window merged. Bound: the whole bit stream
    * in event-time order, with W = 60 s, so buckets expire, evaluated at
    * every second against the exact count of the 60 s ending there, for one
    * fold and for the merge of four round-robin partials (as four Kafka
    * partitions would split the stream).
    */
  def dgimProbe(path: String, tracer: Tracer): String = {
    val windows = Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val f = l.trim.split(' ').map(_.toLong)
      (f(1), f.drop(2))
    }.toArray
    val bits = windows.map(_._2.length.toLong).sum
    val windowSeconds = 60L
    def foldBuilder(ts: Array[Long]): Dgim.State = {
      val b = new Dgim.Builder(windowSeconds)
      var i = 0
      while (i < ts.length) { b.add(ts(i)); i += 1 }
      b.state
    }
    def foldAdded(ts: Array[Long]): Dgim.State = {
      var s = Dgim.emptyState(windowSeconds)
      var i = 0
      while (i < ts.length) { s = Dgim.added(s, ts(i)); i += 1 }
      s
    }
    def timeNsPerBit(fold: Array[Long] => Dgim.State): Double = {
      val reps = 7
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        var sink = 0L
        windows.foreach { case (_, ts) => sink += fold(ts).ts.length }
        if (sink < 0) println(sink)
        (System.nanoTime() - t0).toDouble / math.max(1L, bits)
      }.sorted
      samples(reps / 2)
    }
    def outOfBound(est: Long, exact: Long): Boolean = math.abs(est - exact) > exact / 2 + 1
    val builderNs = tracer.span("Dgim.Builder.add")(_ => timeNsPerBit(foldBuilder))
    val addedNs = tracer.span("Dgim.added")(_ => timeNsPerBit(foldAdded))
    val bucketsMax = windows.map { case (_, ts) => foldBuilder(ts).ts.length }.foldLeft(0)(math.max)
    val partials = windows.map { case (_, ts) =>
      (0 until 4).map(p => foldBuilder(ts.indices.filter(_ % 4 == p).map(ts).toArray))
    }
    val mergeUs = tracer.span("Dgim.merge") { _ =>
      val t0 = System.nanoTime()
      var sink = 0L
      partials.foreach(ps => sink += ps.reduce(Dgim.merge).ts.length)
      if (sink < 0) println(sink)
      (System.nanoTime() - t0) / 1e3 / math.max(1, partials.length)
    }
    val stream = windows.flatMap(_._2).sorted
    val fold = new Dgim.Builder(windowSeconds)
    val parts = Array.fill(4)(new Dgim.Builder(windowSeconds))
    var added, oldest, evaluations, foldViolations, mergeViolations = 0
    var end = stream.head + windowSeconds
    while (end - 1 <= stream.last) {
      while (added < stream.length && stream(added) <= end - 1) {
        fold.add(stream(added))
        parts(added % 4).add(stream(added))
        added += 1
      }
      while (stream(oldest) < end - windowSeconds) oldest += 1
      val exact = (added - oldest).toLong
      evaluations += 1
      if (outOfBound(fold.state.estimateAt(end - 1, roundUp = true), exact)) foldViolations += 1
      val merged = parts.map(_.state).reduce(Dgim.merge)
      if (outOfBound(merged.estimateAt(end - 1, roundUp = true), exact)) mergeViolations += 1
      end += 1
    }
    s"""{"windows":${windows.length},"bits":$bits,"builder_ns_per_bit":$builderNs,""" +
      s""""added_ns_per_bit":$addedNs,"merge_us":$mergeUs,"buckets_max":$bucketsMax,""" +
      s""""evaluations":$evaluations,"violations_fold":$foldViolations,""" +
      s""""violations_merge":$mergeViolations}"""
  }

  def main(args: Array[String]): Unit = {
    val o = parseOpts(args)
    val tracer = new Tracer(o.trace)
    var spark = tracer.span("setup.session")(_ => session(cores))
    warmUp(spark, o.work, tracer)
    // set-up runs from JVM start to the end of the warm-up
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val fields = scala.collection.mutable.LinkedHashMap[String, String]()
    fields("setup_s") = setupS.toString
    fields("cores") = cores.toString
    val input = s"${o.work}/input/data"
    val tasks = new TaskStats(tracer)
    val spans = if (o.trace) Some(new BatchSpans(tracer)) else None
    if (o.trace) {
      spark.sparkContext.addSparkListener(tasks)
      spans.foreach(spark.streams.addListener)
    }
    tracer.measuring = true
    val t0 = System.currentTimeMillis()
    val runs = o.mode match {
      case "backlog" =>
        // whole tumble+hop pairs, started until the deadline has passed
        val out = scala.collection.mutable.ArrayBuffer[String]()
        while (System.currentTimeMillis() - t0 < o.seconds * 1000L) {
          Seq("tumble", "hop").foreach(j =>
            out += drain(spark, j, input, o.work, MaxFilesPerTrigger, tracer, spans))
        }
        out.toSeq
      case "live" => Seq(live(spark, o, input, tracer, spans))
    }
    tracer.measuring = false
    fields("measure_ms") = (System.currentTimeMillis() - t0).toString
    fields("runs") = runs.mkString("[", ",", "]")
    fields("dgim_passes") = (1 to DgimPasses)
      .map(_ => dgimPass(spark, s"${o.work}/events", tracer)).mkString("[", ",", "]")
    val (_, valid) = parsePass(spark, input)
    fields("parsed_valid") = valid.toString
    if (o.trace) {
      val parseMs = (1 to 3).map(_ => tracer.span("parse.pass")(_ => parsePass(spark, input)._1)).sorted
      fields("parse_ms") = parseMs(1).toString
      fields("tasks") = tasks.json
      fields("dgim") = dgimProbe(s"${o.work}/input/bits.txt", tracer)
      val nCore = tracer.span("drain.ncore")(_ => timedDrain(spark, input, o))
      spark.stop()
      spark = session(1)
      warmUp(spark, o.work, new Tracer(false))
      val oneCore = tracer.span("drain.1core")(_ => timedDrain(spark, input, o))
      fields("drain_ms_ncore") = nCore.toString
      fields("drain_ms_1core") = oneCore.toString
      fields("callback_ns") = tracer.callbackNs.get.toString
      fields("spans") = tracer.json
    }
    spark.stop()
    val pw = new PrintWriter(new File(o.out), "UTF-8")
    try pw.write(fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    finally pw.close()
  }

  def timedDrain(spark: SparkSession, dir: String, o: Opts): Long = {
    val t0 = System.currentTimeMillis()
    drain(spark, "tumble", dir, o.work, MaxFilesPerTrigger, new Tracer(false), None)
    System.currentTimeMillis() - t0
  }

  /** Both jobs in update mode, each micro-batch as soon as the previous
    * one ends, while the generator writes the input directory.
    */
  def live(spark: SparkSession, o: Opts, dir: String, tracer: Tracer,
      spans: Option[BatchSpans]): String = {
    val stdin = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    println("READY")
    System.out.flush()
    val go = stdin.readLine()
    require(go != null && go.startsWith("GO"), s"expected GO, got $go")
    Files.createDirectories(Paths.get(dir))
    tracer.span("live") { id =>
      val jobs = Seq("tumble", "hop").map { job =>
        val sink = new Sink(tracer, id)
        val q = startQuery(spark, job, dir, freshCheckpoint(o.work), "update",
          Trigger.ProcessingTime(0L), MaxFilesPerTrigger, tracer, id, sink)
        spans.foreach(_.parents.put(q.name, id))
        (job, q, sink)
      }
      val done = stdin.readLine()
      require(done != null && done.startsWith("DONE"), s"expected DONE, got $done")
      jobs.foreach(_._2.processAllAvailable())
      val endMs = System.currentTimeMillis()
      jobs.foreach(_._2.stop())
      jobs.map { case (job, q, sink) =>
        s"""{"job":"$job","end_ms":$endMs,""" +
          s""""progress":${q.recentProgress.map(_.json).mkString("[", ",", "]")},""" +
          s""""rows":${sink.json}}"""
      }.mkString(",")
    }
  }
}
