package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each [[GraftConfig]] knob must actually switch the provider / plan /
  * sizing it claims — executable defaults, not prose.
  */
class GraftConfigSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-config-spec")
    .getOrCreate()

  // the repo's suite convention: tear the context down so the NEXT
  // suite's builder configs (e.g. ExtensionsSpec's injected
  // extensions) apply to a fresh context instead of silently attaching
  // to this one
  override def afterAll(): Unit = spark.stop()

  private def withSplittableWrites[A](body: => A): A =
    GraftConfigSpec.withSplittableWrites(spark)(body)

  test("useRocksDbStateStore: a stateful stream on the configured session " +
      "actually runs on the RocksDB provider") {
    val s2 = GraftConfig.useRocksDbStateStore(spark.newSession())
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cfg_rocks")
    spark.range(100)
      .select(expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"),
        (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(s"$tmp/t.parquet")
    val q = s2.readStream.schema("ts timestamp, k bigint")
      .parquet(s"$tmp/t.parquet")
      .withWatermark("ts", "1 minute")
      .groupBy(col("k")).count()
      .writeStream.format("memory").queryName("cfg_rocks")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val metrics = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq)
      .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
    assert(metrics.exists(_.startsWith("rocksdb")),
      s"expected RocksDB state metrics, got $metrics; progresses=" +
        q.recentProgress.map(_.json).mkString("\n"))
    // r17 (decades_r17 Section C): the flip enables changelog
    // checkpointing by default — the measured config that removes the
    // commit-time SST premium — and the opt-out leaves it off
    assert(s2.conf.get("spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled") === "true")
    val s3 = GraftConfig.useRocksDbStateStore(spark.newSession(),
      changelogCheckpointing = false)
    assert(s3.conf.get("spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled") === "false")
  }

  // shared fixture for the changelog-engagement tests: a watermarked
  // keyed count over two parquet files processed one-per-trigger, so the
  // state store commits (at least) two versions and the recovery path
  // has a changelog chain to replay
  private def writeTwoBatches(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cfg_cl").toString
    def batch(offset: Int): Unit =
      spark.range(50)
        .select(expr(s"timestamp_micros(${1700000000000000L} + (id + $offset) * 1000000)")
          .as("ts"), (col("id") % 7).as("k"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/t.parquet")
    batch(0); batch(50)
    tmp
  }

  private def runKeyedCount(s: SparkSession, src: String, ckpt: String,
      name: String): Map[Long, Long] = {
    val q = s.readStream.schema("ts timestamp, k bigint")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/t.parquet")
      .withWatermark("ts", "1 minute")
      .groupBy(col("k")).count()
      .writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
  }

  // every state file the store wrote under the checkpoint, by extension
  private def stateFiles(ckpt: String, ext: String): Seq[java.nio.file.Path] = {
    val state = java.nio.file.Paths.get(ckpt, "state")
    if (!java.nio.file.Files.exists(state)) Seq.empty
    else {
      val s = java.nio.file.Files.walk(state)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
        while (it.hasNext) { val p = it.next(); if (p.toString.endsWith(ext)) buf += p }
        buf.toSeq
      } finally s.close()
    }
  }

  test("changelog checkpointing ENGAGES at runtime under the default flip: " +
      ".changelog versions written, changelog commit metric reported") {
    // r17 ADVICE: the prior spec pinned only the conf STRING — this one
    // pins the behavior. Under the default arm every commit must write a
    // <version>.changelog (snapshots move to background maintenance), and
    // the provider must report the changelog writer's commit latency
    // metric the decades_r17 Section C itemization keyed on.
    val s2 = GraftConfig.useRocksDbStateStore(spark.newSession())
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    val src = writeTwoBatches()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfg_cl_on").toString
    val q = s2.readStream.schema("ts timestamp, k bigint")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/t.parquet")
      .withWatermark("ts", "1 minute")
      .groupBy(col("k")).count()
      .writeStream.format("memory").queryName("cfg_cl_on")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val changelogs = stateFiles(ckpt, ".changelog")
    assert(changelogs.nonEmpty,
      s"default arm wrote NO .changelog files under $ckpt/state — " +
        "changelog checkpointing did not engage")
    val metrics = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq)
      .flatMap(_.customMetrics.entrySet().toArray
        .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
        .map(e => e.getKey -> e.getValue.longValue())).toMap
    assert(metrics.contains("rocksdbChangeLogWriterCommitLatencyMs"),
      s"changelog commit metric missing; got ${metrics.keys.toSeq.sorted}")
  }

  test("changelog OPT-OUT actually runs snapshot-per-commit: zero .changelog " +
      "files, a snapshot per committed version") {
    // r17 ADVICE: no stream had ever run through the opt-out path
    val s3 = GraftConfig.useRocksDbStateStore(spark.newSession(),
      changelogCheckpointing = false)
    s3.conf.set("spark.sql.shuffle.partitions", "2")
    val src = writeTwoBatches()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfg_cl_off").toString
    runKeyedCount(s3, src, ckpt, "cfg_cl_off")
    assert(stateFiles(ckpt, ".changelog").isEmpty,
      "opt-out arm wrote .changelog files — the flag did not reach the store")
    assert(stateFiles(ckpt, ".zip").nonEmpty,
      "opt-out arm wrote no snapshot zips — no state was committed at all?")
  }

  test("sync-bytes cost model: on a standard wave the changelog arm syncs " +
      "FEWER commit-path bytes than the snapshot arm") {
    // r18 verdict item 3: both the r17 (calm) and r18 (degraded) state-
    // store cycles agree on the MECHANISM — on an fsync-constrained
    // disk the wave cost is bytes synced per commit: plain RocksDB
    // ships a full-state SST zip every commit, the changelog arm ships
    // only the update delta (its snapshots move to BACKGROUND
    // maintenance, off the commit path). This pins that cost model
    // executably on a standard wave shape — a large state touched by
    // small per-commit deltas — so the changelog default's
    // justification survives environment changes instead of living in
    // narrative: Σ bytes(<v>.changelog) over the delta commits must be
    // well under Σ bytes(<v>.zip) the snapshot arm syncs for the SAME
    // commits.
    val tmp = java.nio.file.Files.createTempDirectory("graft_cfg_wave").toString
    // commit 1 materializes a 20k-key state; commits 2-4 each touch
    // 500 of those keys (2.5%) — the deployment wave shape
    spark.range(20000)
      .select(expr(s"timestamp_micros(${1700000000000000L} + id)").as("ts"),
        col("id").as("k"))
      .coalesce(1).write.mode("append").parquet(s"$tmp/t.parquet")
    for (b <- 1 to 3)
      spark.range(500)
        .select(expr(s"timestamp_micros(${1700000000000000L} + 30000 + $b)")
          .as("ts"), col("id").as("k"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/t.parquet")
    def commitPathBytes(changelog: Boolean): (Long, Long) = {
      val s = GraftConfig.useRocksDbStateStore(spark.newSession(),
        changelogCheckpointing = changelog)
      s.conf.set("spark.sql.shuffle.partitions", "2")
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_cfg_wave_$changelog").toString
      runKeyedCount(s, tmp, ckpt,
        s"cfg_wave_${if (changelog) "cl" else "snap"}")
      def versionOf(p: java.nio.file.Path): Long =
        scala.util.Try(p.getFileName.toString.takeWhile(_ != '.').toLong)
          .getOrElse(-1L)
      // commit-path artifact of each arm, DELTA commits only (both
      // arms pay the full first-materialization at version 1)
      val ext = if (changelog) ".changelog" else ".zip"
      val files = stateFiles(ckpt, ext).filter(versionOf(_) >= 2L)
      (files.map(java.nio.file.Files.size).sum, files.size.toLong)
    }
    val (clBytes, clFiles) = commitPathBytes(changelog = true)
    val (zipBytes, zipFiles) = commitPathBytes(changelog = false)
    assert(clFiles > 0, "changelog arm wrote no delta-commit changelogs")
    assert(zipFiles > 0, "snapshot arm wrote no delta-commit zips")
    // the model, not a box-dependent timing: delta syncs << full-state
    // syncs. 0.5 is a loose bound — measured ~2.5% state touched per
    // commit puts the true ratio far lower; the assert only has to
    // catch the model INVERTING.
    assert(clBytes < zipBytes / 2,
      s"changelog arm synced $clBytes B on the delta commits vs the " +
        s"snapshot arm's $zipBytes B — the sync-bytes cost model " +
        "behind the changelog default no longer holds")
  }

  test("RocksDB+changelog state RECOVERS across a restart: resumed query " +
      "equals a never-stopped run (changelog replayed against the snapshot)") {
    // r17 verdict item 3: the flip's documented trade is recovery via
    // changelog REPLAY; this is the executable proof. Run batch 1 under
    // the default flip, STOP, add batch 2, restart from the SAME
    // checkpoint — the resumed totals must include batch 1's counts
    // (state recovered, not recounted) and match a single never-stopped
    // run over both batches.
    val s2 = GraftConfig.useRocksDbStateStore(spark.newSession())
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cfg_cl_rec").toString
    def writeBatch(offset: Int): Unit =
      spark.range(50)
        .select(expr(s"timestamp_micros(${1700000000000000L} + (id + $offset) * 1000000)")
          .as("ts"), (col("id") % 7).as("k"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/t.parquet")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfg_cl_rec_ck").toString

    writeBatch(0)
    val first = runKeyedCount(s2, tmp, ckpt, "cfg_cl_rec1")
    assert(first.values.sum === 50L, s"first segment saw $first")
    assert(stateFiles(ckpt, ".changelog").nonEmpty,
      "segment 1 left no changelog to replay — the test would not " +
        "exercise the recovery path it claims to")

    // job is DOWN while batch 2 arrives
    writeBatch(50)
    // restart on a FRESH session (same conf): provider must load the
    // last snapshot and replay the changelog chain to the head version
    val s2b = GraftConfig.useRocksDbStateStore(spark.newSession())
    s2b.conf.set("spark.sql.shuffle.partitions", "2")
    val resumed = runKeyedCount(s2b, tmp, ckpt, "cfg_cl_rec2")

    // never-stopped reference run over both batches, heap provider —
    // the provider-parity contract: byte-identical results
    val single = runKeyedCount(spark.newSession(), tmp,
      java.nio.file.Files.createTempDirectory("graft_cfg_cl_rec_ref").toString,
      "cfg_cl_rec_ref")
    assert(resumed === single,
      s"resumed=$resumed != single-run=$single — state did not recover")
    assert(resumed.values.sum === 100L)
  }

  test("useAdaptiveSkewHandling: the AQE skew confs flip on the session") {
    val before = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    GraftConfig.useAdaptiveSkewHandling(s2)
    assert(s2.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(s2.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(s2.conf.get("spark.sql.adaptive.coalescePartitions.enabled") === "true")
    // and the shared session is untouched (newSession isolation)
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") === before)
  }

  test("auto-sizing rules: gate invariants hold and occupancy stays bounded " +
      "as the corpus grows") {
    // gate corpora (≤ 2000 vectors) resolve to the static-oracle values
    assert(GraftConfig.lshBits(500) === 4)
    assert(GraftConfig.lshBits(2000) === 4)
    assert(GraftConfig.semDedupCells(500) === 10)
    assert(GraftConfig.semDedupCells(2000) === 10)
    // past the gate both rules grow, holding per-bucket/per-cell
    // occupancy bounded (the linearity contract)
    for (n <- Seq(20000L, 200000L, 2000000L)) {
      val bits = GraftConfig.lshBits(n)
      assert(n.toDouble / (1L << bits) <= 125.0 * 2,
        s"n=$n bits=$bits occupancy blew past the target")
      val k = GraftConfig.semDedupCells(n)
      assert(n.toDouble / k <= 200.0 + 1,
        s"n=$n k=$k cell occupancy blew past the target")
    }
    // monotone: more data never narrows the index
    assert(GraftConfig.lshBits(200000) >= GraftConfig.lshBits(20000))
    assert(GraftConfig.semDedupCells(200000) > GraftConfig.semDedupCells(20000))
  }

  test("semDedup training-sample cap: inactive at gate scale (cap >= corpus " +
      "gives the identical codebook), deterministic when active") {
    import spark.implicits._
    import graft.operators.Similarity
    // gate invariant: the 4000 floor exceeds every gate corpus, so the
    // sampled path can never change a driver-gated hash
    assert(Similarity.semDedupTrainCap(10) === 4000)
    assert(Similarity.semDedupTrainCap(1000) === 40000)
    val rows = spark.range(0, 300)
      .map(i => (i, Array.tabulate(8)(d => ((i * 7 + d) % 13).toFloat)))
      .as[(Long, Array[Float])]
    def cb(limit: Int) =
      Similarity.kmeansCodebookOn(rows, k = 4, iters = 2, trainLimit = limit)
        ._1.toSeq.map(_.toSeq)
    // cap >= corpus: the "sample" is the whole corpus — bit-identical
    assert(cb(0) === cb(300))
    assert(cb(0) === cb(1000))
    // active cap: deterministic across runs (md5-prefix, no RNG), and a
    // different prefix length is a genuinely different training set
    assert(cb(100) === cb(100))
    assert(cb(100) !== cb(0))
  }

  test("shufflePartitionsFor: floored at 2x cores, data-driven in the middle, " +
      "capped at 10000") {
    assert(GraftConfig.shufflePartitionsFor(1L << 20, cores = 32) === 64)
    assert(GraftConfig.shufflePartitionsFor(100L * (128L << 20), cores = 32) === 100)
    assert(GraftConfig.shufflePartitionsFor(Long.MaxValue / 4, cores = 32) === 10000)
    // near-Long.MaxValue input must hit the cap, not overflow negative
    // and fall to the 2x-cores floor (r13 ADVICE)
    assert(GraftConfig.shufflePartitionsFor(Long.MaxValue - 1, cores = 32) === 10000)
  }

  test("useSplittableWrites: a single-file parquet write past the row-group " +
      "target lands MULTIPLE row groups (the r20 scan-parallelism fix), " +
      "where the parquet default packs the same rows into one") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def rowGroups(dir: String): Int = {
      val part = new java.io.File(dir).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file in $dir"))
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getPath),
        spark.sparkContext.hadoopConfiguration))
      try rd.getFooter.getBlocks.size finally rd.close()
    }
    // ~25 MB on disk: deterministic high-entropy pad (md5 chains), so
    // the write must cross the 8 MB row-group target several times
    val df = spark.range(120000).select(col("id"),
      expr("concat(md5(cast(id as string)), md5(cast(id+1 as string)), " +
        "md5(cast(id*7 as string)), md5(cast(id*13 as string)))").as("p"))
      .select(col("id"), expr("repeat(p, 2)").as("pad"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_cfg_rg").toString
    try {
      df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/default")
      assert(rowGroups(s"$tmp/default") === 1,
        "parquet default: one row group (the unsplittable shape)")
      withSplittableWrites {
        df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/split")
      }
      assert(rowGroups(s"$tmp/split") >= 2,
        "row-group target applied: the same rows split into several groups")
      // content identical row-for-row — layout only
      val a = spark.read.parquet(s"$tmp/default")
      val b = spark.read.parquet(s"$tmp/split")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    } finally {
      graft.operators.StreamQueries.deleteRecursively(new java.io.File(tmp))
    }
  }

  private val TrafficBase = 1704067200L

  /** Two mtime-ordered files of traffic messages (value "1", one a
    * second from `TrafficBase`), so a one-file trigger reads them as two
    * micro-batches.
    */
  private def writeTrafficFiles(): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    def msg(sec: Long): String = s"""{"value": "1", "timestamp": "${java.time
      .LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC).format(iso)}"}"""
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg_msgs")
    Seq(0 until 50, 50 until 90).zipWithIndex.foreach { case (secs, i) =>
      val f = dir.resolve(s"part-$i.txt")
      java.nio.file.Files.write(f, secs.map(s => msg(TrafficBase + s)).asJava)
      f.toFile.setLastModified(TrafficBase * 1000L + i * 60000L)
    }
    dir
  }

  /** Update-mode `tumbleDgim` over `dir` on `s`, one file per micro-batch:
    * its (batch id, window_end - `TrafficBase`, count_estimate) rows.
    */
  private def tumbleRows(s: SparkSession, dir: java.nio.file.Path,
      ckpt: java.nio.file.Path): Seq[(Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    import s.implicits._
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    graft.streaming.TrafficJobs.tumbleDgim(graft.sources.TrafficSource.parse(
        s.readStream.option("maxFilesPerTrigger", "1").text(dir.toString)
          .withColumnRenamed("value", "raw")))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.select(lit(id), unix_timestamp($"window_end") - TrafficBase,
          $"count_estimate").as[(Long, Long, Long)].collect().foreach(out.add)
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    out.asScala.toSeq.sorted
  }

  test("useSplittableWrites: checkpoint writes of update-mode tumbleDgim " +
      "start no process, and its rows equal a stock session's") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val dir = writeTrafficFiles()
    // the query's rows, and the command line of every process started
    // while it ran
    def run(ckpt: Path): (Seq[(Long, Long, Long)], Seq[String]) = {
      val rec = new Recording()
      val dump = Files.createTempFile("graft_cfg_forks", ".jfr")
      try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        val rows = tumbleRows(spark, dir, ckpt)
        rec.stop()
        rec.dump(dump)
        val commands = RecordingFile.readAllEvents(dump).asScala
          .map(_.getString("command")).toSeq
        (rows, commands)
      } finally {
        rec.close()
        Files.delete(dump)
      }
    }
    val stockCkpt = Files.createTempDirectory("graft_cfg_stock_ckpt")
    val graftCkpt = Files.createTempDirectory("graft_cfg_graft_ckpt")
    try {
      val (stock, stockForks) = run(stockCkpt)
      val (forkFree, graftForks) = withSplittableWrites(run(graftCkpt))
      assert(stock.map(_._1).distinct.size >= 2, s"two micro-batches: $stock")
      assert(forkFree === stock)
      // the probe sees the forks it is meant to catch: without libhadoop
      // the stock filesystem shells out per checkpoint file
      if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
        assert(stockForks.exists(_.contains(stockCkpt.toString)))
      val named = graftForks.filter(_.contains(graftCkpt.toString))
      assert(named.isEmpty, s"${named.size} processes named the checkpoint: " +
        named.take(3).mkString("; "))
    } finally Seq(dir, stockCkpt, graftCkpt).foreach(p =>
      graft.operators.StreamQueries.deleteRecursively(p.toFile))
  }

  test("useSplittableWrites: a second update-mode tumbleDgim run on a fresh " +
      "checkpoint adds almost no Janino compiles, and both runs' rows equal " +
      "a stock session's") {
    val dir = writeTrafficFiles()
    // the query's rows and the Janino compiles it added
    def run(s: SparkSession): (Seq[(Long, Long, Long)], Long) = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_cfg_codegen_ckpt")
      val before = GraftConfigSpec.compiles
      try (tumbleRows(s, dir, ckpt), GraftConfigSpec.compiles - before)
      finally graft.operators.StreamQueries.deleteRecursively(ckpt.toFile)
    }
    try {
      val stockSession = spark.newSession()
      val (stock, _) = run(stockSession)
      val (stock2, stockAdded) = run(stockSession)
      val configured = spark.newSession()
      val (graft1, graft2, graftAdded) =
        GraftConfigSpec.withSplittableWrites(configured) {
          val (r1, _) = run(configured)
          val (r2, added) = run(configured)
          (r1, r2, added)
        }
      assert(stock.map(_._1).distinct.size >= 2, s"two micro-batches: $stock")
      assert(stock2 === stock && graft1 === stock && graft2 === stock)
      // the probe sees what it is meant to catch: each stock query runs
      // in an isolated clone that compiles its classes again
      assert(stockAdded >= 10, s"stock second run compiled $stockAdded classes")
      assert(graftAdded <= 4, s"configured second run compiled $graftAdded " +
        s"classes (stock: $stockAdded)")
    } finally graft.operators.StreamQueries.deleteRecursively(dir.toFile)
  }

  test("GraftConfig.newSession passes the codegen default on: a second " +
      "runToTableSized-backed row compiles almost nothing") {
    import graft.operators.StreamQueries
    // an events table of 3,000 rows two seconds apart, every third a click
    val sf = java.nio.file.Files.createTempDirectory("graft_cfg_events").toString
    spark.range(3000).select(
        when(col("id") % 3 === 0, "click").otherwise("view").as("event_type"),
        expr("timestamp_seconds(1704067200 + id * 2)").as("ts"))
      .write.parquet(s"$sf/events.parquet")
    // the row's sorted rows and the Janino compiles it added
    def rows(s: SparkSession): (Seq[String], Long) = {
      val before = GraftConfigSpec.compiles
      val out = StreamQueries.streamDgimTumble(s, sf).collect().map(_.toString).sorted.toSeq
      StreamQueries.releaseHarnessSinks()
      (out, GraftConfigSpec.compiles - before)
    }
    try {
      val stockSession = spark.newSession()
      rows(stockSession)
      val (stock, stockAdded) = rows(stockSession)
      val configured = spark.newSession()
      val (first, second, added) = GraftConfigSpec.withSplittableWrites(configured) {
        val (r1, _) = rows(configured)
        val (r2, a2) = rows(configured)
        (r1, r2, a2)
      }
      assert(stock.nonEmpty && first === stock && second === stock)
      assert(stockAdded >= 10, s"stock second row compiled $stockAdded classes")
      assert(added <= 4, s"configured second row compiled $added classes " +
        s"(stock: $stockAdded)")
    } finally Seq(graft.sources.DumpCache.dirFor("graft_traffic_msgs", sf,
        "events.parquet"), sf).foreach(p =>
      StreamQueries.deleteRecursively(new java.io.File(p)))
  }

  test("useAdaptiveCachedPlanPartitioning: AQE coalesces the shuffle under a " +
      ".cache() to fewer partitions than the static count, with the cached " +
      "result identical either way (the r21 per-task-overhead fix)") {
    def cachedParts(flagged: Boolean): (Int, Seq[(Long, Long)]) = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "32")
      if (flagged) GraftConfig.useAdaptiveCachedPlanPartitioning(s2)
      else s2.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      import s2.implicits._
      // tiny shuffle (97 groups, a few KB): the static plan keeps all 32
      // post-shuffle partitions; the adaptive one coalesces them
      val agg = s2.range(10000).select(col("id"),
          (col("id") % 97).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n")).cache()
      try {
        agg.count() // materialize the cache
        (agg.rdd.getNumPartitions,
          agg.orderBy("k").as[(Long, Long)].collect().toSeq)
      } finally { agg.unpersist(); () }
    }
    val (staticParts, staticRows) = cachedParts(flagged = false)
    val (adaptiveParts, adaptiveRows) = cachedParts(flagged = true)
    assert(staticParts === 32, "flag off: the static shuffle count sticks")
    assert(adaptiveParts < 32,
      "flag on: AQE coalesced the cached plan's tiny shuffle")
    assert(staticRows === adaptiveRows, "results are layout-independent")
  }

  // deterministic synthetic codebook: k well-spread 8-dim centroids
  private def synthCodebook(k: Int): Array[Array[Double]] =
    Array.tabulate(k)(c =>
      Array.tabulate(8)(d => ((c * 31 + d * 7) % 97).toDouble +
        ((c * 13 + d) % 11) * 0.25))

  test("semDedup two-level assignment: gate codebooks resolve FLAT; past the " +
      "swap point the structure is a partition of the fine cells, " +
      "deterministic, with the cache-key tag matching the built device") {
    import graft.operators.Similarity
    // every hash-gate corpus resolves k = 10 — flat, oracles untouched
    val flat = Similarity.CellIndex.of(synthCodebook(10))
    assert(flat.coarse.isEmpty && flat.tag === "flat")
    assert(Similarity.assignTagFor(10) === "flat")
    assert(Similarity.assignTagFor(GraftConfig.semDedupTwoLevelMinCells) === "flat")
    // above the swap point: two-level with kc = ceil(sqrt(k)) coarse
    // cells; members are a PARTITION of the fine ids (every fine cell
    // reachable exactly once)
    val k = GraftConfig.semDedupTwoLevelMinCells + 88 // 600
    val tl = Similarity.CellIndex.of(synthCodebook(k))
    assert(tl.coarse.length === math.ceil(math.sqrt(k.toDouble)).toInt)
    assert(tl.tag === Similarity.assignTagFor(k),
      "staged-generation cache-key tag must match the built structure")
    val all = tl.members.flatten.sorted
    assert(all.toSeq === (0 until k), "members must partition the fine cells")
    // pure function of the codebook: a rebuild is identical
    val tl2 = Similarity.CellIndex.of(synthCodebook(k))
    assert(tl.coarse.map(_.toSeq).toSeq === tl2.coarse.map(_.toSeq).toSeq)
    assert(tl.members.map(_.toSeq).toSeq === tl2.members.map(_.toSeq).toSeq)
  }

  test("CellIndex distributed coarse train is BIT-IDENTICAL to the driver " +
      "build at the crossover, and the production boundary is the measured one") {
    import graft.operators.Similarity
    // lowered crossover so the spec exercises the real distributed
    // route in seconds: k = 700 > maxDriverK = 600 → distributed
    // assign; same k driver-local → must agree bit-for-bit (per-row
    // nearestCell is arithmetic-identical and the order-sensitive
    // centroid sums run on the driver in ascending fine-id order on
    // BOTH routes)
    val k = 700
    val fine = synthCodebook(k)
    val driver = Similarity.CellIndex.of(fine, None, maxDriverK = k + 1)
    val dist = Similarity.CellIndex.of(fine, Some(spark), maxDriverK = 600)
    assert(driver.coarse.map(_.toSeq).toSeq === dist.coarse.map(_.toSeq).toSeq,
      "distributed coarse centroids diverged from the driver build")
    assert(driver.members.map(_.toSeq).toSeq === dist.members.map(_.toSeq).toSeq,
      "distributed member partition diverged from the driver build")
    assert(driver.tag === dist.tag)
    // the production boundary pins the r15 measurement (9.6 s at 1e5,
    // 46 s at 3e5, ~minutes at the 1e6 clamp — scaladoc)
    assert(Similarity.CellIndex.MaxDriverTrainK === 100000)
  }

  test("semDedup two-level assignment: probed result is exact within the probed " +
      "coarse cells and agrees with the flat scan on >= 90% of vectors") {
    import graft.operators.Similarity
    val k = 600
    val fine = synthCodebook(k)
    val tl = Similarity.CellIndex.of(fine)
    // deterministic pseudo-random probe vectors (LCG, fixed seed)
    var seed = 12345L
    def nextD(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33).toDouble / (1L << 31).toDouble) * 100.0
    }
    val vecs = Array.fill(500)(Array.fill(8)(nextD().toFloat))
    var agree = 0
    vecs.foreach { v =>
      val (cTl, dTl) = tl.assign(v)
      val (cFlat, dFlat) = Similarity.nearestCell(v, fine)
      // internal consistency: the returned cell really is the best
      // within the probed members, at its true distance
      val ctr = fine(cTl)
      var d = 0.0
      var i = 0
      while (i < ctr.length) { val t = v(i) - ctr(i); d += t * t; i += 1 }
      assert(math.abs(d - dTl) < 1e-9)
      assert(dTl >= dFlat - 1e-12, "two-level can never beat the exact scan")
      if (cTl == cFlat) agree += 1
    }
    assert(agree >= 450, s"two-level agreed with flat on only $agree/500")
  }
}

object GraftConfigSpec {

  /** Runs `body` after [[GraftConfig.useSplittableWrites]] on `spark`,
    * then restores every Hadoop and session key that call sets, so the
    * rest of a suite sharing the session runs on the stock defaults.
    */
  def withSplittableWrites[A](spark: SparkSession)(body: => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    val prior = Seq("parquet.block.size", GraftConfig.LocalFileContextImplKey)
      .map(k => k -> Option(hc.get(k)))
    val priorIsolation = spark.conf.getOption(GraftConfig.ArtifactIsolationKey)
    try {
      GraftConfig.useSplittableWrites(spark)
      body
    } finally {
      prior.foreach {
        case (k, Some(v)) => hc.set(k, v)
        case (k, None) => hc.unset(k)
      }
      priorIsolation match {
        case Some(v) => spark.conf.set(GraftConfig.ArtifactIsolationKey, v)
        case None => spark.conf.unset(GraftConfig.ArtifactIsolationKey)
      }
    }
  }

  /** Janino compiles so far in this JVM. */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
