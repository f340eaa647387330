package graft.operators

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.{Tables, TrafficSource}
import graft.streaming.TrafficJobs

/** Queries that push data through REAL Structured Streaming graphs
  * (readStream → window agg → sink) inside the batch Verify harness,
  * using Trigger.AvailableNow + a memory sink in complete mode.
  * `q_stream_tumble`'s oracle is the same SQL as the batch tumble count —
  * proving the streaming path is value-identical to batch.
  */
object StreamQueries {

  /** events schema with ts ALREADY normalized to TimestampType — the
    * schema of every graft-written events dump (sentinel dump), and the
    * target shape both raw generations normalize to.
    */
  private val eventsNormSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The events file's ACTUAL on-disk schema (file streams need it
    * declared up front): one footer-only batch read, generation-agnostic
    * — older testdata stores ts as TIMESTAMP(NANOS) (INT64 under the
    * legacy conf), current testdata as TIMESTAMP(MICROS)/NTZ.
    */
  private def eventsFileSchema(spark: SparkSession, dir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.option("pathGlobFilter", "events.parquet").parquet(dir).schema
  }

  /** Normalize a raw events frame's ts to TimestampType micros — the
    * ONE shared two-generation dispatch ([[Tables.normalizeTs]]), so
    * the batch oracles and the file-stream queries can never read the
    * same file differently.
    */
  private def normalizeTs(df: DataFrame): DataFrame = Tables.normalizeTs(df)

  /** documents.parquet schema for file-stream sources (readStream needs
    * it declared up front; shared by every document-ingest query).
    */
  private val docsRawSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Last finished harness query's final progress JSON — dev observability
    * for state-size audits (SURVEY §6's O(log²W) state measurement reads
    * `stateOperators.numRowsTotal` / `stateMemory` from here after a run).
    */
  @volatile var lastProgress: Option[String] = None

  /** Harness state-store override for the [[runToTable]] streams built
    * inside the dynamic scope: None (default) inherits the session's
    * SparkConf provider (heap unless the caller configured otherwise);
    * Some("rocksdb") / Some("rocksdb-changelog") applies
    * [[graft.GraftConfig.useRocksDbStateStore]] to the cloned session.
    * [[graft.Bench]] scopes this around the HEAVY-state rows at
    * 100×-class corpus scale — the executable form of the shipped
    * size-conditioned recommendation (flip when state outgrows heap
    * headroom; r19 measured the flip 0.67-0.94× on exactly those rows
    * at 100× and 1.2-2.8× AGAINST on small-state rows,
    * bench_raw/r19/stateful100x_*.json). A DynamicVariable, not a
    * shared var (r19 ADVICE): the override is visible only inside the
    * caller's `withValue` scope (thread-inherited), so concurrent
    * harness queries — parallel spec suites, a future parallel bench
    * pass — can never observe another thread's flip.
    */
  private[graft] val harnessStateStore =
    new scala.util.DynamicVariable[Option[String]](None)

  /** The EFFECTIVE state-store provider of the most recent
    * [[runToTable]] stream in this JVM, observed from the cloned
    * session's resolved conf at start (not from what a caller intended
    * to set). [[graft.Bench]] reads it after each streaming row and
    * emits a per-row provider map into the bench JSON, so a committed
    * 100× map itself proves which store each heavy row ran (r19
    * verdict item 3). Observability only — nothing branches on it.
    */
  @volatile private[graft] var lastStateStore: Option[String] = None

  /** Memory-sink tables published by [[runToTable]] in this JVM and not
    * yet released: (cloned session, table name). A complete-mode sink
    * holds its FULL result on the driver heap for as long as the temp
    * view pins it — at the 100× fixture q_stream_session alone leaves
    * ~9.5M rows (hundreds of MB) pinned after its row is consumed, and
    * a full-suite run stacks every streaming row's sink on the heap
    * (r20 optimization round). [[graft.Bench]] / [[graft.Verify]] call
    * [[releaseHarnessSinks]] after consuming each row; ad-hoc callers
    * that keep the returned frame simply don't release.
    */
  private val retainedSinks =
    scala.collection.mutable.ArrayBuffer.empty[(SparkSession, String)]

  /** Drop every harness memory-sink temp view registered since the last
    * release, so the sinks' driver-held rows become collectable. Safe
    * only once the caller is done with the returned DataFrames (their
    * plans read the dropped sink).
    */
  def releaseHarnessSinks(): Unit = retainedSinks.synchronized {
    retainedSinks.foreach { case (s, name) =>
      try s.catalog.dropTempView(name) catch { case _: Exception => () }
    }
    retainedSinks.clear()
  }

  private def runToTable(spark0: SparkSession, mode: String = "complete")(
      build: SparkSession => DataFrame): DataFrame =
    runToTableSized(spark0, mode, 0L)(build)

  /** [[runToTable]] with a SIZE-ADAPTIVE state-partition count. A
    * streaming aggregation materializes one state-store instance per
    * shuffle partition, each with its own checkpoint files per
    * micro-batch — at the gate's data volume that fixed I/O dominates.
    * Each harness stream therefore runs on a DEDICATED cloned session
    * ([[graft.GraftConfig.newSession]]: own SQLConf, shared
    * SparkContext/catalog, the parent's codegen cache) whose
    * state-partition count has a floor of 8, so the setting can never
    * leak to concurrent users of the shared session (results are
    * partitioning-independent; a real deployment sizes this to the key
    * cardinality instead). The floor is right at gate SFs, but a
    * CPU-heavy stateful aggregation over a 100×-class ingest runs its
    * post-exchange state machine at parallelism 8 on a 32-core box —
    * measured isolated on the 100× hop-count shape: 25.6-27.9 s at 8
    * partitions vs 17.7 s at 32 (decades_r20 Section F). `inputBytes` > 0 (the source file's
    * on-disk size, the same proxy [[sizeProbeShuffle]] uses) raises
    * the count to one partition per 8 MiB of source, capped at the
    * LOWER of 2×cores (keeps per-partition state large enough that
    * commit overhead stays amortized) and heap/512 MiB (the memory
    * guard: 64 partitions OOM'd a 16 GiB-heap probe — ~256 MiB of
    * per-batch provider memory per partition was not survivable, so
    * the cap budgets 512 MiB of heap per partition and the documented
    * OOM configuration is unreachable by construction: 16 GiB → ≤32.
    * The r20 cap was core-derived only, which on a 32-core/16 GiB box
    * permitted exactly the 64 that OOM'd — r20 ADVICE). At sf0.1 every
    * source is under 8 MiB so the floor of 8 is unchanged and the
    * driver's per-row machinery costs stay comparable; at the 100×
    * fixture the largest source (157 MB events) sizes to 19, under
    * both caps, so no measured number moves.
    *
    * The heap cap reads the max heap of THIS JVM, the one that builds
    * the query. Only in local mode does that JVM also run the tasks; on
    * a cluster the executors' heap is what the guard should budget, so
    * there it is sized from the wrong JVM.
    */
  private def runToTableSized(spark0: SparkSession, mode: String,
      inputBytes: Long)(
      build: SparkSession => DataFrame): DataFrame = {
    val spark = graft.GraftConfig.newSession(spark0)
    val cores = spark.sparkContext.defaultParallelism
    val heapCap = Runtime.getRuntime.maxMemory() / (512L << 20)
    val parts = math.max(8L,
      math.min(math.min(2L * cores, heapCap), inputBytes / (8L << 20))).toInt
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    harnessStateStore.value.foreach { p =>
      graft.GraftConfig.useRocksDbStateStore(spark,
        changelogCheckpointing = p != "rocksdb")
    }
    lastStateStore = Some {
      val cls = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "")
      if (cls == graft.GraftConfig.RocksDbProvider) {
        val chg = spark.conf.get("spark.sql.streaming.stateStore.rocksdb" +
          ".changelogCheckpointing.enabled", "false")
        if (chg == "true") "rocksdb-changelog" else "rocksdb"
      } else "heap"
    }
    val name = "mem_" + UUID.randomUUID().toString.replace("-", "")
    val ckptDir = harnessCheckpointDir(s"graft_ckpt_$name")
    val q = build(spark).writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir).start()
    // registered for release BEFORE the drain: if awaitTermination
    // throws (the Bench -1-sentinel path), the partial sink result must
    // still be droppable — registering after the drain leaked exactly
    // the failed rows' sinks for the JVM lifetime (r20 ADVICE)
    retainedSinks.synchronized { retainedSinks += ((spark, name)) }
    try {
      q.awaitTermination()
      lastProgress = Option(q.lastProgress).map(_.json)
    } finally deleteRecursively(new java.io.File(ckptDir))
    spark.table(name)
  }

  /** On-disk bytes of a source table file (or staged dump directory) —
    * the size proxy [[runToTableSized]] derives state partitions from;
    * follows the fixture's symlinks, 0 when absent (floor applies).
    */
  private def sourceFileBytes(dir: String, name: String): Long =
    sourcePathBytes(new java.io.File(dir, name).getPath)

  /** [[sourceFileBytes]] for a full path (staged dump directories). */
  private def sourcePathBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isDirectory)
      Option(f.listFiles()).map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
    else f.length
  }

  /** Checkpoint root for the bounded-replay harness streams: tmpfs when
    * the platform has one, else the java temp dir (r12 verdict item 7:
    * the suite's dominant fixed cost was ~25 harness streams × 1-3 s of
    * checkpoint/state-store machinery — offsets WAL, commit log and
    * state snapshots are all small fsync-bound writes that don't belong
    * on disk for a replay whose checkpoint is deleted at drain).
    * Semantics are untouched: the checkpoint exists only for recovery.
    * A real deployment points `checkpointLocation` at durable storage
    * instead — the recovery contract needs it there.
    */
  private[graft] def harnessCheckpointDir(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    val root =
      if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(System.getProperty("java.io.tmpdir"))
    val d = new java.io.File(root, prefix)
    d.mkdirs()
    d.getPath
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Minimal pass over the real events file-stream (schema probe, file
    * listing, parquet streaming read, watermark + one windowed agg) —
    * [[graft.Bench]]'s warm-up leg. The r12 drifter attribution measured
    * ~1.5-2 s of events-stream first-touch landing on whichever events
    * streaming query runs FIRST in a JVM (isolated rows 3.0-3.8 s vs
    * the same rows at 1.5-1.9 s once any events stream has run);
    * synthetic warm-up legs don't reach it because the cost is in this
    * source path, not the state-store machinery.
    */
  def warmEventsStream(spark: SparkSession, dir: String): Unit =
    runToTable(spark) { s =>
      import s.implicits._
      eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "6 hours"))
        .agg(count(lit(1)).as("n"))
        .select($"n")
    }

  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // file-stream sources require a directory: stream the sf dir with a
    // glob filter instead of pointing at the single parquet file
    normalizeTs(spark.readStream.schema(eventsFileSchema(spark, dir))
      .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Tumbling 1 h click count through Structured Streaming; hash-matches
    * the batch `Windows.tumbleCountSql` oracle.
    */
  def streamTumbleCount(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark) { s =>
      import s.implicits._
      eventsStream(s, dir)
        .filter($"event_type" === "click")
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"))
        .agg(count(lit(1)).as("cnt"))
        .select($"window.start".as("window_start"), $"window.end".as("window_end"), $"cnt")
    }

  /** Sliding (hop) 1 h / 15 min click count through Structured Streaming —
    * the streaming twin of the reference's Job 2 (SlidingWindowStreamingJob);
    * hash-matches the batch `Windows.slideCountSql` oracle.
    */
  def streamSlideCount(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark) { s =>
      import s.implicits._
      eventsStream(s, dir)
        .filter($"event_type" === "click")
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("cnt"))
        .select($"window.start".as("window_start"), $"window.end".as("window_end"), $"cnt")
    }

  /** Streaming stateful deduplication: `dropDuplicates` over the doc
    * text-hash — the streaming twin of `dedup_exact`'s key step, with
    * exact-once state per distinct key in the state store. Append mode:
    * each hash is emitted exactly once on first sight, so the emitted SET
    * equals the batch DISTINCT (deterministic regardless of arrival
    * order). Hash-matches a batch SELECT DISTINCT oracle.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      s.readStream.schema(docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(md5(graft.functions.Text.normalizeFast($"text")).as("text_hash"))
        .dropDuplicates("text_hash")
    }

  val streamDedupSql: String = """
    SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]',' ','g'),' +',' ','g'))) AS text_hash
    FROM documents"""

  /** Streaming incremental ingest dedup — the ARRIVING corpus shard as a
    * stream, deduped against the standing corpus's persisted fingerprint
    * index via a STREAM-STATIC left join (stateless: no watermark, no
    * state store — the production ingest-gate shape; the static side is
    * [[Dedup.baseFpIndex]]'s staged parquet, reloaded per micro-batch so
    * a newly committed index generation is picked up between batches).
    * Emits one verdict row per arriving doc: its fingerprint, and the
    * base keeper id when the standing corpus already holds the text.
    * Hash-matches the batch left-join oracle — streaming ≡ batch.
    */
  def streamDeltaDedup(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      val idx = Dedup.baseFpIndex(s, dir)
        .select($"text_hash", $"keep_id".as("base_dup_of"))
      s.readStream.schema(docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter($"doc_id" % 5 === 0)
        .select($"doc_id",
          md5(graft.functions.Text.normalizeFast($"text")).as("text_hash"))
        .join(idx, Seq("text_hash"), "left")
        .select($"doc_id", $"text_hash", $"base_dup_of")
    }

  val streamDeltaDedupSql: String = """
    WITH norm AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]',' ','g'),' +',' ','g'))) AS text_hash FROM documents),
    base_fp AS (SELECT text_hash, MIN(doc_id) AS keep_id FROM norm WHERE doc_id % 5 != 0 GROUP BY 1)
    SELECT d.doc_id, d.text_hash, f.keep_id AS base_dup_of
    FROM norm d LEFT JOIN base_fp f USING (text_hash)
    WHERE d.doc_id % 5 = 0"""

  /** CONTINUOUS substring-dedup gate — `dedup_substring_delta`'s
    * base-vs-arrival half as an ingest stream: every arriving document's
    * 20-token windows probe the STAGED base window-fingerprint index
    * (stateless stream-static join), candidates verify on STRING
    * equality against the base docs (a second stream-static join — the
    * same sketch-then-exact-verify ladder as the batch op), and the gate
    * emits verified REMOVAL INTERVALS (doc_id, s, e): the excision
    * directives a downstream rewrite applies. The contract is
    * deliberately the interval SET, not the rewritten text — per-doc
    * interval aggregation would be a second stateful op, and the
    * batch compactor (`dedup_substring_delta`) already owns the
    * rewrite plus the arrival-vs-arrival half.
    *
    * Exactly-once interval emission via WATERMARK-BOUNDED streaming
    * dedup ([[exactOnceByKey]]: `dropDuplicatesWithinWatermark` on
    * (doc_id, s) over an arrival-time watermark — multiple base
    * occurrences of the same span would otherwise re-emit it). A given
    * interval's duplicate candidates all come from ONE arriving
    * document's probe fan-out, so they land within a single trigger
    * and any watermark delay ≥ the trigger interval preserves
    * exact-once; the state store then EVICTS each emitted key once the
    * arrival watermark passes it — state is bounded by the arrival
    * rate × delay window, not by the lifetime of the ingest (the r10
    * verdict's unbounded-state gap, closed). StreamingSpec pins the
    * eviction (state rows return to the live-window level after the
    * watermark advances); hash-matches a batch replay: delta windows
    * string-joined to the distinct base window set — streaming ≡ batch.
    */
  def streamSubstring(spark: SparkSession, dir: String, w: Int = 20): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      val baseIdx = Dedup.baseWindowIndex(s, dir, w)
        .select($"fp", $"doc_id".as("base_id"), $"pos".as("base_pos"))
      val baseToks = Tables.documents(s, dir).filter($"doc_id" % 5 =!= 0)
        .select($"doc_id".as("base_id"),
          graft.functions.Text.wordsFast($"text").as("w_base"))
      // The window STRING is built map-side per window and the token
      // array dropped before the join — slim ~(doc_id, pos, fp, win)
      // rows through the shuffle instead of the whole token array per
      // window row. (The batch op rebuilds strings candidate-sized
      // instead, but a stream cannot re-join itself to fetch arrays for
      // candidates — the map-side build is the streaming trade-off.)
      val verified = s.readStream.schema(docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter($"doc_id" % 5 === 0)
        .select($"doc_id", graft.functions.Text.wordsFast($"text").as("w_arr"),
          posexplode(graft.functions.WordWindowHashes($"text", w)).as(Seq("i", "fp")))
        .select($"doc_id", ($"i" + 1).as("pos"), $"fp",
          concat_ws(" ", slice($"w_arr", $"i" + 1, lit(w))).as("win"))
        .join(baseIdx, "fp")
        .join(baseToks, "base_id")
        .filter($"win" ===
          concat_ws(" ", slice($"w_base", $"base_pos", lit(w))))
        .select($"doc_id", $"pos".as("s"), ($"pos" + (w - 1)).as("e"))
      exactOnceByKey(verified, current_timestamp(), "1 hour", "doc_id", "s")
    }

  /** Watermark-bounded exactly-once emission: first row per key set is
    * emitted, duplicates within the watermark window are dropped, and
    * the state store evicts each key once the watermark passes its
    * arrival time — the production form of a streaming `dropDuplicates`
    * whose key space grows with the lifetime of the ingest. `tsCol` is
    * the arrival-time column (the continuous gates use
    * `current_timestamp()` — batch-time, monotone across triggers; the
    * spec injects a synthetic clock to pin eviction).
    *
    * PRECONDITION for exactness: all duplicates of a key must arrive
    * within `delay` of the first one. [[streamSubstring]] satisfies this
    * trivially — an interval's duplicates all come from one document's
    * fan-out inside a SINGLE trigger. A caller whose duplicate arrivals
    * span triggers must choose `delay` ≥ the maximum spread between a
    * key's first and last duplicate arrival, or evicted keys RE-EMIT
    * and silently break a streaming ≡ batch hash oracle.
    */
  private[graft] def exactOnceByKey(df: DataFrame, tsCol: org.apache.spark.sql.Column,
      delay: String, keys: String*): DataFrame = {
    val out = df.columns
    df.withColumn("graft_arrival_ts", tsCol)
      .withWatermark("graft_arrival_ts", delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
      .select(out.head, out.tail: _*)
  }

  def streamSubstringSql(w: Int = 20): String = TextAnalysis.sqlWords + s""",
    dwins AS (${Dedup.substringWinsSql(w, "doc_id % 5 = 0")}),
    bwins AS (SELECT DISTINCT win
              FROM (${Dedup.substringWinsSql(w, "doc_id % 5 != 0")}))
    SELECT DISTINCT d.doc_id, d.pos AS s, CAST(d.pos + ${w - 1} AS INT) AS e
    FROM dwins d JOIN bwins USING (win)"""

  /** CONTINUOUS decontamination — the eval-collision gate (`text_decontam`)
    * run on the ingest stream: every arriving corpus document is checked
    * for verbatim 7-gram overlap with the benchmark suite BEFORE
    * admission, the hygiene step a production trainer runs at ingest
    * time rather than as a corpus-wide sweep.
    *
    * The batch op is explode → broadcast join → per-doc count; streaming
    * append mode allows no aggregation without a watermark and there is
    * no event time here, so the twin RESHAPES the plan: the eval-gram
    * set is collected once at query build — as a [[Text.gram64]]
    * FINGERPRINT probe (r14: 8 bytes per gram serialized; the previous
    * `Set[String]` form built a GB-class boxed set at the driver for
    * the 100×-fixture's 3.6M-gram suite and was ~half the row's wall
    * there — `Decontam.evalGramProbe`) — and BROADCAST; the collision
    * count becomes ONE stateless per-row UDF
    * ([[Text.countGramHashesIn]]: the distinct-shingle set fingerprints
    * through the probe's per-JVM open-addressing table — counting
    * needs the full distinct set, so unlike the audit gate's
    * early-exiting [[Text.anyGramHashIn]] it does materialize the
    * per-doc shingle array, once, inside the single UDF). No shuffle,
    * no state store, no watermark — the gate scales with arrival rate
    * only, and the broadcast with |eval| alone.
    *
    * Emits the batch contract (docs with ≥ 1 distinct colliding gram,
    * with the count) under FINGERPRINT equality — the honest trade
    * documented on [[Text.anyGramHashIn]] (a divergence from the
    * string-exact batch row needs a 64-bit gram64 collision) — and
    * hash-matches `ngramCollisionsHashSql`, which replays the SAME
    * fingerprints through the roll61+mix64 CTE chain: the oracle
    * compares what the engine compares.
    */
  def streamDecontam(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      // the gram set is STAGED once per source generation (DumpCache) —
      // re-deriving it (documents scan + shingle UDF) at every query
      // build was the r10 bench's 16 s outlier on this row
      val bc = s.sparkContext.broadcast(Decontam.evalGramProbe(s, dir))
      val nHits = udf { text: String =>
        graft.functions.Text.countGramHashesIn(text, Decontam.N, bc.value)
      }
      s.readStream.schema(docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(!$"source".isInCollection(Decontam.EvalSources))
        // NULL text coalesced (r14 review): the probe UDF would NPE on
        // it, while the oracle silently emits no row — an engine crash
        // the hash gate could never see. '' has no 7-gram, so the doc
        // filters out below, matching the oracle's absent row.
        .select($"doc_id", nHits(coalesce($"text", lit(""))).as("n_collisions"))
        .filter($"n_collisions" > 0)
    }

  /** CONTINUOUS token metering with the TRAINED tokenizer —
    * `text_tokens_bpe_trained` split into its production shape: the
    * merge table is trained OFFLINE and staged
    * ([[TextAnalysis.bpeModelDump]], the same staged-artifact pattern
    * as the IVF serving index); arriving documents are tokenized
    * against the BROADCAST model as a stateless per-row map — the
    * token-budget meter a production ingest pipeline runs per arrival
    * (no shuffle, no state store, scales with arrival rate only). The
    * batch op's distinct-word dictionary join is not available to a
    * stream (new words arrive forever), so the per-row application IS
    * the streaming trade-off; per-word work is identical, shared code
    * ([[TextAnalysis.applyMergesCount]]). Emits the batch contract
    * verbatim — hash-matches `tokensBpeTrainedSql`: streaming ≡ batch.
    */
  def streamTokensBpe(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      val learned: Array[(String, String)] = s.read
        .parquet(TextAnalysis.bpeModelDump(s, dir))
        .orderBy($"rank").select($"left_tok", $"right_tok")
        .as[(String, String)].collect()
      val bc = s.sparkContext.broadcast(learned)
      val meterUdf = udf { (words: Seq[String]) =>
        val m = bc.value
        var nw = 0L
        var nt = 0L
        if (words != null) words.foreach { w =>
          if (w != null && w.nonEmpty) {
            nw += 1; nt += TextAnalysis.applyMergesCount(w, m)
          }
        }
        (nw, nt)
      }
      s.readStream.schema(docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select($"doc_id",
          meterUdf(graft.functions.Text.wordsFast($"text")).as("r"))
        .select($"doc_id", $"r._1".as("n_words"), $"r._2".as("n_bpe_tokens"))
    }

  /** CONTINUOUS model-based quality gate — `text_quality_model` split
    * into its production shape (the FineWeb-Edu/DCLM deployment): the
    * fixed-point linear classifier is TRAINED OFFLINE and staged
    * ([[TextAnalysis.qualityModelDump]]); arriving documents are
    * featurized and scored per row at ingest time. The k published
    * weights enter the plan as LITERAL coefficients
    * ([[TextAnalysis.qmScoreOn]], shared with the batch row), so the
    * whole gate is one codegen'd stateless projection — no UDF, no
    * shuffle, no state store, no broadcast: scales with arrival rate
    * only. Emits the batch contract verbatim — hash-matches
    * `qualityModelSql` (the full train+score DuckDB replay): staged
    * online serving ≡ batch train+score.
    */
  def streamQualityModel(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      val w = TextAnalysis.qualityModelWeights(s, dir)
      TextAnalysis.qmScoreOn(
        s.readStream.schema(docsRawSchema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir)
          .select($"doc_id", $"text", $"source"), w)
    }

  /** CONTINUOUS calibration monitor of the served quality gate —
    * `stats_calibration` as the model-observability job that runs NEXT
    * TO [[streamQualityModel]]'s ingest gate: arriving documents score
    * against the same STAGED weights (stateless codegen'd projection,
    * shared [[TextAnalysis.qmScoreOn]]), and ONE complete-mode
    * streaming aggregation folds them into the reliability grid —
    * clamp → fixed-width bin → exact integer (n, positives, Σ clamped)
    * per bin, the literally-shared [[Profile.calibrationGrid]] code.
    * State is ≤ 10 rows of three BIGINTs FOREVER, at any arrival rate
    * (integer sums are associative — the merge is exact, no decay, no
    * approximation): the cheapest live dashboard a model gate can
    * ship, and the signal that pages when the corpus drifts away from
    * the gate's training distribution (per-bin observed rate departs
    * from predicted). The ECE/rate columns derive from the final grid
    * ([[Profile.calibrationFinish]], batch over ≤ 10 rows). Emits the
    * batch contract verbatim — hash-matches `statsCalibrationSql` (the
    * full train + score + bin DuckDB replay): staged online monitoring
    * ≡ batch train+evaluate.
    */
  def streamCalibration(spark: SparkSession, dir: String): DataFrame =
    Profile.calibrationFinish(
      runToTable(spark, mode = "complete") { s =>
        import s.implicits._
        val w = TextAnalysis.qualityModelWeights(s, dir)
        Profile.calibrationGrid(TextAnalysis.qmScoreOn(
          s.readStream.schema(docsRawSchema)
            .option("pathGlobFilter", "documents.parquet").parquet(dir)
            .select($"doc_id", $"text", $"source"), w))
      })

  /** CONTINUOUS confusion monitor of the served quality gate —
    * `stats_confusion` next to the ingest gate, completing the
    * always-on evaluation pair with [[streamCalibration]] (that row
    * watches probability honesty; this one watches what the gate DOES
    * at its threshold — live precision/recall against the provenance
    * labels). Arrivals score against the staged weights (stateless
    * shared [[TextAnalysis.qmScoreOn]]); ONE complete-mode global
    * aggregation folds the four exact BIGINT cells — ONE state row of
    * four counters FOREVER at any arrival rate. Ratios derive from the
    * final cells ([[Profile.confusionFinish]], batch over 1 row).
    * Hash-matches `statsConfusionSql` (the full train+score+cells
    * replay): staged online monitoring ≡ batch train+evaluate.
    */
  def streamConfusion(spark: SparkSession, dir: String): DataFrame =
    Profile.confusionFinish(
      runToTable(spark, mode = "complete") { s =>
        import s.implicits._
        val w = TextAnalysis.qualityModelWeights(s, dir)
        Profile.confusionCells(TextAnalysis.qmScoreOn(
          s.readStream.schema(docsRawSchema)
            .option("pathGlobFilter", "documents.parquet").parquet(dir)
            .select($"doc_id", $"text", $"source"), w)
          .select($"label", $"pred"))
      })

  /** CONTINUOUS binary-payload dedup (`q_stream_mm_dedup`) — the
    * BINARY-modality member of the continuous-dedup family, closing the
    * last modality gap (exact text = `q_stream_delta_dedup`, substring
    * = `q_stream_substring`, MinHash-LSH = `q_stream_delta_lsh`,
    * semantic = `q_stream_semdedup`, binary payloads = this): arriving
    * media rows hash their payload BYTES map-side (md5 over the binary
    * column — no decode, the `mm_dedup` contract) and probe the STAGED
    * base payload-hash index via a stateless stream-static left join.
    * Identical-file duplication is the dominant mode in image/video
    * corpora, so this is the gate a multimodal ingest runs FIRST.
    * Per-arrival verdict = (payload_md5, base keeper id or null);
    * arrival-vs-arrival duplicates defer to compaction (the family's
    * standing split). No shuffle, no state store. Hash-matches the
    * batch left-join replay: streaming ≡ batch.
    */
  def streamMmDedup(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      val idx = Multimodal.basePayloadIndex(s, dir)
        .select($"payload_md5", $"keep_id".as("base_dup_of"))
      s.readStream.schema(docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(Dedup.isDelta($"doc_id"))
        .select($"doc_id",
          md5(encode($"text", "UTF-8")).as("payload_md5"))
        .join(idx, Seq("payload_md5"), "left") // stream-static: stateless
        .select($"doc_id", $"payload_md5", $"base_dup_of")
    }

  /** Oracle for [[streamMmDedup]] — the [[streamDeltaDedup]] replay
    * shape over payload bytes (DuckDB md5 hashes the same UTF-8 bytes
    * Spark's md5(encode(text,'UTF-8')) does).
    */
  val streamMmDedupSql: String = """
    WITH pm AS (SELECT doc_id, md5(text) AS payload_md5 FROM documents),
    base_pm AS (SELECT payload_md5, MIN(doc_id) AS keep_id
                FROM pm WHERE doc_id % 5 != 0 GROUP BY 1)
    SELECT d.doc_id, d.payload_md5, b.keep_id AS base_dup_of
    FROM pm d LEFT JOIN base_pm b USING (payload_md5)
    WHERE d.doc_id % 5 = 0"""

  /** CONTINUOUS pipeline audit (`q_stream_audit`) — the [[Audit]]
    * data-card ladder run PER ARRIVAL, which is the production shape:
    * a document's first-dropping gate is decided at ingest, not by a
    * corpus-wide sweep. A ZERO-STATE composition of the standing
    * continuous gates, each in its established form:
    *  - `quality`: the staged weights as a LITERAL single-expression
    *    margin over raw text ([[TextAnalysis.qmMarginCol]], guarded by
    *    [[TextAnalysis.qmGuard]] — an unfeaturizable doc fails the
    *    gate, matching the batch row's absent-score rule);
    *  - `decontam`: a FUSED shingle-and-FINGERPRINT-probe against the
    *    BROADCAST staged eval-gram fingerprint array
    *    ([[graft.functions.Text.anyGramHashIn]], r14: one rolling pass,
    *    gram64 + open-addressing-table probe per window, early exit on the first
    *    hit — contaminated docs short-circuit, and the broadcast costs
    *    8 bytes/gram instead of a driver-built GB-class `Set[String]`
    *    at 10⁶-gram suites; the trade and its like-for-like oracle
    *    treatment are documented on the probe);
    *  - `duplicate`: stream-static probe of the staged base
    *    fingerprint index (the [[streamDeltaDedup]] device) — an
    *    arrival is a duplicate iff its normalized-text fingerprint
    *    already exists in the STANDING corpus, with the base keeper as
    *    the receipt;
    *  - `near_duplicate` (r13 verdict item 3): arrivals SURVIVING the
    *    three rungs above — and only those (LAZY SKETCH, r14: the
    *    ladder is first-drop, so an already-dropped arrival never pays
    *    the 128-perm sketch or the band probe; its near receipt is
    *    undefined at ingest — full lineage is the batch auditor's job)
    *    — sketch map-side (shingle→minhash→band, the native
    *    expressions) and probe the STAGED GROUPED base band index
    *    ([[lshBucketsDump]] — `q_stream_delta_lsh`'s static side) via a
    *    stateless stream-static join; colliding base members verify at
    *    signature-estimated Jaccard ≥ 0.7 in-row against the bucket
    *    entry (slim Option[Long] receipts ride the fold shuffle, never
    *    signature arrays), smallest verified base id as the receipt.
    *    Arrival-vs-arrival near-dups defer to compaction (the family's
    *    standing live-window/compaction split);
    *  - `scrubbed` rides as the independent flag (same PII regexes).
    * The band fan-out (≤ 16 rows per arrival) folds back to one verdict
    * row through a ZERO-STATE `flatMapGroupsWithState` keyed by
    * (doc_id, content hash) — so same-id arrivals with different
    * content in one batch keep their own verdicts: all of an arrival's
    * band rows land in its own micro-batch, so the fold emits
    * immediately and never stores state — state rows 0 forever
    * (spec-asserted), one slim per-arrival shuffle per trigger, cost ∝
    * surviving-arrival rate × band-bucket occupancy.
    * Hash oracle: the batch composition replayed over the delta slice
    * (training prefix included), the duplicate stage replaying the
    * base-probe rule and the near stage the base band replay RESTRICTED
    * to rung-surviving arrivals (the `asurv` CTE — the oracle encodes
    * the first-drop contract) — staged online auditing ≡ batch replay.
    */
  def streamAudit(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val w = TextAnalysis.qualityModelWeights(s, dir)
      // gram64 fingerprint probe, not a Set[String] (r14) — see
      // Decontam.evalGramProbe for the measured driver-memory class
      // this replaces; the fused probe early-exits on the first
      // colliding window
      val bc = s.sparkContext.broadcast(Decontam.evalGramProbe(s, dir))
      val contamUdf = udf { text: String =>
        graft.functions.Text.anyGramHashIn(text, Decontam.N, bc.value)
      }
      val fpIdx = Dedup.baseFpIndex(s, dir)
        .select($"text_hash", $"keep_id".as("base_keep"))
      val bucketsDump = lshBucketsDump(s, dir)
      sizeProbeShuffle(s, bucketsDump) // the delta-LSH probe convention
      val buckets = s.read.parquet(bucketsDump)
      val pred = when(TextAnalysis.qmGuard($"text"),
        TextAnalysis.qmMarginCol($"text", w) >= TextAnalysis.QmScale / 2)
        .otherwise(lit(false))
      // smallest colliding base member at est ≥ 0.7, verified IN-ROW
      // against the bucket entry's member list (the streamSemDedup
      // grouped-static-side device): the fold then reduces slim
      // Option[Long] receipts instead of receiving candidate SIGNATURE
      // arrays through the per-arrival shuffle — a partner colliding in
      // several bands re-verifies per band (128 long-compares each,
      // trivial) but no 1 KB sig array ever rides a shuffle row
      val nearUdf = udf { (sig: Seq[Long], members: Seq[org.apache.spark.sql.Row]) =>
        if (sig == null || members == null) None
        else {
          val a = sig.toArray
          var best = Option.empty[Long]
          members.foreach { m =>
            val id = m.getLong(0)
            if (best.forall(id < _) &&
                graft.functions.Text.minhashJaccard(a,
                  m.getSeq[Long](1).toArray) >= 0.7) best = Some(id)
          }
          best
        }
      }
      s.readStream.schema(docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(Dedup.isDelta($"doc_id") &&
          !$"source".isInCollection(Decontam.EvalSources))
        .select($"doc_id", $"source", coalesce($"text", lit("")).as("text"))
        .select($"doc_id", $"source", $"text",
          pred.as("q_ok"),
          contamUdf($"text").as("contam"),
          md5(graft.functions.Text.normalizeFast($"text")).as("text_hash"),
          TextAnalysis.piiHitCol($"text").cast("int").as("scrubbed"))
        .join(fpIdx, Seq("text_hash"), "left") // stream-static: stateless
        // LAZY SKETCH (r14): the ladder is first-drop — an arrival
        // already dropped by quality/decontam/exact-dup never reaches
        // the near rung, so it never pays the 128-perm sketch or the
        // band probe (the early-exit the production admission path
        // takes; its near receipt is undefined at ingest — the batch
        // auditor owns full lineage). Only survivors sketch.
        .withColumn("hashes", when($"q_ok" && !$"contam" &&
          $"base_keep".isNull, graft.functions.ShingleGramHashes($"text")))
        .withColumn("sig", when($"hashes".isNotNull && size($"hashes") > 0,
          graft.functions.MinhashSig($"hashes")))
        .withColumn("bands", when($"sig".isNotNull,
          graft.functions.MinhashBands($"sig")))
        .select($"doc_id", $"source", $"q_ok", $"contam", $"base_keep",
          $"scrubbed", $"sig", $"text_hash",
          posexplode_outer($"bands").as(Seq("band_idx", "band_hash")))
        .join(buckets, Seq("band_idx", "band_hash"), "left") // stream-static
        .select($"doc_id", $"source", $"q_ok", $"contam", $"base_keep",
          $"scrubbed", nearUdf($"sig", $"base_members").as("cand_near"),
          $"text_hash")
        .as[(Long, String, Boolean, Boolean, Option[Long], Int,
          Option[Long], String)]
        // key = (doc_id, text_hash): two same-id arrivals with
        // DIFFERENT content in one micro-batch get their own verdict
        // rows (an id-only key would nondeterministically mix their
        // gate fields); byte-identical same-batch re-sends collapse to
        // one verdict, the family's standing dedup semantics
        .groupByKey(r => (r._1, r._8))
        // NoTimeout is CORRECT here, not the r12 unbounded-state
        // anti-pattern (r15, verdict item 4's cost cut): the fold
        // below never calls state.update, so state CANNOT accumulate
        // (StreamingSpec asserts 0 state rows) and there is nothing a
        // timeout could ever evict — while EventTimeTimeout forced an
        // arrival-stamped watermark whose advance scheduled a SECOND
        // stateful micro-batch (state-store load + commit across every
        // partition) that processed nothing. One stateful cycle now.
        .flatMapGroupsWithState[Boolean,
          (Long, String, String, Option[Long], Option[Long], Int)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (key, it, _) =>
            // all band rows of an arrival fan out from one input row,
            // so they share its micro-batch and the fold is complete
            // at first sight: emit and store NOTHING
            val rs = it.toArray
            val h = rs.head
            // smallest verified base member across the band rows
            val near = rs.iterator.flatMap(_._7)
              .reduceOption(math.min(_, _))
            val verdict =
              if (!h._3) "quality"
              else if (h._4) "decontam"
              else if (h._5.isDefined) "duplicate"
              else if (near.isDefined) "near_duplicate"
              else "kept"
            Iterator.single((key._1, h._2, verdict, h._5, near, h._6))
        }
        .toDF("doc_id", "source", "verdict", "dup_of", "near_dup_of",
          "scrubbed")
    }

  /** Oracle for [[streamAudit]]: the shared [[Audit.auditCtesSql]]
    * composition restricted to the delta arrivals, with the duplicate
    * stage replaying the base-index probe (fingerprint ∈ standing
    * corpus, keeper = base keeper) instead of the batch row's
    * within-slice keeper rule, and the near stage replaying the base
    * BAND probe (arrival-vs-base collisions, any base id — the
    * standing-corpus receipt, not the batch row's within-slice
    * smaller-id rule) through the shared [[Audit.auditNearTailSql]].
    */
  val streamAuditSql: String = {
    val norm = "trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]',' ','g'),' +',' ','g'))"
    Audit.auditCtesSql(deltaPred = "AND doc_id % 5 = 0") + s""",
    base_fp AS (SELECT md5($norm) h, MIN(doc_id) keep_id
                FROM documents WHERE doc_id % 5 != 0 GROUP BY 1),
    asurv AS (SELECT a.doc_id FROM adocs a
              LEFT JOIN scored2 ss USING (doc_id)
              LEFT JOIN acont cc USING (doc_id)
              JOIN afp ff USING (doc_id)
              LEFT JOIN base_fp kk ON kk.h = ff.h
              WHERE ss.pred = 1 AND cc.doc_id IS NULL
                AND kk.keep_id IS NULL),
    anb AS (SELECT b.doc_id, b.band_idx, b.band_hash
            FROM bands b JOIN asurv USING (doc_id)),
    bnb AS (SELECT doc_id, band_idx, band_hash FROM bands
            WHERE doc_id % 5 != 0),
    acand AS (SELECT DISTINCT d.doc_id AS adoc, b.doc_id AS partner
              FROM anb d JOIN bnb b
                ON d.band_idx = b.band_idx
               AND d.band_hash = b.band_hash)""" + Audit.auditNearTailSql + s"""
    SELECT a.doc_id, a.source,
           CASE WHEN s2.pred IS NULL OR s2.pred = 0 THEN 'quality'
                WHEN c.doc_id IS NOT NULL THEN 'decontam'
                WHEN k.keep_id IS NOT NULL THEN 'duplicate'
                WHEN nr.near_of IS NOT NULL THEN 'near_duplicate'
                ELSE 'kept' END AS verdict,
           k.keep_id AS dup_of,
           nr.near_of AS near_dup_of,
           CAST(p.scrubbed AS INT) AS scrubbed
    FROM adocs a
    LEFT JOIN scored2 s2 USING (doc_id)
    LEFT JOIN acont c USING (doc_id)
    JOIN afp f2 USING (doc_id)
    LEFT JOIN base_fp k ON k.h = f2.h
    LEFT JOIN anear nr USING (doc_id)
    JOIN apii p USING (doc_id)"""
  }

  /** CONTINUOUS PII gate — `text_pii` run per arrival: every ingested
    * document is scanned for emails / IPv4s / long digit runs and
    * fingerprinted in REDACTED form BEFORE admission — the scrubbing
    * step a production trainer runs at ingest time rather than as a
    * corpus-wide sweep (the same gate family as
    * [[streamDecontam]] / [[streamTokensBpe]]). A stateless per-row
    * expression map, shared code with the batch op
    * ([[TextAnalysis.piiOn]]): no shuffle, no state store, no
    * broadcast — scales with arrival rate only. Emits the batch
    * contract verbatim — hash-matches `piiSql`: streaming ≡ batch.
    */
  def streamPii(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      TextAnalysis.piiOn(
        s.readStream.schema(docsRawSchema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir)
          .select($"doc_id", $"text"))
    }

  /** CONTINUOUS Count-Min Sketch — `text_cms`'s counter array maintained
    * as a streaming aggregation over the document ingest. CMS is LINEAR
    * (counters add under union — SketchSpec pins it exactly), which
    * makes its counters a textbook sum-mergeable streaming state:
    * explode words map-side, fan out ×4 hash rows, and ONE streaming
    * groupBy((r, bucket)) keeps the whole sketch live with 4096 state
    * rows TOTAL, forever, at any arrival rate — the fixed-size-state
    * frequency twin of `q_stream_approx_distinct`'s HLL cardinality.
    * Streaming counters ≡ batch counters ≡ the DuckDB HUGEINT replay
    * (same oracle), so the continuous sketch is hash-verified.
    */
  def streamCms(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark) { s =>
      import s.implicits._
      s.readStream.schema(docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(explode(graft.functions.Text.wordsFast($"text")).as("word"))
        .filter(length($"word") > 0)
        .select(posexplode(graft.functions.CmsBuckets($"word",
          TextAnalysis.CmsD, TextAnalysis.CmsBits)).as(Seq("r", "bucket")))
        .groupBy($"r", $"bucket").agg(count(lit(1)).as("c"))
    }

  /** Streaming session windows (complete mode), hash-matching the batch
    * `Windows.sessionWindowSql` oracle — the streaming path of the
    * merge-on-overlap session state machine.
    */
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame =
    // user-keyed session store: state cardinality ∝ ingest, so the
    // partition count sizes from the source (r20 — runToTableSized)
    runToTableSized(spark, "complete",
      sourceFileBytes(dir, "events.parquet")) { s =>
      import s.implicits._
      eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", $"session_window.start".as("session_start"),
          $"session_window.end".as("session_end"), $"n_events")
    }

  /** Distinct users per hop window over an UNBOUNDED stream — the
    * streaming twin of `q_slide_distinct`. Streaming aggregation forbids
    * `countDistinct` (distinct state is unbounded per group), so this
    * uses the streaming-native decomposition every production pipeline
    * uses: watermarked `dropDuplicates` on (user, window) — exact-once
    * state per distinct key, evicted by the watermark — followed by a
    * plain windowed count of the deduplicated rows. Hash-matches the
    * batch distinct-count oracle.
    */
  def streamSlideDistinct(spark: SparkSession, dir: String): DataFrame =
    // (user, window)-keyed dedup state ∝ ingest — size-adaptive parts
    runToTableSized(spark, "complete",
      sourceFileBytes(dir, "events.parquet")) { s =>
      import s.implicits._
      eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .select($"user_id", $"ts", window($"ts", "1 hour", "15 minutes").as("w"))
        .dropDuplicates("user_id", "w")
        .groupBy($"w")
        .agg(count(lit(1)).as("n_users"))
        .select($"w.start".as("window_start"), $"w.end".as("window_end"), $"n_users")
    }

  val streamSlideDistinctSql: String = """
    SELECT time_bucket(INTERVAL '15 minutes', ts) - i * INTERVAL '15 minutes' AS window_start,
           time_bucket(INTERVAL '15 minutes', ts) - i * INTERVAL '15 minutes' + INTERVAL '1 hour' AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) k(i)
    GROUP BY 1, 2"""

  /** SKETCH-distinct users per hop window over an unbounded stream — the
    * fixed-size-state form `q_slide_distinct` names as the 100 TB swap.
    * `approx_count_distinct`'s HLL buffer is mergeable streaming state:
    * O(1) bytes per window REGARDLESS of key cardinality, where
    * [[streamSlideDistinct]]'s exact dropDuplicates form keeps one state
    * row per distinct (user, window) — exact but linear. At an unbounded
    * user space the sketch form is the only one whose state survives;
    * this completes the exact→sketch ladder the batch rows
    * (`q_slide_distinct` → `q_approx_distinct`) document.
    *
    * Rows-only driver check (HLL estimates are engine-specific by
    * construction); StreamingSpec pins every per-window estimate within
    * HLL error of the exact batch distinct count and the window set
    * equal to the batch oracle's.
    */
  def streamApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark) { s =>
      import s.implicits._
      eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour", "15 minutes"))
        .agg(approx_count_distinct($"user_id").as("approx_users"))
        .select($"window.start".as("window_start"),
          $"window.end".as("window_end"), $"approx_users")
    }

  /** Stream-stream interval join: every (error, click) pair by the same
    * user within ±5 minutes, both sides unbounded streams. This is the
    * streaming twin of `q_range_join`'s band join: Spark keeps each
    * side's rows in the state store only within the watermark + the join
    * time bound (the BETWEEN condition is what lets it evict state — an
    * unconstrained stream-stream join would buffer forever), and emits a
    * match exactly once in append mode. Hash-matches the batch inner
    * interval-join oracle.
    */
  def streamRangeJoin(spark: SparkSession, dir: String): DataFrame =
    // stream-stream join buffers both sides' rows in user-keyed state
    // within the time bound — state ∝ ingest; size-adaptive parts
    runToTableSized(spark, "append",
      sourceFileBytes(dir, "events.parquet")) { s =>
      import s.implicits._
      val ev = eventsStream(s, dir)
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"ts".as("e_ts"))
        .withWatermark("e_ts", "1 hour")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      errors.join(clicks,
        expr("""user_id = c_user AND
                c_ts BETWEEN e_ts - INTERVAL 5 MINUTES AND e_ts + INTERVAL 5 MINUTES"""))
        .select($"event_id", $"user_id", $"e_ts", $"c_ts")
    }

  val streamRangeJoinSql: String = """
    SELECT e.event_id, e.user_id, e.ts AS e_ts, c.ts AS c_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    JOIN (SELECT user_id AS c_user, ts FROM events WHERE event_type = 'click') c
      ON e.user_id = c.c_user
     AND c.ts BETWEEN e.ts - INTERVAL 5 MINUTE AND e.ts + INTERVAL 5 MINUTE"""

  /** The LEFT OUTER form of [[streamRangeJoin]] — errors with NO click
    * within ±5 min still emit, with a null click timestamp, once the
    * watermark proves no match can still arrive (the semantics Spark
    * gates hardest: a null-side row may only be released when the join
    * state for its time range is provably complete). StreamingSpec pins
    * the release timing; here the full result hash-matches the batch
    * LEFT JOIN oracle.
    *
    * End-of-stream flush: a bounded replay ends before the watermark
    * passes the LAST rows' join bounds, which would hold their null
    * emissions in state forever (correct streaming behavior — the
    * stream "isn't over"). The dump therefore appends one far-future
    * sentinel per side on a reserved user (filtered back out of the
    * output): the reference's allowed-lateness domain closes windows the
    * same way — time, not end-of-input, releases results. Unbounded
    * deployments need no sentinel.
    */
  def streamRangeJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    val dump = sentinelEventsDump(spark, dir)
    val joined = runToTableSized(spark, "append",
      sourcePathBytes(dump)) { s =>
      import s.implicits._
      val ev = s.readStream.schema(eventsNormSchema).parquet(dump)
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"ts".as("e_ts"))
        .withWatermark("e_ts", "1 hour")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      // the sentinel filter must NOT live inside this streaming query:
      // Catalyst pushes a `user_id >= 0` predicate below the join AND
      // below both EventTimeWatermark nodes (inferring c_user >= 0 for
      // the build side too), which silently removes the sentinels before
      // the watermark operators see them — measured: final watermark
      // stuck at (last real error − 1h) and the tail's null rows held in
      // state forever. Filter on the materialized result instead.
      errors.join(clicks,
        expr("""user_id = c_user AND
                c_ts BETWEEN e_ts - INTERVAL 5 MINUTES AND e_ts + INTERVAL 5 MINUTES"""),
        "left_outer")
        .select($"event_id", $"user_id", $"e_ts", $"c_ts")
    }
    joined.filter(col("user_id") >= 0)
  }

  val streamRangeJoinOuterSql: String = """
    SELECT e.event_id, e.user_id, e.ts AS e_ts, c.ts AS c_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT user_id AS c_user, ts FROM events WHERE event_type = 'click') c
      ON e.user_id = c.c_user
     AND c.ts BETWEEN e.ts - INTERVAL 5 MINUTE AND e.ts + INTERVAL 5 MINUTE"""

  /** One event row for the stateful attribution job. */
  case class AttrEvent(user_id: Long, tsMicros: Long, event_id: Long,
    event_type: String, cents: Long)

  /** One attributed purchase emitted by the stateful job. */
  case class AttrOut(event_id: Long, user_id: Long,
    attributed_type: String, cents: Long)

  /** [[AttrEvent]] with its watermark tag attached (public: Catalyst's
    * generated deserializer must construct it). The EventTimeTimeout
    * checker requires the watermark-tagged COLUMN to reach the stateful
    * operator — dropping it after `withWatermark` strips the tag.
    */
  case class AttrEventWm(user_id: Long, tsMicros: Long, event_id: Long,
    event_type: String, cents: Long, wm_ts: java.sql.Timestamp)

  /** The stateful fold behind [[streamAttribution]], factored out so
    * StreamingSpec can drive it through its own multi-batch source +
    * checkpoint restarts. State per user = newest touch BY EVENT TIME
    * seen so far: within a batch the (ts, side, event_id) sort makes
    * the >= guard a no-op (rows arrive ascending — identical to the
    * bounded-replay hash oracle), and across batches it means a LATE
    * touch with an older event time can neither retro-credit an
    * already-emitted purchase (append output is immutable) nor regress
    * the state future purchases attribute against.
    *
    * State TTL (r12 verdict item 3): the operator only honors a 7-day
    * lookback — a touch older than that attributes as 'direct' — so an
    * EventTimeTimeout at touch_ts + 7 days is SEMANTICS-PRESERVING by
    * construction for any watermark-disciplined stream (the evicted
    * state could only ever have produced 'direct' again; StreamingSpec
    * pins exactly that equivalence). State is therefore ∝ users with a
    * touch inside the lookback horizon, not lifetime users. The fold
    * defines its own 1-hour watermark on tsMicros (EventTimeTimeout
    * requires one; the tag rides through as [[AttrEventWm]], so
    * callers' schemas are unchanged) — WITH the standard watermark
    * trade the r12 NoTimeout form did not have: an event arriving more
    * than the allowed lateness behind the watermark is DROPPED by the
    * stateful operator's late-row filter rather than folded (a beyond-
    * lateness purchase no longer emits; a beyond-lateness touch no
    * longer advances state — the same contract as the sessionizer's
    * timeout form, and the delay is the knob a deployment tunes to its
    * lateness SLO). A bounded replay processes everything in one
    * trigger against a zero watermark, and its final watermark (max ts
    * − 1 h) never passes an in-lookback touch's horizon — the hash
    * oracle is unchanged.
    */
  def attributionFold(ev: Dataset[AttrEvent]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import ev.sparkSession.implicits._
    val sevenDaysMicros = 7L * 86400L * 1000000L
    ev.withColumn("wm_ts", timestamp_micros(col("tsMicros")))
      .withWatermark("wm_ts", "1 hour")
      .as[AttrEventWm]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Option[(Long, String)], AttrOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed the stored touch's 7-day horizon: the
            // state could only attribute 'direct' from here on — which
            // is exactly what NO state attributes. Evict.
            state.remove()
            Iterator.empty
          } else {
            var last = state.getOption.flatten
            val out = Vector.newBuilder[AttrOut]
            // total order (ts, side, event_id): touches sort before
            // purchases at the same instant — the batch oracle's order
            rows.toSeq.sortBy(e =>
              (e.tsMicros, if (e.event_type == "purchase") 1 else 0, e.event_id))
              .foreach { e =>
                if (e.event_type != "purchase") {
                  if (last.forall(_._1 <= e.tsMicros))
                    last = Some((e.tsMicros, e.event_type))
                } else out += AttrOut(e.event_id, e.user_id,
                  last match {
                    case Some((ts, tp)) if ts >= e.tsMicros - sevenDaysMicros => tp
                    case _ => "direct"
                  }, e.cents)
              }
            // a touch-less user (purchases only) needs NO state row:
            // absent state already attributes 'direct', the only verdict
            // it could produce — and timeouts are cleared per invocation,
            // so the horizon is re-armed on every sighting
            last.foreach { lt =>
              state.update(Some(lt))
              state.setTimeoutTimestamp(math.max(
                (lt._1 + sevenDaysMicros) / 1000L,
                state.getCurrentWatermarkMs + 1))
            }
            out.result().iterator
          }
      }.toDF()
  }

  /** CONTINUOUS last-touch attribution — `q_attribution` as a stateful
    * streaming ENRICHMENT (the pattern behind online feature joins and
    * real-time credit assignment): per user, `flatMapGroupsWithState`
    * keeps only the newest touch (ts, type) as state — O(1) bytes per
    * user, no window buffering — and each arriving purchase emits its
    * attribution immediately. Events are sorted (ts, side, event_id)
    * WITHIN each micro-batch before folding, so a bounded replay
    * reproduces the batch oracle exactly; across batches the online
    * semantics hold (a touch that arrives after its purchase was
    * processed cannot retro-attribute — the same contract any
    * at-emission-time attributor has).
    */
  def streamAttribution(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      attributionFold(eventsStream(s, dir)
        .select($"user_id", unix_micros($"ts").as("tsMicros"), $"event_id",
          $"event_type",
          coalesce(round($"value" * 100).cast("long"), lit(0L)).as("cents"))
        .as[AttrEvent])
    }

  /** Event-level twin of `Behavior.qAttributionSql` (same carried
    * window, rows instead of the rollup).
    */
  val streamAttributionSql: String = """
    WITH u AS (
      SELECT user_id, ts, 0 AS side, event_id, event_type AS touch_type,
             CAST(NULL AS BIGINT) AS cents
      FROM events WHERE event_type != 'purchase'
      UNION ALL
      SELECT user_id, ts, 1 AS side, event_id, CAST(NULL AS VARCHAR),
             CAST(coalesce(round(value * 100), 0) AS BIGINT)
      FROM events WHERE event_type = 'purchase'),
    carried AS (
      SELECT side, event_id, user_id, cents, ts,
             last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
               OVER w AS t_ts,
             last_value(CASE WHEN side = 0 THEN touch_type END IGNORE NULLS)
               OVER w AS t_type
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT event_id, user_id,
           CASE WHEN t_ts IS NOT NULL AND t_ts >= ts - INTERVAL 7 DAY
                THEN t_type ELSE 'direct' END AS attributed_type,
           cents
    FROM carried WHERE side = 1"""

  /** One member of a standing LSH bucket: (doc_id, minhash signature). */
  case class LshMember(doc_id: Long, sig: Seq[Long])

  /** One arriving band row with its bucket's standing members attached
    * (public: Catalyst's generated deserializer must construct it).
    * `ingest_ts` is the arrival's processing-time stamp — the watermark
    * column driving quiet-bucket TTL eviction.
    */
  case class BandArrival(band_idx: Int, band_hash: Long,
    doc_id: Long, sig: Seq[Long], base_members: Seq[LshMember],
    ingest_ts: java.sql.Timestamp)

  /** The probe+state topology behind [[streamDeltaLsh]], factored so the
    * spec can drive it with its own multi-batch document stream and a
    * synthetic base index. `docs` is a STREAMING documents DF; `base`
    * is the standing (doc_id, sig, bands) index.
    */
  private[graft] def deltaLshTopology(docs: DataFrame, base: DataFrame,
      bucketTtl: String = DeltaLshBucketTtl): DataFrame =
    deltaLshTopologyOnBuckets(docs, groupBandBuckets(base), bucketTtl)

  /** (band_idx, band_hash) → member list grouping of a (doc_id, sig,
    * bands) index — the serving-side layout of the standing LSH index.
    * [[streamDeltaLsh]] STAGES this grouped form through DumpCache (one
    * groupBy per source generation instead of per query build — the
    * same staged-artifact move as the IVF serving index); the spec's
    * synthetic bases group inline via [[deltaLshTopology]].
    */
  private[graft] def groupBandBuckets(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    base
      .select($"doc_id", $"sig",
        posexplode($"bands").as(Seq("band_idx", "band_hash")))
      .groupBy($"band_idx", $"band_hash")
      .agg(collect_list(struct($"doc_id", $"sig")).as("base_members"))
  }

  /** Default quiet-bucket TTL for [[deltaLshTopologyOnBuckets]].
    * OPERATING CONTRACT: the TTL must be ≥ the index compaction cadence
    * — a bucket silent for a full TTL has every live member folded into
    * a published generation ([[Dedup.lshCommit]]), so dropping its
    * state loses nothing. Long enough that the harness's single-run
    * queries never time out mid-stream.
    */
  private[graft] val DeltaLshBucketTtl = "2 hours"

  /** One bucket's per-micro-batch step, factored pure so the eviction
    * spec can pin it without state-store metrics: processes this
    * batch's arrivals against the bucket's standing base entry and its
    * live (post-compaction) members, returning the surviving member
    * list, the emissions, and the max ingest stamp (the TTL anchor).
    *
    * Two moves bound the state (the r11 verdict's unbounded-ingest
    * gap):
    *  - OVERLAP-SKIP: a live member that also appears in the probed
    *    generation's `base_members` is matched through the base side
    *    only — never twice;
    *  - GENERATION-HANDOFF EVICTION: that same membership is the
    *    compaction receipt — once a member is visible in the bucket's
    *    base entry, the staged index owns it and live state drops it.
    * Live state therefore holds only members arrived SINCE the last
    * published generation, regardless of stream lifetime.
    */
  private[graft] def lshBucketStep(bandIdx: Int, rows: Iterator[BandArrival],
      members0: Seq[LshMember]): (Seq[LshMember], Vector[(Long, Long, Double)], Long) = {
    import graft.functions.Text
    var members = members0
    var maxIngestMs = Long.MinValue
    val out = Vector.newBuilder[(Long, Long, Double)]
    def tryEmit(a: Long, sa: Array[Long], b: Long, sb: Array[Long]): Unit =
      if (a != b) {
        val est = Text.minhashJaccard(sa, sb)
        if (est >= 0.7) {
          val (ba, bb) = (Text.bandHashesFromSig(sa), Text.bandHashesFromSig(sb))
          // minimal colliding band owns the emission
          if (ba.indices.find(i => ba(i) == bb(i)).contains(bandIdx))
            out += ((math.min(a, b), math.max(a, b), est))
        }
      }
    rows.foreach { r =>
      val sa = r.sig.toArray
      val baseIds = r.base_members.iterator.map(_.doc_id).toSet
      maxIngestMs = math.max(maxIngestMs, r.ingest_ts.getTime)
      r.base_members.foreach(m => tryEmit(r.doc_id, sa, m.doc_id, m.sig.toArray))
      members.foreach(m =>
        if (!baseIds.contains(m.doc_id)) // overlap-skip
          tryEmit(r.doc_id, sa, m.doc_id, m.sig.toArray))
      // generation-handoff eviction, then admit the arrival
      members = members.filterNot(m => baseIds.contains(m.doc_id)) :+
        LshMember(r.doc_id, r.sig)
    }
    (members, out.result(), maxIngestMs)
  }

  /** Quiet-bucket TTL rides the INGEST-TIME watermark (the
    * `exactOnceByKey` device: stamp arrivals with `current_timestamp()`
    * and watermark that column), NOT `ProcessingTimeTimeout`: a
    * processing-time timeout makes the operator report "run another
    * batch" unconditionally, so a `Trigger.AvailableNow` replay would
    * spin empty micro-batches forever instead of terminating (measured:
    * 4700+ empty batches before this was caught). The event-time
    * timeout only fires while the watermark advances — i.e. while data
    * still flows — which is exactly the production condition under
    * which quiet buckets must eventually drop.
    */
  private[graft] def deltaLshTopologyOnBuckets(docs: DataFrame,
      baseBuckets: DataFrame,
      bucketTtl: String = DeltaLshBucketTtl): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.functions.{MinhashBands, MinhashSig, ShingleGramHashes}
    val arriving = docs
      .select($"doc_id", ShingleGramHashes($"text").as("hashes"))
      .filter(size($"hashes") > 0)
      .select($"doc_id", MinhashSig($"hashes").as("sig"))
      .select($"doc_id", $"sig", posexplode(MinhashBands($"sig"))
        .as(Seq("band_idx", "band_hash")))
      .join(baseBuckets, Seq("band_idx", "band_hash"), "left") // stream-static
      .select($"band_idx", $"band_hash", $"doc_id", $"sig",
        coalesce($"base_members",
          array().cast("array<struct<doc_id:bigint,sig:array<bigint>>>"))
          .as("base_members"),
        current_timestamp().as("ingest_ts"))
      // NONZERO delay (r14 review): with 0 seconds, two triggers
      // resolving to the same batch-timestamp millisecond late-filter
      // the second trigger's fresh arrivals before the fold — the
      // annProbeServeFold silent-drop class. 200 ms defeats the
      // same-millisecond tie while staying far under every TTL this
      // topology runs with (spec 1 s, cycle 10 s, production 2 h);
      // eviction shifts by the same 200 ms, semantics unchanged.
      .withWatermark("ingest_ts", "200 milliseconds")
      .as[BandArrival]
    arriving
      .groupByKey(r => (r.band_idx, r.band_hash))
      .flatMapGroupsWithState[Seq[LshMember], (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((bandIdx, _), rows, state) =>
          if (state.hasTimedOut) {
            // quiet-bucket TTL: every live member has sat out at least
            // one full compaction cadence (the TTL contract), so the
            // published index already carries them — drop the bucket
            state.remove()
            Iterator.empty
          } else {
            val (members, out, maxIngestMs) =
              lshBucketStep(bandIdx, rows, state.getOption.getOrElse(Seq.empty))
            state.update(members)
            state.setTimeoutTimestamp(maxIngestMs, bucketTtl)
            out.iterator
          }
      }
      .toDF("doc_id_a", "doc_id_b", "est_jaccard")
  }

  /** The GROUPED bucket layout staged once per source generation: the
    * static side of the stream-static probe is then a plain parquet
    * read per query, instead of re-running the explode+groupBy at every
    * build. A compaction ([[Dedup.lshCommit]]) publishes the next
    * generation the same way; the stream adopts it on restart.
    */
  private[graft] def lshBucketsDump(spark: SparkSession, dir: String): String =
    graft.sources.DumpCache.ensure(
      graft.sources.DumpCache.dirFor("graft_base_lsh_buckets", dir, "documents.parquet")) { tmp =>
      groupBandBuckets(Dedup.baseMinhashIndex(spark, dir))
        .write.mode("overwrite").parquet(tmp)
    }

  /** CONTINUOUS near-dup detection for an ingest stream — the LSH twin
    * of `q_stream_delta_dedup`'s exact gate, and the streaming form of
    * `dedup_delta_lsh`: arriving documents sketch map-side (the native
    * shingle→minhash→band expressions), probe the STAGED base band
    * index via a stateless stream-static join, and catch new-vs-new
    * pairs through per-bucket `flatMapGroupsWithState`.
    *
    * BOUNDED STATE (the r11 verdict's last streaming gap, closed):
    * state holds only members arrived since the last published index
    * generation. The compactor is the batch `dedup_delta_lsh_commit`
    * job ([[Dedup.lshCommit]]): it folds arrivals into the next staged
    * band index exactly like `dedup_delta_commit` folds fingerprints,
    * and the stream picks the new generation up on its next restart
    * from checkpoint (state survives — pinned by the restart spec).
    * Eviction then happens two ways ([[lshBucketStep]]):
    * presence in the probed generation's bucket entry is the
    * compaction receipt (handoff eviction, with overlap-skip keeping
    * emissions exactly-once through the swap), and quiet buckets drop
    * whole via a processing-time TTL whose contract is TTL ≥
    * compaction cadence. StreamingSpec drives a feed→compact→restart
    * cycle and shows the state-row plateau; at a continuous 100 TB
    * ingest, live state is one compaction-window of arrivals, not the
    * stream's lifetime.
    *
    * Exactly-once pair emission WITHOUT a second stateful dedup op
    * (chaining one after flatMapGroupsWithState is not streaming-legal):
    * a colliding pair is emitted only by its MINIMAL colliding band —
    * recomputable from the two signatures alone at emission time, so
    * every bucket applies the same rule independently and exactly one
    * emits. Output (normalized pair + signature-estimated Jaccard ≥
    * 0.7) equals the batch `dedup_delta_lsh` contract, so the SAME
    * DuckDB sketch replay hash-checks the continuous form.
    *
    * No stage dominates the wall: at the 100× fixture the source is
    * ~1 s, the map-side sketch +16 s, the band-index join +10 s and the
    * verify fold with its state +12-15 s, each at its contract cost
    * (decades_r18 Section C, bench_raw/r18/delta_lsh_probe_r18.jsonl).
    */
  def streamDeltaLsh(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      val bucketsDump = lshBucketsDump(s, dir)
      sizeProbeShuffle(s, bucketsDump)
      val docs = s.readStream.schema(docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter($"doc_id" % 5 === 0)
      deltaLshTopologyOnBuckets(docs, s.read.parquet(bucketsDump))
    }

  /** Size the harness session's shuffle partitions from a staged probe
    * index's ON-DISK bytes: AQE is disabled for stateful streaming
    * queries, so the static side of a big stream-static sort-merge join
    * sorts into whatever `spark.sql.shuffle.partitions` says — the
    * harness floor of 8 is right for the per-query suite (the state
    * store commits once per partition per batch, and the gate-SF index
    * BROADCASTS anyway) but makes a multi-GB index spill its sort (the
    * 100× fixture's 4.5 GB grouped band index into 8 partitions inside
    * one executor-sized heap). ×3 for parquet→in-flight row expansion,
    * 128 MiB target per task (the GraftConfig spill rule of thumb),
    * capped like [[graft.GraftConfig.shufflePartitionsFor]]. Stateful
    * queries pin state partitioning from the checkpoint's OWN metadata,
    * so a fresh-checkpoint harness run simply adopts the value and a
    * restarted one keeps its original — the setting is safe across the
    * family's restart specs.
    */
  private def sizeProbeShuffle(s: SparkSession, dumpDir: String): Unit = {
    val bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(
      new java.io.File(dumpDir))
    val parts = math.min(10000L, math.max(8L, 3L * bytes / (128L << 20) + 1L))
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    // the grouped index is WIDE-NESTED (each bucket row holds a member
    // list of 128-long signatures, and hot buckets hold thousands of
    // members): at the default 4096-row columnar batch a handful of hot
    // buckets put hundreds of MB in one reader batch per scan task —
    // 32 concurrent tasks then OOM a bounded heap (observed at the
    // 4.5 GB 100× index). 256 rows caps the batch at ~1/16 of that
    // with no measurable scan cost on the slim-SF indexes.
    s.conf.set("spark.sql.parquet.columnarReaderBatchSize", "256")
  }

  /** Staged IVF serving index: the deterministic Lloyd's codebook plus
    * the cell-assigned corpus (vec_id, cell, embedding, nrm), persisted
    * once per source generation through DumpCache — the artifact an
    * online similarity service loads, while training stays an offline
    * batch job. [[streamAnnProbe]] only ever reads it back.
    */
  private[graft] def ivfIndexDump(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val base = graft.sources.DumpCache.dirFor(
      "graft_ivf_index", dir, "embeddings.parquet")
    graft.sources.DumpCache.ensure(base) { tmp =>
      val (codebook, _) = Similarity.kmeansCodebook(spark, dir)
      codebook.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.parquet(s"$tmp/codebook")
      val bc = spark.sparkContext.broadcast(codebook)
      val cellUdf = udf((v: Seq[Float]) =>
        Similarity.nearestCell(v.toArray, bc.value)._1)
      // partitioned BY CELL: the layout an online serving reader prunes
      // by — at corpus scale a per-trigger foreachBatch collects the
      // batch's (few) probed cells and filters the scan to exactly those
      // partitions' files; the declarative gate query reads it whole
      graft.sources.Tables.embeddings(spark, dir)
        .select($"vec_id", cellUdf($"embedding").as("cell"), $"embedding",
          graft.functions.Vectors.norm2($"embedding").as("nrm"))
        .write.partitionBy("cell").parquet(s"$tmp/corpus")
      // parquet wrote its _SUCCESS markers inside the two subdirs; the
      // dump-level marker is what DumpCache's atomic publish checks
      new java.io.File(tmp, "_SUCCESS").createNewFile()
    }
    base
  }

  /** CONTINUOUS similarity serving — `ann_ivf` split into its production
    * shape: the index (codebook + cell-assigned corpus) is TRAINED
    * OFFLINE and staged ([[ivfIndexDump]]); arriving query vectors
    * probe it as an unbounded stream. Per micro-batch: probe-cell
    * fan-out against the broadcast codebook (same L2/tie rule as the
    * batch index, shared code), a STATELESS stream-static equi-join on
    * cell (each corpus vector lives in exactly one cell, so no dedup is
    * needed), exact cosine rescore, and a one-shot per-query top-k emit
    * through `flatMapGroupsWithState` (streaming forbids rank windows;
    * the group state marks a query as served — at-most-once serving
    * within the marker TTL, [[annProbeServeFold]]'s bounded-state
    * contract). Output is column-identical to `ann_ivf`, so the
    * SAME DuckDB oracle — the full training replay — hash-checks
    * staged-index online serving ≡ from-scratch batch train+probe.
    */
  def streamAnnProbe(spark: SparkSession, dir: String,
      nprobe: Int = 3, topK: Int = 5): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      val idx = ivfIndexDump(s, dir)
      val corpus = s.read.parquet(s"$idx/corpus")
      val codebook = s.read.parquet(s"$idx/codebook")
        .select($"cell", $"centroid").as[(Int, Seq[Double])].collect()
        .sortBy(_._1).map(_._2.toArray)
      val bc = s.sparkContext.broadcast(codebook)
      val probeUdf = udf((v: Seq[Float]) =>
        Similarity.probeCells(v.toArray, bc.value, nprobe))
      val embSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      val queries = s.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"embedding".as("qe"),
          graft.functions.Vectors.norm2($"embedding").as("qn"),
          explode(probeUdf($"embedding")).as("cell"))
      annProbeServeFold(
        queries.join(corpus, Seq("cell")) // stream-static: stateless
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"), $"cell",
            (graft.functions.Vectors.dot($"qe", $"embedding") /
              ($"qn" * $"nrm")).as("cos"))
          .as[(Long, Long, Int, Double)], topK)
    }

  /** Default served-marker TTL for [[annProbeServeFold]], in arrival-
    * clock milliseconds. OPERATING CONTRACT (the [[DeltaLshBucketTtl]]
    * form): at-most-once serving is guaranteed per TTL window — a query
    * id quiet for a full TTL drops its marker, so a replay of that id
    * arriving LATER than the TTL is served again. Long enough that the
    * harness's single-run queries never evict mid-stream; a production
    * dedup horizon is the client retry window.
    */
  private[graft] val AnnProbeMarkerTtlMs = 30L * 60L * 1000L

  /** The at-most-once serve fold behind [[streamAnnProbe]], factored so
    * StreamingSpec can drive it through its own multi-batch source and
    * synthetic clock. The Boolean state row marks a query id as served;
    * an arrival-stamped EventTimeTimeout (the [[exactOnceByKey]] /
    * delta-LSH quiet-bucket device: `current_timestamp()` is batch-
    * time, monotone across triggers — NOT ProcessingTimeTimeout, whose
    * always-true shouldRunAnotherBatch spins AvailableNow replays in
    * no-data batches forever, measured before this form) evicts the
    * marker once the id has been quiet for the TTL, re-armed at every
    * sighting. r12's NoTimeout held every marker FOREVER —
    * lifetime-linear state on an unbounded query stream, the same
    * unbounded-ingest-state class as r11's delta-LSH finding. State is
    * now ∝ query ids in flight within one TTL window, not lifetime
    * ids; a bounded replay (one trigger, no quiet period) cannot
    * evict, so the hash oracle is unchanged.
    */
  private[graft] def annProbeServeFold(
      scored: Dataset[(Long, Long, Int, Double)], topK: Int = 5,
      markerTtlMs: Long = AnnProbeMarkerTtlMs,
      arrivalTs: org.apache.spark.sql.Column = current_timestamp()): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import scored.sparkSession.implicits._
    scored
      .toDF("query_id", "neighbor_id", "cell", "cos")
      .withColumn("arrival_ts", arrivalTs)
      // a NONZERO delay: with 0 seconds, two triggers resolving to the
      // same batch-timestamp millisecond would late-filter the second
      // trigger's FRESH query ids (silent drop, not duplicate
      // suppression — r13 ADVICE); 5 s is noise against the 30-min TTL
      // and arrival stamps are batch-monotone, so nothing real is late
      .withWatermark("arrival_ts", "5 seconds")
      .as[(Long, Long, Int, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, Long, Int, Double, Int)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) { // quiet for a full TTL: evict marker
            state.remove()
            Iterator.empty
          } else {
            val rs = rows.toSeq
            // timeouts clear per invocation — re-arm at (newest sighting
            // + TTL); the max guard keeps the set timestamp ahead of the
            // current watermark, as EventTimeTimeout requires
            val timeoutAt = math.max(
              rs.iterator.map(_._5.getTime).max + markerTtlMs,
              state.getCurrentWatermarkMs + 1)
            if (state.exists) { // duplicate within TTL: suppress
              state.setTimeoutTimestamp(timeoutAt)
              Iterator.empty
            } else {
              state.update(true)
              state.setTimeoutTimestamp(timeoutAt)
              rs.sortBy(r => (-r._4, r._2)).take(topK)
                .zipWithIndex.iterator
                .map { case ((q, n, c, cos, _), i) => (q, n, c, cos, i + 1) }
            }
          }
      }
      .toDF("query_id", "neighbor_id", "cell", "cos", "rank")
  }

  /** CONTINUOUS semantic decontamination — `decontam_embed` run per
    * arrival: every ingested embedding is scored against the BROADCAST
    * eval-suite vectors before admission, the semantic member of the
    * streaming gate family ([[streamDecontam]] verbatim n-grams,
    * [[streamQualityModel]] the trained gate, [[streamPii]] scrubbing).
    * Fully STATELESS: the per-vector aggregates (hit count, best
    * cosine, min-eval-id witness) are computed inside the arriving row
    * against the whole broadcast suite — no shuffle, no state store,
    * scales with arrival rate × |eval| only (and the batch row's
    * documented LSH/PQ prescreen swap applies unchanged at 10⁵-eval
    * scale). Measured at the real contract (r16): on the fixed-eval
    * 100× fixture — |eval| held at the base suite while the corpus
    * scales 100×, the production shape — this exact gate runs
    * 2.7-6.6 s; the 100×-suite-map ~134 s number is the corpus-scaled
    * fixture's stress case, where |eval| grows 100× too
    * (decades_r16 Section D). Per-pair arithmetic is the SAME sequential double fold as
    * the batch expressions (ascending-index dot, sqrt norm, one
    * division), so the gate emits the batch contract verbatim —
    * hash-matches `embedDecontamSql`: streaming ≡ batch.
    */
  def streamEmbedDecontam(spark: SparkSession, dir: String,
      threshold: Double = 0.30, evalMod: Long = 50L): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      // the SAME loader + per-row fold as the batch row
      // ([[Decontam.embedGate]] — since r13 the batch row runs this
      // fold too, so streaming ≡ batch is shared-code, not twin-code)
      val embSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      Decontam.embedGate(
        s.readStream.schema(embSchema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
          .filter($"vec_id" % evalMod =!= 0)
          .select($"vec_id", $"embedding"),
        Decontam.evalVectors(s, dir, evalMod), threshold)
    }

  /** Staged eval-suite LSH bucket index for the CONTINUOUS semantic
    * decontam gate: (bucket, eval_id, embedding, norm) rows of the
    * zero-norm-filtered eval slice under the SAME hyperplane keys as
    * the batch prescreen (`decontam_embed_lsh` — seed, tables, and
    * [[Similarity.lshBitsFor]] key width all shared, so streamed and
    * batch candidates are the same set by construction). Published once
    * per suite generation through DumpCache — the artifact an ingest
    * gate loads; [[streamEmbedDecontamLsh]] only ever reads it back.
    */
  private[graft] def evalLshIndexDump(spark: SparkSession, dir: String,
      evalMod: Long = 50L, tables: Int = 16): String = {
    import spark.implicits._
    val base = graft.sources.DumpCache.dirFor(
      s"graft_eval_lsh_m${evalMod}_t$tables", dir, "embeddings.parquet")
    graft.sources.DumpCache.ensure(base) { tmp =>
      val bits = Similarity.lshBitsFor(
        graft.sources.Tables.embeddings(spark, dir).count())
      val keyer = graft.functions.Vectors.lshKeys(
        dim = 64, tables = tables, bits = bits)
      graft.sources.Tables.embeddings(spark, dir)
        .filter($"vec_id" % evalMod === 0)
        .select($"vec_id".as("eval_id"), $"embedding".as("ee"),
          graft.functions.Vectors.norm2($"embedding").as("en"),
          explode(keyer($"embedding")).as("bucket"))
        .filter($"en" > 0)
        .write.mode("overwrite").parquet(tmp)
    }
    base
  }

  /** CONTINUOUS semantic decontamination at 10⁵-EVAL-SUITE SCALE
    * (`q_stream_decontam_embed_lsh`) — the LSH prescreen the exact
    * gate's scaladoc used to defer to in prose (r14 verdict item 3, now
    * code): [[streamEmbedDecontam]] folds every arrival against the
    * WHOLE broadcast suite (|eval| dots per arrival — right for a
    * benchmark-sized suite, wrong at 10⁵ vectors), while this gate
    * probes the STAGED eval bucket index ([[evalLshIndexDump]]) with
    * the arrival's 16 hyperplane keys: a stateless stream-static
    * equi-join on the bucket, the exact cosine verified INSIDE the
    * join projection (only at-threshold candidates ever reach a
    * shuffle — the r14 mm_simhash lesson), and a one-shot per-arrival
    * fold that dedups multi-table collisions and emits the batch
    * aggregates. Per arrival the work drops from |eval| dots to
    * (bucket-mates across 16 tables) dots.
    *
    * Same HONESTY CONTRACT as the batch twin (`decontam_embed_lsh`,
    * whose scaladoc states it): an LSH prescreen for cosine has false
    * negatives, so this ships as its OWN row, never a silent swap
    * inside `q_stream_decontam_embed`; every emitted flag is
    * exact-verified (precision 1.0, HygieneSpec), recall is measured
    * against the exact gate, and the whole operator replays
    * bit-for-bit in DuckDB — the batch prescreen's own oracle, since
    * staged-index online gating ≡ the batch replay at the gate SF.
    * At-most-once emission per vec_id within the marker TTL
    * ([[annProbeServeFold]]'s bounded-state contract — Boolean marker,
    * arrival-stamped EventTimeTimeout eviction).
    */
  def streamEmbedDecontamLsh(spark: SparkSession, dir: String,
      threshold: Double = 0.30, evalMod: Long = 50L,
      tables: Int = 16): DataFrame =
    runToTable(spark, mode = "append") { s =>
      import s.implicits._
      val idx = evalLshIndexDump(s, dir, evalMod, tables)
      val evalBuckets = s.read.parquet(idx)
      val bits = Similarity.lshBitsFor(
        graft.sources.Tables.embeddings(s, dir).count())
      val keyer = graft.functions.Vectors.lshKeys(
        dim = 64, tables = tables, bits = bits)
      val embSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      val arrivals = s.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .filter($"vec_id" % evalMod =!= 0)
        .select($"vec_id", $"embedding".as("ce"),
          graft.functions.Vectors.norm2($"embedding").as("cn"),
          explode(keyer($"embedding")).as("bucket"))
        .filter($"cn" > 0)
      val scored = arrivals.join(evalBuckets, Seq("bucket"))
        .select($"vec_id", $"eval_id",
          (graft.functions.Vectors.dot($"ce", $"ee") /
            ($"cn" * $"en")).as("cos"))
        .filter($"cos" >= threshold)
      decontamGateFold(scored.as[(Long, Long, Double)])
    }

  /** The per-arrival aggregate fold behind [[streamEmbedDecontamLsh]],
    * factored so StreamingSpec can drive it through its own multi-batch
    * source: dedup the arrival's (eval_id → cos) candidate hits across
    * the 16 tables (a pair colliding in several buckets carries the
    * IDENTICAL cosine, so keep-first is exact), then emit the batch
    * twin's aggregates — hit count, best cosine, min-eval witness.
    * State is [[annProbeServeFold]]'s at-most-once Boolean marker with
    * the same arrival-stamped EventTimeTimeout TTL eviction: bounded by
    * ids in flight within one TTL window, and a bounded replay cannot
    * evict, so the hash oracle is unchanged.
    */
  private[graft] def decontamGateFold(
      scored: Dataset[(Long, Long, Double)],
      markerTtlMs: Long = AnnProbeMarkerTtlMs,
      arrivalTs: org.apache.spark.sql.Column = current_timestamp()): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import scored.sparkSession.implicits._
    scored
      .toDF("vec_id", "eval_id", "cos")
      .withColumn("arrival_ts", arrivalTs)
      // nonzero delay for the same same-millisecond-trigger hazard as
      // annProbeServeFold (r13 ADVICE there)
      .withWatermark("arrival_ts", "5 seconds")
      .as[(Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (vid, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rs = rows.toSeq
            val timeoutAt = math.max(
              rs.iterator.map(_._4.getTime).max + markerTtlMs,
              state.getCurrentWatermarkMs + 1)
            if (state.exists) { // replay within TTL: suppress
              state.setTimeoutTimestamp(timeoutAt)
              Iterator.empty
            } else {
              state.update(true)
              state.setTimeoutTimestamp(timeoutAt)
              val hits = scala.collection.mutable.LongMap.empty[Double]
              rs.foreach { case (_, eid, cos, _) =>
                if (!hits.contains(eid)) hits(eid) = cos
              }
              var best = Double.NegativeInfinity
              var witness = Long.MaxValue
              hits.foreach { case (eid, cos) =>
                if (cos > best) best = cos
                if (eid < witness) witness = eid
              }
              Iterator.single((vid, hits.size.toLong, best, witness))
            }
          }
      }
      .toDF("vec_id", "n_eval_hits", "best_cos", "witness_id")
  }

  /** CONTINUOUS semantic near-dup admission gate — SemDeDup at ingest
    * time, completing the continuous-dedup modalities (exact hash =
    * `q_stream_delta_dedup`, substring = `q_stream_substring`,
    * MinHash-LSH = `q_stream_delta_lsh`, semantic = this): every
    * arriving vector assigns to its FROZEN learned cell (broadcast
    * staged codebook, shared [[Similarity]] tie rule) and takes the
    * keep-first verdict against the PUBLISHED base generation's cell
    * members — dropped iff any smaller-id staged member sits within τ.
    *
    * Deliberately STATELESS (0 state rows, spec-asserted): the gate
    * checks arrivals against the standing corpus only; arrival-vs-
    * arrival pairs are DEFERRED TO COMPACTION — and the compactor is
    * exactly the batch `dedup_semdedup_delta` (fold the window's
    * arrivals into the next generation's verdicts, keep-first
    * inversions included). The same live-window/compaction split
    * `q_stream_delta_lsh` implements with per-bucket state, taken at
    * the other end of the trade: no state to bound, at the cost of
    * within-window pairs waiting one compaction cadence. Per arrival:
    * one broadcast codebook scan + the probed CELL's staged members
    * (stream-static equi-join on cell against the BY-CELL layout) —
    * scales with arrival rate × cell occupancy.
    *
    * Hash oracle: the base-trained-codebook replay with the verdict
    * EXISTS restricted to BASE members, delta slice only — staged
    * online gating ≡ batch replay.
    */
  def streamSemDedup(spark: SparkSession, dir: String, k: Int = 0,
      iters: Int = 4, threshold: Double = 0.4): DataFrame = {
    // the grouped static join side is cached for the query's lifetime
    // (see below); drop it once the stream drains — runToTable's child
    // session shares the SparkContext/block manager, so an unmatched
    // cache would accumulate across invocations
    var staticSide: Option[DataFrame] = None
    try runToTable(spark, mode = "append") { s =>
      import s.implicits._
      val dump = Similarity.semDedupBaseDump(s, dir, k, iters, threshold)
      val codebook = s.read.parquet(s"$dump/codebook")
        .select($"cell", $"centroid").as[(Int, Seq[Double])].collect()
        .sortBy(_._1).map(_._2.toArray)
      // the same deterministic assignment structure the generation was
      // built under (flat at gate k, two-level past the swap point) —
      // CellIndex.of is a pure function of the staged codebook
      val bc = s.sparkContext.broadcast(Similarity.CellIndex.of(codebook, Some(s)))
      val cellUdf = udf((v: Seq[Float]) => bc.value.assign(v.toArray)._1)
      // the staged corpus re-read in GROUPED per-cell layout (one row
      // per cell, members as an array — the `q_stream_delta_lsh` staged
      // band-index shape), so the stream-static join is 1:1 and the
      // verdict is an in-row fold: a per-arrival aggregation here would
      // be a STREAMING AGG (state!), exactly what this gate avoids
      // cached: the static side of a stream-static join re-evaluates
      // EVERY micro-batch, and without the cache each trigger would
      // re-read the whole staged corpus and re-run the grouping —
      // per-batch cost O(base) instead of O(arrivals × cell occupancy)
      val baseGrouped = s.read.parquet(s"$dump/corpus")
        .groupBy($"cell")
        .agg(collect_list(struct($"vec_id".as("id"), $"embedding".as("e"),
          $"nrm".as("n"))).as("members"))
        .cache()
      staticSide = Some(baseGrouped)
      val verdictUdf = udf { (vid: Long, v: Seq[Float], nrm: Double,
          members: Seq[org.apache.spark.sql.Row]) =>
        if (members == null) 1
        else {
          val x = v.toArray
          var dropped = false
          val it = members.iterator
          while (it.hasNext && !dropped) {
            val m = it.next()
            if (m.getLong(0) < vid) {
              val e = m.getSeq[Float](1)
              var d = 0.0
              var j = 0
              while (j < x.length) { d += x(j).toDouble * e(j).toDouble; j += 1 }
              if (d / (nrm * m.getDouble(2)) >= threshold) dropped = true
            }
          }
          if (dropped) 0 else 1
        }
      }
      val embSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      s.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .filter($"vec_id" % 10 === 0)
        .select($"vec_id", $"embedding",
          graft.functions.Vectors.norm2($"embedding").as("nrm"),
          cellUdf($"embedding").as("cell"))
        .join(baseGrouped, Seq("cell"), "left") // stream-static: stateless
        .select($"vec_id", $"cell".cast("int").as("cell"),
          verdictUdf($"vec_id", $"embedding", $"nrm", $"members").as("is_kept"))
    } finally staticSide.foreach(_.unpersist(blocking = false))
  }

  /** CONTINUOUS boilerplate discovery — the streaming twin of
    * `text_boilerplate`'s hot-line detection: as documents arrive, the
    * set of lines shared by more than `maxDf` distinct documents grows
    * monotonically (a production ingest pipeline maintains this hot set
    * continuously and ships it to the rewrite stage as a broadcast
    * artifact). Two chained stateful operators, both streaming-legal:
    * a per-(line, doc) exactly-once gate feeding ONE global count per
    * line hash in complete mode. Hash-matches the batch hot-set oracle
    * (the `hot` CTE of `text_boilerplate`, with its doc-frequency
    * attached).
    *
    * State bounds: the pair gate is [[exactOnceByKey]] — legal because a
    * (line, doc) pair's duplicates all come from ONE document's segment
    * fan-out inside a single trigger (a document arrives once; repeats
    * of a segment within it land in the same micro-batch), satisfying
    * the helper's single-trigger-duplicates precondition — so its state
    * is arrival-rate × watermark delay, NOT lifetime-of-ingest pairs.
    * The count state is ∝ distinct line hashes BY CONTRACT: continuous
    * exact document frequency over an unbounded key domain cannot hold
    * less (every singleton may still cross `maxDf`); the bounded-state
    * swap at 100 TB is the sketched counter (`q_stream_cms`) with
    * periodic exact reconciliation in the batch layer
    * (`text_boilerplate`).
    */
  def streamHotLines(spark: SparkSession, dir: String, maxDf: Int = 2): DataFrame =
    runToTable(spark) { s =>
      import s.implicits._
      val words = s.readStream.schema(docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select($"doc_id", graft.functions.Text.wordsFast($"text").as("w"))
        .withColumn("n_lines", expr("(size(w) + 9) div 10"))
      words
        .select($"doc_id", $"w",
          explode(sequence(lit(0L), $"n_lines" - 1)).as("i"))
        .select($"doc_id",
          md5(array_join(slice($"w", ($"i" * 10 + 1).cast("int"), lit(10)), " ")).as("h"))
        .transform(exactOnceByKey(_, current_timestamp(), "1 hour", "h", "doc_id"))
        .groupBy($"h")
        .agg(count(lit(1)).as("seg_df"))
        .filter($"seg_df" > maxDf)
    }

  /** Oracle for [[streamHotLines]] — threshold derives from the same
    * maxDf parameter as the query.
    */
  def streamHotLinesSql(maxDf: Int = 2): String = s"""
    WITH d AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]',' ','g'),' +',' ','g')) t FROM documents),
    wd AS (SELECT doc_id, string_split(t, ' ') w FROM d),
    segs AS (SELECT doc_id,
               array_to_string(w[i*10+1 : least((i+1)*10, len(w))], ' ') AS seg
             FROM wd, unnest(range(0, (len(w)+9)//10)) AS u(i))
    SELECT md5(seg) AS h, CAST(count(DISTINCT doc_id) AS BIGINT) AS seg_df
    FROM segs GROUP BY 1 HAVING count(DISTINCT doc_id) > $maxDf"""

  /** events.parquet plus one far-future error + click sentinel on a
    * reserved user (staged once per source generation): the sentinels
    * advance BOTH sides' watermarks past every real row's join bound so
    * outer-join null emissions flush before a bounded replay ends.
    */
  private[graft] def sentinelEventsDump(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    graft.sources.DumpCache.ensure(
      // _v2: the dump's on-disk schema changed in r11 (raw nanos ts ->
      // TimestampType) while the source file can stay byte-identical, so
      // the format generation must be part of the cache key
      graft.sources.DumpCache.dirFor("graft_events_sentinel_v2", dir, "events.parquet")) { tmp =>
      // normalized (TimestampType) events regardless of source generation;
      // the dump is always written in eventsNormSchema shape
      val raw = Tables.events(spark, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      val maxTs = raw.agg(max($"ts")).head().getTimestamp(0)
      val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 86400L * 1000L)
      val sentinels = Seq(
        (-1L, sentinelTs, -1L, "error", 0.0, null.asInstanceOf[String]),
        (-2L, sentinelTs, -1L, "click", 0.0, null.asInstanceOf[String]))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      raw.unionByName(sentinels).write.mode("overwrite").parquet(tmp)
    }
  }

  /** Reference Job 2's full streaming pipeline: traffic-JSON messages →
    * lenient decode → watermarked HOP (1 h / 15 min) DGIM. Rows-only
    * driver check; StreamingSpec asserts the hop-window error bound.
    */
  def streamDgimSlide(spark: SparkSession, dir: String): DataFrame = {
    val dump = messageDump(spark, dir)
    runToTable(spark) { s =>
      TrafficJobs.hopDgim(trafficStream(s, dump), size = "1 hour",
        slide = "15 minutes", windowSeconds = 3600L, watermark = "2 hours")
    }
  }

  /** The reference's full pipeline shape end-to-end: events → traffic-JSON
    * messages → lenient TrafficSource decode → streaming tumbling DGIM
    * (1 h windows to fit the events table's timescale). Rows-only Verify
    * check; StreamingSpec asserts the error bound.
    */
  def streamDgimTumble(spark: SparkSession, dir: String): DataFrame = {
    val dump = messageDump(spark, dir)
    runToTable(spark) { s =>
      TrafficJobs.tumbleDgim(trafficStream(s, dump), size = "1 hour",
        windowSeconds = 3600L, watermark = "2 hours")
    }
  }

  /** The traffic-JSON message dump as a parsed file stream — the input
    * both reference jobs read.
    */
  private def trafficStream(s: SparkSession, dump: String): DataFrame =
    TrafficSource.parse(
      s.readStream.format("text").load(dump).withColumnRenamed("value", "raw"))

  /** Per-user burst detection on the unbounded stream — the continuous
    * form of `q_rate_spikes`: one watermarked (user, hop-window) count
    * (a SINGLE streaming aggregation — the per-user rollup of the batch
    * form would be a second, which streaming forbids; emitting the
    * violating (user, window) rows IS the alerting contract), filtered
    * to windows at/over the threshold. Hash-matches the batch hop
    * expansion with HAVING.
    */
  def streamRateSpikes(spark: SparkSession, dir: String): DataFrame =
    // (user, hop-window)-keyed counts ∝ ingest — size-adaptive parts
    runToTableSized(spark, "complete",
      sourceFileBytes(dir, "events.parquet")) { s =>
      import s.implicits._
      eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy($"user_id", window($"ts", "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"))
        .filter($"n" >= 3)
        .select($"user_id", $"window.start".as("window_start"), $"n")
    }

  val streamRateSpikesSql: String = """
    SELECT user_id,
           time_bucket(INTERVAL '15 minutes', ts) - i * INTERVAL '15 minutes' AS window_start,
           COUNT(*) AS n
    FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) k(i)
    GROUP BY 1, 2 HAVING COUNT(*) >= 3"""

  /** Per-session event PATHS on the unbounded stream — stateful ORDERED
    * aggregation: each 30-min-gap session accumulates its events in the
    * state store (merge-on-overlap session windows) and emits the
    * ordered event-type sequence under the same total order (ts,
    * event_id) as the batch `q_session_paths`. The corpus-wide top-20
    * rollup stays a batch/downstream concern (it would be a second
    * streaming aggregation); per-session paths ARE the streaming
    * contract. Hash-matches the batch gaps-and-islands path oracle.
    *
    * Why the shape stays as it is (decades_r17 Section B, measured at
    * the 100× fixture): the wall is the MACHINERY FLOOR — a plain
    * watermarked tumble count on the same 10M arrivals runs 33-67 s
    * (source + 9.5M-group windowed state + sink collection); the
    * session store adds ~0, in-state event accumulation 0-16 s, the
    * ordered path build ~9 s at emit. A dictionary-coded state row
    * cuts summed state-update time ~40% but only 2% of state bytes and
    * 5-12% of wall — and needs a CLOSED event-type vocabulary collected
    * before the stream starts, which this row's open-world contract
    * refuses. The scale path is the bounded-state twin
    * [[streamSessionPathsCapped]].
    */
  def streamSessionPaths(spark: SparkSession, dir: String): DataFrame =
    // user-keyed session store with in-state accumulation — the
    // heaviest state row; size-adaptive parts
    runToTableSized(spark, "complete",
      sourceFileBytes(dir, "events.parquet")) { s =>
      import s.implicits._
      eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct($"ts", $"event_id", $"event_type"))),
            x => x.getField("event_type")), ">").as("path"))
        .select($"user_id", $"session_window.start".as("session_start"),
          $"session_window.end".as("session_end"), $"path")
    }

  val streamSessionPathsSql: String = """
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
               OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id, event_type,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM numbered GROUP BY user_id, sid"""

  /** One arriving event for the bounded-buffer sessionizer. */
  case class SessEvent(user_id: Long, tsMicros: Long, event_id: Long,
      event_type: String)

  /** [[SessEvent]] with its watermark tag attached (public: Catalyst's
    * generated deserializer must construct it; see [[AttrEventWm]]).
    */
  case class SessEventWm(user_id: Long, tsMicros: Long, event_id: Long,
      event_type: String, wm_ts: java.sql.Timestamp)

  /** A user's open session in the state store: start/last instants, the
    * FIRST-`cap` event types in arrival order, and the exact total count
    * (public: Catalyst's generated (de)serializer must construct it).
    */
  case class OpenSession(startMicros: Long, lastMicros: Long,
      path: Seq[String], nEvents: Long)

  /** Default path-buffer cap for [[streamSessionPathsCapped]]. */
  val SessionPathCap = 8

  /** The stateful fold behind [[streamSessionPathsCapped]], factored so
    * StreamingSpec can drive it through multi-batch sources. Per-user
    * state is ONE open session whose path buffer is capped at `cap`
    * event types — O(cap) bytes per user REGARDLESS of session length,
    * the bounded-state swap for the session store's ∝(session events)
    * growth. A session is emitted when its successor event arrives
    * (gap ≥ 30 min closes it) OR when the watermark passes its gap
    * horizon (EventTimeTimeout at last + gap — r12 verdict item 3: the
    * NoTimeout form held an idle user's open session FOREVER and never
    * emitted a user's final session; the gap-length timeout
    * emits-and-evicts, closing both at once — state ∝ users active
    * within one gap of the watermark, and the emitted set extends to
    * ALL sessions, the full batch sessionization contract). Within a
    * batch, events fold in (ts, event_id) order (identical to the
    * batch total order); across batches the state carries (start,
    * last, first-K, count), so an in-order event stream sessionizes
    * exactly — a LATE event still lands in its session by the gap rule
    * while the session is open (its type appended in arrival order —
    * the documented append-mode trade-off, same family as
    * [[attributionFold]]'s immutable emissions); once the watermark
    * closes a session, a beyond-lateness event starts a new one (the
    * same contract as Spark's own streaming session_window). The fold
    * defines its own 1-hour watermark on tsMicros (EventTimeTimeout
    * requires one; the tag column is dropped, caller schemas
    * unchanged).
    */
  def sessionPathsCappedFold(ev: Dataset[SessEvent],
      cap: Int = SessionPathCap): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import ev.sparkSession.implicits._
    val gapMicros = 30L * 60L * 1000000L
    def closed(user: Long, s: OpenSession): (Long, Long, Long, String, Long, Long) =
      (user, s.startMicros, s.lastMicros + gapMicros,
        s.path.mkString(">"), s.nEvents,
        if (s.nEvents > cap) 1L else 0L)
    ev.withColumn("wm_ts", timestamp_micros(col("tsMicros")))
      .withWatermark("wm_ts", "1 hour")
      .as[SessEventWm]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, (Long, Long, Long, String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (user, rows, state) =>
        if (state.hasTimedOut) {
          // watermark passed last + gap: no in-lateness event can extend
          // this session any more — emit it and drop the state row
          val s = state.get
          state.remove()
          Iterator.single(closed(user, s))
        } else {
          var open = state.getOption
          val out = Vector.newBuilder[(Long, Long, Long, String, Long, Long)]
          rows.toSeq.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
            open match {
              case Some(s) if e.tsMicros - s.lastMicros < gapMicros =>
                open = Some(OpenSession(s.startMicros, math.max(s.lastMicros, e.tsMicros),
                  if (s.path.length < cap) s.path :+ e.event_type else s.path,
                  s.nEvents + 1))
              case Some(s) =>
                out += closed(user, s)
                open = Some(OpenSession(e.tsMicros, e.tsMicros,
                  Vector(e.event_type), 1L))
              case None =>
                open = Some(OpenSession(e.tsMicros, e.tsMicros,
                  Vector(e.event_type), 1L))
            }
          }
          open.foreach { s =>
            state.update(s)
            // timeouts clear per invocation — re-arm at the (possibly
            // extended) gap horizon; the max guard covers an already-
            // expired horizon (late data), firing at the next watermark
            state.setTimeoutTimestamp(math.max(
              (s.lastMicros + gapMicros) / 1000L,
              state.getCurrentWatermarkMs + 1))
          }
          out.result().iterator
        }
      }
      .toDF("user_id", "start_micros", "end_micros", "path", "n_events", "truncated")
      .select($"user_id",
        expr("timestamp_micros(start_micros)").as("session_start"),
        expr("timestamp_micros(end_micros)").as("session_end"),
        $"path", $"n_events", $"truncated")
  }

  /** [[streamSessionPaths]] with BOUNDED per-user state — the shipped
    * form of the session store's 100 TB swap (the r11 item-7 clause
    * "cap session buffer length"): the full-fidelity row's state grows
    * with events per live session (measured 4.7 GB at the 100× decade);
    * this row's state is one O(cap) open-session record per user —
    * StateProbe shows bytes/row CONSTANT as sessions lengthen. The
    * price is the contract: paths truncate at `cap` types (with the
    * exact `n_events`/`truncated` columns preserving the tail's
    * existence). A session emits when its successor arrives or when
    * the watermark passes its gap horizon ([[sessionPathsCappedFold]]'s
    * emit-and-evict timeout), so the emitted set is ALL sessions — the
    * full batch sessionization oracle, no non-final restriction (r12's
    * final-session gap closed). Bounded replays flush through the
    * far-future sentinel dump (the [[streamRangeJoinOuter]] device:
    * time, not end-of-input, closes sessions; the reserved sentinel
    * user is filtered from the materialized result — the same
    * must-not-push-below-watermark reasoning applies).
    */
  def streamSessionPathsCapped(spark: SparkSession, dir: String): DataFrame = {
    val dump = sentinelEventsDump(spark, dir)
    val sessions = runToTableSized(spark, "append",
      sourcePathBytes(dump)) { s =>
      import s.implicits._
      sessionPathsCappedFold(
        s.readStream.schema(eventsNormSchema).parquet(dump)
          .select($"user_id", unix_micros($"ts").as("tsMicros"), $"event_id",
            $"event_type")
          .as[SessEvent])
    }
    sessions.filter(col("user_id") >= 0)
  }

  val streamSessionPathsCappedSql: String = s"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
               OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id, event_type,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), ranked AS (
      SELECT user_id, ts, event_id, event_type, sid,
        row_number() OVER (PARTITION BY user_id, sid
                           ORDER BY ts, event_id) AS rn
      FROM numbered
    ), sess AS (
      SELECT user_id, sid, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL '30 minutes' AS session_end,
             string_agg(CASE WHEN rn <= $SessionPathCap THEN event_type END,
                        '>' ORDER BY ts, event_id) AS path,
             COUNT(*) AS n_events,
             CAST(CASE WHEN COUNT(*) > $SessionPathCap THEN 1 ELSE 0 END
                  AS BIGINT) AS truncated
      FROM ranked GROUP BY user_id, sid)
    SELECT user_id, session_start, session_end, path, n_events, truncated
    FROM sess"""

  /** The SUM sketch on the unbounded stream: windowed `dgim_sum_estimate`
    * (the Datar et al. §5 generalization `q_dgim_sum` runs in batch) as a
    * streaming aggregation — the typed DGIM-sum buffer is mergeable
    * state, so partial aggregation and the state store compose exactly
    * like the count sketch in `q_stream_dgim_tumble`. Answers
    * "approximate revenue in the trailing hour" continuously, with
    * 17×O(log²W) state per window.
    *
    * Rows-only driver check; StreamingSpec pins every per-window
    * estimate within the §5 bound of the BATCH exact sums over the
    * identical window set.
    */
  def streamDgimSum(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark) { s =>
      import s.implicits._
      val agg = udaf(new graft.functions.DgimSumAggregator(3600L, bits = DgimQueries.SumBits))
      eventsStream(s, dir)
        .filter($"event_type" === "click" && $"ts".isNotNull)
        .withWatermark("ts", "1 hour")
        .select($"ts", round($"value" * 100).cast("long").as("cents"),
          unix_timestamp($"ts").as("ts_sec"))
        .groupBy(window($"ts", "1 hour"))
        .agg(agg($"cents", $"ts_sec").as("sum_estimate"))
        .select($"window.start".as("window_start"),
          $"window.end".as("window_end"), $"sum_estimate")
    }

  /** Materialize the event table as the traffic-JSON message stream (what
    * the Kafka topic held); cached across runs keyed by canonical path +
    * size+mtime fingerprint of the source file, so repeat runs reuse the
    * dump and changed/colliding sources cannot.
    */
  private[graft] def messageDump(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    graft.sources.DumpCache.ensure(
      graft.sources.DumpCache.dirFor("graft_traffic_msgs", dir, "events.parquet")) { tmp =>
      graft.sources.Tables.events(spark, dir)
        .select(to_json(struct(
          when($"event_type" === "click", "1").otherwise("0").as("value"),
          date_format($"ts", TrafficSource.IsoMicros).as("timestamp"))).as("raw"))
        .write.mode("overwrite").text(tmp)
    }
  }
}
