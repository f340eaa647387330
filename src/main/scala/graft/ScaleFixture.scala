package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool behind SURVEY §6's scaling-curve table: replicates the
  * documents / embeddings / events tables of a testdata dir N× into a
  * sibling fixture dir, so the heavy queries can be timed at 10× the
  * gate's largest SF on this box (the driver only generates up to
  * sf0.1).
  *
  * The replication is SEMANTICS-PRESERVING for scaling purposes:
  *  - `documents`: copy k keeps copy 0's duplicate/near-dup STRUCTURE
  *    but is textually disjoint from every other copy — each word gets
  *    a per-copy suffix (`applez3`), so every shingle differs across
  *    copies and the near-dup pair density stays CONSTANT instead of
  *    exploding combinatorially (10 verbatim copies of the corpus would
  *    make every doc a 10-way exact dup — a 100× pair blow-up that
  *    measures the data, not the engine). Copy 0 is the original text.
  *  - `embeddings`: ids shift by copy stride; copy k's vector is the
  *    original CIRCULARLY SHIFTED by k dimensions — a permutation, so
  *    norms and every within-copy pairwise cosine are exactly
  *    preserved (each copy has copy 0's near-dup structure), while
  *    cross-copy cosines fall to background level (verbatim copies
  *    would make every vector a 10-way exact dup: a 100× same-bucket
  *    pair blow-up that measures the data, not the engine — observed
  *    38× on dedup_embed_lsh before this fix).
  *  - `events`: ids and user_ids shift (10× users, same time range —
  *    a 10×-busier service: window count constant, rows per window
  *    10×). `ts` passes through unconverted (whatever the source
  *    generation stores) so `Tables.events` and the file-stream
  *    schema read the fixture exactly like the original.
  *
  * Usage: runMain graft.ScaleFixture <srcDir> <outDir> <copies>
  */
object ScaleFixture {

  private val Stride = 10000000L

  /** Id-shifting only disambiguates copies while every source id is
    * under the stride — a silent collision would create the exact-dup
    * explosion this fixture exists to prevent, so fail loudly instead.
    */
  private def requireIdsUnderStride(df: DataFrame, idCols: Seq[String], table: String): Unit = {
    val maxes = df.select(idCols.map(c => max(col(c)).as(c)): _*).head()
    idCols.zipWithIndex.foreach { case (c, i) =>
      val m = maxes.getLong(i)
      require(m < Stride,
        s"$table.$c max id $m >= stride $Stride — copies would collide; raise Stride")
    }
  }

  private def writeSingleFile(df: DataFrame, outDir: String, name: String): Unit = {
    val tmp = s"$outDir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written for $name"))
    val dest = new java.io.File(outDir, s"$name.parquet")
    if (dest.exists()) dest.delete()
    if (!part.renameTo(dest)) sys.error(s"rename failed for $name")
    new java.io.File(tmp).listFiles().foreach(_.delete())
    new java.io.File(tmp).delete()
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, copiesS) = args.take(3)
    val copies = copiesS.toInt
    // Optional 4th arg (r15 verdict item 4): fixed-eval mode. The
    // decontam rows define their eval suite as vec_id % evalMod == 0,
    // and Stride % 50 == 0, so plain copying grows the eval suite with
    // the corpus — a stress case, not the production contract (a
    // benchmark suite is FIXED while the corpus grows). With a mod
    // passed here, copies k > 0 drop their eval-slice rows: the fixture
    // keeps the base generation's eval suite verbatim and scales only
    // the corpus side. Pass the same mod the measured row uses
    // (default 50 everywhere).
    val fixedEvalMod: Option[Long] = args.lift(3).map(_.toLong)
    // the mode only holds when id-shifting cannot move a copy's rows
    // INTO the eval residue class: shifted ids are vec_id + k·Stride,
    // so Stride % m == 0 is load-bearing (with mod 7, 10⁷ % 7 = 3 and
    // copies' rows land at residue 0 again — the exact artifact the
    // mode removes, silently). Fail loudly instead (r16 review).
    fixedEvalMod.foreach(m => require(m > 0 && Stride % m == 0,
      s"fixedEvalMod=$m must divide the id stride $Stride or copies' " +
        "shifted ids re-enter the eval slice"))
    new java.io.File(out).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-scale-fixture")
      .getOrCreate()
    // the fixture's single-file tables must stay SPLITTABLE: with the
    // parquet default 128 MB block size every table here is one row
    // group and a 32-core scan runs on one core (measured 17× on the
    // 100× documents full scan — GraftConfig.ParquetRowGroupBytes)
    GraftConfig.useSplittableWrites(spark)
    import spark.implicits._

    val docs = graft.sources.Tables.documents(spark, src)
    requireIdsUnderStride(docs, Seq("doc_id"), "documents")
    val docCopies = (0 until copies).map { k =>
      val text =
        if (k == 0) $"text"
        else regexp_replace(graft.functions.Text.normalizeFast($"text"),
          "([a-z0-9]+)", s"$$1z$k")
      docs.select(($"doc_id" + lit(k * Stride)).as("doc_id"), text.as("text"),
        $"lang", $"source", length(text).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
    writeSingleFile(docCopies, out, "documents")

    val emb = graft.sources.Tables.embeddings(spark, src)
    requireIdsUnderStride(emb, Seq("vec_id"), "embeddings")
    val dim = emb.select($"embedding").head().getSeq[Float](0).length
    // Circular shifts alone give only `dim` distinct transforms — copy
    // dim would silently be a VERBATIM duplicate of copy 0 (k % dim
    // wraps), recreating the exact-dup pair explosion this fixture
    // exists to prevent. Copies in the second dim-block compose a
    // REVERSAL with the shift (another norm/within-copy-cosine
    // preserving permutation, near-background across blocks); beyond
    // 2·dim fail loudly rather than duplicate.
    require(copies <= 2 * dim,
      s"only ${2 * dim} distinct embedding transforms at dim=$dim; got copies=$copies")
    val embCopies = (0 until copies).map { k =>
      val rolled =
        if (k % dim == 0) $"embedding"
        else concat(slice($"embedding", k % dim + 1, dim - k % dim),
          slice($"embedding", 1, k % dim))
      val shifted = if (k < dim) rolled else reverse(rolled)
      val cols = Seq(($"vec_id" + lit(k * Stride)).as("vec_id"),
        shifted.as("embedding")) ++
        emb.columns.filter(c => c != "vec_id" && c != "embedding").map(col)
      val src0 = fixedEvalMod match {
        case Some(m) if k > 0 => emb.filter($"vec_id" % m =!= 0)
        case _ => emb
      }
      src0.select(cols: _*)
    }.reduce(_ unionByName _)
    writeSingleFile(embCopies, out, "embeddings")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // ts passes through UNCONVERTED (raw nanos-long in older testdata
    // generations, TIMESTAMP(MICROS) in current ones) so the fixture's
    // events file reads through the schema-adaptive loaders exactly like
    // the original
    val ev = spark.read.parquet(s"$src/events.parquet")
    requireIdsUnderStride(ev, Seq("event_id", "user_id"), "events")
    val evCopies = (0 until copies).map { k =>
      ev.select(($"event_id" + lit(k * Stride)).as("event_id"), $"ts",
        ($"user_id" + lit(k * Stride)).as("user_id"),
        $"event_type", $"value", $"props")
    }.reduce(_ unionByName _)
    writeSingleFile(evCopies, out, "events")

    // the TPC-H tables are not scaled (no query consumes them at the
    // fixture SFs) but Bench's staging phase reads some of them, so a
    // fixture dir without them fails staging (r16 find: the fixed-eval
    // fixture's first Bench run died on lineitem.parquet — the main
    // fixture had been hand-symlinked in r14 and the step was never
    // folded into the generator). Symlink them from the source dir.
    // guards (r16 review): createSymbolicLink happily creates DANGLING
    // links (the fixture would "succeed" and fail later inside Bench
    // staging — the exact trap this step closes), and out == src would
    // delete the REAL source tables before self-linking them.
    require(java.nio.file.Paths.get(out).toAbsolutePath.normalize !=
      java.nio.file.Paths.get(src).toAbsolutePath.normalize,
      s"fixture outDir must differ from srcDir ($src)")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      val target = java.nio.file.Paths.get(src, s"$t.parquet").toAbsolutePath
      require(java.nio.file.Files.exists(target),
        s"source table missing: $target — refusing to create a dangling symlink")
      val link = java.nio.file.Paths.get(out, s"$t.parquet")
      // only replace a prior SYMLINK: a real parquet directory here (a
      // hand-copied table from before this generator change) would make
      // deleteIfExists throw a raw DirectoryNotEmptyException — and a
      // real FILE would be silently destroyed and replaced by a link
      // (r16 ADVICE). Refuse with a message instead.
      if (java.nio.file.Files.isSymbolicLink(link)) {
        java.nio.file.Files.delete(link)
      } else {
        require(!java.nio.file.Files.exists(link),
          s"$link exists and is not a symlink — a stale real table is " +
            s"sitting in the fixture dir; clear it by hand before regenerating")
      }
      java.nio.file.Files.createSymbolicLink(link, target)
    }
    println(s"wrote ${copies}x fixture to $out" +
      fixedEvalMod.map(m => s" (fixed eval slice: vec_id % $m)").getOrElse(""))
    spark.stop()
  }
}

/** Dev tool behind SURVEY §6's delta-LSH bounded-state decade: drive
  * the CONTINUOUS LSH dedup gate through a full feed → compact →
  * restart cycle at fixture scale, recording state rows/bytes per
  * wave. Each wave feeds one slice of the delta docs into the SAME
  * checkpoint (state survives restarts), then "compaction" publishes
  * the next index generation containing everything fed so far — so the
  * next wave's probes carry the compaction receipt (handoff eviction)
  * and the quiet-bucket TTL (short here; contract TTL ≥ compaction
  * cadence) drops buckets the next generation owns. Bounded state =
  * per-wave state rows/bytes PLATEAU instead of accumulating across
  * waves.
  *
  * Usage: runMain graft.DeltaLshCycle <sfDir> [waves=3] [ttlSec=5]
  */
object DeltaLshCycle {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val waves = args.lift(1).map(_.toInt).getOrElse(3)
    val ttlSec = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // retain only the live state version: the default (100) keeps a
      // growing archive of historical .delta/SST versions in the
      // checkpoint, which would confound the heap-vs-rocksdb on-disk
      // comparison below with retention format rather than state size
      .config("spark.sql.streaming.minBatchesToRetain", "1")
      .appName("graft-delta-lsh-cycle")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ROCKSDB=1 runs the cycle under the spec-pinned
    // production provider flip (GraftConfig.useRocksDbStateStore) —
    // the r13 cycle measured 1.88 GB of heap-provider state at 100×,
    // exactly the size the flip exists for, but never measured under it.
    // SPARK_GRAFT_ROCKSDB=changelog adds RocksDB changelog
    // checkpointing (r16 verdict item 4): the Section B itemization
    // showed the steady-state premium is COMMIT-dominated (SST
    // flush/copy/fileSync — 871 MB copied in one wave), which is the
    // exact cost class changelog checkpointing defers to async snapshot
    // maintenance; the third interleaved arm measures whether the
    // 1.3-1.9× premium is inherent or configuration.
    // "1" = plain RocksDB (changelog OFF — the pre-r17 shape, kept as
    // its own arm so the Section C A/B reruns against the new default);
    // "changelog" = the shipped default (changelog ON)
    val provider = sys.env.get("SPARK_GRAFT_ROCKSDB") match {
      case Some("1") =>
        graft.GraftConfig.useRocksDbStateStore(spark,
          changelogCheckpointing = false)
        "rocksdb"
      case Some("changelog") =>
        graft.GraftConfig.useRocksDbStateStore(spark)
        "rocksdb_cl"
      case _ => "heap"
    }
    import spark.implicits._
    import graft.functions.{MinhashBands, MinhashSig, ShingleGramHashes}
    import graft.operators.{Dedup, StreamQueries}

    val work = java.nio.file.Files.createTempDirectory("graft_lsh_cycle").toString
    val feedDir = s"$work/feed"
    val outDir = s"$work/out"
    val ckpt = s"$work/ckpt"
    val delta = graft.sources.Tables.documents(spark, dir)
      .filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"text")

    // generation 0 = the staged base index (doc_id % 5 != 0)
    def writeGen(k: Int, extraPred: org.apache.spark.sql.Column): String = {
      val gen = s"$work/gen$k"
      val extra = graft.sources.Tables.documents(spark, dir)
        .filter(extraPred)
        .select($"doc_id", ShingleGramHashes($"text").as("hashes"))
        .filter(size($"hashes") > 0)
        .select($"doc_id", MinhashSig($"hashes").as("sig"))
        .select($"doc_id", $"sig", MinhashBands($"sig").as("bands"))
      StreamQueries.groupBandBuckets(
        Dedup.baseMinhashIndex(spark, dir).unionByName(extra))
        .write.mode("overwrite").parquet(gen)
      gen
    }
    var gen = writeGen(0, lit(false))
    (1 to waves).foreach { k =>
      // wave k's arrivals: the k-th residue slice of the delta docs
      delta.filter(($"doc_id" / 5).cast("long") % waves === (k - 1))
        .coalesce(4).write.mode("append").parquet(feedDir)
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(feedDir)
      val t0 = System.nanoTime()
      val q = graft.operators.StreamQueries.deltaLshTopologyOnBuckets(
        docs, spark.read.parquet(gen), bucketTtl = s"$ttlSec seconds")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val so = q.lastProgress.stateOperators
      // on-disk state footprint (provider-agnostic): RocksDB's
      // memoryUsedBytes reports only its block-cache slice, so the
      // checkpoint state dir is the comparable heap-vs-rocksdb number
      val stateDisk = {
        val p = java.nio.file.Paths.get(ckpt, "state")
        if (java.nio.file.Files.exists(p)) {
          // close the walk stream, and tolerate ANYTHING the state-store
          // maintenance thread deletes mid-walk — the traversal itself
          // (not just the stat) throws when a version directory vanishes
          // between enumeration steps, and a lost-metric wave beats a
          // crashed multi-hour cycle (r14 review)
          try {
            val walk = java.nio.file.Files.walk(p)
            try walk.filter(java.nio.file.Files.isRegularFile(_))
              .mapToLong { f =>
                try java.nio.file.Files.size(f)
                catch { case _: java.io.IOException | _: java.io.UncheckedIOException => 0L }
              }.sum()
            finally walk.close()
          } catch {
            case _: java.io.IOException | _: java.io.UncheckedIOException => -1L
          }
        } else 0L
      }
      // provider-internal attribution (r15 — the r14 wave-1 anomaly):
      // the nonzero state-store custom metrics, summed across operators,
      // name WHERE a wave's wall went (RocksDB commit/flush/compact/
      // fileSync/snapshot latencies vs the heap provider's near-empty
      // map) instead of leaving a 25 s gap unexplained
      val custom = {
        import scala.jdk.CollectionConverters._
        so.flatMap(_.customMetrics.asScala)
          .groupBy(_._1).view.mapValues(_.map(_._2.longValue()).sum)
          .filter(_._2 != 0L).toSeq.sortBy(_._1)
          .map { case (k2, v) => s""""$k2":$v""" }.mkString("{", ",", "}")
      }
      println(f"""{"wave":$k,"provider":"$provider","sec":$sec%.2f,""" +
        s""""state_rows":${so.map(_.numRowsTotal).sum},""" +
        s""""state_bytes":${so.map(_.memoryUsedBytes).sum},""" +
        s""""state_disk_bytes":$stateDisk,""" +
        s""""pairs_total":${spark.read.parquet(outDir).count()},""" +
        s""""custom_metrics":$custom}""")
      // compaction: the next generation owns every wave fed so far
      gen = writeGen(k, $"doc_id" % 5 === 0 && ($"doc_id" / 5).cast("long") % waves < k)
      Thread.sleep(ttlSec * 1000L + 500L) // let this wave's buckets go quiet
    }
    spark.stop()
    // the work dir holds waves+1 full band-index generations plus the
    // checkpoint — ~22 GB at the 100× fixture; leaving it behind is how
    // a measurement box runs out of disk mid-round (it did, r14)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }
}

/** Dev tool: run a streaming harness query through [[Harness.run]] and
  * print its final StreamingQueryProgress — the state-store row/byte
  * counts behind SURVEY §6's O(log²W) DGIM state audit.
  *
  * Usage: runMain graft.StateProbe <queryKey> <sfDir>
  */
object StateProbe {
  def main(args: Array[String]): Unit = {
    val Array(key, dir) = args.take(2)
    val spark = Harness.session(Harness.cpus)
    var n = 0L
    Harness.run(spark, dir, Map(key -> SparkEntry.queries(key)),
        Harness.flipsHeavyRows(spark, dir)) { (_, df) => n = df.count() }
      .foreach { case (_, r) =>
        println(s"""{"query":"$key","rows":$n,"progress":${
          r.progress.getOrElse("null")}}""")
      }
    spark.stop()
  }
}
