package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Pins the PHYSICAL shape of representative queries — the properties the
  * 100 TB story depends on (shuffle counts, dim broadcasts, scan-level
  * filter pushdown). A refactor that silently turns a broadcast join into
  * a sort-merge join, or adds a shuffle to a scan-stage operator, fails
  * here before it costs anything at scale.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def physical(df: DataFrame) = {
    val p = df.queryExecution.executedPlan
    val root = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    root.collect { case n => n }
  }

  private def shuffles(df: DataFrame): Int =
    physical(df).count(_.isInstanceOf[ShuffleExchangeExec])

  test("per-row operators are shuffle-free scan-stage pipelines") {
    for ((name, df) <- Seq(
        "text_chunks" -> TextAnalysis.chunks(spark, sf),
        "embed_quantize" -> Similarity.embedQuantize(spark, sf),
        "sample_weighted" -> Curation.sampleWeighted(spark, sf),
        "mm_meta" -> Multimodal.meta(spark, sf),
        "mm_resize" -> Multimodal.resize(spark, sf),
        "mm_features" -> Multimodal.features(spark, sf),
        "text_fingerprint" -> TextAnalysis.fingerprint(spark, sf),
        "text_repetition" -> TextAnalysis.repetition(spark, sf),
        "text_tokens_bpe" -> TextAnalysis.tokensBpe(spark, sf),
        "text_pii" -> TextAnalysis.pii(spark, sf)))
      assert(shuffles(df) === 0, s"$name grew a shuffle")
  }

  test("r18 profilers: one corpus scan each, grid-sized downstream, no sort-merge") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // ttr is a pure per-row map
    assert(shuffles(TextAnalysis.ttr(spark, sf)) === 0, "text_ttr grew a shuffle")
    // embed_stats: one scan, one map-side-combined shuffle onto the dim grid
    val es = Similarity.embedStats(spark, sf)
    assert(shuffles(es) === 1, "embed_stats shuffle count changed")
    // gini: cells grid -> per-lang fold is one linear chain — exactly one
    // corpus scan, no joins
    val gini = Profile.statsGini(spark, sf)
    assert(physical(gini).count(_.isInstanceOf[FileSourceScanExec]) === 1,
      "stats_gini re-scans the corpus")
    assert(physical(gini).count(_.isInstanceOf[SortMergeJoinExec]) === 0,
      "stats_gini grew a sort-merge join")
    // chi2: the corpus pass happens ONCE at build time (grid collect);
    // the returned frame is pure grid-side local math — no corpus scan,
    // no shuffle, no join may ever appear in it
    val chi2 = Profile.statsChi2(spark, sf)
    assert(physical(chi2).count(_.isInstanceOf[FileSourceScanExec]) === 0,
      "stats_chi2 result must be grid-local (corpus pass is at build time)")
    assert(shuffles(chi2) === 0, "stats_chi2 result grew a shuffle")
  }

  test("r19 profilers: mi shares chi2's grid-local contract, zipf cuts by " +
      "TakeOrdered with no global sort and no corpus-sized window") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec,
      TakeOrderedAndProjectExec}
    // mi: the same build-time grid collect as chi2 — the returned frame
    // must be pure local grid math
    val mi = Profile.statsMi(spark, sf)
    assert(physical(mi).count(_.isInstanceOf[FileSourceScanExec]) === 0,
      "stats_mi result must be grid-local (corpus pass is at build time)")
    assert(shuffles(mi) === 0, "stats_mi result grew a shuffle")
    // zipf: ONE scan — of the STAGED word grid since r20, never the
    // corpus — then the top-1024 cut must be TakeOrderedAndProject
    // (per-partition heaps), never a global SortExec over the vocab;
    // the two windows run on the post-cut constant-size remnant (their
    // single-partition exchange moves <= 1024 rows — the bounded
    // grid-math device, not a corpus sort)
    val z = TextAnalysis.zipf(spark, sf)
    val plan = physical(z)
    assert(plan.count(_.isInstanceOf[FileSourceScanExec]) === 1,
      "text_zipf must scan exactly the staged grid")
    assert(plan.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "text_zipf lost its TakeOrdered top-k cut")
    // every SortExec must sit ABOVE the TakeOrdered cut (window sorts on
    // the <=1024-row remnant); a sort below it would be a vocab-global sort
    def below(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.children.flatMap(below)
    val cut = plan.collectFirst { case t: TakeOrderedAndProjectExec => t }.get
    assert(!below(cut).drop(1).exists(_.isInstanceOf[SortExec]),
      "text_zipf grew a global sort below the TakeOrdered cut")
  }

  test("r20: the vocab-keyed rows read the STAGED word grid, not the corpus") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // r19 verdict item 1: text_hapax / text_zipf / text_heavyhitters /
    // text_cms recomputed the same corpus explode+count per row. Their
    // query-time plans must now scan ONLY the staged graft_word_grid
    // parquet — any documents.parquet scan means the shared
    // intermediate silently stopped being shared. (text_bpe_train
    // consumes the grid at BUILD time and returns a local model frame,
    // so it has no scan to pin; its staging is exercised by the same
    // dump key these four resolve.)
    def scanPaths(df: DataFrame): Seq[String] = physical(df).collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    for ((name, df) <- Seq(
        "text_hapax" -> TextAnalysis.hapax(spark, sf),
        "text_zipf" -> TextAnalysis.zipf(spark, sf),
        "text_heavyhitters" -> TextAnalysis.heavyHitters(spark, sf),
        "text_cms" -> TextAnalysis.cms(spark, sf))) {
      val paths = scanPaths(df)
      assert(paths.nonEmpty && paths.forall(_.contains("graft_word_grid")),
        s"$name must scan only the staged word grid, scanned: $paths")
    }
  }

  test("single-shuffle operators stay single-shuffle") {
    for ((name, df, n) <- Seq(
        ("dedup_exact", Dedup.exact(spark, sf), 1),
        ("pipeline_pack", Curation.pack(spark, sf), 1),
        // pivot is Spark's standard two-level rewrite: agg on (day, type)
        // then pivot-agg on day — two KEYED shuffles, the second over the
        // already-reduced per-(day,type) rows
        ("q_pivot", Analytics.qPivot(spark, sf), 2),
        ("sink_merge", graft.sources.Sinks.mergeUpsert(spark, sf), 1),
        ("q_moving_window", Analytics.qMovingWindow(spark, sf), 1)))
      assert(shuffles(df) === n, s"$name shuffle count changed")
  }

  test("late-r12 rows keep their contracts: broadcast eval gate, one-shuffle grid, " +
      "quota broadcast, no corpus-side SMJ") {
    // decontam_embed (r13 form): the broadcast suite folds INSIDE each
    // corpus row — no join of any kind and ZERO shuffles (output is
    // produced map-side, already aggregated); the former BNLJ + hit-agg
    // plan computed the identical doubles through per-pair join rows
    val dec = Decontam.embedDecontam(spark, sf)
    assert(shuffles(dec) === 0, "decontam_embed must be a pure map-side fold")
    assert(!physical(dec).exists(n =>
      n.isInstanceOf[SortMergeJoinExec] ||
        n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "decontam_embed must not join at all")
    // decontam_embed_lsh: candidates ride slim id pairs; the eval side
    // (keys + payload) broadcasts, the corpus payload attaches by id
    // equi-join — never a nested loop over the whole suite
    val decLsh = Decontam.embedDecontamLsh(spark, sf)
    assert(!physical(decLsh).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "decontam_embed_lsh must prescreen via bucket equi-joins, not a NLJ")
    // stats_calibration: grid + 1-row total, never a corpus-keyed join
    val cal = Profile.statsCalibration(spark, sf)
    assert(!physical(cal).exists(_.isInstanceOf[SortMergeJoinExec]),
      "stats_calibration must not sort-merge join")
    // sample_temperature: quotas ride a broadcast hash join onto the
    // corpus scan; one rank-window shuffle
    val temp = Curation.sampleTemperature(spark, sf)
    assert(physical(temp).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "sample_temperature quota join must broadcast")
    assert(!physical(temp).exists(_.isInstanceOf[SortMergeJoinExec]))
  }

  test("text_tfidf: df aggregates the (doc_id, word) tf grouping, never raw tokens") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    def keys(a: HashAggregateExec) =
      a.groupingExpressions.map(_.references.head.name).toSet
    val nodes = physical(TextAnalysis.tfidf(spark, sf))
    // the df aggregation is the one keyed on the word alone; each sits
    // over the tf grouping, so df counts (doc_id, word) groups — one per
    // document containing the word — never repeated token rows
    val dfAggs = nodes.collect {
      case a: HashAggregateExec if keys(a) == Set("word") => a
    }
    assert(dfAggs.nonEmpty, "no word-keyed df aggregation in the plan")
    for (a <- dfAggs)
      assert(a.child.exists {
        case b: HashAggregateExec => keys(b) == Set("doc_id", "word")
        case _ => false
      }, "df must aggregate over the (doc_id, word) tf grouping")
  }

  test("text_search: top-k is TakeOrdered, no cartesian anywhere") {
    val nodes = physical(TextAnalysis.search(spark, sf))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "top-10 must be TakeOrdered (per-partition partials), not a global sort")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "df attach must broadcast, never a cartesian product")
  }

  test("q_resample: calendar densification never becomes a cross join") {
    val nodes = physical(Windows.resample(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]))
  }

  test("global shuffle-order assignment never concentrates on one task") {
    // the range exchange must be the ONLY shuffle, and no unpartitioned
    // window (single-task row_number) may appear anywhere in the plan
    val df = Curation.shuffleOrder(spark, sf)
    val nodes = physical(df)
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) === 0,
      "index assignment added a post-sort shuffle") // range shuffle sits below the cache
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "global index must not use a window")
  }

  test("bucketed tables join without any exchange on the bucket key") {
    // disable auto-broadcast so the join actually exercises the bucketed
    // sort-merge path (with it on, tiny test tables would broadcast and
    // trivially satisfy the no-shuffle assertion)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.sources.Sinks.bucketedJoin(spark, sf)
      val nodes = physical(df)
      val joinShuffles = {
        // shuffles BELOW the join (the groupBy above it legitimately has one)
        val joins = nodes.collect { case j: SortMergeJoinExec => j }
        assert(joins.nonEmpty, "bucketed join no longer sort-merge")
        joins.flatMap(_.collect { case s: ShuffleExchangeExec => s })
      }
      assert(joinShuffles.isEmpty, "bucketed join re-grew an exchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dimension joins broadcast (q3, salted join); no sort-merge join appears") {
    for ((name, df) <- Seq(
        "q3_join" -> Analytics.q3Join(spark, sf),
        "q_salted_join" -> SkewJoin.saltedJoin(spark, sf))) {
      val nodes = physical(df)
      assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$name lost its broadcast join")
      assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"$name picked up a sort-merge join at dim scale")
    }
  }

  test("round-9 operators keep their contracts: partitioned windows, broadcast dims, keyed joins") {
    // q2_mincost: rank window is PARTITIONED by part (never a global
    // sort); supplier/nation attach as broadcasts, no cartesian
    val q2 = physical(Analytics.q2MinCost(spark, sf))
    q2.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, "q2 window lost PARTITION BY"))
    assert(q2.exists(_.isInstanceOf[BroadcastHashJoinExec]), "q2 dims must broadcast")
    assert(!q2.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]))
    // q_attribution: the carry-forward is ONE user_id exchange feeding a
    // partitioned window — no inequality join anywhere
    val attr = physical(Behavior.qAttribution(spark, sf))
    assert(!attr.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]))
    attr.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, "attribution window lost PARTITION BY"))
    // pipeline_interleave: per-source rank windows only, zero joins
    val il = physical(Curation.interleave(spark, sf))
    il.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty, "interleave window lost PARTITION BY"))
    assert(shuffles(Curation.interleave(spark, sf)) <= 1,
      "interleave should be one source-keyed exchange")
    // q_decay: the now-frame attaches as a broadcast (1 row), one keyed agg
    val dec = Windows.decayScores(spark, sf)
    val decPlan = dec.queryExecution.executedPlan.toString
    assert(decPlan.contains("BroadcastNestedLoopJoin") || decPlan.contains("BroadcastHashJoin"),
      "decay's now-frame must broadcast")
  }

  test("pipeline_budget_epochs: epochs reshuffle the staged cut, never re-scan the corpus") {
    // The composed schedule's fusion claim: the budget cut's two-pass
    // cumulative index runs ONCE (its corpus scan happens inside
    // tokenBudget, before this plan exists), and every epoch leg reorders
    // the slim checkpointed selection — so the composed result contains
    // zero file scans regardless of epoch count.
    val df = Curation.budgetEpochs(spark, sf)
    val fileScans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(fileScans.isEmpty,
      s"epoch legs re-scan files: ${fileScans.map(_.tableIdentifier)}")
  }

  test("runtime bloom filter injects into the TPC-H fact scan; results hash-unchanged") {
    // The engine's own version of what text_decontam_bloom builds by
    // hand: InjectRuntimeFilter compresses the SELECTIVE dim side of a
    // shuffle join (customer filtered to one mktsegment, reached through
    // the ord⋈cust join) into a Bloom sketch and applies it map-side on
    // the fact scan's join key before the shuffle. At 100 TB this is the
    // difference between shuffling all of lineitem and shuffling the
    // qualifying sliver. The default thresholds (10 GB application-side
    // scan) are sized for clusters, so the pin lowers them to engage the
    // rewrite at gate scale, forces the fact join to shuffle
    // (auto-broadcast off — broadcast joins get DPP/pushdown instead),
    // and asserts BOTH the injected might_contain probe and that the
    // rewritten plan's result equals the default run row-for-row.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val filtered = Analytics.q3Join(s, sf)
    val optimized = filtered.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("might_contain"),
      s"runtime bloom filter not injected:\n$optimized")
    val expected = Analytics.q3Join(spark, sf).collect().map(_.toString).toSeq
    val got = filtered.collect().map(_.toString).toSeq
    assert(got === expected, "bloom-filtered plan changed the result")
  }

  test("AQE splits a skewed shuffle join with salting off (remedy ladder step 2)") {
    // The skew remedy ladder is (1) broadcast the small side — pinned by
    // the dim-join test above; (2) AQE's automatic skew-partition split —
    // pinned HERE; (3) explicit salting (SkewJoin.saltedJoin) for when
    // both sides shuffle and AQE's granularity isn't enough, oracle-
    // equal to the plain join by the q_salted_join CORRECTNESS row.
    // Build a hot key holding ~90% of the probe side, force a sort-merge
    // join (no broadcast), and assert AQE marks the join skew=true in
    // the FINAL adaptive plan — the hot partition was split at runtime,
    // no salt in the query.
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, length, lit, lpad, sum, when}
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // test-scale detection knobs; the MECHANISM under test is the same
      // one that fires at the 256 MB default on a real cluster
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
      val probe = spark.range(100000).select(
        when($"id" % 10 =!= 0, lit(0L)).otherwise($"id").as("k"),
        lpad($"id".cast("string"), 100, "x").as("payload"))
      val build = spark.range(100).select($"id".as("k"),
        ($"id" * 7).as("w"))
      val joined = probe.join(build, "k")
        .agg(count(lit(1)).as("n"), sum(length($"payload")).as("bytes"))
      // matches: 90 001 rows with k=0 (the hot key) + the 9 probe rows
      // whose own id (10..90) falls inside the build's key range
      val row = joined.collect().head
      assert(row.getLong(0) === 90010L, "join lost/duplicated rows under skew split")
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed join:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("heavy hitters: broadcast candidate join and top-k without a global sort") {
    val nodes = physical(TextAnalysis.heavyHitters(spark, sf))
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "candidate filter lost its broadcast join")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "top-10 must be TakeOrdered (per-partition partials), not a global sort")
  }

  /** The AQE-final plan string after actually running `df` — un-hinted
    * joins are planned from runtime statistics, so only the executed
    * adaptive plan shows their true shape.
    */
  private def executedPlanString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def withoutAutoBroadcast[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dedup_apply: un-hinted cluster attach broadcasts small, shuffles large") {
    // small side (sf0.001 cluster table): the planner/AQE must still pick
    // a broadcast join without any hint in the code
    val plan = executedPlanString(Clusters.dedupApply(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny cluster attach should broadcast:\n$plan")
    // corpus-scale side (threshold off simulates a cluster table too big
    // to broadcast): the join must degrade to a shuffle join, proving no
    // hard-coded broadcast can OOM a 100 TB run
    withoutAutoBroadcast {
      val big = executedPlanString(Clusters.dedupApply(spark, sf))
      assert(!big.contains("BroadcastHashJoin"),
        s"hard-coded broadcast reappeared in dedup_apply:\n$big")
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
        s"cluster attach lost its shuffle-join fallback:\n$big")
    }
  }

  test("decontam_embed_lsh: un-hinted eval-side joins broadcast small, shuffle large") {
    val plan = executedPlanString(Decontam.embedDecontamLsh(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark-sized eval keys/payloads should broadcast:\n$plan")
    withoutAutoBroadcast {
      val big = executedPlanString(Decontam.embedDecontamLsh(spark, sf))
      assert(!big.contains("BroadcastHashJoin"),
        s"hard-coded broadcast reappeared in embedDecontamLsh:\n$big")
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
        s"eval attach lost its shuffle-join fallback:\n$big")
    }
  }

  test("dedup_embed_lsh: in-bucket fold — no candidate-pair join in the plan") {
    // r14: the slim-candidate self-join + two payload-attach joins were
    // replaced by the per-bucket fold (the embedKnnGraphLsh device) —
    // the r14 100x screen measured the join shape at 271 s vs the
    // fold's 33 s on identical buckets. The plan must stay join-free:
    // payloads shuffle exactly once (the bucket groupByKey), and the
    // only aggregate exchange carries true pairs.
    val plan = executedPlanString(Similarity.embedPairsLsh(spark, sf))
    assert(!plan.contains("Join"),
      s"a candidate or attach join reappeared in embedPairsLsh:\n$plan")
    assert(plan.contains("MapGroups"),
      s"the per-bucket fold vanished from embedPairsLsh:\n$plan")
  }

  test("sink_dpp: runtime-derived dim join prunes fact partitions dynamically") {
    val plan = executedPlanString(graft.sources.Sinks.dppJoin(spark, sf))
    assert(plan.contains("dynamicpruning"),
      s"dynamic partition pruning missing from the fact scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "dim side must broadcast (DPP reuses the broadcast build side)")
  }

  test("dedup_substring: native fingerprint in-plan, pruned scans, no cartesian") {
    val df = Dedup.substringDedup(spark, sf)
    val nodes = physical(df)
    val plan = nodes.mkString("\n")
    // the window fingerprints come from the codegen'd native expression,
    // not a row UDF
    assert(plan.contains("graft_window_hashes"), "native expression missing")
    assert(!plan.contains("UDF"), "a UDF crept into the fingerprint path")
    // every parquet scan reads at most (doc_id, text) from the corpus
    // or (fp, doc_id, pos) from the staged base window index (r20: the
    // base half of the fingerprint set reads the staged artifact
    // instead of re-exploding the corpus twice) — the rewrite never
    // drags lang/source/n_chars through the pipeline
    val scans = nodes.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val cols = s.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("doc_id", "text")) ||
        cols.subsetOf(Set("fp", "doc_id", "pos")), s"unpruned scan: $cols")
    }
    assert(!plan.contains("CartesianProduct"), "cartesian product appeared")
  }

  test("decontamination pushes both source filters into the parquet scans") {
    val plan = Decontam.ngramCollisions(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [Not(In(source"))
    assert(plan.contains("PushedFilters: [In(source"))
  }

  test("partitioned sink read-back prunes at the file-listing level") {
    val plan = graft.sources.Sinks.partitionedRoundTrip(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("NOT (lang"), s"partition pruning missing:\n$plan")
  }

  test("text_lm_score: model extraction is TakeOrdered, top-set attach broadcasts") {
    val nodes = physical(TextAnalysis.lmScore(spark, sf))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "top-1000 bigram extraction must be TakeOrdered, not a global sort")
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the fixed-size top-bigram model must broadcast into the hit join")
  }

  test("text_decontam_bloom: sketch rejection runs map-side BEFORE the verify join") {
    val plan = Decontam.bloomDecontam(spark, sf)
      .queryExecution.executedPlan.toString
    val probeAt = plan.indexOf("might_contain")
    val joinAt = plan.indexOf("BroadcastHashJoin")
    assert(probeAt >= 0, s"bloom probe missing from the plan:\n$plan")
    assert(joinAt >= 0, "exact verify join missing")
    // executedPlan prints top-down: the probe Filter must sit BELOW the
    // join (i.e., later in the string) — on the scan side, not above it
    assert(probeAt > joinAt,
      s"bloom probe is not inside the scan stage under the verify join:\n$plan")
  }

  test("q_funnel and q_retention stay keyed-join + aggregate (no cartesian, no global sort)") {
    for ((name, df) <- Seq(
        "q_funnel" -> Behavior.qFunnel(spark, sf),
        "q_retention" -> Behavior.qRetention(spark, sf))) {
      val nodes = physical(df)
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"$name picked up a cartesian product")
      assert(!nodes.exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.SortExec] &&
          n.asInstanceOf[org.apache.spark.sql.execution.SortExec].global),
        s"$name picked up a global sort")
    }
  }

  test("q_ntile windows are partitioned (never an empty-partition global window)") {
    val nodes = physical(Behavior.qNtile(spark, sf))
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected a WindowExec")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "ntile window lost its PARTITION BY — a global ntile serializes the corpus through one task")
    }
  }

  test("embed_knn_graph bounds group emission: one typed shuffle + final window only") {
    val df = Similarity.embedKnnGraph(spark, sf)
    // the group stage and the rank stage — nothing else may shuffle
    assert(shuffles(df) <= 3, s"unexpected shuffle count ${shuffles(df)}")
    assert(!physical(df).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "knn graph must never plan a cartesian self-join")
  }

  test("sink_scd2: every window and the run agg share ONE dimension-key exchange") {
    val df = graft.sources.Sinks.scd2Build(spark, sf)
    // lag + running-sum windows, the run group-by, and the lead window
    // all partition on o_custkey: Catalyst must plan a single shuffle
    assert(shuffles(df) === 1, s"scd2 shuffle count ${shuffles(df)} != 1")
    val windows = physical(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "scd2 window lost its dimension-key PARTITION BY"))
  }

  test("pipeline_mix: quotas attach via broadcast; the pick window is per-source") {
    val df = Curation.mixSources(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "quota attach must broadcast (it is #sources rows), never shuffle the corpus")
    val windows = physical(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "mix rank window lost its PARTITION BY source"))
  }

  test("graph_pagerank plans keyed joins only — no cartesian, no global window") {
    val df = graft.operators.Graph.pagerank(spark, sf)
    val nodes = physical(df)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "pagerank iteration must never plan a cartesian product")
    // ranks stay (id, pr) pairs end-to-end: no window, no global sort
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]) ||
      nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "unexpected global sort in the pagerank plan")
  }

  test("graph_triangles: wedge/close joins stay keyed — no cartesian product") {
    val nodes = physical(Graph.triangles(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "triangle joins must be keyed (on the middle vertex / the (x,z) pair)")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "triangle joins must never degrade to a nested loop")
  }

  test("q_anomaly: one corpus pass; the moments frame attaches as a broadcast") {
    val df = Windows.anomaly(spark, sf)
    // window count = 1 keyed shuffle; the 1-row moments aggregate adds a
    // single-partition exchange over WINDOW-cardinality rows (not events)
    assert(shuffles(df) <= 2, s"q_anomaly shuffles ${shuffles(df)} > 2")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "moments must attach via broadcast, never a shuffle join")
  }

  test("dedup_containment: co-occurrence plan — JOIN-FREE; one per-shingle " +
      "df window on the collector's own exchange; nothing attaches payloads") {
    val nodes = physical(Dedup.containment(spark, sf, checkpoint = false))
    // the r11-r14 plan's cost classes stay pinned ABSENT: no PAYLOAD
    // join (the array-attach verify measured ~375 s marginal at 100×)
    // and no CORPUS-WIDE RANK window (the df-ranked prefix rank's two
    // corpus-wide sorts measured ~180 s) — see decades_r15 Section A.
    // The r16 shape's hot-shingle LEFT ANTI is gone too (r17: the
    // df-count pass and the anti-join's left side each re-derived the
    // shingle explode; decades_r17 Section A measured the join-free
    // window-df shape at 50.4-52.3 s vs 64.2-66.9 full-row at 100×),
    // so the plan must now contain NO join at all. The one WindowExec
    // that replaces it is a DIFFERENT cost class from the banned
    // prefix rank: count(*) OVER (PARTITION BY s) rides the single
    // per-shingle exchange+sort the posting collector needs anyway —
    // pinned here as: exactly one window, partitioned (never
    // corpus-wide), and ZERO extra exchanges beyond it for the
    // collector (the groupBy(s) reuses the window's partitioning).
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty,
      s"containment is join-free since r17; found ${joins.map(_.joinType)}")
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.length === 1, s"expected the one df window, got $windows")
    assert(windows.head.partitionSpec.nonEmpty,
      "the df window must partition by shingle — a corpus-wide window " +
        "is the banned r11-r14 prefix-rank cost class")
    // the pair stream comes from generators over posting lists
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.GenerateExec]),
      "expected the posting-list pair generator")
    // one corpus exchange (shared by window + collector) + one
    // pair-count exchange — a third would mean the collector stopped
    // reusing the window's partitioning
    val df2 = Dedup.containment(spark, sf, checkpoint = false)
    assert(shuffles(df2) <= 2, s"containment shuffles ${shuffles(df2)} > 2")
  }

  test("q_session_paths: two aggregations + TakeOrdered, no global sort") {
    val nodes = physical(Behavior.qSessionPaths(spark, sf))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "top-20 must be TakeOrdered (per-partition partials), not a global sort")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("q_transitions: lag window partitions by user; denominator windows the agg") {
    val df = Behavior.qTransitions(spark, sf)
    val windows = physical(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "transition windows must keep their PARTITION BY (user_id / prev_type)"))
    assert(!physical(df).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("traffic parse: one from_json and one timestamp parse per message, " +
      "on its own and under both DGIM jobs") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, GetTimestamp, JsonToStructs}
    import spark.implicits._
    import graft.sources.TrafficSource
    import graft.streaming.TrafficJobs
    // a file-backed frame: a local Seq would be folded away by the optimizer
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_msgs").toString
    Seq("""{"value": "1", "timestamp": "2024-01-01T00:00:01.000000"}""")
      .toDF("raw").write.mode("overwrite").text(dir)
    def parsed() = TrafficSource.parse(
      spark.read.text(dir).withColumnRenamed("value", "raw"))
    def count(df: DataFrame)(pf: PartialFunction[Expression, Expression]): Int =
      df.queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect(pf))).size
    for ((name, df) <- Seq(
        "parse" -> parsed(),
        "tumbleDgim" -> TrafficJobs.tumbleDgim(parsed()),
        "hopDgim" -> TrafficJobs.hopDgim(parsed()))) {
      // with a plain projection, filter pushdown copies the decode into
      // the null filter: 3 from_json and 2 timestamp parses per message
      assert(count(df) { case j: JsonToStructs => j } === 1, s"$name: from_json count")
      assert(count(df) { case g: GetTimestamp => g } === 1, s"$name: timestamp parse count")
    }
  }
}
