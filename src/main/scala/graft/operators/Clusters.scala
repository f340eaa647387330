package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over the near-duplicate pair graph — the step
  * that turns PAIRS (what every near-dup detector emits) into CLUSTERS
  * (what a dedup pipeline actually acts on: keep one doc per component).
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with its own id; each round every node takes the min of its own label
  * and its neighbours' labels; at the fixpoint every node carries the
  * minimum doc_id of its component — a deterministic, engine-independent
  * cluster id. Each round is ONE join + ONE aggregation on the edge list
  * (both plain hash shuffles Catalyst plans normally, AQE-splittable),
  * and `localCheckpoint` cuts the growing lineage so round N+1 reads
  * round N's materialized labels instead of replaying the whole chain.
  *
  * Scale: rounds = graph diameter. Near-dup components are overwhelmingly
  * tiny and star-or-chain shaped (diameter ≤ ~3), so this converges in a
  * handful of rounds of edge-cardinality shuffles — the right trade at
  * 100 TB, where per-round cost dominates. For adversarially long chains
  * [[alternatingStars]] ships the large-star/small-star variant
  * (Kiveris et al., "Connected Components in MapReduce and Beyond"),
  * which contracts components in O(log n) rounds with the same
  * per-round join shape.
  *
  * Oracle: DuckDB recursive CTE computing reachability labels over the
  * SAME pair set (min reachable id == component min on a symmetric edge
  * list) — an exact SQL hash-match, plus a ScalaTest spec on synthetic
  * graphs (chains, stars, isolated pairs).
  */
object Clusters {

  /** The propagated (doc_id → cluster_id) label set over the verified
    * Jaccard pair graph, staged through the fingerprint-keyed dump like
    * the pair set itself: clusters are the OUTPUT of a pipeline stage
    * consumed by two queries (`dedup_clusters`, `dedup_apply`), so the
    * propagation runs once per (source file, mtime) key and every
    * consumer — same session or a later driver run — reads one tiny
    * parquet. Deterministic by construction (min-label fixpoint), so
    * the dump is a pure cache, never a semantic change.
    */
  private[graft] def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dump = graft.sources.DumpCache.dirFor(
      "graft_cc_labels", dir, "documents.parquet")
    graft.sources.DumpCache.ensure(dump) { tmp =>
      val pairs = Dedup.ngramJaccard(spark, dir)
        .select($"doc_id_a".as("a"), $"doc_id_b".as("b"))
      propagateMinLabels(pairs)
        .select($"node".as("doc_id"), $"label".as("cluster_id"))
        .write.mode("overwrite").parquet(tmp)
    }
    spark.read.parquet(dump)
  }

  /** Clusters of the exact 3-gram Jaccard ≥ 0.8 near-dup graph
    * ([[Dedup.ngramJaccard]]'s verified pair set). One row per clustered
    * doc: (doc_id, cluster_id = min doc_id in component, n_members).
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusterLabels(spark, dir).select($"doc_id", $"cluster_id",
      count(lit(1)).over(Window.partitionBy($"cluster_id")).as("n_members"))
  }

  /** Min-label propagation to the fixpoint over an undirected edge list
    * given as (a, b) pairs (each undirected edge once, either order).
    * Returns (node, label) with label = min node id of the component.
    * Separated from [[dedupClusters]] so specs can drive synthetic
    * graphs directly.
    */
  def propagateMinLabels(pairs: DataFrame, maxRounds: Int = 50,
      checkpointEvery: Int = 3): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // materialize the (possibly expensive) pair computation BEFORE the
    // symmetrizing union, via cache()+count rather than localCheckpoint:
    // checkpointing goes through .rdd, which re-plans the pair query
    // without AQE; caching materializes the AQE-optimized plan once and
    // the union's two branches + every round read the in-memory relation
    val p = pairs.toDF("a", "b").cache()
    p.count()
    val edges = p.select($"a".as("src"), $"b".as("dst"))
      .union(p.select($"b".as("src"), $"a".as("dst")))
      .localCheckpoint()
    var labels = edges.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label"))
      .localCheckpoint()
    // labels only ever DECREASE, so the label sum is a strictly
    // decreasing potential: fixpoint ⇔ the sum is unchanged. That makes
    // convergence detection a near-free global agg on the round's own
    // materialization — no changed-flag column, no extra join.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum($"label".cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
        .as[java.math.BigDecimal].head
    var prevSum = labelSum(labels)
    var round = 0
    var converged = edges.isEmpty
    while (!converged && round < maxRounds) {
      // one round = ONE join + ONE keyed agg: candidate labels are each
      // node's neighbours' labels plus its own, min-reduced per node
      val joined = edges.join(labels, edges("dst") === labels("node"))
        .select(edges("src").as("node"), labels("label"))
        .union(labels)
        .groupBy($"node").agg(min($"label").as("label"))
      // lineage cut every `checkpointEvery` rounds rather than every
      // round: a checkpoint is a full materialization of the label set,
      // and on deep graphs (many rounds) those dominate the round cost.
      // Between cuts the lineage replays on top of the last checkpoint —
      // and since each round references the previous labels TWICE (join
      // branch + union branch), the replayed plan grows 2^k between
      // cuts. k must stay small (default 3 ⇒ ≤8 replayed joins of
      // node-cardinality data — cheaper than 3 materializations);
      // k=1 restores the old checkpoint-per-round.
      val next = if (round % checkpointEvery == checkpointEvery - 1)
        joined.localCheckpoint(eager = false) // materialized by the sum action below
      else joined
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      round += 1
    }
    require(converged, s"label propagation did not converge in $maxRounds rounds")
    p.unpersist(blocking = false) // rounds are checkpointed; the cache is done
    labels
  }

  /** The O(log n)-rounds alternative to [[propagateMinLabels]]:
    * alternating large-star / small-star rewiring (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"). Each round is the
    * same join+agg shape as a propagation round, but the rewiring
    * CONTRACTS long chains instead of walking them, so convergence is
    * logarithmic in component size rather than linear in diameter —
    * the variant to reach for when components can be adversarially
    * long (propagation remains the default: near-dup components are
    * tiny-diameter and its per-round constant is smaller).
    *
    *  - large-star: every node attaches its STRICTLY GREATER neighbours
    *    to min(Γ(u) ∪ u)
    *  - small-star: every node attaches its ≤ neighbours and itself to
    *    min(Γ≤(u) ∪ u)
    *
    * Both preserve connectivity and only ever decrease the attachment
    * targets; the fixpoint is a star per component centred on its min
    * node. Returns (node, label) like propagateMinLabels; HygieneSpec
    * pins equality with it on random graphs and verifies the round
    * count stays logarithmic on a long path.
    */
  def alternatingStars(pairs: DataFrame, maxRounds: Int = 60): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    def canon(df: DataFrame): DataFrame =
      df.select(least($"u", $"v").as("lo"), greatest($"u", $"v").as("hi"))
        .filter($"lo" =!= $"hi").distinct()
    val p = pairs.toDF("a", "b").cache()
    p.count()
    val nodes = p.select($"a".as("node")).union(p.select($"b".as("node")))
      .distinct().localCheckpoint()
    var edges = canon(p.select($"a".as("u"), $"b".as("v"))).localCheckpoint()
    def sym(e: DataFrame): DataFrame =
      e.select($"lo".as("u"), $"hi".as("v"))
        .union(e.select($"hi".as("u"), $"lo".as("v")))
    // one star step: attach the selected side of every node's
    // neighbourhood to min(Γ(u)∪u), computed over the symmetric view
    def star(e: DataFrame, largeStar: Boolean): DataFrame = {
      val s = sym(e)
      val m = s.groupBy($"u".as("mu")).agg(min(least($"v", $"u")).as("m"))
      val attach = s.join(m, $"u" === $"mu")
        .filter(if (largeStar) $"v" > $"u" else $"v" <= $"u")
        .select($"v".as("u"), $"m".as("v"))
      val self = if (largeStar) attach
        else attach.union(m.select($"mu".as("u"), $"m".as("v")))
      canon(self)
    }
    var round = 0
    var converged = edges.isEmpty
    while (!converged && round < maxRounds) {
      val next = star(star(edges, largeStar = true), largeStar = false)
        .localCheckpoint()
      // fixpoint: identical edge multiset (both are distinct canonical
      // sets, so count + anti-join emptiness decides equality)
      converged = next.count() == edges.count() &&
        next.join(edges, Seq("lo", "hi"), "left_anti").isEmpty
      edges = next
      round += 1
    }
    require(converged, s"alternating stars did not converge in $maxRounds rounds")
    p.unpersist(blocking = false)
    // at the fixpoint every component is a star centred on its min node
    val labels = nodes.join(edges.select($"hi".as("node"), $"lo".as("label")),
        Seq("node"), "left")
      .select($"node", coalesce($"label", $"node").as("label"))
    (labels, round)
  }

  /** The STANDING per-generation label artifact: connected components
    * over BASE-corpus pairs only (both endpoints outside the delta),
    * staged like [[clusterLabels]]. This is what a previous ingest
    * generation's `dedup_clusters_delta` commit published; the
    * incremental merge reads it and never re-propagates inside it.
    */
  private[graft] def baseClusterLabels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dump = graft.sources.DumpCache.dirFor(
      "graft_cc_labels_base", dir, "documents.parquet")
    graft.sources.DumpCache.ensure(dump) { tmp =>
      val pairs = Dedup.ngramJaccard(spark, dir)
        .filter(!Dedup.isDelta($"doc_id_a") && !Dedup.isDelta($"doc_id_b"))
        .select($"doc_id_a".as("a"), $"doc_id_b".as("b"))
      propagateMinLabels(pairs)
        .select($"node".as("doc_id"), $"label".as("cluster_id"))
        .write.mode("overwrite").parquet(tmp)
    }
    spark.read.parquet(dump)
  }

  /** Incremental connected components for an ingest delta
    * (`dedup_clusters_delta`) — the r11 verdict's last non-incremental
    * ingest stage, closed. The standing corpus's labels are READ from
    * the staged generation ([[baseClusterLabels]]), never recomputed;
    * the delta's new verified pairs are contracted onto them:
    *
    *  1. every new pair maps its endpoints to their CURRENT labels
    *     (base label when the endpoint is a clustered base doc, own id
    *     otherwise) — the condensed graph's edge list;
    *  2. min-label propagation runs ON THE CONDENSED GRAPH ONLY —
    *     cardinality = touched components + delta docs, not the corpus
    *     (a base component collapses to ONE node regardless of size);
    *  3. members of touched base components re-label through the
    *     old-label → merged-label map; new-pair endpoints label
    *     directly.
    *
    * Output: (doc_id, cluster_id) for every AFFECTED doc — exactly the
    * full-corpus recompute restricted to components containing a
    * delta-paired doc, which is what the DuckDB oracle checks (the
    * index-probe ≡ recompute contract of `dedup_delta`). Handles a
    * delta pair BRIDGING two existing base components transitively
    * (both labels land in one condensed component; HygieneSpec pins
    * it), because contraction preserves connectivity.
    *
    * Scale: work is O(new pairs + touched-component membership). At a
    * continuous 100 TB ingest this replaces the from-scratch corpus CC
    * per delta — the propagation input shrinks from corpus-pair
    * cardinality to the delta's blast radius.
    */
  def clustersDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val newPairs = Dedup.ngramJaccard(spark, dir)
      .filter(Dedup.isDelta($"doc_id_a") || Dedup.isDelta($"doc_id_b"))
      .select($"doc_id_a".as("a"), $"doc_id_b".as("b"))
    mergeDeltaPairs(baseClusterLabels(spark, dir), newPairs)
  }

  /** The delta's verified pair set STAGED as a parquet dump (DumpCache,
    * keyed by the documents generation) — the pair stream a continuous
    * near-dup detector emits, which [[streamClustersDelta]] consumes as
    * a file stream.
    */
  private[graft] def deltaPairsDump(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    graft.sources.DumpCache.ensure(
      graft.sources.DumpCache.dirFor("graft_cc_delta_pairs", dir, "documents.parquet")) { tmp =>
      Dedup.ngramJaccard(spark, dir)
        .filter(Dedup.isDelta($"doc_id_a") || Dedup.isDelta($"doc_id_b"))
        .select($"doc_id_a".as("a"), $"doc_id_b".as("b"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
  }

  /** One micro-batch of the CONTINUOUS label maintenance: upsert the
    * batch's merge output into the affected-so-far table. `base` is the
    * staged standing generation, `affected` the labels already rewritten
    * by earlier batches (overriding `base` where both know a doc). The
    * effective current labeling is base-with-affected-overrides; the
    * batch's pairs contract onto it exactly as [[mergeDeltaPairs]], and
    * its output (every member of every touched component, with merged
    * labels) replaces those docs' rows in `affected`. Incremental
    * folding is EXACT: labels are component-min doc ids, contraction
    * preserves connectivity, and min-of-mins is the global min — so
    * folding pair batches in any split equals the one-shot merge
    * (HygieneSpec pins a bridge whose two halves arrive in DIFFERENT
    * batches).
    */
  private[graft] def applyPairBatch(base: DataFrame, affected: DataFrame,
      pairs: DataFrame): DataFrame = {
    val cur = base.join(affected, Seq("doc_id"), "left_anti")
      .unionByName(affected)
    val out = mergeDeltaPairs(cur, pairs)
    affected.join(out, Seq("doc_id"), "left_anti").unionByName(out)
  }

  /** CONTINUOUS incremental connected components — `dedup_clusters_delta`
    * as the ingest topology actually runs it: the verified delta pairs
    * arrive as a STREAM (the staged pair dump read as a file stream —
    * the role `q_stream_delta_lsh`'s emissions play in production), and
    * each micro-batch folds into a VERSIONED affected-labels generation
    * via foreachBatch + [[applyPairBatch]] against the staged base
    * labels (read, never recomputed). The final generation is returned:
    * with the whole dump in one AvailableNow batch this is bit-identical
    * to the batch row, so the SAME DuckDB oracle (full-corpus CC
    * restricted to touched components) hash-checks continuous
    * maintenance ≡ batch merge ≡ from-scratch recompute; the multi-batch
    * split-fold equality is the spec's job. State lives in the published
    * generations (blast-radius-sized), not the state store — the
    * foreachBatch pattern for maintenance jobs whose per-batch work is a
    * JOIN, not a keyed fold.
    */
  def streamClustersDelta(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val s = graft.GraftConfig.newSession(spark)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val pairsDir = deltaPairsDump(s, dir)
    val base = baseClusterLabels(s, dir)
    val genRoot = java.nio.file.Files.createTempDirectory("graft_cc_gen").toString
    // tmpfs checkpoint, deleted at drain (the shared harness device)
    val ckpt = StreamQueries.harnessCheckpointDir(
      "graft_cc_ckpt_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val empty = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, cluster_id BIGINT"))
    @volatile var latest: Option[String] = None
    val q = s.readStream.schema("a BIGINT, b BIGINT").parquet(pairsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val affected = latest.map(s.read.parquet(_)).getOrElse(empty)
        val next = s"$genRoot/v$id"
        applyPairBatch(base, affected, batch)
          .write.mode("overwrite").parquet(next)
        latest = Some(next)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally StreamQueries.deleteRecursively(new java.io.File(ckpt))
    latest.map(s.read.parquet(_)).getOrElse(empty)
  }

  /** The merge behind [[clustersDelta]], factored so specs can drive
    * synthetic base labelings and delta pair sets (the bridging case).
    * `baseLabels`: (doc_id, cluster_id) of the standing generation;
    * `newPairs`: (a, b) pairs each touching ≥ 1 non-base doc.
    */
  private[graft] def mergeDeltaPairs(baseLabels: DataFrame,
      newPairs: DataFrame): DataFrame = {
    val spark = baseLabels.sparkSession
    import spark.implicits._
    // endpoints → current labels; base labels are near-dup-density
    // sized and broadcastable at typical delta scale (AQE decides)
    val la = baseLabels.select($"doc_id".as("a"), $"cluster_id".as("lbl_a"))
    val lb = baseLabels.select($"doc_id".as("b"), $"cluster_id".as("lbl_b"))
    val condensed = newPairs
      .join(la, Seq("a"), "left").join(lb, Seq("b"), "left")
      .select(coalesce($"lbl_a", $"a").as("a"), coalesce($"lbl_b", $"b").as("b"))
    // CC on the condensed graph only: (old label ∪ endpoint id) nodes
    val merged = propagateMinLabels(condensed)
      .select($"node".as("old_label"), $"label".as("new_label"))
    // touched base components re-label wholesale through the map
    val relabeled = baseLabels
      .join(merged, baseLabels("cluster_id") === merged("old_label"))
      .select($"doc_id", $"new_label".as("cluster_id"))
    // new-pair endpoints (delta docs + previously unclustered base
    // docs) label directly; clustered base endpoints are already in
    // `relabeled` with the same mapping, so the union dedups exactly
    val endpoints = newPairs.select($"a".as("doc_id"))
      .union(newPairs.select($"b".as("doc_id"))).distinct()
    val endpointLabels = endpoints
      .join(baseLabels.select($"doc_id", $"cluster_id".as("old0")), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"old0", $"doc_id").as("old_label"))
      .join(merged, "old_label")
      .select($"doc_id", $"new_label".as("cluster_id"))
    relabeled.union(endpointLabels).distinct()
  }

  /** The applied artifact a dedup pipeline actually ships: the WHOLE
    * corpus with each doc's cluster id (its own id when unclustered) and
    * an `is_canonical` flag — keep the minimum doc_id of every
    * component, drop the rest. The left join carries NO broadcast hint:
    * the cluster table is near-dup-density sized, usually tiny next to
    * the corpus, but at 100 TB with heavy duplication it can be
    * corpus-order — let the planner/AQE pick broadcast when the runtime
    * size clears the threshold and fall back to a clean doc_id shuffle
    * join otherwise (both shapes pinned in PlanShapeSpec). The expensive
    * pair set is shared with `dedup_ngram_jaccard` / `dedup_clusters`
    * through the fingerprint-keyed pair dump.
    */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clusters = clusterLabels(spark, dir)
    graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", $"lang", $"source",
        coalesce($"cluster_id", $"doc_id").as("cluster_id"),
        (coalesce($"cluster_id", $"doc_id") === $"doc_id").cast("int").as("is_canonical"))
  }

  /** Reachability-label recursive CTE over the verified Jaccard pair set:
    * node n gets every label reachable from it; MIN per node == component
    * min because the edge list is made symmetric first.
    */
  private val componentsCte: String = s"""
    WITH RECURSIVE pairs AS (
      ${Dedup.ngramJaccardSql}
    ),
    edges AS (
      SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
      UNION
      SELECT doc_id_b AS s, doc_id_a AS d FROM pairs
    ),
    reach(node, label) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, r.label FROM edges e JOIN reach r ON r.node = e.d
    ),
    comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node)"""

  val dedupClustersSql: String = componentsCte + """
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
    FROM comp"""

  val dedupApplySql: String = componentsCte + """
    SELECT d.doc_id, d.lang, d.source,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           CAST(COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS INT) AS is_canonical
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id"""

  /** Oracle for [[clustersDelta]]: from-scratch reachability over the
    * FULL corpus pair set, restricted to components containing a
    * delta-paired doc — incremental merge ≡ recompute on the blast
    * radius. (Declared after [[componentsCte]]: object vals initialize
    * in order.)
    */
  val clustersDeltaSql: String = componentsCte + """
    , affected AS (SELECT DISTINCT cluster_id FROM comp WHERE doc_id % 5 = 0)
    SELECT c.doc_id, c.cluster_id FROM comp c JOIN affected a USING (cluster_id)"""
}
