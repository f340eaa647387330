package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.StreamQueries

/** The harness the dev mains share (Bench, Verify, Explain, StateProbe):
  * one session builder and one row loop, so a row is planned and run
  * under the same confs and the same state-store rule whichever main
  * runs it — the Verify dump executes the plans Bench times.
  */
object Harness {

  /** One row's outcome: wall seconds (-1.0 when the row threw), and the
    * effective state-store provider and final `StreamingQueryProgress`
    * JSON of the row's last harness stream (absent for rows that run
    * none).
    */
  final case class RowResult(seconds: Double, stateStore: Option[String],
      progress: Option[String])

  /** `$SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The one session builder: `local[cpus]` with as many shuffle
    * partitions, UTC, no UI, WARN logs, then graft's two session defaults
    * ([[GraftConfig.useSplittableWrites]] before the first query, as it
    * requires, and [[GraftConfig.useAdaptiveCachedPlanPartitioning]]).
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a terminated harness stream's state-store providers stay loaded
      // until the maintenance task notices the query is gone; at the
      // default 60 s a fast-moving suite stacks many rows' heap state
      // (GB-class at 100×) before anything unloads. Maintenance only
      // compacts snapshots and unloads inactive providers, so the
      // shorter interval has no semantic effect.
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "15s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftConfig.useSplittableWrites(spark)
    GraftConfig.useAdaptiveCachedPlanPartitioning(spark)
  }

  /** `$SPARK_GRAFT_ONLY`: an optional comma-separated subset of row keys
    * for targeted local runs; unset, every row runs.
    */
  private val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Whether the corpus at `sfDir` is large enough for the heavy-state
    * rows ([[GraftConfig.HeavyStateHarnessRows]]) to run on
    * RocksDB+changelog: documents rows at or above
    * [[GraftConfig.StateStoreFlipDocs]]. At 100× those rows hold
    * 0.2-3.7 GB of state and the flip measured 0.67-0.94×; at sf0.1
    * every row's state fits the heap and the flip only adds fixed store
    * overhead, and small-state rows lose to it at any scale.
    */
  def flipsHeavyRows(spark: SparkSession, sfDir: String): Boolean =
    graft.sources.Tables.documents(spark, sfDir).count() >=
      GraftConfig.StateStoreFlipDocs

  /** Run `rows` (minus those `$SPARK_GRAFT_ONLY` leaves out) in
    * alphabetical order, so first-touch costs land on the same row every
    * run. Each row runs inside its own [[StreamQueries.RowScope]],
    * on RocksDB+changelog when `flipHeavyRows` and the row is heavy;
    * `consume` is the row's action (count, dump, explain) and is timed
    * with the row. A row that throws pages on stderr, records -1.0 and
    * the loop goes on. Afterwards the row's `.cache()` pins are released:
    * they guard one row's plan against re-execution and are never
    * cross-row state, so a later row reusing them would get an
    * order-dependent time.
    */
  def run(spark: SparkSession, sfDir: String,
      rows: Map[String, (SparkSession, String) => DataFrame],
      flipHeavyRows: Boolean)(
      consume: (String, DataFrame) => Unit): Seq[(String, RowResult)] =
    rows.toSeq.filter { case (k, _) => only.forall(_(k)) }.sortBy(_._1)
      .map { case (name, fn) =>
        val scope = new StreamQueries.RowScope(
          if (flipHeavyRows && GraftConfig.HeavyStateHarnessRows(name))
            Some("rocksdb-changelog")
          else None)
        val t0 = System.nanoTime()
        val seconds =
          try {
            scope.run(consume(name, fn(spark, sfDir)))
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(
                s"[harness] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
              -1.0
          }
        spark.catalog.clearCache()
        name -> RowResult(seconds, scope.provider, scope.progress)
      }
}
