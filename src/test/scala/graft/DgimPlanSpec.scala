package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Dgim
import graft.operators.DgimQueries

/** Validates the custom DgimWindowAggExec physical operator end-to-end,
  * in its count form (one bit, implicit amount 1) and its sum form
  * (17 bits over a cents column): its output must equal the reference
  * semantics computed independently (collect → group per window → sort →
  * fold), each executed plan must hold exactly one such operator above a
  * planner-inserted Exchange + Sort, and a null child column must fail
  * the task.
  */
class DgimPlanSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Each query's executed plan holds exactly one DgimWindowAggExec of
    * `bits` bits over a `width`-column child, with a planner-inserted
    * Exchange and Sort below it.
    */
  private def assertOneExecOverExchangeSort(
      queries: Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame],
      bits: Int, width: Int): Unit =
    for (q <- queries) {
      val df = q(spark, sf)
      df.collect()
      val execs = collect(df.queryExecution.executedPlan) {
        case e: graft.plans.DgimWindowAggExec => e
      }
      assert(execs.size === 1, df.queryExecution.executedPlan.toString)
      val exec = execs.head
      assert(exec.bits === bits)
      assert(find(exec.child)(_.isInstanceOf[ShuffleExchangeLike]).isDefined)
      assert(find(exec.child)(_.isInstanceOf[SortExec]).isDefined)
      assert(exec.child.output.length === width)
    }

  test("physical plan is DgimWindowAgg over planner-inserted Exchange + Sort") {
    // the count form reads (ws, we, ts_sec) with an implicit amount of 1 —
    // a constant amount column would widen every shuffled and sorted row
    assertOneExecOverExchangeSort(
      Seq(DgimQueries.dgimTumble _, DgimQueries.dgimSlide _), bits = 1, width = 3)
  }

  test("physical plan is DgimSumWindowAgg over planner-inserted Exchange + Sort") {
    // the sum form is the same exec at 17 bits over (ws, we, ts_sec, cents)
    assertOneExecOverExchangeSort(
      Seq(DgimQueries.dgimSumTumble _, DgimQueries.dgimSumSlide _), bits = 17, width = 4)
  }

  test("sum exec output equals an independent 17-instance sort-then-fold reference") {
    import spark.implicits._
    val got = DgimQueries.dgimSumTumble(spark, sf)
      .select($"window_start".cast("long"), $"sum_estimate", $"exact_cents")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val rows = graft.sources.Tables.events(spark, sf)
      .filter($"event_type" === "click" && $"ts".isNotNull)
      .select($"ts".cast("long"),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.round($"value" * 100).cast("long"),
          org.apache.spark.sql.functions.lit(0L)).as("cents"))
      .as[(Long, Long)].collect()
    val expected = rows.groupBy(_._1 / 3600 * 3600).map { case (ws, grp) =>
      val sorted = grp.sortBy(_._1)
      val exact = grp.map(_._2).sum
      val builders = Array.fill(17)(new Dgim.Builder(3600L))
      var latest = 0L
      sorted.foreach { case (ts, cents) =>
        if (cents > 0L) {
          val v = math.min(cents, (1L << 17) - 1)
          latest = math.max(latest, ts)
          (0 until 17).foreach { j =>
            if (((v >> j) & 1L) == 1L) builders(j).add(ts)
          }
        }
      }
      val est = (0 until 17).map(j =>
        (1L << j) * builders(j).state.estimateAt(latest, roundUp = true)).sum
      ws -> (est, exact)
    }
    assert(got === expected)
  }

  test("custom exec output equals independent sort-then-fold reference (tumble + hop)") {
    import spark.implicits._
    for ((q, isSlide) <- Seq(DgimQueries.dgimTumble _ -> false, DgimQueries.dgimSlide _ -> true)) {
      val got = q(spark, sf)
        .select($"window_start".cast("long"), $"window_end".cast("long"),
          $"count_estimate", $"exact_count")
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .toMap

      // independent reference: same window assignment done by hand
      val clicks = graft.sources.Tables.events(spark, sf)
        .filter($"event_type" === "click")
        .select($"ts".cast("long")).as[Long].collect()
      val expected = clicks
        .flatMap { ts =>
          if (isSlide) (0 until 4).map(i => (ts / 900 * 900 - i * 900L, ts))
          else Seq((ts / 3600 * 3600, ts))
        }
        .groupBy(_._1)
        .map { case (ws, rows) =>
          val sorted = rows.map(_._2).sorted
          ((ws, ws + 3600), (Dgim.estimateSorted(sorted, 3600L), sorted.length.toLong))
        }
      assert(got === expected)
    }
  }

  test("SQL-surface dgim_estimate agrees with the custom operator per window") {
    import spark.implicits._
    def byWindow(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.select($"window_start".cast("long"), $"count_estimate", $"exact_count")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaExec = byWindow(DgimQueries.dgimTumble(spark, sf))
    val viaSql = byWindow(DgimQueries.sqlDgimTumble(spark, sf))
    assert(viaSql.keySet === viaExec.keySet, "window sets differ")
    viaExec.foreach { case (ws, (estExec, exact)) =>
      val (estSql, exactSql) = viaSql(ws)
      // exact counts are deterministic on both strategies
      assert(exactSql === exact, s"exact count differs in window $ws")
      // estimates come from different (both canonical) merge orders, so
      // the contract is the published DGIM bound, not equality: the only
      // uncertainty is half the oldest bucket, ≤ 50% of the true count
      for (est <- Seq(estExec, estSql))
        assert(math.abs(est - exact) <= math.max(1L, exact / 2),
          s"window $ws: estimate $est vs exact $exact breaks the DGIM bound")
    }
  }

  test("exec enforces its non-null child contract instead of silently reading 0") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.plans.DgimWindowAggPlan
    // a null ts slipped past the query-level guard must FAIL the task,
    // not land the row in the 1970 epoch window; a null amount must
    // fail too, not read as 0 cents
    val countChild = Seq((3600L, 7200L, Some(3700L)), (3600L, 7200L, None))
      .toDF("ws", "we", "ts_sec")
      .select($"ws", $"we", $"ts_sec".cast("long").as("ts_sec"))
    val sumChild = Seq((3600L, 7200L, 3700L, Some(5L)), (3600L, 7200L, 3701L, None))
      .toDF("ws", "we", "ts_sec", "cents")
    graft.plans.DgimStrategy.ensureRegistered(spark)
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).toSeq
    for (plan <- Seq(
        DgimWindowAggPlan(3600L, ColumnBridge.logicalPlan(countChild)),
        DgimWindowAggPlan.sum(3600L, DgimQueries.SumBits, ColumnBridge.logicalPlan(sumChild)))) {
      val e = intercept[Exception] { ColumnBridge.ofRows(spark, plan).collect() }
      assert(chain(e).exists(_.contains("emitted a null column")), s"got: ${chain(e).take(3)}")
    }
  }

  test("operator streams groups (no OOM-prone per-group materialization): many tiny groups") {
    import spark.implicits._
    // sanity: outputs one row per distinct window even when #groups >> partitions
    val n = DgimQueries.dgimSlide(spark, sf).count()
    val distinctWindows = DgimQueries.dgimSlide(spark, sf)
      .select("window_start", "window_end").distinct().count()
    assert(n === distinctWindows)
  }

  test("SQL-registered dgim_sum_estimate works from SQL text within the bound") {
    graft.GraftFunctions.register(spark)
    graft.sources.Tables.events(spark, sf).createOrReplaceTempView("events_sum_sql")
    val rows = spark.sql("""
      SELECT window.start AS ws,
             dgim_sum_estimate(cents, ts_sec) AS est,
             SUM(cents) AS exact
      FROM (SELECT ts, CAST(round(value * 100) AS BIGINT) AS cents,
                   unix_timestamp(ts) AS ts_sec
            FROM events_sum_sql
            WHERE event_type = 'click' AND ts IS NOT NULL)
      GROUP BY window(ts, '1 hour')""").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Long]("est")
      val exact = r.getAs[Long]("exact")
      assert(math.abs(est - exact) <= exact / 2 + 17,
        s"window ${r.get(0)}: est=$est exact=$exact")
    }
  }

  test("q_dgim_sum: every window's sum estimate within the §5 bound of its exact twin") {
    for (df <- Seq(DgimQueries.dgimSumTumble(spark, sf),
        DgimQueries.dgimSumSlide(spark, sf))) {
      val rows = df.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val est = r.getAs[Long]("sum_estimate")
        val exact = r.getAs[Long]("exact_cents")
        // per-bit DGIM 50% bound weighted by 2^j -> 50% of the sum, plus
        // <= 1 round-up slack per bit instance (17 bits)
        assert(math.abs(est - exact) <= exact / 2 + 17,
          s"window ${r.get(0)}: est=$est exact=$exact")
      }
    }
  }
}
