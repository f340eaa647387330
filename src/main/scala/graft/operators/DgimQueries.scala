package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.plans.{DgimStrategy, DgimWindowAggPlan}
import graft.sources.Tables

/** DGIM approximate 1-bit counting per event-time window — the reference's
  * flagship capability (tumble + hop DGIM estimates), deterministic batch
  * form, and its §5 sum companion.
  *
  * Executed by the custom [[graft.plans.DgimWindowAggExec]] physical
  * operator (count and sum alike): filter → window-assign → ONE shuffle on
  * the window key + SPILLABLE external sort (both planned by
  * EnsureRequirements from the operator's declared distribution/ordering
  * requirements) → streaming per-group DGIM fold with O(log² W) state per
  * bit. Unlike groupByKey.mapGroups, no group is ever materialized in task
  * memory, so a hot window cannot OOM a task at 100 TB. The mergeable
  * `DgimBitAggregator` remains the incremental streaming path
  * (graft.streaming.TrafficJobs).
  */
object DgimQueries {

  /** Bit width of the DGIM sum sketch's binary decomposition — covers
    * the events table's cents domain at every SF. The ONE constant the
    * exec, the SQL replay, and the streaming aggregator all derive
    * from (the saturation cap is (1 << SumBits) - 1).
    */
  val SumBits = 17

  /** Window span of every batch DGIM query, and the sketch's W. */
  private val WindowSeconds = 3600L

  /** The exec's child: clicks with a non-null ts as (ws, we, ts_sec),
    * plus the cents amount for the sum form; registers the strategy.
    *
    * ts null guard: the exec's child contract is non-null LONG columns —
    * a null ts would make window() emit a null struct whose getLong reads
    * 0 and lands the row in the 1970 epoch window instead of failing.
    */
  private def dgimChild(spark: SparkSession, dir: String, win: Column,
      cents: Option[Column]): LogicalPlan = {
    import spark.implicits._
    val child = Tables.events(spark, dir)
      .filter($"event_type" === "click" && $"ts".isNotNull)
      .select(Seq(win.as("w"), unix_timestamp($"ts").as("ts_sec")) ++
        cents.map(_.as("cents")): _*)
      .select(Seq($"w.start".cast("long").as("ws"), $"w.end".cast("long").as("we"),
        $"ts_sec") ++ cents.map(_ => $"cents"): _*)
    DgimStrategy.ensureRegistered(spark)
    ColumnBridge.logicalPlan(child)
  }

  private def tumbleWindow: Column = window(col("ts"), "1 hour")
  private def hopWindow: Column = window(col("ts"), "1 hour", "15 minutes")
  private def clickCents: Column = coalesce(round(col("value") * 100).cast("long"), lit(0L))

  /** Tumbling 1 h DGIM estimate (reference Job 1; StreamingJob.java:85-99). */
  def dgimTumble(spark: SparkSession, dir: String): DataFrame = ColumnBridge.ofRows(spark,
    DgimWindowAggPlan(WindowSeconds, dgimChild(spark, dir, tumbleWindow, None)))

  /** Hop 1 h / 15 min DGIM estimate (reference Job 2;
    * SlidingWindowStreamingJob.java:96-118).
    */
  def dgimSlide(spark: SparkSession, dir: String): DataFrame = ColumnBridge.ofRows(spark,
    DgimWindowAggPlan(WindowSeconds, dgimChild(spark, dir, hopWindow, None)))

  /** DuckDB oracle for the deterministic sort-then-fold DGIM queries: a
    * recursive CTE REPLAYS the exact fold the custom exec runs (the
    * reference PyFlink job's sort-by-ts-then-sequential semantics,
    * job.py:75-93, with the Java flagship's round-up estimate,
    * DGIMAccumulator.java:75-95) — the same recursive-CTE device as
    * `text_tokens_bpe`'s WordPiece oracle.
    *
    * State per window is the (ts, size) bucket list pair, newest first.
    * Each recursion step applies ONE primitive move, exactly mirroring
    * [[graft.functions.Dgim.Builder.add]]'s loop structure:
    *  - if any three consecutive buckets share a size, merge the FIRST
    *    (smallest-index) such triple — middle bucket keeps its ts, size
    *    doubles, oldest of the three drops (the restart-at-0 scan always
    *    merges the first triple, so min-index selection is equivalent);
    *  - else consume the next sorted timestamp as a fresh size-1 bucket
    *    at the head.
    * A window's fixpoint row (input drained, no triple) yields the
    * estimate: sum of all bucket sizes except the oldest + ceil(oldest/2)
    * — with the single-bucket early return (full size).
    *
    * Expiry needs no replay: window size (1 h) == the sketch's W
    * (3600 s), so within one group `latest − ts ≤ 3599 < W` always —
    * no bucket can expire, and the live prefix at `latest` is every
    * bucket. The UDAF / streaming paths stay spec-pinned instead:
    * canonical bucket-merge across partitions is NOT associative with
    * the sequential fold (a 4-element split/merge counterexample yields
    * 4 vs the fold's 3 — both within the published bound, not equal),
    * so only the sort-then-fold exec admits a hash oracle.
    */
  private def dgimFoldSql(windowAssign: String): String = s"""
    WITH RECURSIVE clicks AS (
      $windowAssign
    ),
    grouped AS (
      SELECT window_start, list(tsec ORDER BY tsec) AS rest, COUNT(*) AS exact_count
      FROM clicks GROUP BY 1
    ),
    fold AS (
      SELECT window_start, exact_count, rest,
             CAST([] AS BIGINT[]) AS bts, CAST([] AS BIGINT[]) AS bsz
      FROM grouped
      UNION ALL
      SELECT window_start, exact_count,
             CASE WHEN tri IS NOT NULL THEN rest ELSE rest[2:] END,
             CASE WHEN tri IS NOT NULL THEN bts[1:tri+1] || bts[tri+3:]
                  ELSE [rest[1]] || bts END,
             CASE WHEN tri IS NOT NULL THEN bsz[1:tri] || [2*bsz[tri+1]] || bsz[tri+3:]
                  ELSE [CAST(1 AS BIGINT)] || bsz END
      FROM (SELECT *,
              list_filter(range(1, len(bsz)-1),
                          i -> bsz[i] = bsz[i+1] AND bsz[i+1] = bsz[i+2])[1] AS tri
            FROM fold)
      WHERE tri IS NOT NULL OR len(rest) > 0
    )
    SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
           CAST(CASE WHEN len(bsz) = 1 THEN bsz[1]
                ELSE list_aggregate(bsz[1:len(bsz)-1], 'sum') + (bsz[len(bsz)] + 1) // 2
           END AS BIGINT) AS count_estimate,
           exact_count
    FROM (SELECT *,
            list_filter(range(1, len(bsz)-1),
                        i -> bsz[i] = bsz[i+1] AND bsz[i+1] = bsz[i+2])[1] AS tri
          FROM fold)
    WHERE len(rest) = 0 AND tri IS NULL"""

  val dgimTumbleSql: String = dgimFoldSql("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      FROM events WHERE event_type = 'click' AND ts IS NOT NULL""")

  val dgimSlideSql: String = dgimFoldSql("""
      SELECT time_bucket(INTERVAL '15 minutes', ts) - i * INTERVAL '15 minutes' AS window_start,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) k(i)
      WHERE event_type = 'click' AND ts IS NOT NULL""")

  /** The reference's literal USAGE pattern, end-to-end through graft's
    * SQL surface: `DGIM_ESTIMATE` called from SQL text over a windowed
    * GROUP BY (StreamingJob.java:57-58 registers the aggregate;
    * :85-99 is the SQL shape mirrored here). Exercises the registered
    * UDAF path ([[graft.GraftFunctions]], mergeable partial aggregation
    * — the canonical DGIM bucket merge across partitions) rather than
    * the deterministic sort-then-fold custom operator, proving a
    * pure-SQL user gets the full pipeline without touching the
    * DataFrame API.
    *
    * Rows-only driver check; DgimPlanSpec pins it against
    * [[dgimTumble]]: identical window set, identical exact counts, and
    * both estimates within the DGIM error bound of the exact count
    * (merge order may legally shift bucket boundaries, so estimate
    * EQUALITY across the two execution strategies is not the contract —
    * the published approximation bound is).
    */
  def sqlDgimTumble(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(spark)
    Tables.events(spark, dir).createOrReplaceTempView("events_sql")
    spark.sql("""
      SELECT window.start AS window_start, window.end AS window_end,
             dgim_estimate(value, ts_sec) AS count_estimate,
             COUNT(*) AS exact_count
      FROM (SELECT ts, '1' AS value, unix_timestamp(ts) AS ts_sec
            FROM events_sql
            WHERE event_type = 'click' AND ts IS NOT NULL)
      GROUP BY window(ts, '1 hour')""")
  }

  /** DGIM generalized from counting to SUMS (Datar et al. 2002 §5 — the
    * published companion of the reference's counting sketch): per
    * tumbling hour, the sketch estimate of the click VALUE sum (cents)
    * over the trailing 1 h, next to the exact integer sum. Each amount
    * feeds its set bits into 17 independent DGIM instances; the estimate
    * is the 2^j-weighted instance total, state 17×O(log²W) per window.
    * This answers "approximate revenue/bytes in the last W" the way the
    * reference answers "approximate request count in the last W".
    *
    * Batch execution routes through the DETERMINISTIC sort-then-fold
    * [[graft.plans.DgimWindowAggExec]] in its `bits = 17` form (the same
    * operator as the count queries), so the full run replays in DuckDB as
    * 17 per-bit recursive-CTE folds — an exact hash oracle
    * ([[dgimSumTumbleSql]]). The mergeable
    * [[graft.functions.DgimSumAggregator]] remains the incremental
    * streaming form (`q_stream_dgim_sum`) — its cross-partition bucket
    * merge is legally non-associative with the fold, so only the
    * sort-then-fold path admits estimate-equality oracles.
    */
  def dgimSumTumble(spark: SparkSession, dir: String): DataFrame = ColumnBridge.ofRows(spark,
    DgimWindowAggPlan.sum(WindowSeconds, SumBits,
      dgimChild(spark, dir, tumbleWindow, Some(clickCents))))

  /** Hop-window (1 h / 15 min) twin of [[dgimSumTumble]] — the sum
    * sketch in the reference Job 2's sliding shape; ×4 hop fan-out
    * before the same deterministic per-window fold.
    */
  def dgimSumSlide(spark: SparkSession, dir: String): DataFrame = ColumnBridge.ofRows(spark,
    DgimWindowAggPlan.sum(WindowSeconds, SumBits,
      dgimChild(spark, dir, hopWindow, Some(clickCents))))

  /** DuckDB replay of the deterministic SUM fold: the count fold's
    * recursive CTE ([[dgimFoldSql]]'s device) generalized to a
    * (window, bit) group key — each amount fans its set bits into the
    * 17 instance folds, each instance folds exactly like the count
    * sketch, and the final rollup is the 2^j-weighted instance total
    * next to the exact cents sum. Expiry needs no replay for the same
    * reason as the count fold: window span == W, so no bucket can
    * expire within a group.
    */
  private def dgimSumFoldSql(windowAssign: String, windowSpan: String,
      bits: Int = SumBits): String = s"""
    WITH RECURSIVE clicks AS (
      $windowAssign
    ),
    exact AS (
      SELECT window_start, CAST(sum(cents) AS BIGINT) AS exact_cents
      FROM clicks GROUP BY 1
    ),
    bits AS (
      SELECT window_start, j, tsec
      FROM clicks CROSS JOIN (SELECT unnest(range(0, $bits)) AS j) u
      WHERE cents > 0 AND ((least(cents, ${(1L << bits) - 1}) >> j) & 1) = 1
    ),
    grouped AS (
      SELECT window_start, j, list(tsec ORDER BY tsec) AS rest
      FROM bits GROUP BY 1, 2
    ),
    fold AS (
      SELECT window_start, j, rest,
             CAST([] AS BIGINT[]) AS bts, CAST([] AS BIGINT[]) AS bsz
      FROM grouped
      UNION ALL
      SELECT window_start, j,
             CASE WHEN tri IS NOT NULL THEN rest ELSE rest[2:] END,
             CASE WHEN tri IS NOT NULL THEN bts[1:tri+1] || bts[tri+3:]
                  ELSE [rest[1]] || bts END,
             CASE WHEN tri IS NOT NULL THEN bsz[1:tri] || [2*bsz[tri+1]] || bsz[tri+3:]
                  ELSE [CAST(1 AS BIGINT)] || bsz END
      FROM (SELECT *,
              list_filter(range(1, len(bsz)-1),
                          i -> bsz[i] = bsz[i+1] AND bsz[i+1] = bsz[i+2])[1] AS tri
            FROM fold)
      WHERE tri IS NOT NULL OR len(rest) > 0
    ),
    inst AS (
      SELECT window_start, j,
             CAST(CASE WHEN len(bsz) = 1 THEN bsz[1]
                  ELSE list_aggregate(bsz[1:len(bsz)-1], 'sum') + (bsz[len(bsz)] + 1) // 2
             END AS BIGINT) AS est
      FROM (SELECT *,
              list_filter(range(1, len(bsz)-1),
                          i -> bsz[i] = bsz[i+1] AND bsz[i+1] = bsz[i+2])[1] AS tri
            FROM fold)
      WHERE len(rest) = 0 AND tri IS NULL
    ),
    est AS (
      SELECT window_start, CAST(sum((CAST(1 AS BIGINT) << j) * est) AS BIGINT) AS sum_estimate
      FROM inst GROUP BY 1
    )
    SELECT e.window_start, e.window_start + INTERVAL '$windowSpan' AS window_end,
           COALESCE(s.sum_estimate, 0) AS sum_estimate, e.exact_cents
    FROM exact e LEFT JOIN est s USING (window_start)"""

  val dgimSumTumbleSql: String = dgimSumFoldSql("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
             CAST(coalesce(round(value * 100), 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'click' AND ts IS NOT NULL""", "1 hour")

  val dgimSumSlideSql: String = dgimSumFoldSql("""
      SELECT time_bucket(INTERVAL '15 minutes', ts) - i * INTERVAL '15 minutes' AS window_start,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
             CAST(coalesce(round(value * 100), 0) AS BIGINT) AS cents
      FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) k(i)
      WHERE event_type = 'click' AND ts IS NOT NULL""", "1 hour")
}
